"""Build the --py-files artifact: zip of the spacy_llm_spark package.

The zip is deterministic — entries sorted, one fixed timestamp — so an
unchanged package rebuilds byte-identical.
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXED_TIME = (1980, 1, 1, 0, 0, 0)  # earliest timestamp a zip entry can hold


def main(out: str = "dist/spacy_llm_spark.zip") -> str:
    out_path = os.path.join(ROOT, out)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(ROOT, "spacy_llm_spark")
    sources = sorted(
        os.path.relpath(os.path.join(dirpath, fn), ROOT)
        for dirpath, _dirnames, filenames in os.walk(pkg)
        if "__pycache__" not in dirpath
        for fn in filenames
        if fn.endswith(".py")
    )
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel in sources:
            info = zipfile.ZipInfo(rel, date_time=FIXED_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            with open(os.path.join(ROOT, rel), "rb") as f:
                zf.writestr(info, f.read())
    print(out_path)
    return out_path


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "dist/spacy_llm_spark.zip")
