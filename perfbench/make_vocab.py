"""Derive ``vocab.json`` (the generator's word distribution) from a
``documents.parquet`` table with columns ``text`` and ``lang``.

    python3 perfbench/make_vocab.py path/to/documents.parquet

The benchmark itself never reads the source table: it samples from the
committed ``vocab.json``, so a run needs nothing outside its checkout.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import pyarrow.parquet as pq


def main(argv) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    table = pq.read_table(argv[0], columns=["text", "lang"]).to_pydict()
    words = collections.Counter()
    lengths = collections.Counter()
    langs = collections.Counter(table["lang"])
    for text in table["text"]:
        tokens = text.split()
        words.update(tokens)
        lengths[len(tokens)] += 1
    vocab = {
        "source": os.path.basename(argv[0]),
        "words": sorted(words.items()),
        "doc_words": sorted(lengths.items()),
        "langs": sorted(langs.items()),
    }
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vocab.json")
    with open(out, "w") as f:
        json.dump(vocab, f, indent=0)
        f.write("\n")
    print(f"wrote {out}: {len(words)} words, {len(lengths)} lengths")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
