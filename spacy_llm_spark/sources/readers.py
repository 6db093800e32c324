"""Input readers (S1-S5 analogs).

Few-shot example files are prompt *constants*: they are read
driver-side and broadcast into stage kernels, never joined against the
corpus (registry/reader.py:8-87 semantics — including the try-all-formats
fallback of fewshot_reader).
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import List, Union


def fewshot_reader(path: Union[str, Path]) -> List[dict]:
    """S1: read few-shot examples, trying the format implied by the suffix
    first, then the others (registry/reader.py:22-87). Returns a list of
    dicts; raises ValueError if no format yields one.
    """
    path = Path(path)
    raw = path.read_text()
    suffix = path.suffix.lower()

    def try_json(s):
        data = json.loads(s)
        return data if isinstance(data, list) else None

    def try_jsonl(s):
        lines = [ln for ln in s.splitlines() if ln.strip()]
        return [json.loads(ln) for ln in lines]

    def try_yaml(s):
        import yaml

        data = yaml.safe_load(s)
        return data if isinstance(data, list) else None

    order = {
        ".json": (try_json, try_jsonl, try_yaml),
        ".jsonl": (try_jsonl, try_json, try_yaml),
        ".yml": (try_yaml, try_json, try_jsonl),
        ".yaml": (try_yaml, try_json, try_jsonl),
    }.get(suffix, (try_json, try_jsonl, try_yaml))

    for attempt in order:
        try:
            data = attempt(raw)
        except Exception:  # noqa: BLE001 — fall through to next format
            continue
        if isinstance(data, list) and all(isinstance(d, dict) for d in data):
            return data
    raise ValueError(
        f"Cannot parse {path} as a list of example dicts in any of "
        "json/jsonl/yaml."
    )


def read_corpus_table(spark, path: str, fmt: str = "parquet"):
    """S-corpus: read the source-files table (Iceberg table name or
    parquet/json path). The engine only assumes the input_hint schema
    (repo, path, commit, lang, content [, content_sha256])."""
    from pyspark.sql import functions as F

    if fmt == "iceberg":
        df = spark.read.table(path)
    else:
        df = getattr(spark.read, fmt)(path)
    if "content_sha256" not in df.columns:
        df = df.withColumn("content_sha256", F.sha2("content", 256))
    return df
