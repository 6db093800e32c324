"""Tests for readers, sinks, and config serde."""

import json

import pytest
from pyspark.sql import functions as F

from spacy_llm_spark.sources import readers, sinks


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark join fast fast table"),
        (2, "slow slow window merge"),
        (3, "the quick brown fox"),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string").cache()


# -- readers -----------------------------------------------------------------


def test_fewshot_reader_formats(tmp_path):
    examples = [{"text": "a", "spans": []}, {"text": "b", "spans": []}]
    j = tmp_path / "ex.json"
    j.write_text(json.dumps(examples))
    assert readers.fewshot_reader(j) == examples

    jl = tmp_path / "ex.jsonl"
    jl.write_text("\n".join(json.dumps(e) for e in examples))
    assert readers.fewshot_reader(jl) == examples

    y = tmp_path / "ex.yml"
    y.write_text("- text: a\n  spans: []\n- text: b\n  spans: []\n")
    assert readers.fewshot_reader(y) == examples

    # format fallback: .yml file actually containing json
    sneaky = tmp_path / "sneaky.yml"
    sneaky.write_text(json.dumps(examples))
    assert readers.fewshot_reader(sneaky) == examples

    bad = tmp_path / "bad.json"
    bad.write_text("not anything: [parseable")
    with pytest.raises(ValueError):
        readers.fewshot_reader(bad)


def test_read_corpus_table_adds_sha(spark, tmp_path):
    df = spark.createDataFrame(
        [("r", "p", "c", "py", "hello")],
        "repo string, path string, commit string, lang string, content string",
    )
    df.write.parquet(str(tmp_path / "corpus"))
    out = readers.read_corpus_table(spark, str(tmp_path / "corpus"))
    row = out.collect()[0]
    import hashlib

    assert row.content_sha256 == hashlib.sha256(b"hello").hexdigest()


def test_sink_parquet_fallback(spark, tmp_path, docs):
    assert sinks.iceberg_available(spark) is False
    target = str(tmp_path / "out")
    sinks.write_table(docs, target, mode="overwrite", partition_by=["doc_id"])
    back = sinks.read_table(spark, target)
    assert back.count() == docs.count()


def test_kgconfig_serde(tmp_path):
    from spacy_llm_spark.pipeline import KGConfig

    cfg = KGConfig(top_n_candidates=3, context_length=512)
    path = tmp_path / "cfg.json"
    path.write_text(json.dumps(cfg.fingerprint_config()))
    loaded = json.loads(path.read_text())
    assert loaded["top_n"] == 3
    assert loaded["context_length"] == 512
