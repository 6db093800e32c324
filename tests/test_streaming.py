"""MinHash-LSH probe against a prebuilt batch index (operators/dedup.py)
and the temporal joins' timestamp-flavor guard (operators/asof.py,
operators/rangejoin.py)."""

import pytest


def test_lsh_probe_prebuilt_new_index_matches_rebuilt(spark):
    """minhash_lsh_probe(new_index=prebuilt) == the rebuilt-inside path,
    and a mis-parameterized prebuilt batch index is refused."""
    from spacy_llm_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [(1, "spark join filter window sort group table"),
         (2, "other words entirely different from those")],
        ["doc_id", "text"],
    )
    nb = spark.createDataFrame(
        [(3, "spark join filter window sort group table scan")],
        ["doc_id", "text"],
    )
    idx = dd.minhash_lsh_index(corpus).localCheckpoint()
    pb = dd.minhash_lsh_index(nb).localCheckpoint()
    a = sorted(map(tuple, dd.minhash_lsh_probe(
        nb, idx, threshold=0.5
    ).collect()))
    b = sorted(map(tuple, dd.minhash_lsh_probe(
        nb, idx, threshold=0.5, new_index=pb
    ).collect()))
    assert a == b and a
    import pytest as _pytest

    wrong = dd.minhash_lsh_index(nb, seed=99).localCheckpoint()
    with _pytest.raises(ValueError):
        dd.minhash_lsh_probe(nb, idx, threshold=0.5, new_index=wrong)


def test_temporal_joins_reject_mixed_timestamp_flavors(spark):
    """NTZ vs TZ sides bucket/compare on epoch bases that differ by the
    session-tz offset; both operators must refuse the mix loudly
    instead of silently dropping matches."""
    from datetime import datetime

    from spacy_llm_spark.operators.asof import asof_join
    from spacy_llm_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame(
        [(1, "k", datetime(2024, 1, 1))], "lid long, k string, lt timestamp"
    )
    right_ntz = spark.createDataFrame(
        [(2, "k", datetime(2024, 1, 1))], "rid long, k string, rt timestamp_ntz"
    )
    with pytest.raises(ValueError, match="mixed timestamp flavors"):
        asof_join(left, right_ntz, on="k", left_time="lt",
                  right_time="rt", right_cols=["rid"])

    pts = spark.createDataFrame(
        [(1, datetime(2024, 1, 1))], "pid long, t timestamp_ntz"
    )
    ivs = spark.createDataFrame(
        [(2, datetime(2024, 1, 1), datetime(2024, 1, 2))],
        "wid long, ws timestamp, we timestamp",
    )
    with pytest.raises(ValueError, match="mixed timestamp flavors"):
        interval_join(pts, ivs, point_time="t", start="ws", end="we",
                      bucket_secs=60)
