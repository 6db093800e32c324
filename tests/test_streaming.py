"""MinHash-LSH probe against a prebuilt batch index (operators/dedup.py)."""


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
