"""Document chunking (functions/text.py)."""

from spacy_llm_spark.functions.text import chunk_documents


def test_chunk_documents_coverage_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = sorted(
        (r["chunk_idx"], r["start_token"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_tokens=4, overlap_tokens=1).collect()
    )
    # step 3: starts 0,3,6 — the start-9 window is redundant (chunk 2
    # already reaches the end) and is dropped by the coverage filter
    assert [(c, s, n) for c, s, n, _ in got] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4)
    ]
    assert got[0][3] == "t0 t1 t2 t3" and got[1][3] == "t3 t4 t5 t6"
    # every token appears in some chunk (coverage)
    covered = {t for _, _, _, ct in got for t in ct.split()}
    assert covered == set(text.split())


def test_chunk_documents_short_doc_and_redundant_tail(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "   ")], "doc_id bigint, text string"
    )
    got = chunk_documents(df, chunk_tokens=64, overlap_tokens=16).collect()
    # doc fully inside chunk 0: exactly ONE chunk, no redundant tail;
    # empty/whitespace docs produce no chunks
    assert [(r["doc_id"], r["chunk_idx"], r["n_tokens"]) for r in got] == [(1, 0, 3)]

    import pytest

    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap_tokens=8)


def test_chunk_documents_no_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    plan = (
        chunk_documents(df, 4, 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure projection + generate
