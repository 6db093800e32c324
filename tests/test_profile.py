"""Clustering scores (operators/scoring.py) and document chunking
(functions/text.py)."""

# ------------------------------------------- pairwise clustering P/R/F1

from spacy_llm_spark.operators.scoring import pairwise_cluster_prf


def _ref_pair_prf(rows):
    from itertools import combinations

    rows = [(p, g) for p, g in rows if p is not None and g is not None]
    idx = range(len(rows))
    pred = {(i, j) for i, j in combinations(idx, 2) if rows[i][0] == rows[j][0]}
    gold = {(i, j) for i, j in combinations(idx, 2) if rows[i][1] == rows[j][1]}
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    f = 2 * p * r / (p + r) if p + r else 0.0
    return len(pred), len(gold), tp, round(p, 6), round(r, 6), round(f, 6)


def test_pairwise_cluster_prf_matches_bruteforce(spark):
    rows = [
        ("c1", "g1"), ("c1", "g1"), ("c1", "g2"),
        ("c2", "g2"), ("c2", "g2"), ("c3", "g1"),
        (None, "g1"), ("c1", None),  # excluded
    ]
    df = spark.createDataFrame(rows, "pred string, gold string")
    got = pairwise_cluster_prf(df, "pred", "gold").collect()[0]
    want = _ref_pair_prf(rows)
    assert (
        got["n_pred_pairs"], got["n_gold_pairs"], got["n_common_pairs"],
        got["precision"], got["recall"], got["f1"],
    ) == want


def test_pairwise_cluster_prf_perfect_and_degenerate(spark):
    same = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("b", "b")], "pred string, gold string"
    )
    r = pairwise_cluster_prf(same, "pred", "gold").collect()[0]
    assert (r["precision"], r["recall"], r["f1"]) == (1.0, 1.0, 1.0)

    # all singletons: no pairs anywhere -> 0.0, not a crash
    single = spark.createDataFrame(
        [("a", "x"), ("b", "y")], "pred string, gold string"
    )
    r = pairwise_cluster_prf(single, "pred", "gold").collect()[0]
    assert (r["n_pred_pairs"], r["precision"], r["f1"]) == (0, 0.0, 0.0)


def test_pairwise_cluster_prf_no_pair_materialization(spark):
    df = spark.createDataFrame([("a", "x")], "pred string, gold string")
    plan = (
        pairwise_cluster_prf(df, "pred", "gold")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # three aggregations + 1-row cross joins; never a pair self-join
    assert "CartesianProduct" not in plan or plan.count("Scan ExistingRDD") <= 3
    assert "SortMergeJoin" not in plan


# --------------------------------------------------- document chunking

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


def _ref_bcubed(rows):
    rows = [(p, g) for p, g in rows if p is not None and g is not None]
    n = len(rows)
    if not n:
        return 0, 0.0, 0.0, 0.0
    ps = rs = 0.0
    for i, (p, g) in enumerate(rows):
        cluster = [j for j, (p2, _) in enumerate(rows) if p2 == p]
        gold = [j for j, (_, g2) in enumerate(rows) if g2 == g]
        common = [j for j in cluster if rows[j][1] == g]
        ps += len(common) / len(cluster)
        rs += len(common) / len(gold)
    p_, r_ = ps / n, rs / n
    f = 2 * p_ * r_ / (p_ + r_) if p_ + r_ else 0.0
    return n, round(p_, 6), round(r_, 6), round(f, 6)


def test_bcubed_prf_matches_bruteforce(spark):
    from spacy_llm_spark.operators.scoring import bcubed_prf

    rows = [
        ("c1", "g1"), ("c1", "g1"), ("c1", "g2"),
        ("c2", "g2"), ("c2", "g2"), ("c3", "g1"),
        (None, "g1"), ("c1", None),  # excluded
    ]
    df = spark.createDataFrame(rows, "pred string, gold string")
    got = bcubed_prf(df, "pred", "gold").collect()[0]
    assert (
        got["n_items"], got["bcubed_precision"],
        got["bcubed_recall"], got["bcubed_f1"],
    ) == _ref_bcubed(rows)

    # B-cubed penalizes the one-giant-cluster prediction that pairwise
    # recall rewards: all-in-one pred over two equal gold clusters
    giant = spark.createDataFrame(
        [("c", "g1")] * 3 + [("c", "g2")] * 3, "pred string, gold string"
    )
    r = bcubed_prf(giant, "pred", "gold").collect()[0]
    assert r["bcubed_recall"] == 1.0 and r["bcubed_precision"] == 0.5

    perfect = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y")], "pred string, gold string"
    )
    r = bcubed_prf(perfect, "pred", "gold").collect()[0]
    assert (r["bcubed_precision"], r["bcubed_recall"], r["bcubed_f1"]) == (
        1.0, 1.0, 1.0,
    )
