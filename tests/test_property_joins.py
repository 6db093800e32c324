"""Sampling, duplicated n-gram probe and sequence packing checks, with
property tests against brute-force Python references over randomized
small inputs.

Each hypothesis example runs real Spark jobs, so example counts are kept
small.
"""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def test_sampling_operators(spark):
    from spacy_llm_spark.operators import sampling

    rows = [(i, f"src{i % 4}", f"body of document number {i}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    strat = sampling.stratified_sample(df, "source", 5)
    per = {r["source"]: r["cnt"] for r in
           strat.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per == {f"src{i}": 5 for i in range(4)}
    # deterministic: same pick twice
    a = sorted(r["doc_id"] for r in strat.collect())
    b = sorted(r["doc_id"] for r in sampling.stratified_sample(df, "source", 5).collect())
    assert a == b
    # small stratum: returns what exists, no error
    tiny = sampling.stratified_sample(df.where(F.col("doc_id") < 2), "source", 5)
    assert tiny.count() == 2

    frac = sampling.hash_sample(df, 0.5)
    n = frac.count()
    assert 0 < n < 80
    assert frac.count() == n  # deterministic
    # no shuffle in the plan
    plan = frac._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_sample_mega_stratum_guard(spark):
    """One dominant stratum above the threshold: warn mode stays exact
    and loud, error mode raises before shuffling, fallback mode
    switches just that stratum to hash_sample with count ~ n."""
    import warnings as _w

    from spacy_llm_spark.operators import sampling

    rows = [(i, "mega", f"doc body {i}") for i in range(3_000)] + [
        (10_000 + i, f"small{i % 3}", f"other body {i}") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        exact = sampling.stratified_sample(
            df, "source", 20, max_stratum_rows=1_000, on_oversize="warn"
        )
        per = {r["source"]: r["cnt"] for r in
               exact.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per == {"mega": 20, "small0": 20, "small1": 20, "small2": 20}
    assert any("mega" in str(w.message) for w in caught)

    with pytest.raises(ValueError, match="mega"):
        sampling.stratified_sample(
            df, "source", 20, max_stratum_rows=1_000, on_oversize="error"
        )

    fb = sampling.stratified_sample(
        df, "source", 300, max_stratum_rows=1_000, on_oversize="fallback"
    )
    per = {r["source"]: r["cnt"] for r in
           fb.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # small strata stay exact (all 20 rows, < n); mega is approximate
    assert per["small0"] == per["small1"] == per["small2"] == 20
    assert per["mega"] == pytest.approx(300, rel=0.35)  # hash_sample noise
    # deterministic: identical picks on a second run
    a = sorted(r["doc_id"] for r in fb.collect())
    b = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(
            df, "source", 300, max_stratum_rows=1_000, on_oversize="fallback"
        ).collect()
    )
    assert a == b

    # under the threshold the guard is a no-op and results are identical
    # to the unguarded path
    u = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(
            df, "source", 20, max_stratum_rows=None
        ).collect()
    )
    g = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(
            df, "source", 20, max_stratum_rows=1_000_000
        ).collect()
    )
    assert u == g


def test_hash_sample_independent_of_split(spark):
    """sample_bucket (hex 9-16) and assign_split (hex 1-8) read disjoint
    digest regions — sampling must not skew the split ratios."""
    from spacy_llm_spark.functions.text import assign_split
    from spacy_llm_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"text payload {i}") for i in range(400)], "doc_id long, text string"
    )
    sampled = sampling.hash_sample(assign_split(df), 0.5)
    counts = {r["split"]: r["cnt"] for r in
              sampled.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = sum(counts.values())
    assert counts.get("train", 0) / total == pytest.approx(0.8, abs=0.12)


def test_stratified_sample_fallback_keeps_null_stratum(spark):
    """NULL is a legitimate stratum; the fallback's key tests must be
    null-safe or the whole NULL stratum silently vanishes."""
    from spacy_llm_spark.operators import sampling

    rows = [(i, "mega", f"doc body {i}") for i in range(2_000)] + [
        (10_000 + i, None, f"null body {i}") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    fb = sampling.stratified_sample(
        df, "source", 10, max_stratum_rows=1_000, on_oversize="fallback"
    )
    per = {r["source"]: r["cnt"] for r in
           fb.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per.get(None) == 10  # exact path, not dropped
    assert 0 < per["mega"] < 2_000  # approximate hash_sample

    # and a NULL mega-stratum takes the fallback without vanishing
    rows2 = [(i, None, f"doc body {i}") for i in range(2_000)] + [
        (10_000 + i, "small", f"other {i}") for i in range(40)
    ]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string, text string")
    fb2 = sampling.stratified_sample(
        df2, "source", 100, max_stratum_rows=1_000, on_oversize="fallback"
    )
    per2 = {r["source"]: r["cnt"] for r in
            fb2.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per2["small"] == 40
    assert per2.get(None, 0) == pytest.approx(100, rel=0.5)


# words over a 3-letter alphabet: 3-gram collisions across docs are
# constant, which is the interesting regime for threshold crossing
_dup_words = st.sampled_from(["a", "b", "c"])
_dup_doc = st.lists(_dup_words, min_size=0, max_size=6).map(" ".join)


@given(
    st.lists(_dup_doc, min_size=0, max_size=6),
    st.lists(_dup_doc, min_size=0, max_size=5),
    st.sampled_from([2, 3]),
)
@settings(max_examples=20, deadline=None)
def test_dup_ngram_probe_equals_full_property(spark, old_texts, new_texts, min_docs):
    """Probe-maintained stats over arbitrary old/new splits (including
    empty sides, all-short docs, and heavy cross-boundary gram sharing)
    equal a full recompute bit-for-bit."""
    from spacy_llm_spark.operators.dedup import (
        dup_ngram_counts,
        dup_ngram_index,
        dup_ngram_stats_probe,
        duplicated_ngram_stats,
    )

    schema = "doc_id long, text string"
    old = spark.createDataFrame(
        list(enumerate(old_texts)) or [], schema
    )
    new = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(new_texts)] or [], schema
    )
    grams = dup_ngram_index(old, n=3)
    counts = dup_ngram_counts(grams, n=3)
    # prior MUST be built with the probe's min_docs (the documented
    # caller contract — the stamp pins n, not the stats threshold)
    prior = duplicated_ngram_stats(old, n=3, min_docs=min_docs)
    stats, _, _ = dup_ngram_stats_probe(
        grams, counts, prior, new, n=3, min_docs=min_docs
    )
    full = duplicated_ngram_stats(old.unionByName(new), n=3, min_docs=min_docs)
    assert sorted(map(tuple, stats.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_temperature_sample_flattens_groups(spark):
    from spacy_llm_spark.operators import sampling

    # skewed groups: 400 / 100 / 25 rows
    rows = (
        [(i, "big", f"big document body {i}") for i in range(400)]
        + [(1000 + i, "mid", f"mid document body {i}") for i in range(100)]
        + [(2000 + i, "tiny", f"tiny document body {i}") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")

    # alpha=1: identity (every keep_frac is 1.0)
    full = sampling.temperature_sample(df, "grp", alpha=1.0)
    assert full.count() == 525
    assert {r["keep_frac"] for r in full.select("keep_frac").distinct().collect()} == {1.0}

    out = sampling.temperature_sample(df, "grp", alpha=0.5)
    per = {r["grp"]: r["n"] for r in
           out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    # smallest group keeps everything; larger groups shrink toward
    # n_g**alpha scaling: expected keeps 400/4=100, 100/2=50, 25/1=25
    assert per["tiny"] == 25
    assert abs(per["big"] - 100) < 30   # hash noise around 400*(16)^-0.5
    assert abs(per["mid"] - 50) < 20
    # deterministic: same rows both times
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               sampling.temperature_sample(df, "grp", alpha=0.5).collect())
    assert a == b
    # keep_frac column exposes the applied weight
    fr = {r["grp"]: r["keep_frac"] for r in
          out.select("grp", "keep_frac").distinct().collect()}
    assert fr["tiny"] == 1.0 and fr["big"] == 0.25 and fr["mid"] == 0.5

    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_sample(df, "grp", alpha=0.0)


def test_temperature_sample_null_group_kept(spark):
    from spacy_llm_spark.operators import sampling

    rows = [(i, "a", f"doc {i}") for i in range(50)] + [
        (100 + i, None, f"null doc {i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    out = sampling.temperature_sample(df, "grp", alpha=0.5)
    got = {r["grp"] for r in out.select("grp").distinct().collect()}
    assert None in got  # NULL group survives the null-safe join
    n_null = out.where(F.col("grp").isNull()).count()
    assert n_null == 5  # smallest group: keep_frac 1.0


# --- sequence packing vs a brute-force Python reference ---

_tok_counts = st.lists(st.integers(0, 30), min_size=0, max_size=10)


@given(_tok_counts, st.integers(1, 17), st.sampled_from([1, 2, 5]))
@settings(max_examples=15, deadline=None)
def test_pack_sequences_matches_bruteforce(spark, toks, budget, n_chunks):
    from spacy_llm_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(toks)], "doc_id long, n_tok long"
    )
    got = {
        (r["doc_id"], r["pack_id"]): (r["tok_start"], r["seg_len"])
        for r in pack_sequences(
            df, budget, n_tokens_col="n_tok", n_chunks=n_chunks
        ).collect()
    }
    expected, pos = {}, 0
    for i, n in enumerate(toks):
        if n <= 0:
            continue
        start, end = pos, pos + n
        for p in range(start // budget, (end - 1) // budget + 1):
            lo = max(start, p * budget)
            hi = min(end, (p + 1) * budget)
            expected[(i, p)] = (lo - p * budget, hi - lo)
        pos = end
    assert got == expected
