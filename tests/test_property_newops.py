"""Property tests for quantile buckets and z-score outliers against
brute-force Python references over randomized inputs (same discipline as
test_property_joins/test_property_kernels: few examples, real Spark
jobs, adversarial small shapes — ties, nulls, empty groups)."""

from hypothesis import given, settings, strategies as st

from spacy_llm_spark.operators.anomaly import zscore_outliers
from spacy_llm_spark.operators.quantiles import quantile_buckets


# --------------------------------------------------- quantile buckets

@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=2, max_size=40
    ),
    st.integers(min_value=2, max_value=6),
)
def test_quantile_buckets_invariants(spark, values, n_buckets):
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = quantile_buckets(df, "v", n_buckets).collect()
    by_v = {}
    for r in got:
        by_v.setdefault(r["v"], set()).add(r["bucket"])
    # equal values share a bucket; buckets are order-monotone in value
    assert all(len(b) == 1 for b in by_v.values())
    ordered = sorted((v, next(iter(b))) for v, b in by_v.items())
    buckets = [b for _, b in ordered]
    assert buckets == sorted(buckets)
    assert all(0 <= b < n_buckets for b in buckets)
    # the minimum always lands in bucket 0, the maximum in a top bucket
    assert buckets[0] == 0


# --------------------------------------------------- z-score outliers

@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_zscore_outliers_matches_bruteforce(spark, rows):
    import statistics

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "k string, v double"
    )
    got = sorted(
        (r["k"], r["v"]) for r in zscore_outliers(df, "v", ["k"], 1.5).collect()
    )
    want = []
    for g in {g for g, _ in rows}:
        vals = [float(v) for gg, v in rows if gg == g]
        m = statistics.fmean(vals)
        sd = statistics.pstdev(vals)
        if sd > 0:
            want.extend(
                (g, v) for v in vals if abs(round((v - m) / sd, 6)) >= 1.5
            )
    assert got == sorted(want)
