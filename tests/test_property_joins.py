"""Duplicated n-gram probe check: a property test against a full
recompute over randomized small inputs.

Each hypothesis example runs real Spark jobs, so example counts are kept
small.
"""

from hypothesis import given, settings, strategies as st


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
