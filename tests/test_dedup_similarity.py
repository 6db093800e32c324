"""Dedup + similarity + text-analysis operator tests (numpy/duckdb oracles)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spacy_llm_spark.operators import dedup, similarity
from spacy_llm_spark.functions import text as textfn


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark join customer table"),
        (2, "spark join customer table"),          # exact dup of 1
        (3, "spark join customer table fast"),      # near dup
        (4, "window sort order batch stream"),
        (5, "completely different words here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = {r.doc_id: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2  # doc 2 collapsed onto doc 1
    assert 2 not in out
    assert out[3] == 1


def test_duplicate_groups(docs):
    groups = dedup.duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].ids == [1, 2]


def test_minhash_near_dup(docs):
    pairs = dedup.minhash_lsh_dup_pairs(
        docs, n_hashes=64, bands=32, shingle_k=2, threshold=0.3
    ).collect()
    pair_ids = {(p.id_a, p.id_b) for p in pairs}
    assert (1, 2) in pair_ids  # exact dup always survives
    # unrelated docs never pair
    assert not any({a, b} == {4, 5} for a, b in pair_ids)


def test_minhash_exact_dup_estimate_is_one(docs):
    sigs = {r.doc_id: r.sig for r in dedup.minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_simhash_close_for_near_dups(docs):
    out = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert out[1] == out[2]
    assert hamming(out[1], out[3]) < hamming(out[1], out[4])


def test_jaccard_vs_probe(docs):
    out = {r.doc_id: r.jaccard for r in dedup.jaccard_vs_probe(
        docs, "spark join customer table").collect()}
    assert out[1] == 1.0
    assert abs(out[3] - 4 / 5) < 1e-9
    assert out[5] == 0.0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    vecs = rng.normal(size=(200, 16)).astype(float)
    vecs[7] = vecs[0] * 2.0          # same direction as 0 -> cosine 1
    vecs[9] = vecs[0] + rng.normal(scale=0.01, size=16)  # near dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        vecs,
    )


def test_cosine_topk_matches_numpy(vectors):
    df, vecs = vectors
    probe = vecs[0]
    got = similarity.cosine_topk(df, probe, k=5).collect()
    sims = vecs @ probe / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(probe))
    # same (cosine desc, id asc) tiebreak as the operator
    expected = sorted(range(len(vecs)), key=lambda i: (-round(sims[i], 9), i))[:5]
    assert [r.vec_id for r in got] == expected
    assert got[0].vec_id in (0, 7)
    assert abs(got[0].cosine - 1.0) < 1e-9


def test_ann_lsh_topk_contains_near_dup(vectors):
    df, vecs = vectors
    got = similarity.ann_lsh_topk(df, vecs[0], k=5, n_planes=8, max_hamming=1)
    ids = [r.vec_id for r in got.collect()]
    assert 0 in ids and 7 in ids and 9 in ids


def test_ivf_topk_contains_self(vectors):
    df, vecs = vectors
    ids = [r.vec_id for r in similarity.ivf_topk(df, vecs[0], k=5, n_cells=8, n_probe=3).collect()]
    assert 0 in ids


def test_ivf_exhaustive_matches_bruteforce_at_256_cells(spark):
    """The numpy cell-assignment kernel must scale past codegen limits:
    n_cells=256, exhaustive probe (n_probe=n_cells) == brute-force top-k."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.normal(size=(400, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    probe = [float(x) for x in vecs[5]]
    exact = [r.vec_id for r in similarity.cosine_topk(df, probe, k=10).collect()]
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(
            df, probe, k=10, n_cells=256, n_probe=256
        ).collect()
    ]
    assert ivf == exact


def test_assign_ivf_cells_argmin_ties_to_lowest_index(spark):
    import numpy as np

    centroids = np.asarray([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: r.ivf_cell
        for r in similarity.assign_ivf_cells(df, centroids).collect()
    }
    assert got == {0: 0, 1: 2, 2: 0}  # tie between cells 0/1 -> 0


def test_embedding_dup_pairs(vectors):
    df, vecs = vectors
    pairs = dedup.embedding_dup_pairs(
        df, threshold=0.95, bands=16, planes_per_band=8, dim=16
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 7) in got
    assert (0, 9) in got  # the perturbed near-dup, not just the colinear pair


def test_embedding_dup_pairs_full_recall_vs_bruteforce(spark):
    """Banded OR-construction recall check against the exact answer: plant
    n near-dup pairs at cosine ~0.98-0.99 and require every one found."""
    rng = np.random.RandomState(3)
    base = rng.normal(size=(150, 32))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(150)]
    rows += [
        (1000 + i, [float(x) + 0.025 for x in base[i]]) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dup_pairs(
            df, threshold=0.9, bands=24, planes_per_band=12, dim=32
        ).collect()
    }
    # brute force in numpy
    all_ids = [r[0] for r in rows]
    V = np.array([r[1] for r in rows])
    sims = (V @ V.T) / (
        np.linalg.norm(V, axis=1)[:, None] * np.linalg.norm(V, axis=1)[None, :]
    )
    expected = {
        (min(all_ids[i], all_ids[j]), max(all_ids[i], all_ids[j]))
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if sims[i, j] >= 0.9
    }
    assert len(expected) >= 150
    assert got == expected


def test_lsh_hot_bucket_cap_completes(spark):
    """1000 identical docs: without a cap the band self-join is quadratic
    (~500k pairs x 16 bands); with the cap it stays bounded."""
    rows = [(i, "the exact same boilerplate license text here") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_dup_pairs(
        df, n_hashes=32, bands=8, shingle_k=3, threshold=1.0, max_bucket_size=50
    )
    n = pairs.count()
    # pairs only among the 50 kept representatives per bucket
    assert 0 < n <= 50 * 49 // 2
    # the kept ids are the lowest ones (deterministic cap)
    ids = pairs.select("id_a").union(pairs.select("id_b")).distinct().collect()
    assert max(r.id_a for r in ids) < 50


def test_minhash_signatures_stable_values(spark):
    """Signatures are pinned artifacts: stable across runs, sessions and
    CPython versions (siphash with pandas' fixed key, not builtin hash)."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    sig1 = dedup.minhash_signatures(df, n_hashes=8).collect()[0].sig
    sig2 = dedup.minhash_signatures(df, n_hashes=8).collect()[0].sig
    assert sig1 == sig2
    # driver-side recomputation of the same math gives the same values
    import pandas as pd

    toks = "alpha beta gamma delta epsilon".split()
    shingles = {" ".join(toks[i : i + 3]) for i in range(3)}
    hv = pd.util.hash_array(np.asarray(sorted(shingles), dtype=object))
    hv = (hv % np.uint64((1 << 61) - 1)).astype(np.uint64)
    a, b = dedup._minhash_params(8)
    m = (
        a.astype(np.uint64)[:, None] * hv[None, :] + b.astype(np.uint64)[:, None]
    ) % np.uint64((1 << 61) - 1)
    assert m.min(axis=1).astype(np.int64).tolist() == sig1


# -- text analysis -----------------------------------------------------------


def test_word_stats_and_quality(docs):
    stats = {r.doc_id: r for r in textfn.word_stats(docs).collect()}
    assert stats[1].n_tokens == 4
    assert stats[1].n_distinct_tokens == 4
    q = {r.doc_id: r for r in textfn.quality_score(docs).collect()}
    assert 0.0 <= q[1].quality_score <= 1.0
    assert q[1].lexical_diversity == 1.0


def test_detect_language(spark):
    rows = [
        (1, "the cat and the dog went to a house in the garden"),
        (2, "der hund und die katze ist ein tier"),
        (3, "le chat et la maison est un endroit"),
        (4, "xyzzy qwerty asdf"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.detected_lang for r in textfn.detect_language(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "a  b   c"), (2, "a b c"), (3, "a b d")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textfn.fingerprint(df).collect()}
    assert out[1].sha256 != out[2].sha256
    assert out[1].normalized_sha256 == out[2].normalized_sha256
    assert out[1].normalized_sha256 != out[3].normalized_sha256


def test_degenerate_inputs_yield_nulls_not_ansi_errors(spark):
    """ANSI mode (Spark 4 default) turns x/0 into a task failure; empty
    docs and zero vectors are routine at corpus scale and must degrade to
    NULL metrics instead."""
    docs_deg = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text here")], "doc_id long, text string"
    )
    q = {r.doc_id: r for r in textfn.quality_score(docs_deg).collect()}
    assert q[1].quality_score is None and q[2].quality_score is None
    assert q[3].quality_score is not None

    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.cosine for r in similarity.cosine_vs_probe(vecs, [1.0, 0.0]).collect()}
    assert got[0] is None  # zero vector -> NULL, not a crash
    assert abs(got[1] - 1.0) < 1e-9

    jac = {r.doc_id: r.jaccard for r in dedup.jaccard_vs_probe(docs_deg, "").collect()}
    assert jac[1] in (None, 0.0)  # degenerate probe never raises


def test_train_ivf_centroids_recovers_clusters(spark):
    """Distributed Lloyd refinement: on two well-separated blobs the
    trained centroids land on the blob means, and a 1-probe query then
    achieves full recall (the sampled-init cells need not)."""
    import numpy as np

    rng = np.random.RandomState(7)
    blob_a = rng.normal(loc=(10.0, 0.0), scale=0.3, size=(100, 2))
    blob_b = rng.normal(loc=(0.0, 10.0), scale=0.3, size=(100, 2))
    vecs = np.vstack([blob_a, blob_b])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).repartition(4)

    cents = similarity.train_ivf_centroids(df, n_cells=2, n_iter=4)
    means = sorted(
        (tuple(np.round(c, 1)) for c in cents), key=lambda t: t[0]
    )
    assert abs(means[0][0] - 0.0) < 0.5 and abs(means[0][1] - 10.0) < 0.5
    assert abs(means[1][0] - 10.0) < 0.5 and abs(means[1][1] - 0.0) < 0.5

    probe = [10.0, 0.0]
    approx = [
        r.vec_id
        for r in similarity.ivf_topk(
            df, probe, k=10, n_probe=1, centroids=cents
        ).collect()
    ]
    assert similarity.ann_recall(df, probe, approx, k=10) == 1.0


def test_train_ivf_centroids_sample_fraction_and_empty_cells(spark):
    import numpy as np

    vecs = np.eye(4, dtype=float)  # 4 vectors, some cells will go empty
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.train_ivf_centroids(
        df, n_cells=3, n_iter=2, sample_fraction=1.0
    )
    assert cents.shape == (3, 4)
    assert np.isfinite(cents).all()  # empty cells kept previous centroid


def test_simhash_dup_pairs_matches_bruteforce(spark):
    """Pigeonhole banding (4 blocks, hamming<=3) is exact by construction:
    the banded join must return exactly the brute-force pair set."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),       # exact dup of 0
            (2, "alpha beta gamma delta epsilon eta"),        # near dup
            (3, "one two three four five six seven eight"),
            (4, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    expected = sorted(
        (a, b)
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3
    )
    got = sorted(
        (r.id_a, r.id_b) for r in dedup.simhash_dup_pairs(docs).collect()
    )
    assert got == expected
    assert (0, 1) in got  # the exact dup pair is found


def test_simhash_dup_pairs_parameter_validation(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="max_hamming < n_blocks"):
        dedup.simhash_dup_pairs(docs, max_hamming=4, n_blocks=4)
    with pytest.raises(ValueError, match="divide 64"):
        dedup.simhash_dup_pairs(docs, n_blocks=5)


def test_dedup_clusters_transitive_and_singletons(spark):
    """a~b and b~c -> one cluster with the numeric-min rep, even when the
    lexicographic string order disagrees (ids 2 vs 10); unpaired docs
    represent themselves."""
    pairs = spark.createDataFrame(
        [(10, 2), (2, 30)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(2,), (10,), (30,), (99,)], "doc_id long"
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.dedup_clusters(pairs, docs).collect()
    }
    assert got == {2: 2, 10: 2, 30: 2, 99: 99}


def test_dedup_clusters_string_ids(spark):
    pairs = spark.createDataFrame(
        [("docB", "docA")], "id_a string, id_b string"
    )
    docs = spark.createDataFrame(
        [("docA",), ("docB",), ("docC",)], "doc_id string"
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.dedup_clusters(pairs, docs).collect()
    }
    assert got == {"docA": "docA", "docB": "docA", "docC": "docC"}


def test_simhash_dup_pairs_plan_has_no_cartesian(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} x y z") for i in range(20)], "doc_id long, text string"
    )
    plan = dedup.simhash_dup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_clean_corpus_filters_dedups_and_matches_components(spark):
    """clean_corpus = quality threshold + language filter + exact dedup
    keep-min-id in one pass; survivors' scores equal the standalone
    scorers' values (shared expressions — no drift possible)."""
    from spacy_llm_spark.functions import text as textfn

    rows = [
        (1, "the cat and the dog walked to the house in the garden today"),
        (2, "the cat and the dog walked to the house in the garden today"),  # dup of 1
        (3, "der hund und die katze ist ein gutes tier im garten heute ja"),
        (4, "x"),                                # too short -> low quality
        (5, "zz zz zz"),                         # too short, no diversity
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textfn.clean_corpus(df, min_quality=0.6)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 3}  # 2 deduped, 4/5 rejected
    # audit columns agree with the standalone operators
    q = {r.doc_id: r.quality_score for r in textfn.quality_score(df).collect()}
    l = {r.doc_id: r.detected_lang for r in textfn.detect_language(df).collect()}
    for d in (1, 3):
        assert got[d].quality_score == q[d]
        assert got[d].detected_lang == l[d]
    # language filter
    en_only = textfn.clean_corpus(df, min_quality=0.6, languages=["en"])
    assert [r.doc_id for r in en_only.collect()] == [1]
    # with_scores=False drops the audit columns
    bare = textfn.clean_corpus(df, min_quality=0.6, with_scores=False)
    assert set(bare.columns) == {"doc_id", "text"}


def test_clean_corpus_single_shuffle(spark):
    from spacy_llm_spark.functions import text as textfn

    df = spark.createDataFrame(
        [(i, f"doc number {i} with some words here present today") for i in range(30)],
        "doc_id long, text string",
    )
    plan = (
        textfn.clean_corpus(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # only the dedup window shuffle


def test_dedup_clusters_negative_ids_numeric_min(spark):
    """Sign-split id encoding: the cluster rep is the NUMERIC minimum even
    for negative ids (a bare %020d would sort '-…10' before '-…1')."""
    pairs = spark.createDataFrame([(-10, -1), (-1, 5)], "id_a long, id_b long")
    docs = spark.createDataFrame([(-10,), (-1,), (5,), (7,)], "doc_id long")
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.dedup_clusters(pairs, docs).collect()
    }
    assert got == {-10: -10, -1: -10, 5: -10, 7: 7}


def test_simhash_dup_pairs_bucket_cap_keeps_lowest_ids(spark):
    """>cap identical docs: the kept (lowest-id) members still pair with
    each other; the cap bounds the join rather than crashing or going
    quadratic, and max_bucket_size=None restores total recall."""
    docs = spark.createDataFrame(
        [(i, "same exact text here") for i in range(8)],
        "doc_id long, text string",
    )
    capped = dedup.simhash_dup_pairs(docs, max_bucket_size=3)
    got = sorted((r.id_a, r.id_b) for r in capped.collect())
    assert got == [(0, 1), (0, 2), (1, 2)]  # lowest 3 ids, all pairs among them
    full = dedup.simhash_dup_pairs(docs, max_bucket_size=None)
    assert full.count() == 8 * 7 // 2


def test_train_ivf_centroids_empty_input_raises(spark):
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no training vectors"):
        similarity.train_ivf_centroids(empty, n_cells=4)


def test_id_encoding_spark_matches_python_mirror(spark):
    """The Spark enc expression agrees with the pure-python mirror used by
    the hypothesis order-isomorphism property (test_property_kernels)."""
    from pyspark.sql import functions as F

    ids = [-(2**63), -10, -1, 0, 1, 10, 2**63 - 1]
    pairs = spark.createDataFrame([(a, b) for a, b in zip(ids, ids[1:])], "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.cluster_rep for r in dedup.dedup_clusters(pairs, docs).collect()}
    # chain of pairs -> one cluster, rep = numeric min = MIN_LONG
    assert set(got.values()) == {-(2**63)}


def test_simhash_xxhash64_token_hash_path(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "delta eps zeta")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs, token_hash="xxhash64").collect()}
    assert fp[0] == fp[1] != fp[2]
    pairs = dedup.simhash_dup_pairs(docs, token_hash="xxhash64", max_hamming=2)
    assert sorted((r.id_a, r.id_b) for r in pairs.collect()) == [(0, 1)]


def test_minhash_pairs_compose_with_dedup_clusters(spark):
    """dedup_clusters is pair-source agnostic: MinHash-LSH pairs cluster
    the same way SimHash pairs do."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "the quick brown fox jumps over the lazy dog again today"),
            (3, "the quick brown fox jumps over the lazy dog again tonight"),
            (4, "completely different content with other words entirely here"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_dup_pairs(docs, threshold=0.6, shingle_k=2)
    clusters = {
        r.doc_id: r.cluster_rep for r in dedup.dedup_clusters(pairs, docs).collect()
    }
    assert clusters[1] == clusters[2] == 1  # exact dups cluster
    assert clusters[4] == 4


def test_maxmin_init_spreads_over_blobs(spark):
    """Farthest-point seeding places one seed per blob even when the hash
    sample would not; k-means from it recovers the blob means."""
    import numpy as np

    rng = np.random.RandomState(11)
    blobs = [
        rng.normal(loc=c, scale=0.2, size=(60, 2))
        for c in [(0.0, 0.0), (20.0, 0.0), (0.0, 20.0), (20.0, 20.0)]
    ]
    vecs = np.vstack(blobs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).repartition(4)

    seeds = similarity.maxmin_centroids(df, n_cells=4)
    # each seed belongs to a distinct blob (blob centers are 20 apart)
    blob_of = lambda v: (round(v[0] / 20), round(v[1] / 20))
    assert len({blob_of(sd) for sd in seeds}) == 4

    cents = similarity.train_ivf_centroids(df, n_cells=4, n_iter=3, init="maxmin")
    got = sorted(blob_of(c) for c in cents)
    assert got == [(0, 0), (0, 1), (1, 0), (1, 1)]
    # determinism
    cents2 = similarity.train_ivf_centroids(df, n_cells=4, n_iter=3, init="maxmin")
    assert np.allclose(cents, cents2)


def test_train_ivf_unknown_init_raises(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="unknown init"):
        similarity.train_ivf_centroids(df, n_cells=1, init="bogus")


def test_simhash_dup_pairs_rejects_single_block(spark):
    import pytest

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_blocks must divide 64 and be >= 2"):
        dedup.simhash_dup_pairs(docs, max_hamming=0, n_blocks=1)


def test_minhash_lsh_probe_equals_full_recompute(spark):
    """Incremental dedup: pairs(old) ∪ probe(batch vs index(old)) must
    equal a full recompute over old ∪ batch — cross-batch, within-batch,
    and within-old near-dups all land exactly once, ids normalized."""
    base = "spark shuffles hash partitions across executors for the join "
    old_rows = [
        (0, base + "alpha"),
        (1, base + "alpha"),          # within-old exact dup
        (2, "completely different text about entirely other topics"),
    ]
    new_rows = [
        (10, base + "alpha"),         # cross-batch dup of 0/1
        (11, base + "beta"),          # near-dup variant
        (12, base + "beta"),          # within-batch dup of 11
        (13, "yet another unrelated document body with no overlap"),
    ]
    kw = dict(n_hashes=32, bands=8, shingle_k=2, threshold=0.5,
              max_bucket_size=None)
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    full = dedup.minhash_lsh_dup_pairs(old.unionByName(new), **kw)
    idx = dedup.minhash_lsh_index(
        old, n_hashes=32, bands=8, shingle_k=2, max_bucket_size=None
    )
    incr = dedup.minhash_lsh_dup_pairs(old, **kw).unionByName(
        dedup.minhash_lsh_probe(new, idx, **kw)
    )
    key = lambda r: (r.id_a, r.id_b)  # noqa: E731
    got = sorted(
        ((r.id_a, r.id_b, round(r.jaccard_est, 9)) for r in incr.collect())
    )
    want = sorted(
        ((r.id_a, r.id_b, round(r.jaccard_est, 9)) for r in full.collect())
    )
    assert got == want
    # sanity on content: the cross-batch and within-batch dups are present
    ids = {(a, b) for a, b, _ in got}
    assert (0, 10) in ids and (1, 10) in ids and (11, 12) in ids
    assert (0, 1) in ids  # within-old, from the old-side pairs


def test_minhash_lsh_probe_cross_only_mode(spark):
    """include_new_pairs=False restricts output to batch-vs-index pairs
    (the re-probe case where within-batch pairs were already emitted)."""
    rows_old = [(0, "one two three four five six seven")]
    rows_new = [
        (10, "one two three four five six seven"),
        (11, "one two three four five six seven"),
    ]
    old = spark.createDataFrame(rows_old, "doc_id long, text string")
    new = spark.createDataFrame(rows_new, "doc_id long, text string")
    idx = dedup.minhash_lsh_index(old, n_hashes=32, bands=8, shingle_k=2)
    out = dedup.minhash_lsh_probe(
        new, idx, n_hashes=32, bands=8, shingle_k=2, threshold=1.0,
        include_new_pairs=False,
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(0, 10), (0, 11)}  # no (10, 11)


def test_embedding_lsh_probe_equals_full_recompute(spark):
    """Incremental embedding dedup: pairs(old) ∪ probe(batch vs
    index(old)) equals a full recompute over old ∪ batch — cosines
    bit-identical, ids normalized."""
    rng = np.random.RandomState(11)
    base = rng.normal(size=(60, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    old_rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # batch: near-dups of old vectors 0..9, plus 10 fresh ones where two
    # are near-dups of each other (within-batch pair)
    new_rows = [
        (1000 + i, [float(x) + 0.02 for x in base[i]]) for i in range(10)
    ]
    new_rows += [(2000 + i, [float(x) for x in base[40 + i]]) for i in range(10)]
    new_rows += [(3000, [float(x) + 0.02 for x in base[50]]),
                 (3001, [float(x) + 0.021 for x in base[50]])]
    kw = dict(bands=16, planes_per_band=8, threshold=0.9, dim=16,
              max_bucket_size=None)
    old = spark.createDataFrame(old_rows, "vec_id long, embedding array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")

    full = dedup.embedding_dup_pairs(old.unionByName(new), **kw)
    idx = dedup.embedding_lsh_index(
        old, bands=16, planes_per_band=8, dim=16, max_bucket_size=None
    )
    incr = dedup.embedding_dup_pairs(old, **kw).unionByName(
        dedup.embedding_lsh_probe(new, idx, **kw)
    )
    got = sorted(
        (r.id_a, r.id_b, round(r.cosine, 12)) for r in incr.collect()
    )
    want = sorted(
        (r.id_a, r.id_b, round(r.cosine, 12)) for r in full.collect()
    )
    assert got == want
    ids = {(a, b) for a, b, _ in got}
    assert (0, 1000) in ids          # cross-batch near-dup
    assert (3000, 3001) in ids       # within-batch near-dup


def test_simhash_lsh_probe_equals_full_recompute(spark):
    """Incremental SimHash dedup: pairs(old) ∪ probe(batch vs index(old))
    equals the full recompute — cross-batch, within-batch, within-old."""
    base = "spark shuffles hash partitions across executors for the join"
    old_rows = [
        (0, base + " alpha"),
        (1, base + " alpha"),
        (2, "a completely different document about other topics entirely"),
    ]
    new_rows = [
        (10, base + " alpha"),
        (11, base + " alpha beta"),
        (12, base + " alpha beta"),
        (13, "yet another unrelated body of text with no shared tokens"),
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    kw = dict(max_hamming=3, n_blocks=4, max_bucket_size=None)

    full = dedup.simhash_dup_pairs(old.unionByName(new), **kw)
    idx = dedup.simhash_lsh_index(old, n_blocks=4, max_bucket_size=None)
    incr = dedup.simhash_dup_pairs(old, **kw).unionByName(
        dedup.simhash_lsh_probe(new, idx, **kw)
    )
    got = sorted((r.id_a, r.id_b) for r in incr.collect())
    want = sorted((r.id_a, r.id_b) for r in full.collect())
    assert got == want
    ids = set(got)
    assert (0, 10) in ids and (0, 1) in ids and (11, 12) in ids


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The IVF index form: assignments written partitioned by ivf_cell;
    a query over the read-back table must (a) return exactly what the
    direct ivf_topk returns and (b) reach the files through a
    PartitionFilter on ivf_cell — n_probe/n_cells of the corpus FILES."""
    from spacy_llm_spark.operators import similarity
    from spacy_llm_spark.sources.sinks import write_table

    rng = np.random.RandomState(5)
    vecs = rng.normal(size=(300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.train_ivf_centroids(df, 8, n_iter=3)
    probe = [float(x) for x in vecs[7]]

    want = [
        (r.vec_id, round(r.cosine, 9))
        for r in similarity.ivf_topk(
            df, probe, 5, n_probe=2, centroids=cents
        ).collect()
    ]

    target = str(tmp_path / "ivf_index")
    write_table(
        similarity.assign_ivf_cells(df, cents),
        target, mode="overwrite", partition_by=["ivf_cell"],
    )
    stored = spark.read.parquet(target)
    out = similarity.ivf_topk_from_assigned(stored, probe, cents, 5, n_probe=2)
    got = [(r.vec_id, round(r.cosine, 9)) for r in out.collect()]
    assert got == want

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "ivf_cell" in plan.split("PartitionFilters")[1][:200]


def test_lsh_probe_refuses_unversioned_index(spark):
    """A persisted index built by a different bucket formula would return
    silently-missing pairs; probes and pair functions refuse any index
    frame without the current format stamp instead."""
    docs = spark.createDataFrame(
        [(1, "one two three four")], "doc_id long, text string"
    )
    idx = dedup.minhash_lsh_index(docs, n_hashes=32, bands=8, shingle_k=2)
    stamp = [c for c in idx.columns if c.startswith("_fmt")]
    assert stamp == ["_fmt_v2_mh_b8_h32_k2_s42"]
    stale = idx.drop(stamp[0])
    with pytest.raises(ValueError, match="_fmt"):
        dedup.minhash_lsh_probe(docs, stale, n_hashes=32, bands=8, shingle_k=2)
    with pytest.raises(ValueError, match="_fmt"):
        dedup.minhash_lsh_dup_pairs(docs, n_hashes=32, bands=8, shingle_k=2,
                                    index=stale)


def test_lsh_probe_refuses_forged_or_mismatched_stamp(spark):
    """The stamp encodes version AND build params in the column NAME, so
    the check is schema-level. A legacy `_fmt` value column (pre-r5
    format) or a stamp built with different params must raise — only an
    exact stamp match passes. Regression for the r4 hole where any
    `_fmt` column passed regardless of its value."""
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four")],
        "doc_id long, text string",
    )
    idx = dedup.minhash_lsh_index(docs, n_hashes=32, bands=8, shingle_k=2)
    stamp = [c for c in idx.columns if c.startswith("_fmt")][0]

    # legacy format: a bare `_fmt` column whose VALUE is the version —
    # the exact frame round-4 indexes persisted. Must now be refused.
    forged_v1 = idx.drop(stamp).withColumn("_fmt", F.lit(1))
    with pytest.raises(ValueError, match="mismatch"):
        dedup.minhash_lsh_probe(docs, forged_v1, n_hashes=32, bands=8,
                                shingle_k=2)

    # same version, different build params: buckets would not align
    # (different seed) or jaccard_est would mis-scale (different
    # n_hashes); every such probe must refuse the frame.
    with pytest.raises(ValueError, match="mismatch"):
        dedup.minhash_lsh_probe(docs, idx, n_hashes=32, bands=8,
                                shingle_k=2, seed=7)
    with pytest.raises(ValueError, match="mismatch"):
        dedup.minhash_lsh_probe(docs, idx, n_hashes=64, bands=8,
                                shingle_k=2)
    with pytest.raises(ValueError, match="mismatch"):
        dedup.minhash_lsh_dup_pairs(docs, n_hashes=32, bands=16,
                                    shingle_k=2, index=idx)

    # matching params pass and the probe behaves
    out = dedup.minhash_lsh_probe(
        docs.where("doc_id = 2"), idx.where("doc_id = 1"),
        n_hashes=32, bands=8, shingle_k=2,
    )
    assert [(r.id_a, r.id_b) for r in out.collect()] == [(1, 2)]

    # the other two families stamp their own params
    sidx = dedup.simhash_lsh_index(docs, n_blocks=4)
    with pytest.raises(ValueError, match="mismatch"):
        dedup.simhash_lsh_probe(docs, sidx, n_blocks=8, max_hamming=3)
    with pytest.raises(ValueError, match="mismatch"):
        dedup.simhash_dup_pairs(docs, token_hash="xxhash64", index=sidx)
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    eidx = dedup.embedding_lsh_index(vecs, bands=4, planes_per_band=4, dim=2)
    with pytest.raises(ValueError, match="mismatch"):
        dedup.embedding_lsh_probe(vecs, eidx, bands=4, planes_per_band=4,
                                  dim=3)
    with pytest.raises(ValueError, match="mismatch"):
        dedup.embedding_dup_pairs(vecs, bands=4, planes_per_band=8, dim=2,
                                  index=eidx)


def test_ivf_incremental_append_equals_full_assign(spark):
    """Cell assignment is per-row deterministic, so assigning a new
    batch with the standing index's (stale) centroids and appending is
    bit-equal to re-assigning the whole corpus with those centroids —
    the IVF incremental-maintenance identity (ANN parity with the LSH
    probe families)."""
    rng = np.random.RandomState(3)
    rows = [(i, rng.normal(size=6).tolist()) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    standing = emb.where("vec_id < 100")
    batch = emb.where("vec_id >= 100")
    cents = similarity.sample_centroids(standing, 8)

    incr = (
        similarity.assign_ivf_cells(standing, cents)
        .unionByName(similarity.assign_ivf_cells(batch, cents))
    )
    full = similarity.assign_ivf_cells(emb, cents)
    got = {r.vec_id: r.ivf_cell for r in incr.collect()}
    want = {r.vec_id: r.ivf_cell for r in full.collect()}
    assert got == want

    # exhaustive query over the appended index == brute-force top-k
    probe = rows[0][1]
    via_ivf = [
        r.vec_id
        for r in similarity.ivf_topk_from_assigned(
            incr, probe, cents, 10, n_probe=8
        ).collect()
    ]
    brute = [r.vec_id for r in similarity.cosine_topk(emb, probe, 10).collect()]
    assert via_ivf == brute


def test_ivf_index_drift_metric(spark):
    """ivf_index_drift: 1.0 in exhaustive mode by construction; in
    pruned mode it reports the recall a stale index actually delivers
    on a drifted append — here a shifted cluster crowds cells the old
    centroids never saw, and the metric must pick up any degradation
    (it's a bounded recall in [0,1], and re-training restores 1.0 for
    this probe)."""
    rng = np.random.RandomState(7)
    standing_rows = [(i, rng.normal(size=6).tolist()) for i in range(100)]
    # drifted append: a tight far-away cluster (off-distribution)
    drift_rows = [
        (1000 + i, (rng.normal(size=6) * 0.05 + 8.0).tolist()) for i in range(40)
    ]
    emb = spark.createDataFrame(
        standing_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        drift_rows, "vec_id long, embedding array<double>"
    )
    cents = similarity.sample_centroids(emb, 8)
    assigned = similarity.assign_ivf_cells(emb, cents).unionByName(
        similarity.assign_ivf_cells(batch, cents)
    ).localCheckpoint()

    probe = drift_rows[0][1]  # query from the drifted region
    assert similarity.ivf_index_drift(assigned, probe, cents, 10, n_probe=8) == 1.0
    pruned = similarity.ivf_index_drift(assigned, probe, cents, 10, n_probe=1)
    assert 0.0 <= pruned <= 1.0
    # the whole drifted cluster lands in ONE stale cell (it's compact and
    # far away), so even n_probe=1 finds the true top-k here — the metric
    # certifies that; a scattered assignment would surface as < 1.0
    assert pruned == 1.0


def test_lexical_cosine_pairs_matches_numpy(spark):
    """Exact unigram cosine vs a numpy brute force on small docs."""
    import itertools

    import numpy as np

    from spacy_llm_spark.operators.similarity import lexical_cosine_pairs

    texts = {
        1: "a a b c",
        2: "a b b c",
        3: "x y z",
        4: "a a b c",  # exact dup of 1
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {(r["id_a"], r["id_b"]): r["sim"]
           for r in lexical_cosine_pairs(docs, min_sim=0.1).collect()}

    vocab = sorted({t for s in texts.values() for t in s.split()})
    vecs = {i: np.array([s.split().count(t) for t in vocab], dtype=float)
            for i, s in texts.items()}
    want = {}
    for i, j in itertools.combinations(sorted(texts), 2):
        sim = float(vecs[i] @ vecs[j] / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j])))
        if sim >= 0.1:
            want[(i, j)] = round(sim, 6)
    assert got == want
    assert got[(1, 4)] == 1.0


def test_lexical_cosine_pairs_max_df_prunes_hot_terms(spark):
    """A term in every doc is pruned by max_df, so docs sharing ONLY the
    hot term lose their pair; norms are over the capped space."""
    from spacy_llm_spark.operators.similarity import lexical_cosine_pairs

    docs = spark.createDataFrame(
        [(1, "the alpha"), (2, "the beta"), (3, "the alpha")],
        "doc_id long, text string",
    )
    uncapped = {(r["id_a"], r["id_b"]) for r in
                lexical_cosine_pairs(docs, min_sim=0.01).collect()}
    assert uncapped == {(1, 2), (1, 3), (2, 3)}
    capped = {(r["id_a"], r["id_b"]): r["sim"] for r in
              lexical_cosine_pairs(docs, min_sim=0.01, max_df=2).collect()}
    # "the" (df=3) is gone; 1 and 3 still share "alpha" at sim 1.0 in
    # the capped space; 2 has nothing in common with either
    assert capped == {(1, 3): 1.0}


def test_lexical_cosine_pairs_ngram_space_and_validation(spark):
    import pytest as _pytest

    from spacy_llm_spark.operators.similarity import lexical_cosine_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "p q r s")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError):
        lexical_cosine_pairs(docs, n=0)
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in
           lexical_cosine_pairs(docs, min_sim=0.1, n=3).collect()}
    # grams: doc1 {a b c, b c d}, doc2 {a b c, b c e} -> dot 1, norms sqrt(2)
    assert got == {(1, 2): 0.5}


def test_lexical_cosine_probe_equals_full_recompute(spark):
    from spacy_llm_spark.operators.similarity import (
        lexical_cosine_pairs,
        lexical_cosine_probe,
        lexical_tf_index,
    )

    old = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b b c"), (3, "x y z")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "a a b c"), (11, "x y z w"), (12, "q r")],
        "doc_id long, text string",
    )
    tf, norms = lexical_tf_index(old)
    old_pairs = lexical_cosine_pairs(old, min_sim=0.1)
    probe = lexical_cosine_probe(tf, norms, new, min_sim=0.1)
    union = sorted(map(tuple, old_pairs.unionByName(probe).collect()))
    full = sorted(map(tuple, lexical_cosine_pairs(
        old.unionByName(new), min_sim=0.1).collect()))
    assert union == full
    got = dict(((a, b), s) for a, b, s in union)
    assert got[(1, 10)] == 1.0  # exact dup found across the boundary


def test_lexical_cosine_probe_refuses_mismatched_stamp(spark):
    import pytest as _pytest

    from spacy_llm_spark.operators.similarity import (
        lexical_cosine_probe,
        lexical_tf_index,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    new = spark.createDataFrame([(2, "a b")], "doc_id long, text string")
    tf, norms = lexical_tf_index(docs, n=2)
    with _pytest.raises(ValueError, match="stamp"):
        lexical_cosine_probe(tf, norms, new, n=1)
    with _pytest.raises(ValueError, match="stamp"):
        lexical_cosine_probe(tf.drop("_fmt_v1_lx_n2"), norms, new, n=2)


def test_semantic_dup_pairs_hand_case(spark):
    """Two well-separated cells; near-dups only within cells. Pairs are
    exhaustive inside a cell (no LSH luck involved) and ordered
    id_a < id_b."""
    from spacy_llm_spark.operators.dedup import semantic_dedup, semantic_dup_pairs

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.998, 0.02, 0.0]),   # near-dup of 0 and 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.999, 0.02]),   # near-dup of 3
        (5, [0.6, 0.6, 0.1]),      # lands in one cell, dup of nobody
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    pairs = {
        (r.id_a, r.id_b)
        for r in semantic_dup_pairs(df, cents, threshold=0.999).collect()
    }
    assert pairs == {(0, 1), (0, 2), (1, 2), (3, 4)}

    kept = sorted(
        r.vec_id for r in semantic_dedup(df, cents, threshold=0.999).collect()
    )
    # greedy keep-first: 1 and 2 drop behind 0, 4 drops behind 3
    assert kept == [0, 3, 5]


def test_semantic_dup_pairs_cell_locality_and_zero_vecs(spark):
    """A pair split across cells is NOT emitted (the SemDeDup recall
    tradeoff, by design), and zero vectors never match anything."""
    from spacy_llm_spark.operators.dedup import semantic_dup_pairs

    rows = [
        (0, [1.0, 0.04, 0.0]),   # nearest centroid 0
        (1, [0.04, 1.0, 0.0]),   # nearest centroid 1 — cos(0,1) ~ 0.08
        (2, [0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    got = semantic_dup_pairs(df, cents, threshold=0.05).collect()
    # 0 and 1 sit in different cells -> no pair despite cos > 0.05;
    # the two zero vectors share a cell but cos(0-vec, anything) = 0
    assert {(r.id_a, r.id_b) for r in got} == set()


def test_semantic_dup_pairs_oversized_cell_raises(spark):
    from spacy_llm_spark.operators.dedup import semantic_dup_pairs

    df = spark.createDataFrame(
        [(i, [1.0, float(i) * 1e-6]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="max_cell_rows"):
        semantic_dup_pairs(
            df, [[1.0, 0.0]], threshold=0.99, max_cell_rows=10
        ).collect()
