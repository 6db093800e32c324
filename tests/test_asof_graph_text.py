"""Tests for the round-3 additions: repetition/vocab stats and KG graph
analytics."""

import pytest
from pyspark.sql import functions as F

from spacy_llm_spark.functions import text as textfn
from spacy_llm_spark.operators import graph
# ---------------------------------------------------------------------------
# repetition / vocab
# ---------------------------------------------------------------------------

def test_repetition_stats_hand_case(spark):
    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, "x y z"), (2, "w w w w"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in textfn.repetition_stats(df).collect()}
    # doc 0: tokens a,b,a,b,a -> 5 toks 2 distinct; bigrams [ab, ba, ab, ba]
    assert got[0]["n_tokens"] == 5 and got[0]["n_bigrams"] == 4
    assert got[0]["dup_token_frac"] == pytest.approx(0.6)
    assert got[0]["dup_bigram_frac"] == pytest.approx(0.5)
    assert got[0]["top_bigram_frac"] == pytest.approx(0.5)
    # doc 1: all unique
    assert got[1]["dup_bigram_frac"] == 0.0 and got[1]["top_bigram_frac"] == 0.5
    # doc 2: single repeated bigram
    assert got[2]["top_bigram_frac"] == 1.0 and got[2]["dup_bigram_frac"] == pytest.approx(2 / 3)
    # doc 3: no bigrams -> NULL fractions, not a crash
    assert got[3]["n_bigrams"] == 0 and got[3]["dup_bigram_frac"] is None


def test_repetition_stats_no_shuffle(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = textfn.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_vocab_topk(spark):
    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "b d")], "doc_id long, text string"
    )
    got = [(r["token"], r["n"]) for r in textfn.vocab_topk(df, k=3).collect()]
    assert got == [("a", 3), ("b", 3), ("c", 1)]  # count desc, token asc


# ---------------------------------------------------------------------------
# graph analytics
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def edge_df(spark):
    # a -> b (x2 parallel), b -> c, c -> a, d -> a ; e is a sink reached once
    return spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "e")],
        "subj string, obj string",
    )


def test_degree_stats(edge_df):
    got = {r["vertex"]: (r["out_degree"], r["in_degree"], r["degree"])
           for r in graph.degree_stats(edge_df).collect()}
    assert got["a"] == (2, 2, 4)
    assert got["b"] == (1, 2, 3)
    assert got["c"] == (2, 1, 3)
    assert got["d"] == (1, 0, 1)
    assert got["e"] == (0, 1, 1)
    simple = {r["vertex"]: r["out_degree"]
              for r in graph.degree_stats(edge_df, distinct_pairs=True).collect()}
    assert simple["a"] == 1  # parallel edge collapsed


def _pagerank_py(edges, iters=5, d=0.85, quantum=10):
    """Reference implementation mirroring the operator's quantization."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: round(1.0 / n, quantum) for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += r[s] / out[s]
        dm = sum(r[v] for v in nodes if v not in out)
        r = {
            v: round((1 - d) / n + d * (contrib[v] + dm / n), quantum)
            for v in nodes
        }
    return r


def test_pagerank_matches_reference_impl(edge_df):
    got = {r["vertex"]: r["rank"] for r in graph.pagerank(edge_df, iters=5).collect()}
    expected = _pagerank_py(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "e")]
    )
    assert got.keys() == expected.keys()
    for v in expected:
        assert got[v] == pytest.approx(expected[v], abs=1e-9), v
    # rank mass is conserved (dangling folded back uniformly)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_triangle_count(spark):
    # K4 on {a,b,c,d} has 4 triangles; edges given with mixed direction,
    # a parallel duplicate, a self-loop, and a dangling edge to e
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # parallel + reversed
            ("a", "c"), ("a", "d"),
            ("b", "c"), ("d", "b"),
            ("c", "d"),
            ("c", "c"),                       # self-loop ignored
            ("d", "e"),                       # no triangle through e
        ],
        "subj string, obj string",
    )
    assert graph.triangle_count(edges).collect()[0]["n_triangles"] == 4

    no_tri = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subj string, obj string"
    )
    assert graph.triangle_count(no_tri).collect()[0]["n_triangles"] == 0


def test_triangle_count_hub_skew_wedge_bound(spark):
    # A canonical-entity hub of degree 10_000 must NOT generate O(d^2)
    # wedge candidates: with degree orientation every hub edge points
    # INTO the hub, so the hub pivots zero wedges. Unoriented
    # enumeration would emit C(10_000, 2) ~ 50M candidates here; the
    # oriented enumeration emits only the wedges closed by the handful
    # of leaf-leaf edges (near-linear in |E|).
    hub = [("hub", f"leaf{i:05d}") for i in range(10_000)]
    # four leaf-leaf edges -> four triangles, each through the hub
    extra = [
        ("leaf00000", "leaf00001"),
        ("leaf00002", "leaf00003"),
        ("leaf00004", "leaf00005"),
        ("leaf00000", "leaf00002"),
    ]
    edges = spark.createDataFrame(hub + extra, "subj string, obj string")
    und = graph._undirected_edges(edges, "subj", "obj")
    n_wedges = graph._oriented_wedges(und).count()
    # each leaf has degree <= 3 < 10_000, so leaves orient toward the
    # hub and toward their (degree,id)-greater peers; total fan-out is
    # sum over v of C(outdeg(v), 2) with outdeg bounded by leaf degree
    assert n_wedges <= 3 * (len(hub) + len(extra))  # near-linear, not ~5e7
    got = graph.triangle_count(edges).collect()[0]["n_triangles"]
    assert got == 4  # one per leaf-leaf edge, closed through the hub


def test_triangle_count_oriented_matches_bruteforce(spark):
    # Random graph: oriented count must equal a brute-force Python count.
    import itertools
    import random

    rng = random.Random(7)
    verts = [f"v{i}" for i in range(30)]
    raw = {
        tuple(sorted(rng.sample(verts, 2)))
        for _ in range(120)
    }
    expected = sum(
        1
        for a, b, c in itertools.combinations(sorted(verts), 3)
        if (a, b) in raw and (b, c) in raw and (a, c) in raw
    )
    edges = spark.createDataFrame(sorted(raw), "subj string, obj string")
    got = graph.triangle_count(edges).collect()[0]["n_triangles"]
    assert got == expected


def test_pagerank_empty_graph(spark):
    empty = spark.createDataFrame([], "subj string, obj string")
    assert graph.pagerank(empty).count() == 0


# ---------------------------------------------------------------------------
# pre-token count + deterministic split
# ---------------------------------------------------------------------------

def test_pretoken_count(spark):
    df = spark.createDataFrame(
        [(0, "foo_bar(x2) != y;"), (1, "plain words only")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", textfn.pretoken_count(F.col("text")).alias("n")
        ).collect()
    }
    # foo _ bar ( x 2 ) ! = y ;  -> 11 pre-tokens
    assert got[0] == 11
    assert got[1] == 3


def test_assign_split_deterministic_and_duplicate_safe(spark):
    rows = [(i, f"document body {i % 7}") for i in range(50)]  # dup texts
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["split"] for r in textfn.assign_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in textfn.assign_split(df).collect()}
    assert a == b
    assert set(a.values()) <= {"train", "val", "test"}
    # identical texts always share a split (no train/test leakage)
    by_text = {}
    for i, text in rows:
        by_text.setdefault(text, set()).add(a[i])
    assert all(len(s) == 1 for s in by_text.values())


def test_clustering_coefficient_bruteforce(spark):
    import itertools
    import random

    rng = random.Random(13)
    verts = [f"v{i}" for i in range(20)]
    raw = {tuple(sorted(rng.sample(verts, 2))) for _ in range(60)}
    edges = spark.createDataFrame(sorted(raw), "subj string, obj string")
    got = {
        r["vertex"]: (r["degree"], r["n_triangles"], r["coeff"])
        for r in graph.clustering_coefficient(edges).collect()
    }
    adj = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v, nbrs in adj.items():
        d = len(nbrs)
        t = sum(
            1 for x, y in itertools.combinations(sorted(nbrs), 2)
            if y in adj.get(x, ())
        )
        coeff = round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0
        assert got[v] == (d, t, coeff), v
    assert got.keys() == adj.keys()


def test_clustering_coefficient_shapes(spark):
    # triangle + pendant: a,b,c close a triangle (coeff 1.0 at degree-2
    # corners), d hangs off c (degree 1 -> coeff 0)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "subj string, obj string",
    )
    got = {r["vertex"]: r.asDict() for r in
           graph.clustering_coefficient(edges).collect()}
    assert got["a"]["coeff"] == 1.0 and got["b"]["coeff"] == 1.0
    assert got["c"] == {"vertex": "c", "degree": 3, "n_triangles": 1,
                        "coeff": round(2 / 6, 6)}
    assert got["d"] == {"vertex": "d", "degree": 1, "n_triangles": 0,
                        "coeff": 0.0}


# ---------------------------------------------------------------- bfs

def test_bfs_levels_hand_case(spark):
    """Chain a-b-c-d-e plus isolated pair x-y; self-loop must not create
    reachability; max_hops truncates the chain tail."""
    from spacy_llm_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"), ("e", "e")],
        "subj string, obj string",
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "vertex string")
    got = {r["vertex"]: r["level"] for r in bfs_levels(edges, seeds, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "x": 0, "y": 1}


def test_bfs_levels_early_exit_and_direction(spark):
    """Traversal is undirected (seed reaches a predecessor); loop exits
    the moment a frontier drains (component exhausted before max_hops)."""
    from spacy_llm_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [("u", "seed"), ("seed", "v"), ("far1", "far2")],
        "subj string, obj string",
    )
    seeds = spark.createDataFrame([("seed",)], "vertex string")
    got = {r["vertex"]: r["level"] for r in bfs_levels(edges, seeds, max_hops=25).collect()}
    assert got == {"seed": 0, "u": 1, "v": 1}


def test_bfs_levels_duplicate_seeds_and_min_level(spark):
    """A vertex reachable at two different hop counts keeps the MINIMUM
    (the anti-join refuses re-discovery); duplicate seed rows collapse."""
    from spacy_llm_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("s", "b")],  # b at hop 1 direct, hop 2 via a
        "subj string, obj string",
    )
    seeds = spark.createDataFrame([("s",), ("s",)], "vertex string")
    rows = bfs_levels(edges, seeds, max_hops=5).collect()
    got = {r["vertex"]: r["level"] for r in rows}
    assert len(rows) == len(got) == 3
    assert got == {"s": 0, "a": 1, "b": 1}


# ------------------------------------------------- duplicated n-grams

def test_duplicated_ngram_stats_hand_case(spark):
    from spacy_llm_spark.operators.dedup import duplicated_ngram_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),      # grams: "a b c", "b c d"
            (2, "a b c x"),      # grams: "a b c", "b c x"
            (3, "q r"),          # too short for a 3-gram
            (4, "z z z z z"),    # repeated gram inside ONE doc only
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_ratio"])
           for r in duplicated_ngram_stats(docs, n=3).collect()}
    # "a b c" is shared by docs 1+2; "z z z" repeats only within doc 4
    # (per-doc distinct => not duplicated across docs)
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (1, 0, 0.0)


def test_duplicated_ngram_stats_min_docs_threshold(spark):
    from spacy_llm_spark.operators.dedup import duplicated_ngram_stats

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c")],
        "doc_id long, text string",
    )
    strict = duplicated_ngram_stats(docs, n=3, min_docs=4).collect()
    assert all(r["n_dup_grams"] == 0 for r in strict)
    loose = duplicated_ngram_stats(docs, n=3, min_docs=3).collect()
    assert all(r["n_dup_grams"] == 1 and r["dup_ratio"] == 1.0 for r in loose)


def test_vocab_drift_hand_case(spark):
    """Known distributions: slice A = {x:2, y:2}, slice B = {x:1, z:3};
    drift must be exact from integer counts, tokens in one slice only
    get frequency 0 there."""
    from spacy_llm_spark.functions import text as textfn

    a = spark.createDataFrame([(1, "x x y y")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "x z z z")], "doc_id long, text string")
    got = {r["token"]: (r["p_a"], r["p_b"], r["abs_diff"])
           for r in textfn.vocab_drift(a, b, top_terms=10).collect()}
    assert got["z"] == (0.0, 0.75, 0.75)
    assert got["x"] == (0.5, 0.25, 0.25)
    assert got["y"] == (0.5, 0.0, 0.5)
    # total variation = 0.5 * (0.75 + 0.25 + 0.5)
    assert abs(sum(v[2] for v in got.values()) / 2 - 0.75) < 1e-9


# ---------------------------------------------------------------- k-core

def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "subj string, obj string"
    )


def _ref_k_core(pairs, k):
    """Pure-Python peeling reference."""
    edges = {frozenset((a, b)) for a, b in pairs if a != b}
    while True:
        deg = {}
        for e in edges:
            for v in e:
                deg[v] = deg.get(v, 0) + 1
        bad = {v for v, d in deg.items() if d < k}
        if not bad:
            return deg
        edges = {e for e in edges if not (e & bad)}


def test_k_core_triangle_with_tail(spark):
    from spacy_llm_spark.operators.graph import k_core

    edges = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    got = {r["vertex"]: r["degree"] for r in k_core(edges, 2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_cascading_peel_to_empty(spark):
    from spacy_llm_spark.operators.graph import k_core

    # path graph: each peel round exposes the next endpoint; 2-core empty
    path = [("v0", "v1"), ("v1", "v2"), ("v2", "v3"), ("v3", "v4")]
    assert k_core(_edges_df(spark, path), 2).count() == 0


def test_k_core_k1_keeps_all_and_direction_dupes_collapse(spark):
    from spacy_llm_spark.operators.graph import k_core

    edges = _edges_df(
        spark, [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "c")]
    )
    got = {r["vertex"]: r["degree"] for r in k_core(edges, 1).collect()}
    # parallel + reversed edges collapse; self-loop dropped
    assert got == {"a": 1, "b": 2, "c": 1}


def test_k_core_non_convergence_raises(spark):
    import pytest

    from spacy_llm_spark.operators.graph import k_core

    path = [("v0", "v1"), ("v1", "v2"), ("v2", "v3"), ("v3", "v4")]
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(_edges_df(spark, path), 2, max_rounds=1)


def test_k_core_empty_input(spark):
    from spacy_llm_spark.operators.graph import k_core

    assert k_core(_edges_df(spark, []), 2).count() == 0


def test_k_core_matches_reference_on_random_graph(spark):
    import random

    from spacy_llm_spark.operators.graph import k_core

    rng = random.Random(7)
    verts = [f"n{i}" for i in range(40)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(120)]
    for k in (2, 3, 4):
        got = {r["vertex"]: r["degree"] for r in k_core(_edges_df(spark, pairs), k).collect()}
        assert got == _ref_k_core(pairs, k), f"k={k}"


# --------------------------------------------------- personalized pagerank

def _ref_ppr(pairs, seeds, iters=5, d=0.85, quantum=10):
    edges = sorted(set(pairs))
    nodes = sorted({v for e in edges for v in e})
    seeds = [s for s in sorted(set(seeds)) if s in nodes]
    sw = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    r = {v: round(sw[v], quantum) for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += r[s] / outd[s]
        dm = sum(r[v] for v in nodes if v not in outd)
        r = {
            v: round((1 - d) * sw[v] + d * (contrib[v] + dm * sw[v]), quantum)
            for v in nodes
        }
    return r


_PPR_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
    ("e", "a"), ("x", "y"),  # (x, y) is a sink component
]


def test_ppr_matches_reference(spark):
    from spacy_llm_spark.operators.graph import personalized_pagerank

    edges = _edges_df(spark, _PPR_EDGES)
    seeds = spark.createDataFrame([("a",), ("c",)], "v string")
    got = {
        r["vertex"]: r["rank"]
        for r in personalized_pagerank(edges, seeds).collect()
    }
    want = _ref_ppr(_PPR_EDGES, ["a", "c"])
    assert got.keys() == want.keys()
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v


def test_ppr_unreachable_component_gets_zero_and_mass_conserved(spark):
    from spacy_llm_spark.operators.graph import personalized_pagerank

    edges = _edges_df(spark, _PPR_EDGES)
    seeds = spark.createDataFrame([("a",)], "v string")
    rows = personalized_pagerank(edges, seeds).collect()
    got = {r["vertex"]: r["rank"] for r in rows}
    # x/y can never be reached from seed a; teleport skips non-seeds
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_ppr_absent_seeds_dropped_then_raise(spark):
    import pytest

    from spacy_llm_spark.operators.graph import personalized_pagerank

    edges = _edges_df(spark, _PPR_EDGES)
    mixed = spark.createDataFrame([("a",), ("zzz",)], "v string")
    got = {
        r["vertex"]: r["rank"]
        for r in personalized_pagerank(edges, mixed).collect()
    }
    want = _ref_ppr(_PPR_EDGES, ["a"])  # zzz silently dropped
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(
            edges, spark.createDataFrame([("zzz",)], "v string")
        )


# --------------------------------------------------- negative triples

def test_negative_triples_properties(spark):
    from spacy_llm_spark.operators.graph import negative_triples

    rows = [
        ("a", "r1", "x"), ("a", "r1", "y"), ("b", "r1", "x"),
        ("b", "r2", "z"), ("c", "r2", "x"), ("c", "r2", "y"),
        ("d", "r1", "z"), ("d", "r2", "w"),
    ]
    edges = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = negative_triples(edges, buckets=2).collect()
    positives = set(rows)
    objs = {o for _, _, o in rows}
    assert got, "some negatives must survive on this input"
    for r in got:
        # the base triple is a real positive
        assert (r["subj"], r["pred"], r["obj"]) in positives
        # the corrupted triple is NOT a positive, and not a self-swap
        assert (r["subj"], r["pred"], r["neg_obj"]) not in positives
        assert r["neg_obj"] != r["obj"]
        # negatives come from the empirical object vocabulary
        assert r["neg_obj"] in objs
    # determinism across runs and bucket-count stability of the contract
    again = negative_triples(edges, buckets=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    import pytest

    with pytest.raises(ValueError, match="buckets"):
        negative_triples(edges, buckets=0)


def test_shortest_paths_hand_case(spark):
    """A 3-hop light path (1+1+1) must beat the 1-hop heavy edge (10);
    the hop bound truncates it back to the heavy edge; directed mode
    respects edge direction; negative weights raise."""
    from spacy_llm_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [("s", "d", 10.0), ("s", "a", 1.0), ("a", "b", 1.0), ("b", "d", 1.0),
         ("x", "s", 2.0)],
        "subj string, obj string, w double",
    )
    seeds = spark.createDataFrame([("s",)], "vertex string")

    got = {r["vertex"]: r["dist"] for r in
           shortest_paths(edges, seeds, "w", max_hops=4).collect()}
    assert got == {"s": 0.0, "a": 1.0, "b": 2.0, "d": 3.0, "x": 2.0}

    # hop bound 1: only direct edges
    got1 = {r["vertex"]: r["dist"] for r in
            shortest_paths(edges, seeds, "w", max_hops=1).collect()}
    assert got1 == {"s": 0.0, "a": 1.0, "d": 10.0, "x": 2.0}

    # directed: x -> s is not usable from s
    gotd = {r["vertex"]: r["dist"] for r in
            shortest_paths(edges, seeds, "w", max_hops=4, directed=True).collect()}
    assert gotd == {"s": 0.0, "a": 1.0, "b": 2.0, "d": 3.0}

    import pytest

    neg = spark.createDataFrame(
        [("s", "a", -1.0)], "subj string, obj string, w double"
    )
    with pytest.raises(ValueError, match="negative weight"):
        shortest_paths(neg, seeds, "w", max_hops=2)
    with pytest.raises(ValueError, match="max_hops"):
        shortest_paths(edges, seeds, "w", max_hops=-1)


def test_shortest_paths_unit_weight_matches_bfs(spark):
    """With no weight column the distances are hop counts — exactly
    bfs_levels' levels wherever BFS reaches; early exit keeps a huge
    max_hops cheap (fixpoint observed, loop stops)."""
    from spacy_llm_spark.operators.graph import bfs_levels, shortest_paths

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "subj string, obj string",
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "vertex string")
    sp = {r["vertex"]: r["dist"] for r in
          shortest_paths(edges, seeds, max_hops=50).collect()}
    bfs = {r["vertex"]: float(r["level"]) for r in
           bfs_levels(edges, seeds, max_hops=50).collect()}
    assert sp == bfs


def test_k_core_empty_result_keeps_input_vertex_type(spark):
    from spacy_llm_spark.operators.graph import k_core

    # long vertex ids + fully peeled graph: the empty result must keep
    # the INPUT's vertex type so unions/joins across snapshots line up
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "subj bigint, obj bigint"
    )
    out = k_core(path, 2)
    assert out.count() == 0
    assert dict(out.dtypes)["vertex"] == "bigint"


# ---- strongly connected components (FW-Trim-coloring) ----

def _scc_reference(edge_list):
    """Pure-Python Tarjan (iterative), min-member labels."""
    import collections

    adj = collections.defaultdict(list)
    verts = set()
    for s, t in edge_list:
        verts.update((s, t))
        if s != t:
            adj[s].append(t)
    index, low, onstk = {}, {}, set()
    stack, label, counter = [], {}, [0]
    for root in verts:
        if root in index:
            continue
        work = [(root, iter(adj[root]))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        onstk.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    onstk.add(w)
                    work.append((w, iter(adj[w])))
                    advanced = True
                    break
                elif w in onstk:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                rep = min(comp)
                for w in comp:
                    label[w] = rep
    return label


def test_scc_hand_case(spark):
    """Cycle stays together, chain hanging off it splits into
    singletons, self-loop-only vertex is its own SCC."""
    edges = spark.createDataFrame(
        [
            ("a", "x", "b"), ("b", "x", "c"), ("c", "x", "a"),  # 3-cycle
            ("c", "x", "d"), ("d", "x", "e"),                   # chain out
            ("f", "x", "f"),                                     # self-loop
        ],
        ["subj", "pred", "obj"],
    )
    got = {
        r["vertex"]: r["scc"]
        for r in graph.strongly_connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "f"}


def test_scc_two_cycles_bridged(spark):
    """Two cycles joined by a ONE-WAY bridge are distinct SCCs — the
    case undirected connected_components cannot express."""
    rows = [("a1", "a2"), ("a2", "a1"), ("a2", "b1"), ("b1", "b2"), ("b2", "b1")]
    edges = spark.createDataFrame(rows, ["subj", "obj"])
    got = {
        r["vertex"]: r["scc"]
        for r in graph.strongly_connected_components(edges).collect()
    }
    assert got == {"a1": "a1", "a2": "a1", "b1": "b1", "b2": "b1"}


def test_scc_matches_tarjan_on_random_graph(spark):
    """Distributed FW-Trim-coloring == pure-Python Tarjan on a seeded
    random directed graph (dense enough for multi-vertex SCCs plus DAG
    tails for the trim path)."""
    import random

    rng = random.Random(7)
    n = 60
    edge_list = sorted(
        {
            (f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}")
            for _ in range(150)
        }
    )
    expect = _scc_reference(edge_list)
    edges = spark.createDataFrame(edge_list, ["subj", "obj"]).repartition(7)
    got = {
        r["vertex"]: r["scc"]
        for r in graph.strongly_connected_components(edges).collect()
    }
    assert got == expect
    # every vertex labeled exactly once, label = min member
    assert len(got) == len(expect)


def test_scc_pure_dag_is_all_singletons_and_empty_edges(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], ["subj", "obj"]
    )
    got = graph.strongly_connected_components(edges).collect()
    assert {r["vertex"]: r["scc"] for r in got} == {
        v: v for v in ("a", "b", "c", "d")
    }
    empty = graph.strongly_connected_components(edges.where("subj = 'zz'"))
    assert empty.columns == ["vertex", "scc"] and empty.count() == 0


def test_scc_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c")],
        ["subj", "obj"],
    )
    with pytest.raises(RuntimeError, match="max_rounds"):
        # two chained SCCs need 2 outer rounds; 1 must refuse
        graph.strongly_connected_components(edges, max_rounds=1)


# ---------- HyperBall neighborhood function ----------

def _py_neighborhood(pairs, directed=False):
    """Exact N(t) per BFS round, list of (t, n_pairs)."""
    adj = {}
    nodes = set()
    for a, b in pairs:
        if a == b:
            continue
        nodes.update((a, b))
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    reach = {v: {v} for v in nodes}
    curve = [(0, len(nodes))]
    t = 0
    while True:
        t += 1
        new = {
            v: r | set().union(*(reach[u] for u in adj.get(v, ()) )) if adj.get(v) else set(r)
            for v, r in ((v, reach[v]) for v in nodes)
        }
        n = sum(len(s) for s in new.values())
        if n == curve[-1][1]:
            return curve
        curve.append((t, n))
        reach = new


@pytest.mark.parametrize(
    "pairs,directed",
    [
        ([("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], False),  # path
        ([("a", "b"), ("b", "c"), ("c", "a")], True),  # directed cycle
        ([("r", "a"), ("r", "b"), ("a", "c"), ("b", "d")], True),  # out-tree
        ([("a", "b"), ("x", "y")], False),  # disconnected
    ],
)
def test_hyperball_certificate_exact_curve(spark, pairs, directed):
    from spacy_llm_spark.operators.graph import (
        effective_diameter,
        hyperball_certificate,
    )

    e = spark.createDataFrame(pairs, "subj string, obj string")
    got = hyperball_certificate(e, directed=directed)
    rows = sorted((r.t, r.n_pairs, r.ok) for r in got.collect())
    want = _py_neighborhood(pairs, directed)
    assert [(t, n) for t, n, _ in rows] == want
    # at test scale (far below 2.5 * 2^12) HLL is in exact mode
    assert all(ok for _, _, ok in rows)
    # effective diameter of the 5-path: N = [5, 13, 19, 23, 25];
    # 0.9 * 25 = 22.5 lands between t=2 (19) and t=3 (23)
    if not directed and len(pairs) == 4 and ("d", "e") in pairs:
        d = effective_diameter(got)
        assert abs(d - (2 + (22.5 - 19) / 4)) < 1e-9


def test_hyperball_estimate_matches_exact_at_test_scale(spark):
    from spacy_llm_spark.operators.graph import hyperball

    pairs = [(f"n{i}", f"n{i+1}") for i in range(12)]
    e = spark.createDataFrame(pairs, "subj string, obj string")
    nf, balls = hyperball(e, return_balls=True)
    want = _py_neighborhood(pairs)
    got = sorted((r.t, r.n_pairs_estimate) for r in nf.collect())
    # sketches hold <= 13 items each — far inside HLL exact mode, so
    # the "estimate" is the exact curve and the sketch fixpoint lands
    # exactly at the eccentricity
    assert got == want
    assert balls.count() == 13


def test_hyperball_guards(spark):
    from spacy_llm_spark.operators.graph import (
        hyperball,
        hyperball_certificate,
    )

    pairs = [(f"n{i}", f"n{i+1}") for i in range(6)]
    e = spark.createDataFrame(pairs, "subj string, obj string")
    with pytest.raises(RuntimeError, match="not converged"):
        hyperball(e, max_t=2)
    with pytest.raises(RuntimeError, match="not converged"):
        hyperball_certificate(e, max_t=2)
