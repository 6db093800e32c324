"""Round-5 additions: Adamic–Adar link prediction and deterministic label
propagation — each against an independent pure-Python reference — plus
privacy audits, kNN joins and KG shape checks."""

import itertools
import math
import random

import pytest

from spacy_llm_spark.operators import graph


# ---------------------------------------------------------------------------
# Adamic–Adar
# ---------------------------------------------------------------------------


def _und(pairs):
    adj = {}
    und = set()
    for a, b in pairs:
        if a == b:
            continue
        lo, hi = min(a, b), max(a, b)
        und.add((lo, hi))
        adj.setdefault(lo, set()).add(hi)
        adj.setdefault(hi, set()).add(lo)
    return und, adj


def _aa_reference(pairs, min_common=1, exclude_existing=True):
    und, adj = _und(pairs)
    deg = {v: len(ns) for v, ns in adj.items()}
    out = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        common = adj[a] & adj[b]
        if len(common) < min_common:
            continue
        if exclude_existing and (a, b) in und:
            continue
        out[(a, b)] = (
            len(common),
            round(sum(1.0 / math.log(deg[w]) for w in sorted(common)), 6),
        )
    return out


def test_adamic_adar_bruteforce(spark):
    rng = random.Random(7)
    verts = [f"v{i:02d}" for i in range(18)]
    raw = {tuple(sorted(rng.sample(verts, 2))) for _ in range(50)}
    edges = spark.createDataFrame(sorted(raw), "subj string, obj string")
    got = {
        (r["id_a"], r["id_b"]): (r["common_neighbors"], r["adamic_adar"])
        for r in graph.adamic_adar(edges, min_common=1).collect()
    }
    want = _aa_reference(raw, min_common=1)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), k


def test_adamic_adar_hub_discount_and_exclusion(spark):
    # a-b share hub h (degree 4) AND low-degree w (degree 2); c-d share
    # only the hub. The hub's evidence is worth 1/ln(4), the rare
    # neighbor's 1/ln(2) — a-b must outscore c-d. b-w are ADJACENT and
    # share a; exclude_existing drops them, the similarity form keeps.
    pairs = [
        ("a", "h"), ("b", "h"), ("c", "h"), ("d", "h"),
        ("a", "w"), ("b", "w"),
    ]
    edges = spark.createDataFrame(pairs, "subj string, obj string")
    pred = {
        (r["id_a"], r["id_b"]): r["adamic_adar"]
        for r in graph.adamic_adar(edges).collect()
    }
    assert pred[("a", "b")] == round(1 / math.log(4) + 1 / math.log(2), 6)
    assert pred[("c", "d")] == round(1 / math.log(4), 6)
    assert pred[("a", "b")] > pred[("c", "d")]
    # triangle: every pair is adjacent AND shares the third vertex —
    # the prediction form returns nothing, the similarity form scores
    # each pair 1/ln(2) via its degree-2 common corner
    tri = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x")], "subj string, obj string"
    )
    assert graph.adamic_adar(tri).count() == 0
    sim = {
        (r["id_a"], r["id_b"]): r["adamic_adar"]
        for r in graph.adamic_adar(tri, exclude_existing=False).collect()
    }
    assert sim == {k: v[1] for k, v in
                   _aa_reference(tri.collect(), exclude_existing=False).items()}
    assert set(sim.values()) == {round(1 / math.log(2), 6)}


def test_adamic_adar_pivot_cap_is_lower_bound(spark):
    # Capping out the hub keeps only the rare-neighbor wedge: the score
    # drops to the 1/ln(2) term and hub-only pairs vanish — a certified
    # lower bound, never an overcount.
    pairs = [
        ("a", "h"), ("b", "h"), ("c", "h"), ("d", "h"),
        ("a", "w"), ("b", "w"),
    ]
    edges = spark.createDataFrame(pairs, "subj string, obj string")
    capped = {
        (r["id_a"], r["id_b"]): r["adamic_adar"]
        for r in graph.adamic_adar(edges, max_pivot_degree=3).collect()
    }
    # surviving pivots are the degree<=3 vertices: a,b (wedge h-w each)
    # and w (wedge a-b); hub-mediated pairs like (c,d) vanish — capped
    # output is a subset of the uncapped pair set with <= scores
    assert capped == {
        ("a", "b"): round(1 / math.log(2), 6),
        ("h", "w"): round(2 / math.log(2), 6),
    }
    full = _aa_reference(pairs)
    for k, v in capped.items():
        assert v <= full[k][1] + 1e-9
    with pytest.raises(ValueError):
        graph.adamic_adar(edges, min_common=0)
    with pytest.raises(ValueError):
        graph.adamic_adar(edges, max_pivot_degree=0)


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------


def _lpa_reference(pairs, rounds):
    _, adj = _und(pairs)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v, nbrs in adj.items():
            counts = {}
            for n in nbrs:
                counts[labels[n]] = counts.get(labels[n], 0) + 1
            # argmax count, ties -> smallest label
            top = max(counts.values())
            best = min(l for l, c in counts.items() if c == top)
            nxt[v] = best
        labels = nxt
    return labels


def test_label_propagation_two_communities(spark):
    # two 4-cliques joined by one bridge edge: after 3 rounds each
    # clique converges to its own min label; the bridge does not merge
    # them (unlike connected components, which would).
    cliq1 = list(itertools.combinations(["a1", "a2", "a3", "a4"], 2))
    cliq2 = list(itertools.combinations(["b1", "b2", "b3", "b4"], 2))
    pairs = cliq1 + cliq2 + [("a1", "b1")]
    edges = spark.createDataFrame(pairs, "subj string, obj string")
    got = {
        r["vertex"]: r["label"]
        for r in graph.label_propagation(edges, rounds=3).collect()
    }
    assert got == _lpa_reference(pairs, 3)
    assert {got[v] for v in ("a2", "a3", "a4")} == {"a1"}
    assert {got[v] for v in ("b2", "b3", "b4")} == {"b1"}
    assert len({got[v] for v in got}) >= 2


def test_label_propagation_matches_reference_random(spark):
    rng = random.Random(11)
    verts = [f"n{i:02d}" for i in range(16)]
    raw = sorted({tuple(sorted(rng.sample(verts, 2))) for _ in range(40)})
    edges = spark.createDataFrame(raw, "subj string, obj string")
    for rounds in (0, 1, 2, 4):
        got = {
            r["vertex"]: r["label"]
            for r in graph.label_propagation(edges, rounds=rounds).collect()
        }
        assert got == _lpa_reference(raw, rounds), rounds
    with pytest.raises(ValueError):
        graph.label_propagation(edges, rounds=-1)


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def _hits_reference(pairs, iters, q=10):
    de = sorted(set(pairs))
    nodes = sorted({v for e in de for v in e})
    n = len(nodes)
    h = {v: round(1.0 / n, q) for v in nodes}
    a = dict(h)
    for _ in range(iters):
        ar = {}
        for s, t in de:
            ar[t] = ar.get(t, 0.0) + h[s]
        tot = sum(ar.values())
        a = {v: round(ar.get(v, 0.0) / tot, q) if tot > 0 else 0.0 for v in nodes}
        hr = {}
        for s, t in de:
            hr[s] = hr.get(s, 0.0) + a[t]
        tot = sum(hr.values())
        h = {v: round(hr.get(v, 0.0) / tot, q) if tot > 0 else 0.0 for v in nodes}
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_star(spark):
    # directed star c -> l1..l3: the center is the pure hub (1.0), the
    # leaves split authority 1/3 each; converged after one round
    edges = spark.createDataFrame(
        [("c", "l1"), ("c", "l2"), ("c", "l3")], "subj string, obj string"
    )
    got = {r["vertex"]: (r["hub"], r["authority"])
           for r in graph.hits(edges, iters=3).collect()}
    third = round(1.0 / 3.0, 10)
    assert got["c"] == (1.0, 0.0)
    assert got["l1"] == (0.0, third)
    assert got["l2"] == got["l3"] == got["l1"]


def test_hits_matches_reference_random(spark):
    rng = random.Random(23)
    verts = [f"h{i:02d}" for i in range(15)]
    raw = sorted({
        (rng.choice(verts), rng.choice(verts)) for _ in range(45)
    })
    raw = [(s, t) for s, t in raw if s != t]
    edges = spark.createDataFrame(raw, "subj string, obj string")
    for iters in (0, 1, 3, 5):
        got = {r["vertex"]: (r["hub"], r["authority"])
               for r in graph.hits(edges, iters=iters).collect()}
        want = _hits_reference(raw, iters)
        assert set(got) == set(want), iters
        for v in want:
            assert got[v][0] == pytest.approx(want[v][0], abs=1e-8), (v, iters)
            assert got[v][1] == pytest.approx(want[v][1], abs=1e-8), (v, iters)
    with pytest.raises(ValueError):
        graph.hits(edges, iters=-1)


def test_hits_mass_conservation_and_empty(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "subj string, obj string",
    )
    rows = graph.hits(edges, iters=4).collect()
    assert sum(r["hub"] for r in rows) == pytest.approx(1.0, abs=1e-8)
    assert sum(r["authority"] for r in rows) == pytest.approx(1.0, abs=1e-8)
    empty = spark.createDataFrame([], "subj string, obj string")
    out = graph.hits(empty, iters=2)
    assert out.count() == 0
    assert out.columns == ["vertex", "hub", "authority"]


# ---------------------------------------------------------------------------
# n-gram diversity
# ---------------------------------------------------------------------------


def test_ngram_diversity_hand_case(spark):
    from spacy_llm_spark.functions.text import ngram_diversity

    df = spark.createDataFrame(
        [
            ("a", "x x x x"),          # unigrams: 4 total, 1 distinct
            ("a", "x y"),              # adds y
            ("b", "p q r"),            # all distinct
            ("c", "solo"),             # 1 token: no bigrams/trigrams
        ],
        "lang string, text string",
    )
    got = {
        (r["lang"], r["n"]): (
            r["total_ngrams"], r["distinct_ngrams"], r["distinct_ratio"]
        )
        for r in ngram_diversity(df, group_col="lang", max_n=3).collect()
    }
    # group a, n=1: tokens x,x,x,x,x,y -> 6 total, 2 distinct
    assert got[("a", 1)] == (6, 2, round(2 / 6, 6))
    # group a, n=2: "x x" x3 + "x y" -> 4 total, 2 distinct
    assert got[("a", 2)] == (4, 2, 0.5)
    # group b fully diverse at every order
    assert got[("b", 1)] == (3, 3, 1.0)
    assert got[("b", 2)] == (2, 2, 1.0)
    assert got[("b", 3)] == (1, 1, 1.0)
    # group c has no bigrams/trigrams but stays in the report
    assert got[("c", 2)] == (0, 0, 0.0)
    assert got[("c", 3)] == (0, 0, 0.0)
    assert len(got) == 9  # rectangular: 3 groups x 3 orders

    # ungrouped: one row per order over the whole corpus
    flat = {r["n"]: r["total_ngrams"]
            for r in ngram_diversity(df, max_n=2).collect()}
    assert flat == {1: 10, 2: 6}
    with pytest.raises(ValueError):
        ngram_diversity(df, max_n=0)


# ---------------------------------------------------------------------------
# Batch kNN join
# ---------------------------------------------------------------------------


def test_knn_join_matches_bruteforce(spark):
    import numpy as np

    from spacy_llm_spark.operators.similarity import knn_join

    rng = np.random.RandomState(5)
    vecs = rng.normal(size=(30, 8)).astype(float)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where("vec_id % 10 = 0")  # 3 queries
    got = [
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in knn_join(queries, corpus, k=4)
        .orderBy("query_id", "rank")
        .collect()
    ]
    want = []
    norms = np.linalg.norm(vecs, axis=1)
    for qi in (0, 10, 20):
        cos = vecs @ vecs[qi] / (norms * norms[qi])
        order = sorted(range(30), key=lambda i: (-cos[i], i))[:4]
        want += [(qi, r + 1, i, round(float(cos[i]), 6))
                 for r, i in enumerate(order)]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=2e-6)
    # rank 1 is the query itself (cosine 1.0)
    assert all(g[2] == g[0] and g[3] == 1.0 for g in got if g[1] == 1)
    with pytest.raises(ValueError):
        knn_join(queries, corpus, k=0)


def test_knn_join_k_exceeds_corpus_and_custom_cols(spark):
    from spacy_llm_spark.operators.similarity import knn_join

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [("q1", [1.0, 1.0])], "name string, v array<double>"
    )
    rows = knn_join(
        queries, corpus, k=5, query_id_col="name", query_vec_col="v"
    ).orderBy("rank").collect()
    # only 2 corpus rows exist; both returned, ties broken by id
    assert [(r["rank"], r["vec_id"]) for r in rows] == [(1, 1), (2, 2)]
    assert rows[0]["cosine"] == rows[1]["cosine"] == round(2 ** -0.5, 6)


def test_triple_shape_violations_kinds_and_precedence(spark):
    """Every violation kind + the precedence order (unknown_pred >
    domain > range > combination) + conforming rows dropped."""
    from spacy_llm_spark.operators.audit import triple_shape_violations

    shapes = spark.createDataFrame(
        [("p", "A", "B"), ("p", "B", "A"), ("q", "A", "A")],
        ["pred", "subj_label", "obj_label"],
    )
    edges = spark.createDataFrame(
        [
            (1, "p", "A", "B"),   # conforming -> dropped
            (2, "zz", "A", "B"),  # unknown_pred (even though labels ok)
            (3, "p", "C", "B"),   # domain (subj C never allowed for p)
            (4, "p", "A", "C"),   # range
            (5, "p", "A", "A"),   # combination (A subj ok, A obj ok)
            (6, "q", "B", "C"),   # domain wins over range (precedence)
        ],
        ["id", "pred", "subj_label", "obj_label"],
    )
    got = {
        r["id"]: r["kind"]
        for r in triple_shape_violations(edges, shapes).collect()
    }
    assert got == {
        2: "unknown_pred",
        3: "domain",
        4: "range",
        5: "combination",
        6: "domain",
    }


def test_triple_shape_violations_guards(spark):
    import pytest as _pytest

    from spacy_llm_spark.operators.audit import triple_shape_violations

    edges = spark.createDataFrame(
        [(1, "p", "A", "B")], ["id", "pred", "subj_label", "obj_label"]
    )
    empty = spark.createDataFrame(
        [], "pred string, subj_label string, obj_label string"
    )
    with _pytest.raises(ValueError, match="non-empty"):
        triple_shape_violations(edges, empty)
    nullshape = spark.createDataFrame(
        [("p", None, "B")], "pred string, subj_label string, obj_label string"
    )
    with _pytest.raises(ValueError, match="NULL"):
        triple_shape_violations(edges, nullshape)
    with _pytest.raises(ValueError, match="missing column"):
        triple_shape_violations(edges.drop("obj_label"), nullshape)


def test_triple_shape_violations_single_pass_plan(spark):
    """All four ontology lookups ride broadcast joins — the edge scan
    is read ONCE and no Exchange touches the edge side."""
    from spacy_llm_spark.operators.audit import triple_shape_violations

    shapes = spark.createDataFrame(
        [("p", "A", "B")], ["pred", "subj_label", "obj_label"]
    )
    edges = spark.createDataFrame(
        [(1, "p", "A", "C")], ["id", "pred", "subj_label", "obj_label"]
    )
    plan = (
        triple_shape_violations(edges, shapes)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_hard_negatives_band_and_gold_exclusion(spark):
    """Self (cos 1.0) and near-dups fall above the band, easy negatives
    below it, gold positives are excluded regardless of score, and
    survivors rank by cosine — checked against numpy."""
    import numpy as np

    from spacy_llm_spark.operators.similarity import hard_negatives

    rng = np.random.RandomState(3)
    base = rng.normal(size=8)
    vecs = {
        0: base,                                   # the query
        1: base + rng.normal(scale=1e-4, size=8),  # near-dup -> banded out
        2: base + rng.normal(scale=0.4, size=8),   # hard negative
        3: base + rng.normal(scale=0.7, size=8),   # hard negative
        4: base + rng.normal(scale=0.6, size=8),   # gold positive
        5: -base,                                  # easy (cos < lo)
    }
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    gold = spark.createDataFrame([(0, 4)], ["query_id", "vec_id"])
    got = (
        hard_negatives(
            emb.where("vec_id = 0"), emb, k=5,
            sim_lo=0.35, sim_hi=0.999, positives=gold,
        )
        .orderBy("rank")
        .collect()
    )

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    sims = {i: cos(vecs[0], v) for i, v in vecs.items()}
    expect = sorted(
        (i for i in vecs if 0.35 <= sims[i] < 0.999 and i != 4),
        key=lambda i: (-sims[i], i),
    )
    assert [r["vec_id"] for r in got] == expect
    for r in got:
        assert abs(r["cosine"] - sims[r["vec_id"]]) < 1e-6
        assert 0.35 <= r["cosine"] < 0.999


def test_hard_negatives_matches_knn_when_band_open(spark, sf_dir):
    """With an all-pass band and no gold frame, hard_negatives degrades
    to knn_join exactly (shared top-k merge)."""
    from spacy_llm_spark.operators.similarity import hard_negatives, knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id % 100 = 0")
    a = sorted(
        map(tuple, knn_join(q, emb, k=3).collect())
    )
    b = sorted(
        map(tuple, hard_negatives(q, emb, k=3, sim_lo=-2.0, sim_hi=2.0).collect())
    )
    assert a == b


def test_hard_negatives_validation(spark):
    import pytest as _pytest

    from spacy_llm_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="k must"):
        hard_negatives(emb, emb, k=0)
    with _pytest.raises(ValueError, match="sim_lo < sim_hi"):
        hard_negatives(emb, emb, sim_lo=0.9, sim_hi=0.5)


def test_quantize_embeddings_numpy_parity_and_error_bound(spark, sf_dir):
    """Quantization matches numpy absmax int8; dequantized reconstruction
    error per element is bounded by half a quantum (absmax/254)."""
    import numpy as np

    from pyspark.sql import functions as F

    from spacy_llm_spark.operators.similarity import (
        dequantize_expr,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    q = quantize_embeddings(emb)
    rows = q.select(
        "vec_id", "embedding", "qvec", "qscale",
        dequantize_expr(F.col("qvec"), F.col("qscale")).alias("deq"),
    ).collect()
    assert rows
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        am = float(np.max(np.abs(v)))
        expect_q = np.round(v * 127.0 / am).astype(np.int8)
        assert list(expect_q) == r["qvec"]
        assert r["qscale"] == am / 127.0
        err = np.abs(np.asarray(r["deq"]) - v)
        assert float(err.max()) <= am / 254.0 + 1e-12


def test_quantized_topk_recall_and_edge_cases(spark, sf_dir):
    """int8 top-k keeps high recall vs the raw-float top-k; zero vectors
    quantize to zero with NULL cosine (excluded from top-k like raw)."""
    from spacy_llm_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    raw = {r["vec_id"] for r in cosine_topk(emb, probe, k=10).collect()}
    qtop = {
        r["vec_id"]
        for r in cosine_topk_quantized(
            quantize_embeddings(emb), probe, k=10
        ).collect()
    }
    assert len(raw & qtop) >= 8  # recall@10 >= 0.8 from int8 rounding

    zero = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 2.0])],
        ["vec_id", "embedding"],
    )
    zq = quantize_embeddings(zero)
    got = {r["vec_id"]: (r["qvec"], r["qscale"]) for r in zq.collect()}
    assert got[1] == ([0, 0, 0], 0.0)
    top = cosine_topk_quantized(zq, [1.0, 2.0, 2.0], k=5).collect()
    assert [r["vec_id"] for r in top if r["cosine"] is not None] == [2]


def test_induce_ontology_domain_range_functionality(spark):
    from pyspark.sql import Row
    from spacy_llm_spark.operators import audit

    rows = [
        # worksAt: 3 PERSON subjects, 1 mislabeled BOT; ranges all ORG;
        # p2 has two jobs -> functionality < 1
        ("p1", "worksAt", "o1", "PERSON", "ORG"),
        ("p2", "worksAt", "o1", "PERSON", "ORG"),
        ("p2", "worksAt", "o2", "PERSON", "ORG"),
        ("p3", "worksAt", "o2", "BOT", "ORG"),
        ("p4", "worksAt", "o2", "PERSON", "ORG"),
        # ceoOf: 1:1 both ways
        ("p1", "ceoOf", "o1", "PERSON", "ORG"),
        # duplicate triple collapses before any counting
        ("p1", "ceoOf", "o1", "PERSON", "ORG"),
    ]
    edges = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o, subj_label=sl, obj_label=ol)
         for s, p, o, sl, ol in rows],
        "subj string, pred string, obj string, "
        "subj_label string, obj_label string",
    )
    got = {r.pred: r for r in audit.induce_ontology(edges).collect()}
    w = got["worksAt"]
    assert w.n_triples == 5
    assert (w.domain, w.domain_conf) == ("PERSON", 0.75)  # 3 of 4 subjects
    assert (w.range, w.range_conf) == ("ORG", 1.0)
    assert w.functionality == 0.8        # 4 subjects / 5 pairs
    assert w.inv_functionality == 0.4    # 2 objects / 5 pairs
    c = got["ceoOf"]
    assert c.n_triples == 1
    assert (c.functionality, c.inv_functionality) == (1.0, 1.0)
    # argmax tie breaks toward the lexicographically smaller label
    tie = spark.createDataFrame(
        [Row(subj="a", pred="p", obj="x", subj_label="Z", obj_label="T"),
         Row(subj="b", pred="p", obj="x", subj_label="A", obj_label="T")],
        "subj string, pred string, obj string, "
        "subj_label string, obj_label string",
    )
    t = audit.induce_ontology(tie).head()
    assert (t.domain, t.domain_conf) == ("A", 0.5)


def test_k_anonymity_violations(spark):
    """Groups under k flagged with sizes; compliant groups absent."""
    from spacy_llm_spark.operators.audit import k_anonymity_violations
    import pytest as _pytest
    from pyspark.sql import functions as F

    rows = (
        [("us", "a")] * 5       # compliant at k=5
        + [("us", "b")] * 2     # violating
        + [("de", "a")] * 1     # violating
    )
    df = spark.createDataFrame(rows, "country string, segment string")
    got = {
        (r.country, r.segment): r.group_size
        for r in k_anonymity_violations(df, ["country", "segment"], k=5).collect()
    }
    assert got == {("us", "b"): 2, ("de", "a"): 1}
    assert k_anonymity_violations(df, ["country", "segment"], k=2).count() == 1
    with _pytest.raises(ValueError, match="vacuous"):
        k_anonymity_violations(df, ["country"], k=1)


def test_l_diversity_violations_null_counts_as_value(spark):
    from spacy_llm_spark.operators.audit import l_diversity_violations
    import pytest as _pytest

    rows = [
        ("us", "flu"), ("us", "flu"), ("us", "flu"),   # 1 value -> violates l=2
        ("de", "flu"), ("de", None),                    # NULL is a 2nd value -> ok
        ("fr", "flu"), ("fr", "cold"),                  # ok
    ]
    df = spark.createDataFrame(rows, "country string, diagnosis string")
    got = {
        r.country: (r.group_size, r.n_sensitive_values)
        for r in l_diversity_violations(df, ["country"], "diagnosis", l=2).collect()
    }
    assert got == {"us": (3, 1)}
    with _pytest.raises(ValueError, match="vacuous"):
        l_diversity_violations(df, ["country"], "diagnosis", l=1)
