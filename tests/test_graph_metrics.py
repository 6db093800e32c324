"""Graph structure metrics (assortativity, reciprocity), checked against
pure-Python references on hand graphs."""

import math

import pytest
from pyspark.sql import Row

from spacy_llm_spark.operators.graph import degree_assortativity, reciprocity


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(subj=u, obj=v) for u, v in pairs], "subj string, obj string"
    )


def _pearson(xy):
    n = len(xy)
    mx = sum(x for x, _ in xy) / n
    my = sum(y for _, y in xy) / n
    cov = sum((x - mx) * (y - my) for x, y in xy)
    vx = sum((x - mx) ** 2 for x, _ in xy)
    vy = sum((y - my) ** 2 for _, y in xy)
    if vx == 0 or vy == 0:
        return None
    return cov / math.sqrt(vx * vy)


def _py_assortativity(pairs, mode):
    out, inn, deg = {}, {}, {}
    for u, v in pairs:
        out[u] = out.get(u, 0) + 1
        inn[v] = inn.get(v, 0) + 1
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    if mode == "undirected":
        xy = [(deg[u], deg[v]) for u, v in pairs]
        xy += [(y, x) for x, y in xy]
    else:
        s = out if mode.startswith("out") else inn
        t = inn if mode.endswith("in") else out
        xy = [(s.get(u, 0), t.get(v, 0)) for u, v in pairs]
    return _pearson(xy)


STAR = [("c", "l1"), ("c", "l2"), ("c", "l3")]
MIXED = [
    ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
    ("d", "a"), ("d", "b"), ("e", "d"), ("e", "a"),
    ("f", "f"), ("b", "d"),
]


@pytest.mark.parametrize("mode", ["undirected", "out_in", "in_out",
                                  "out_out", "in_in"])
@pytest.mark.parametrize("pairs", [STAR, MIXED])
def test_assortativity_matches_reference(spark, pairs, mode):
    row = degree_assortativity(_edges(spark, pairs), mode=mode).collect()[0]
    assert row.mode == mode
    assert row.n_edges == len(pairs)
    want = _py_assortativity(pairs, mode)
    if want is None:
        assert row.assortativity is None
    else:
        assert row.assortativity == pytest.approx(round(want, 6), abs=2e-6)


def test_assortativity_star_and_degenerate(spark):
    # star: hubs attach only to leaves -> perfectly disassortative
    row = degree_assortativity(_edges(spark, STAR)).collect()[0]
    assert row.assortativity == -1.0
    # 3-cycle: every degree equal -> zero variance -> NULL coefficient
    cyc = degree_assortativity(
        _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ).collect()[0]
    assert cyc.assortativity is None
    with pytest.raises(ValueError, match="mode"):
        degree_assortativity(_edges(spark, STAR), mode="sideways")


def test_reciprocity_hand_cases(spark):
    # 2 mutual pairs out of 4 non-loop distinct edges; loop + dup ignored
    pairs = [("a", "b"), ("b", "a"), ("c", "d"), ("d", "e"),
             ("c", "d"), ("e", "e")]
    row = reciprocity(_edges(spark, pairs)).collect()[0]
    assert (row.n_edges, row.n_reciprocated) == (4, 2)
    assert row.reciprocity == 0.5
    # empty graph: defined 0.0, no division blowup
    row0 = reciprocity(_edges(spark, [("x", "x")])).collect()[0]
    assert (row0.n_edges, row0.n_reciprocated, row0.reciprocity) == (0, 0, 0.0)


def _asn(spark, pairs):
    return spark.createDataFrame(
        [Row(vertex=v, label=l) for v, l in pairs],
        "vertex string, label string",
    )


def test_modularity_two_triangles_bridge(spark):
    from spacy_llm_spark.operators.graph import modularity

    # two triangles joined by one bridge: m = 7; each community has
    # m_in = 3, d_tot = 7 -> q_c = 3/7 - (7/14)^2, Q = 2 * q_c
    tri = [("a", "b"), ("b", "c"), ("a", "c"),
           ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    asn = _asn(spark, [(v, "L") for v in "abc"] + [(v, "R") for v in "def"])
    out = {r.label: r for r in
           modularity(_edges(spark, tri), asn).collect()}
    assert set(out) == {"L", "R"}
    for lab in ("L", "R"):
        r = out[lab]
        assert (r.n_nodes, r.m_in, r.d_tot) == (3, 3, 7)
        assert r.q == round(3 / 7 - (7 / 14) ** 2, 10)
    # the perfect-split Q beats the all-in-one partition's Q (== 0)
    allone = modularity(
        _edges(spark, tri), _asn(spark, [(v, "X") for v in "abcdef"])
    ).collect()
    assert len(allone) == 1 and allone[0].q == 0.0
    # self-loops and parallel edges are dropped; a PARTIAL assignment
    # scores the induced subgraph consistently (m shrinks with it)
    noisy = tri + [("a", "a"), ("b", "a")]
    out2 = {r.label: (r.n_nodes, r.m_in, r.d_tot, r.q) for r in
            modularity(_edges(spark, noisy), asn).collect()}
    assert out2 == {lab: (3, 3, 7, round(3 / 7 - 0.25, 10))
                    for lab in ("L", "R")}
    part = modularity(
        _edges(spark, tri), _asn(spark, [(v, "L") for v in "abc"])
    ).collect()
    # induced subgraph = the left triangle alone: one community holding
    # every edge -> q = 1/1 - 1 = 0 over m = 3
    assert [(r.n_nodes, r.m_in, r.d_tot, r.q) for r in part] == [(3, 3, 6, 0.0)]


def _quads(spark, rows):
    return spark.createDataFrame(
        [Row(graph=g, subj=s, pred=p, obj=o) for g, s, p, o in rows],
        "graph string, subj string, pred string, obj string",
    )


def test_wl_fingerprints_templates_and_limits(spark):
    from spacy_llm_spark.operators.graph import (
        structural_duplicate_graphs,
        wl_fingerprints,
    )

    rows = [
        # g1 / g2: same template (a -p-> b -q-> c), different entities
        ("g1", "a", "p", "b"), ("g1", "b", "q", "c"),
        ("g2", "x", "p", "y"), ("g2", "y", "q", "z"),
        # g3 / g4: isomorphic p-chains
        ("g3", "m", "p", "n"), ("g3", "n", "p", "o"),
        ("g4", "u", "p", "v"), ("g4", "v", "p", "w"),
        # g5: same edge-label multiset as g1 but star wiring, not chain
        ("g5", "h", "p", "i"), ("g5", "h", "q", "j"),
    ]
    fp = {r.graph: (r.fingerprint, r.n_nodes)
          for r in wl_fingerprints(_quads(spark, rows), rounds=2).collect()}
    assert fp["g1"] == fp["g2"]          # entity names don't matter
    assert fp["g3"] == fp["g4"]          # isomorphic
    assert fp["g1"][0] != fp["g3"][0]    # pred labels matter
    assert fp["g1"][0] != fp["g5"][0]    # wiring matters, not just counts
    assert all(n == 3 for _, n in fp.values())
    dups = {r.graphs: r.n_graphs for r in
            structural_duplicate_graphs(_quads(spark, rows)).collect()}
    assert dups == {"g1,g2": 2, "g3,g4": 2}
    with pytest.raises(ValueError, match="rounds"):
        wl_fingerprints(_quads(spark, rows), rounds=0)
    with pytest.raises(NotImplementedError):
        wl_fingerprints(_quads(spark, rows), node_label="x")


def test_wl_known_equivalence_limit(spark):
    from spacy_llm_spark.operators.graph import wl_fingerprints

    # the classic WL blind spot: two directed 3-cycles vs one directed
    # 6-cycle — every node sees in=1/out=1 uniformly forever, so the
    # fingerprints MUST collide (documented: WL-equivalence, not
    # isomorphism). If a future change makes these differ, the operator
    # stopped being WL and the docstring is lying.
    c33 = [("h6", f"a{i}", "p", f"a{(i + 1) % 3}") for i in range(3)] + [
        ("h6", f"b{i}", "p", f"b{(i + 1) % 3}") for i in range(3)
    ]
    c6 = [("h7", f"c{i}", "p", f"c{(i + 1) % 6}") for i in range(6)]
    fp = {r.graph: r.fingerprint for r in
          wl_fingerprints(_quads(spark, c33 + c6), rounds=3).collect()}
    assert fp["h6"] == fp["h7"]


def test_k_truss_cliques_and_cascade(spark):
    from spacy_llm_spark.operators.graph import k_truss
    import itertools

    k5 = [(f"a{i}", f"a{j}") for i, j in itertools.combinations(range(5), 2)]
    k4 = [(f"b{i}", f"b{j}") for i, j in itertools.combinations(range(4), 2)]
    tail = [("a0", "t1"), ("t1", "t2"), ("t2", "t3")]
    e = _edges(spark, k5 + k4 + tail)
    # k=5 keeps only the K5 (support exactly 3 on every edge); the K4
    # (support 2) and the triangle-free tail peel off
    out = {(r.lo, r.hi): r.support for r in k_truss(e, 5).collect()}
    assert len(out) == 10 and set(out.values()) == {3}
    assert all(v.startswith("a") for pair in out for v in pair)
    # k=4 keeps K5 and K4; k=2 keeps the whole simple graph; k=6 empty
    assert k_truss(e, 4).count() == 16
    assert k_truss(e, 2).count() == 19
    assert k_truss(e, 6).count() == 0
    # cascade: a triangle strip where each peel exposes the next —
    # fan {c, x1..x4}: edges (c,xi) and (xi,xi+1); every edge has
    # support >= 1 initially, but a 3-truss (support >= 1) keeps it
    # all while a 4-truss (support >= 2) must cascade to empty
    fan = [("c", f"x{i}") for i in range(4)] + [
        (f"x{i}", f"x{i+1}") for i in range(3)
    ]
    assert k_truss(_edges(spark, fan), 3).count() == 7
    assert k_truss(_edges(spark, fan), 4).count() == 0
    with pytest.raises(ValueError, match="k must be >= 2"):
        k_truss(e, 1)
    with pytest.raises(RuntimeError, match="converge"):
        k_truss(_edges(spark, fan), 4, max_rounds=1)


def test_quotient_graph_density_and_counts(spark):
    from pyspark.sql import Row
    from spacy_llm_spark.operators.graph import quotient_graph

    rows = [
        # OP -executes-> TABLE: 2x2 complete bipartite = density 1.0
        ("a", "executes", "t1", "OP", "TABLE"),
        ("a", "executes", "t2", "OP", "TABLE"),
        ("b", "executes", "t1", "OP", "TABLE"),
        ("b", "executes", "t2", "OP", "TABLE"),
        # OP -executes-> SYS: 1 of 2 possible pairs = density 0.5
        ("a", "executes", "s1", "OP", "SYS"),
        ("b", "executes", "s2", "OP", "SYS"),
        ("a", "executes", "s1", "OP", "SYS"),  # dup collapses
    ]
    edges = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o, subj_label=sl, obj_label=ol)
         for s, p, o, sl, ol in rows],
        "subj string, pred string, obj string, "
        "subj_label string, obj_label string",
    )
    got = {
        (r.subj_label, r.pred, r.obj_label): r
        for r in quotient_graph(edges).collect()
    }
    t = got[("OP", "executes", "TABLE")]
    assert (t.n_triples, t.n_subjects, t.n_objects, t.density) == (4, 2, 2, 1.0)
    s = got[("OP", "executes", "SYS")]
    assert (s.n_triples, s.n_subjects, s.n_objects, s.density) == (2, 2, 2, 0.5)
    assert len(got) == 2


def _wpr_reference(edges, iters=5, d=0.85, q=10):
    agg = {}
    for s, t, w in edges:
        agg[(s, t)] = agg.get((s, t), 0.0) + w
    nodes = sorted({x for s, t, _ in edges for x in (s, t)})
    W = {}
    for (s, t), w in agg.items():
        W[s] = W.get(s, 0.0) + w
    n = len(nodes)
    base = (1 - d) / n
    rank = {v: round(1.0 / n, q) for v in nodes}
    for _ in range(iters):
        contrib = {}
        for (s, t), w in agg.items():
            contrib[t] = contrib.get(t, 0.0) + round(rank[s] * w / W[s], q)
        dm = sum(rank[v] for v in nodes if v not in W)
        rank = {
            v: round(base + d * (contrib.get(v, 0.0) + dm / n), q)
            for v in nodes
        }
    return rank


def test_weighted_pagerank_reference_and_weight_pull(spark):
    from pyspark.sql import Row
    from spacy_llm_spark.operators.graph import pagerank, weighted_pagerank

    edges = [
        ("a", "b", 9.0), ("a", "c", 1.0),   # a pulls 90% toward b
        ("b", "a", 1.0), ("c", "a", 1.0),
        ("a", "b", 1.0),                    # duplicate sums -> 10.0
        ("d", "a", 2.0),                    # d dangles nothing in
    ]
    df = spark.createDataFrame(
        [Row(subj=s, obj=t, weight=w) for s, t, w in edges],
        "subj string, obj string, weight double",
    )
    got = {r.vertex: r.rank for r in weighted_pagerank(df).collect()}
    want = _wpr_reference([(s, t, w) for s, t, w in edges])
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    # weights matter: b (weight 10 of 11) far outranks c (1 of 11)
    assert got["b"] > 2 * got["c"]
    # uniform weights ~= unweighted pagerank (same transition matrix;
    # only the pre-sum share quantization differs)
    from pyspark.sql import functions as F
    # distinct first: weighted SUMS duplicate rows (w(a,b)=2), while
    # pagerank distincts them — same matrix only on the distinct set
    uni = df.select("subj", "obj").distinct().select(
        "subj", "obj", F.lit(1.0).alias("weight"))
    wu = {r.vertex: r.rank for r in weighted_pagerank(uni).collect()}
    pu = {r.vertex: r.rank for r in pagerank(df).collect()}
    for v in pu:
        assert wu[v] == pytest.approx(pu[v], abs=1e-8), v
    # guards: zero / NULL weights refuse
    bad = spark.createDataFrame(
        [Row(subj="a", obj="b", weight=0.0)],
        "subj string, obj string, weight double",
    )
    with pytest.raises(ValueError, match="non-positive"):
        weighted_pagerank(bad)


def _katz_reference(pairs, alpha, beta, iters, q=10):
    de = sorted(set(pairs))
    nodes = sorted({x for e in de for x in e})
    c = {v: round(beta, q) for v in nodes}
    for _ in range(iters):
        inflow = {}
        for s, t in de:
            inflow[t] = inflow.get(t, 0.0) + c[s]
        c = {v: round(beta + alpha * inflow.get(v, 0.0), q) for v in nodes}
    return c


def test_katz_centrality_reference_and_walk_counting(spark):
    from pyspark.sql import Row
    from spacy_llm_spark.operators.graph import katz_centrality

    # star into h plus a chain into c: h gets many direct walks, c gets
    # length-2 walks through b — Katz counts both, damped by alpha
    pairs = [("a", "h"), ("b", "h"), ("c", "h"), ("d", "h"),
             ("a", "b"), ("b", "c"), ("a", "h")]  # dup collapses
    df = spark.createDataFrame(
        [Row(subj=s, obj=t) for s, t in pairs], "subj string, obj string"
    )
    for iters in (0, 1, 3, 5):
        got = {r.vertex: r.katz
               for r in katz_centrality(df, iters=iters).collect()}
        want = _katz_reference(pairs, 0.1, 1.0, iters)
        assert got == want, iters
    got = {r.vertex: r.katz for r in katz_centrality(df, iters=5).collect()}
    # the 4-source hub outranks everything; chain endpoint c beats the
    # sourceless a (walks through a->b->c accumulate)
    assert got["h"] == max(got.values())
    assert got["c"] > got["a"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="iters"):
        katz_centrality(df, iters=-1)


def test_ego_network_induced_subgraph(spark):
    from pyspark.sql import Row
    from spacy_llm_spark.operators.graph import ego_network

    # path a-b-c-d-e plus boundary chord c-x, x-c2 where both c,x at
    # radius<=2 of seed a: chord (c,x) must be INDUCED even though BFS
    # reached x via it; edge (d,e) beyond radius drops
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
             ("b", "x"), ("c", "x")]
    edges = spark.createDataFrame(
        [Row(subj=s, pred="p", obj=t) for s, t in pairs],
        "subj string, pred string, obj string",
    )
    seeds = spark.createDataFrame([Row(vertex="a")], "vertex string")
    got = {(r.subj, r.obj): (r.subj_level, r.obj_level)
           for r in ego_network(edges, seeds, radius=2).collect()}
    assert got == {
        ("a", "b"): (0, 1), ("b", "c"): (1, 2), ("b", "x"): (1, 2),
        ("c", "x"): (2, 2),   # induced boundary chord
    }
    # radius 0: only edges among the seeds themselves (none here)
    assert ego_network(edges, seeds, radius=0).count() == 0
    # pred column carried through
    assert "pred" in ego_network(edges, seeds, radius=1).columns
    import pytest as _pytest
    with _pytest.raises(ValueError, match="radius"):
        ego_network(edges, seeds, radius=-1)


def test_degree_histogram_log_bins(spark):
    from pyspark.sql import Row
    from spacy_llm_spark.operators.graph import degree_histogram

    # hub h with degree 5 (bin 2), spokes degree 1 (bin 0) except s1
    # which also links s2 -> degree 2 (bin 1); self-loop dropped
    pairs = [("h", "s1"), ("h", "s2"), ("h", "s3"), ("h", "s4"),
             ("h", "s5"), ("s1", "s2"), ("h", "h"), ("s1", "h")]
    edges = spark.createDataFrame(
        [Row(subj=a, obj=b) for a, b in pairs], "subj string, obj string"
    )
    got = {r.bin: r for r in degree_histogram(edges).collect()}
    assert got[0].n_vertices == 3          # s3, s4, s5 (degree 1)
    assert (got[0].degree_lo, got[0].degree_hi) == (1, 1)
    assert got[1].n_vertices == 2          # s1, s2 (degree 2)
    assert (got[1].degree_lo, got[1].degree_hi) == (2, 3)
    assert got[2].n_vertices == 1 and got[2].max_degree == 5
    assert (got[2].degree_lo, got[2].degree_hi) == (4, 7)
    # directed: out-degree only (h -> 5 spokes + dup (s1,h)=... )
    got_d = {r.bin: r for r in
             degree_histogram(edges, directed=True).collect()}
    assert got_d[2].max_degree == 5        # h's out-degree
