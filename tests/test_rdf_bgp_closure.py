"""Transitive closure, BGP matching, and N-Triples serde.

Closure is checked against a pure-Python Warshall reference on small
graphs (chain, tree, cycle, disjoint, empty); BGP compilation against
hand-enumerated bindings plus a brute-force Python matcher; the RDF
round trip against an adversarial corpus that actually exercises every
ECHAR / percent escape in both term positions.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spacy_llm_spark.functions import rdf
from spacy_llm_spark.operators.graph import match_bgp, transitive_closure


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(subj=s, obj=t) for s, t in pairs], "subj string, obj string"
    )


def _py_closure(pairs):
    nodes = {x for p in pairs for x in p}
    reach = set(pairs)
    changed = True
    while changed:
        changed = False
        for a, b in list(reach):
            for c, d in list(reach):
                if b == c and (a, d) not in reach:
                    reach.add((a, d))
                    changed = True
    return reach


@pytest.mark.parametrize(
    "pairs",
    [
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],  # chain, depth 4
        [("r", "a"), ("r", "b"), ("a", "c"), ("a", "d"), ("b", "e")],  # tree
        [("a", "b"), ("b", "c"), ("c", "a")],  # 3-cycle: full square incl self
        [("a", "b"), ("x", "y"), ("y", "z")],  # disjoint components
        [("a", "a")],  # explicit self-loop preserved
        [("a", "b"), ("a", "b"), ("b", "c")],  # duplicate edges collapse
    ],
)
def test_transitive_closure_matches_warshall(spark, pairs):
    got = {
        (r.subj, r.obj)
        for r in transitive_closure(_edges(spark, pairs)).collect()
    }
    assert got == _py_closure(pairs)


def test_transitive_closure_empty_and_rounds(spark):
    empty = _edges(spark, [])
    assert transitive_closure(empty).count() == 0
    # depth-8 chain needs 3 doublings; 1 round is not enough and must
    # raise rather than return a partial closure
    chain = [(str(i), str(i + 1)) for i in range(8)]
    with pytest.raises(RuntimeError, match="not converged"):
        transitive_closure(_edges(spark, chain), max_rounds=1)
    full = transitive_closure(_edges(spark, chain), max_rounds=4)
    assert full.count() == 8 * 9 // 2


TRIPLES = [
    ("s1", "executes", "op1"),
    ("s1", "executes", "op2"),
    ("s2", "executes", "op2"),
    ("op1", "appliesTo", "t1"),
    ("op2", "appliesTo", "t1"),
    ("op2", "appliesTo", "t2"),
    ("s1", "stores", "t1"),
    ("s2", "stores", "t2"),
    ("op1", "precedes", "op2"),
]


def _triples_df(spark):
    return spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o) for s, p, o in TRIPLES],
        "subj string, pred string, obj string",
    )


def test_match_bgp_two_hop_join(spark):
    out = match_bgp(
        _triples_df(spark),
        [("?s", "executes", "?o"), ("?o", "appliesTo", "?t")],
    )
    assert sorted(out.columns) == ["o", "s", "t"]
    got = {(r.s, r.o, r.t) for r in out.collect()}
    assert got == {
        ("s1", "op1", "t1"),
        ("s1", "op2", "t1"),
        ("s1", "op2", "t2"),
        ("s2", "op2", "t1"),
        ("s2", "op2", "t2"),
    }


def test_match_bgp_triangle_and_constants(spark):
    # closed triangle: system executes an op applied to a table the
    # same system stores
    out = match_bgp(
        _triples_df(spark),
        [
            ("?s", "executes", "?o"),
            ("?o", "appliesTo", "?t"),
            ("?s", "stores", "?t"),
        ],
    )
    got = {(r.o, r.s, r.t) for r in out.collect()}
    assert got == {("op1", "s1", "t1"), ("op2", "s1", "t1"), ("op2", "s2", "t2")}
    # constant subject narrows the binding set
    one = match_bgp(_triples_df(spark), [("s2", "executes", "?o")])
    assert {r.o for r in one.collect()} == {"op2"}


def test_match_bgp_repeated_var_and_guards(spark):
    # repeated variable within one pattern: subj == obj on the same row
    loop = match_bgp(
        _triples_df(spark).unionByName(
            _triples_df(spark).limit(1).select(
                F.lit("x").alias("subj"), F.lit("p").alias("pred"),
                F.lit("x").alias("obj"),
            )
        ),
        [("?v", "p", "?v")],
    )
    assert {r.v for r in loop.collect()} == {"x"}
    with pytest.raises(ValueError, match="disconnected"):
        match_bgp(
            _triples_df(spark),
            [("?a", "executes", "?b"), ("?c", "stores", "?d")],
        )
    n_cross = match_bgp(
        _triples_df(spark),
        [("?a", "executes", "?b"), ("?c", "stores", "?d")],
        allow_cartesian=True,
    ).count()
    assert n_cross == 3 * 2
    with pytest.raises(ValueError, match="at least one pattern"):
        match_bgp(_triples_df(spark), [])
    with pytest.raises(ValueError, match="binds no variable"):
        match_bgp(_triples_df(spark), [("s1", "executes", "op1")])
    with pytest.raises(ValueError, match="bad variable name"):
        match_bgp(_triples_df(spark), [("?a-b", "executes", "?o")])


def test_match_bgp_bag_semantics(spark):
    dup = _triples_df(spark).unionByName(_triples_df(spark))
    n_set = match_bgp(dup, [("?s", "executes", "?o")]).count()
    n_bag = match_bgp(dup, [("?s", "executes", "?o")], distinct=False).count()
    assert (n_set, n_bag) == (3, 6)


ADVERSARIAL = [
    ("plain", "pred", "obj"),
    ('qu"ote', "back\\slash", 'both"\\'),
    ("new\nline", "tab\there", "cr\rhere"),
    ("pct%20literal", "sp ace", "angle<bra>cket"),
    ("curly{brace}", "pipe|caret^tick`", "%25already"),
    ("", "empty-subject-above", "unicode-έλξη-漢"),
]


def test_ntriples_roundtrip_iri_and_literal(spark):
    df = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o) for s, p, o in ADVERSARIAL],
        "subj string, pred string, obj string",
    )
    for obj_is_iri in (True, False):
        lines = rdf.to_ntriples(df, obj_is_iri=obj_is_iri)
        assert lines.columns == ["ntriple"]
        back = rdf.parse_ntriples(lines)
        got = {(r.subj, r.pred, r.obj, r.obj_is_iri) for r in back.collect()}
        assert got == {(s, p, o, obj_is_iri) for s, p, o in ADVERSARIAL}


def test_ntriples_grammar_and_malformed_lines(spark):
    df = spark.createDataFrame(
        [Row(subj="K1", pred="stores", obj="free text")],
        "subj string, pred string, obj string",
    )
    line = rdf.to_ntriples(df, obj_is_iri=F.col("subj").startswith("Q")).head()[0]
    assert line == (
        '<http://example.org/kg/K1> <http://example.org/kg/stores> '
        '"free text" .'
    )
    junk = spark.createDataFrame(
        [Row(ntriple=x) for x in [
            line,
            "not a triple",
            "<a> <b> <c> ",  # missing final dot
            '<a> <b> "unclosed .',
        ]],
        "ntriple string",
    )
    ok = rdf.parse_ntriples(junk).collect()
    assert len(ok) == 1 and ok[0].obj == "free text" and not ok[0].obj_is_iri


def test_ntriples_mixed_object_kinds_per_row(spark):
    df = spark.createDataFrame(
        [Row(subj="a", pred="p", obj="Q7"), Row(subj="b", pred="p", obj="lit")],
        "subj string, pred string, obj string",
    )
    lines = rdf.to_ntriples(df, obj_is_iri=F.col("obj").startswith("Q"))
    back = rdf.parse_ntriples(lines)
    got = {(r.obj, r.obj_is_iri) for r in back.collect()}
    assert got == {("Q7", True), ("lit", False)}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bgp_plan_no_nested_loop_and_ntriples_no_exchange(spark):
    plan = _plan(
        match_bgp(
            _triples_df(spark),
            [
                ("?s", "executes", "?o"),
                ("?o", "appliesTo", "?t"),
                ("?s", "stores", "?t"),
            ],
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    lines = rdf.to_ntriples(_triples_df(spark))
    plan2 = _plan(lines)
    assert "Exchange" not in plan2  # pure projection: serialize at scan speed
    assert "Python" not in plan2  # escape chain stays JVM-side


def test_match_bgp_inverse_and_alternation(spark):
    t = _triples_df(spark)
    # bare inverse == reversed pattern
    inv = {(r.s, r.o) for r in match_bgp(t, [("?o", "^executes", "?s")]).collect()}
    fwd = {(r.s, r.o) for r in match_bgp(t, [("?s", "executes", "?o")]).collect()}
    assert inv == fwd and len(fwd) == 3
    # alternation: one pattern over the union of two preds
    alt = {
        (r.a, r.b)
        for r in match_bgp(t, [("?a", "appliesTo|stores", "?b")]).collect()
    }
    assert alt == {
        ("op1", "t1"), ("op2", "t1"), ("op2", "t2"),
        ("s1", "t1"), ("s2", "t2"),
    }
    # inverse + closure: ^precedes+ over op1->op2 gives the reversed
    # closed pair
    invp = {
        (r.x, r.y)
        for r in match_bgp(t, [("?x", "^precedes+", "?y")]).collect()
    }
    assert invp == {("op2", "op1")}
    # alternation + closure: executes|precedes+ chains s -> op1 -> op2
    altp = {
        (r.x, r.y)
        for r in match_bgp(t, [("?x", "executes|precedes+", "?y")]).collect()
    }
    assert ("s1", "op2") in altp and ("s2", "op2") in altp
    for bad in ("^", "|a", "a|", "a||b"):
        with pytest.raises(ValueError, match="bad predicate path|bad variable"):
            match_bgp(t, [("?x", bad, "?y")])


def test_match_bgp_optional_groups(spark):
    # ?s executes ?o, OPTIONAL { ?o appliesTo ?t }: op1/op2 bind ?t,
    # and an op with no appliesTo edge survives with t = NULL
    tri = _triples_df(spark).unionByName(
        spark.createDataFrame(
            [Row(subj="s3", pred="executes", obj="op9")],
            "subj string, pred string, obj string",
        )
    )
    out = match_bgp(
        tri,
        [("?s", "executes", "?o")],
        optional=[[("?o", "appliesTo", "?t")]],
    )
    got = {(r.s, r.o, r.t) for r in out.collect()}
    assert ("s3", "op9", None) in got
    assert ("s1", "op1", "t1") in got and ("s1", "op2", "t2") in got
    assert all(t is not None for s, o, t in got if o != "op9")

    # two independent optional groups; second anchored on required ?s
    out2 = match_bgp(
        tri,
        [("?s", "executes", "?o")],
        optional=[
            [("?o", "appliesTo", "?t")],
            [("?s", "stores", "?u")],
        ],
    )
    rows = {(r.s, r.o, r.t, r.u) for r in out2.collect()}
    assert ("s3", "op9", None, None) in rows
    assert ("s2", "op2", "t1", "t2") in rows  # s2 stores t2 only

    with pytest.raises(ValueError, match="shares no variable"):
        match_bgp(
            tri,
            [("?s", "executes", "?o")],
            optional=[[("?a", "stores", "?b")]],
        )
    with pytest.raises(ValueError, match="rebinds optional-only"):
        match_bgp(
            tri,
            [("?s", "executes", "?o")],
            optional=[
                [("?o", "appliesTo", "?t")],
                [("?s", "stores", "?t")],
            ],
        )


def test_match_bgp_property_path(spark):
    # precedes chain op1 -> op2 -> op3: op+ reaches both hops
    tri = _triples_df(spark).unionByName(
        spark.createDataFrame(
            [Row(subj="op2", pred="precedes", obj="op3"),
             Row(subj="op3", pred="emits", obj="sys9")],
            "subj string, pred string, obj string",
        )
    )
    out = match_bgp(tri, [("?a", "precedes+", "?b")])
    got = {(r.a, r.b) for r in out.collect()}
    assert got == {("op1", "op2"), ("op2", "op3"), ("op1", "op3")}
    # path pattern composes with plain patterns through shared vars
    out2 = match_bgp(
        tri, [("?a", "precedes+", "?b"), ("?b", "emits", "?x")]
    )
    assert {(r.a, r.b, r.x) for r in out2.collect()} == {
        ("op1", "op3", "sys9"),
        ("op2", "op3", "sys9"),
    }
    # a bare "+" predicate is a path metacharacter: the grammar refuses
    # it unquoted (never misparses), and the <...>-quoted form is the
    # literal constant pred named "+" — which matches nothing here
    with pytest.raises(ValueError, match="path"):
        match_bgp(tri, [("?a", "+", "?b")])
    none = match_bgp(tri, [("?a", "<+>", "?b")])
    assert none.count() == 0


def test_construct_triples_templates(spark):
    from spacy_llm_spark.operators.graph import construct_triples

    bindings = match_bgp(
        _triples_df(spark),
        [
            ("?s", "executes", "?o"),
            ("?o", "appliesTo", "?t"),
            ("?s", "stores", "?t"),
        ],
    )
    derived = construct_triples(
        bindings,
        [("?s", "runsOn", "?t"), ("?t", "hostedBy", "?s")],
    )
    got = {(r.subj, r.pred, r.obj) for r in derived.collect()}
    assert got == {
        ("s1", "runsOn", "t1"), ("t1", "hostedBy", "s1"),
        ("s2", "runsOn", "t2"), ("t2", "hostedBy", "s2"),
    }
    # NULL bindings (OPTIONAL misses) drop the incomplete triple only
    null_bind = spark.createDataFrame(
        [Row(s="a", t=None), Row(s="b", t="x")], "s string, t string"
    )
    out = construct_triples(null_bind, [("?s", "p", "?t"), ("?s", "q", "k")])
    got2 = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert got2 == {("b", "p", "x"), ("a", "q", "k"), ("b", "q", "k")}
    # guards
    with pytest.raises(ValueError, match="not a binding column"):
        construct_triples(null_bind, [("?zz", "p", "?t")])
    with pytest.raises(ValueError, match="at least one template"):
        construct_triples(null_bind, [])
    # bag form keeps per-binding multiplicity
    dup = null_bind.unionByName(null_bind)
    assert construct_triples(dup, [("?s", "q", "k")], distinct=False).count() == 4


def _py_brandes(adj_pairs, sources, directed=False):
    """Textbook Brandes (2001) dependency accumulation, unit weights."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    nodes = set()
    for u, v in adj_pairs:
        if u == v:
            continue
        nodes.update((u, v))
        adj[u].add(v)
        if not directed:
            adj[v].add(u)
    bc = {v: 0.0 for v in nodes}
    for s in sources:
        if s not in nodes:
            continue
        sigma = defaultdict(int)
        dist = {s: 0}
        sigma[s] = 1
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in sorted(adj[v]):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            # predecessors of w are neighbors one level closer
            preds = [
                v
                for v in nodes
                if w in adj[v] and dist.get(v, -2) == dist[w] - 1
            ]
            for v in preds:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    half = 1.0 if directed else 0.5
    return {v: round(x * half, 6) for v, x in bc.items()}


def _bc_spark(spark, pairs, sources, directed=False, **kw):
    from spacy_llm_spark.operators.graph import betweenness

    edges = _edges(spark, pairs)
    src_df = spark.createDataFrame(
        [Row(vertex=s) for s in sources], "vertex string"
    )
    out = betweenness(edges, src_df, directed=directed, **kw)
    return {r.vertex: r.betweenness for r in out.collect()}


def test_betweenness_path_graph_hand_case(spark):
    # path a-b-c-d-e, all sources: classic bc = (0, 3, 4, 3, 0)
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    got = _bc_spark(spark, pairs, ["a", "b", "c", "d", "e"])
    assert got == {"a": 0.0, "b": 3.0, "c": 4.0, "d": 3.0, "e": 0.0}


def test_betweenness_matches_pure_python_brandes(spark):
    import random

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(14)]
    pairs = sorted(
        {
            tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
            for _ in range(30)
        }
    )
    pairs = [p for p in pairs if p[0] != p[1]]
    ref = _py_brandes(pairs, nodes)
    got = _bc_spark(spark, pairs, nodes)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-5, (v, got[v], ref[v])


def test_betweenness_directed_and_sampled_sources(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    ref = _py_brandes(pairs, ["a", "b"], directed=True)
    got = _bc_spark(spark, pairs, ["a", "b"], directed=True)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-6
    # sampled single source on the undirected form
    ref1 = _py_brandes(pairs, ["a"])
    got1 = _bc_spark(spark, pairs, ["a"])
    for v in ref1:
        assert abs(got1[v] - ref1[v]) < 1e-6


def test_betweenness_guards(spark):
    pairs = [(str(i), str(i + 1)) for i in range(6)]
    with pytest.raises(RuntimeError, match="not drained"):
        _bc_spark(spark, pairs, ["0"], max_hops=2)
    with pytest.raises(ValueError, match="max_hops"):
        _bc_spark(spark, pairs, ["0"], max_hops=0)
    # absent source: contributes nothing; all-zero result survives
    got = _bc_spark(spark, [("a", "b")], ["zz"])
    assert got == {"a": 0.0, "b": 0.0}


def test_transitive_closure_append_equals_full(spark):
    from spacy_llm_spark.operators.graph import (
        transitive_closure,
        transitive_closure_append,
    )

    old = [("a", "b"), ("b", "c"), ("c", "d")]  # chain depth 3
    new = [("d", "e"), ("x", "a")]  # extend tail AND head
    full = {
        (r.subj, r.obj)
        for r in transitive_closure(_edges(spark, old + new)).collect()
    }
    inc = {
        (r.subj, r.obj)
        for r in transitive_closure_append(
            transitive_closure(_edges(spark, old)), _edges(spark, new)
        ).collect()
    }
    assert inc == full == _py_closure(old + new)
    # a bridge between two CLOSED deep chains closes in 2 growth
    # rounds + 1 fixpoint-detection round — max_rounds=3 must suffice
    # where the full recompute needs 5 (depth-17 chain)
    left = [(f"l{i}", f"l{i+1}") for i in range(8)]
    right = [(f"r{i}", f"r{i+1}") for i in range(8)]
    closed = transitive_closure(_edges(spark, left + right))
    bridged = transitive_closure_append(
        closed, _edges(spark, [("l8", "r0")]), max_rounds=3
    )
    assert {(r.subj, r.obj) for r in bridged.collect()} == _py_closure(
        left + right + [("l8", "r0")]
    )


def test_harmonic_centrality_hand_and_reference(spark):
    from spacy_llm_spark.operators.graph import harmonic_centrality

    # path a-b-c-d, all sources: H(a) = 1 + 1/2 + 1/3, H(b) = 1+1+1/2
    pairs = [("a", "b"), ("b", "c"), ("c", "d")]
    srcs = spark.createDataFrame(
        [Row(vertex=v) for v in "abcd"], "vertex string"
    )
    got = {
        r.vertex: r.harmonic
        for r in harmonic_centrality(_edges(spark, pairs), srcs).collect()
    }
    assert got == {
        "a": round(1 + 0.5 + 1 / 3, 6),
        "b": round(2.5, 6),
        "c": round(2.5, 6),
        "d": round(1 + 0.5 + 1 / 3, 6),
    }
    # disconnected component contributes nothing but stays finite
    pairs2 = pairs + [("x", "y")]
    srcs2 = spark.createDataFrame(
        [Row(vertex=v) for v in ["a", "x"]], "vertex string"
    )
    got2 = {
        r.vertex: r.harmonic
        for r in harmonic_centrality(_edges(spark, pairs2), srcs2).collect()
    }
    assert got2["y"] == 1.0 and got2["b"] == 1.0 and got2["x"] == 0.0
    # directed: distances follow edge direction only
    got3 = {
        r.vertex: r.harmonic
        for r in harmonic_centrality(
            _edges(spark, [("a", "b"), ("b", "c")]),
            spark.createDataFrame([Row(vertex="a")], "vertex string"),
            directed=True,
        ).collect()
    }
    assert got3 == {"a": 0.0, "b": 1.0, "c": 0.5}


def _py_node2vec(pairs, wpv, length, w_ret, w_in, w_out, seed):
    """Pure-Python replica-argmin node2vec mirroring the engine's hash
    (first 15 hex digits of sha256, US-separated fields) bit-for-bit."""
    import hashlib

    und = {tuple(sorted(e)) for e in pairs if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def hv(walk_id, step, n, r):
        s = f"{seed}\x1f{walk_id}\x1f{step}\x1f{n}\x1f{r}"
        return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)

    walks = {}
    for v in sorted(adj):
        for r in range(wpv):
            wid = f"{v}#{r}"
            prev, cur, path = None, v, [v]
            for step in range(1, length):
                best = None
                for n in adj[cur]:
                    if step == 1:
                        w = 1
                    elif n == prev:
                        w = w_ret
                    elif tuple(sorted((prev, n))) in und:
                        w = w_in
                    else:
                        w = w_out
                    for rep in range(1, w + 1):
                        key = (hv(wid, step, n, rep), n, rep)
                        if best is None or key < best:
                            best = key
                prev, cur = cur, best[1]
                path.append(cur)
            walks[wid] = " ".join(path)
    return walks


def test_node2vec_walks_bit_parity_and_bias(spark):
    from spacy_llm_spark.operators.graph import node2vec_walks

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # triangle
        ("c", "d"), ("d", "e"),              # tail
    ]
    df = _edges(spark, pairs)
    for w in ((1, 1, 1), (8, 1, 1), (1, 8, 1), (1, 1, 8)):
        got = {
            r.walk_id: r.walk
            for r in node2vec_walks(
                df, walks_per_vertex=2, walk_length=5,
                w_return=w[0], w_in=w[1], w_out=w[2], seed=7,
            ).collect()
        }
        assert got == _py_node2vec(pairs, 2, 5, *w, seed=7)
    # every consecutive pair is an edge; repartition-invariant
    und = {tuple(sorted(p)) for p in pairs}
    walks = node2vec_walks(df.repartition(7), walk_length=4, seed=7).collect()
    assert len(walks) == 5 * 2
    for r in walks:
        toks = r.walk.split(" ")
        assert len(toks) == 4
        for x, y in zip(toks, toks[1:]):
            assert tuple(sorted((x, y))) in und
    with pytest.raises(ValueError, match="w_return"):
        node2vec_walks(df, w_return=0)
    with pytest.raises(ValueError, match="w_out"):
        node2vec_walks(df, w_out=1.5)


def test_match_bgp_filter(spark):
    t = _triples_df(spark)
    base = {(r.s, r.o) for r in match_bgp(t, [("?s", "executes", "?o")]).collect()}
    # constant filter over one variable
    got = {
        (r.s, r.o)
        for r in match_bgp(
            t, [("?s", "executes", "?o")], filters=["s = 's1'"]
        ).collect()
    }
    assert got == {p for p in base if p[0] == "s1"}
    # expression relating two variables
    got2 = {
        (r.s, r.o)
        for r in match_bgp(
            t, [("?s", "executes", "?o")], filters=["s < o"]
        ).collect()
    }
    assert got2 == {p for p in base if p[0] < p[1]}
    # conjunct list = AND
    assert (
        match_bgp(
            t,
            [("?s", "executes", "?o")],
            filters=["s = 's1'", "o = 'op2'"],
        ).count()
        == 1
    )
    # unknown variable fails analysis immediately, naming the bound set
    with pytest.raises(ValueError, match="required variables"):
        match_bgp(t, [("?s", "executes", "?o")], filters=["zz = 'x'"])
    # OPTIONAL-only variables are refused by construction: FILTER runs
    # before the OPTIONAL joins, so ?t is not in scope
    with pytest.raises(ValueError, match="required"):
        match_bgp(
            t,
            [("?s", "executes", "?o")],
            optional=[[("?o", "appliesTo", "?t")]],
            filters=["t = 't1'"],
        )


def test_match_bgp_minus(spark):
    t = _triples_df(spark)
    base = {
        ("s1", "op1", "t1"),
        ("s1", "op2", "t1"),
        ("s1", "op2", "t2"),
        ("s2", "op2", "t1"),
        ("s2", "op2", "t2"),
    }
    # MINUS on two shared variables (s, t): stores pairs are
    # (s1,t1) and (s2,t2)
    out = match_bgp(
        t,
        [("?s", "executes", "?o"), ("?o", "appliesTo", "?t")],
        minus=[[("?s", "stores", "?t")]],
    )
    stores = {("s1", "t1"), ("s2", "t2")}
    assert {(r.s, r.o, r.t) for r in out.collect()} == {
        b for b in base if (b[0], b[2]) not in stores
    }
    # a group binding extra variables anti-joins on the SHARED ones
    # only: every s stores something, so everything is removed
    assert (
        match_bgp(
            t,
            [("?s", "executes", "?o")],
            minus=[[("?s", "stores", "?x")]],
        ).count()
        == 0
    )
    # a domain-disjoint group is a silent no-op per the SPARQL spec —
    # refused as an almost-certain authoring error
    with pytest.raises(ValueError, match="shares no variable"):
        match_bgp(
            t, [("?s", "executes", "?o")], minus=[[("?a", "stores", "?b")]]
        )


def test_match_bgp_filter_minus_optional_order(spark):
    # algebra order: BGP -> FILTER -> MINUS -> DISTINCT -> OPTIONAL.
    # Filter keeps s1 rows, minus removes (s1 stores t1) bindings, and
    # the OPTIONAL group still left-joins afterwards with NULLs intact.
    t = _triples_df(spark)
    out = match_bgp(
        t,
        [("?s", "executes", "?o"), ("?o", "appliesTo", "?t")],
        filters=["s = 's1'"],
        minus=[[("?s", "stores", "?t")]],
        optional=[[("?t", "locatedIn", "?r")]],
    )
    assert sorted(out.columns) == ["o", "r", "s", "t"]
    got = {(r.s, r.o, r.t, r.r) for r in out.collect()}
    # s1 bindings: (s1,op1,t1) (s1,op2,t1) (s1,op2,t2); minus (s1,t1)
    # leaves only (s1,op2,t2); no locatedIn triples exist -> r = NULL
    assert got == {("s1", "op2", "t2", None)}


def test_match_bgp_star_and_opt_paths(spark):
    t = _triples_df(spark)
    terms = {x for s, p, o in TRIPLES for x in (s, o)}
    # precedes edges: only (op1, op2); closure adds nothing new
    star = {
        (r.a, r.b)
        for r in match_bgp(t, [("?a", "precedes*", "?b")]).collect()
    }
    assert star == {(x, x) for x in terms} | {("op1", "op2")}
    qmark = {
        (r.a, r.b)
        for r in match_bgp(t, [("?a", "precedes?", "?b")]).collect()
    }
    assert qmark == star  # single edge: ? == * here
    # constant anchor NOT in the graph still matches itself (SPARQL ALP
    # starts from the given term)
    ghost = match_bgp(t, [("ghost", "precedes*", "?b")])
    assert [r.b for r in ghost.collect()] == ["ghost"]
    # * composes with ^ and joins like any pattern: zero-length rows
    # keep s2 (which precedes nothing) in the result
    out = {
        (r.s, r.x)
        for r in match_bgp(
            t, [("?s", "executes", "?o"), ("?o", "^appliesTo*", "?x")]
        ).collect()
    }
    assert ("s2", "op2") in out  # zero-length: x = o itself
    # bare "*" is a path metacharacter: refused unquoted (same
    # convention as bare "+"), constant as <*>; a malformed
    # alternation under * still raises
    with pytest.raises(ValueError, match="path"):
        match_bgp(t, [("?a", "*", "?b")])
    assert match_bgp(t, [("?a", "<*>", "?b")]).count() == 0
    with pytest.raises(ValueError, match="bad predicate path"):
        match_bgp(t, [("?a", "a||b*", "?b")])


def test_match_bgp_star_multi_hop(spark):
    # chain a->b->c->d under p: p* = identity + full closure
    t = spark.createDataFrame(
        [Row(subj=s, pred="p", obj=o) for s, o in
         [("a", "b"), ("b", "c"), ("c", "d")]],
        "subj string, pred string, obj string",
    )
    got = {(r.x, r.y) for r in match_bgp(t, [("?x", "p*", "?y")]).collect()}
    closure = {("a", "b"), ("a", "c"), ("a", "d"),
               ("b", "c"), ("b", "d"), ("c", "d")}
    ident = {(v, v) for v in "abcd"}
    assert got == closure | ident


def test_match_bgp_exists_not_exists(spark):
    t = _triples_df(spark)
    base = {(r.s, r.o) for r in match_bgp(t, [("?s", "executes", "?o")]).collect()}
    # correlated EXISTS: keep systems that store something
    ex = {
        (r.s, r.o)
        for r in match_bgp(
            t, [("?s", "executes", "?o")], exists=[[("?s", "stores", "?z")]]
        ).collect()
    }
    assert ex == base  # s1 and s2 both store
    # correlated NOT EXISTS on two shared vars: drop bindings whose
    # (o, t)-free projection... here drop (s,o) where o appliesTo t2
    ne = {
        (r.s, r.o)
        for r in match_bgp(
            t,
            [("?s", "executes", "?o")],
            not_exists=[[("?o", "appliesTo", "t2")]],
        ).collect()
    }
    assert ne == {p for p in base if p[1] == "op1"}  # op2 appliesTo t2
    # uncorrelated (domain-disjoint) groups are all-or-nothing
    assert (
        match_bgp(
            t, [("?s", "executes", "?o")],
            exists=[[("?a", "precedes", "?b")]],
        ).count()
        == len(base)
    )
    assert (
        match_bgp(
            t, [("?s", "executes", "?o")],
            exists=[[("?a", "locatedIn", "?b")]],
        ).count()
        == 0
    )
    assert (
        match_bgp(
            t, [("?s", "executes", "?o")],
            not_exists=[[("?a", "precedes", "?b")]],
        ).count()
        == 0
    )
    assert (
        match_bgp(
            t, [("?s", "executes", "?o")],
            not_exists=[[("?a", "locatedIn", "?b")]],
        ).count()
        == len(base)
    )


def test_match_bgp_values(spark):
    t = _triples_df(spark)
    out = match_bgp(
        t,
        [("?s", "executes", "?o")],
        values=(["?s"], [("s1",)]),
    )
    assert {(r.s, r.o) for r in out.collect()} == {
        ("s1", "op1"), ("s1", "op2")
    }
    # multi-variable rows constrain combinations, not columns
    out2 = match_bgp(
        t,
        [("?s", "executes", "?o")],
        values=(["s", "o"], [("s1", "op2"), ("s2", "op2"), ("s2", "op9")]),
    )
    assert {(r.s, r.o) for r in out2.collect()} == {
        ("s1", "op2"), ("s2", "op2")
    }
    # zero rows -> empty result; unknown var refused; arity refused
    assert match_bgp(
        t, [("?s", "executes", "?o")], values=(["s"], [])
    ).count() == 0
    with pytest.raises(ValueError, match="values variables"):
        match_bgp(t, [("?s", "executes", "?o")], values=(["zz"], [("a",)]))
    with pytest.raises(ValueError, match="does not match"):
        match_bgp(
            t, [("?s", "executes", "?o")], values=(["s", "o"], [("s1",)])
        )


def test_match_bgp_sequence_path(spark):
    # a/b == the spec's fresh-variable rewrite: two chained patterns,
    # internal variable projected away, multiplicities preserved
    t = _triples_df(spark)
    out = match_bgp(t, [("?s", "executes/appliesTo", "?t")])
    assert sorted(out.columns) == ["s", "t"]
    got = {(r.s, r.t) for r in out.collect()}
    # same bindings as the explicit two-pattern form, minus the mid var
    two = match_bgp(
        t, [("?s", "executes", "?o"), ("?o", "appliesTo", "?t")]
    )
    assert got == {(r.s, r.t) for r in two.select("s", "t").collect()}
    # bag semantics: s1 reaches t1 via op1 AND op2 -> multiplicity 2
    bag = match_bgp(
        t, [("?s", "executes/appliesTo", "?t")], distinct=False
    ).collect()
    assert sorted((r.s, r.t) for r in bag).count(("s1", "t1")) == 2
    # per-step modifiers: inverse and closure inside a sequence,
    # ^a/b == (^a)/b per SPARQL precedence
    inv = match_bgp(t, [("?x", "^appliesTo/^executes", "?y")])
    assert {(r.x, r.y) for r in inv.collect()} == {
        (b, a) for a, b in got
    }
    clo = match_bgp(t, [("?s", "executes/precedes+/appliesTo", "?t")])
    # only op1 precedes op2; s1 executes op1; op2 applies to t1, t2
    assert {(r.s, r.t) for r in clo.collect()} == {("s1", "t1"), ("s1", "t2")}
    # a sequence pattern joins with ordinary patterns on its real vars
    joined = match_bgp(
        t,
        [("?s", "executes/appliesTo", "?t"), ("?s", "stores", "?t")],
    )
    assert {(r.s, r.t) for r in joined.collect()} == {
        ("s1", "t1"), ("s2", "t2")
    }


def test_match_bgp_sequence_path_guards(spark):
    t = _triples_df(spark)
    # bare | inside a step: SPARQL parses a/b|c as (a/b)|c -> refused
    with pytest.raises(ValueError, match="bare .* inside sequence step"):
        match_bgp(t, [("?x", "executes/appliesTo|precedes", "?y")])
    # parenthesised per-step alternation is fine (one isin scan)
    ok = match_bgp(t, [("?x", "executes/(appliesTo|precedes)", "?y")])
    assert {(r.x, r.y) for r in ok.collect()} == {
        ("s1", "t1"), ("s1", "t2"), ("s2", "t1"), ("s2", "t2"),
        ("s1", "op2"),
    }
    # const/const sequence binds only internals -> refused
    with pytest.raises(ValueError, match="beyond the sequence-path"):
        match_bgp(t, [("s1", "executes/appliesTo", "t1")])
    # the internal prefix is reserved
    with pytest.raises(ValueError, match="reserved"):
        match_bgp(t, [("?__seq0_0", "executes", "?y")])
    # empty step
    with pytest.raises(ValueError, match="bad sequence path"):
        match_bgp(t, [("?x", "executes/", "?y")])


def test_match_bgp_negated_property_set(spark):
    t = _triples_df(spark)
    # !p: every edge whose pred is not p
    out = match_bgp(t, [("?x", "!executes", "?y")])
    want = {(s, o) for s, p, o in TRIPLES if p != "executes"}
    assert {(r.x, r.y) for r in out.collect()} == want
    # !(p|q) and composition with ^ (whole-step inverse)
    out2 = match_bgp(t, [("?x", "!(executes|appliesTo)", "?y")])
    want2 = {(s, o) for s, p, o in TRIPLES
             if p not in ("executes", "appliesTo")}
    assert {(r.x, r.y) for r in out2.collect()} == want2
    inv = match_bgp(t, [("?x", "^!(executes|appliesTo)", "?y")])
    assert {(r.x, r.y) for r in inv.collect()} == {
        (b, a) for a, b in want2
    }
    # NPS inside a sequence step
    seq = match_bgp(t, [("?x", "executes/!appliesTo", "?y")])
    assert {(r.x, r.y) for r in seq.collect()} == {("s1", "op2")}
    # closure modifier on an NPS is refused
    with pytest.raises(ValueError, match="negated property set"):
        match_bgp(t, [("?x", "!(executes)+", "?y")])


def test_match_bgp_bracketed_literal_preds(spark):
    rows = [("a", "w/e", "b"), ("a", "p+q", "c"), ("b", "p", "d")]
    t = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o) for s, p, o in rows],
        "subj string, pred string, obj string",
    )
    # <...> quotes path metacharacters: the pred IS "w/e"
    got = match_bgp(t, [("?x", "<w/e>", "?y")])
    assert {(r.x, r.y) for r in got.collect()} == {("a", "b")}
    # quoted step inside a sequence
    seq = match_bgp(t, [("?x", "<w/e>/p", "?y")])
    assert {(r.x, r.y) for r in seq.collect()} == {("a", "d")}
    # quoted name in an alternation
    alt = match_bgp(t, [("?x", "<p+q>|p", "?y")])
    assert {(r.x, r.y) for r in alt.collect()} == {("a", "c"), ("b", "d")}
    # unquoted metacharacters are refused, not misparsed
    with pytest.raises(ValueError, match="unsupported path syntax"):
        match_bgp(t, [("?x", "p+q", "?y")])


def test_match_bgp_bounded_repetition(spark):
    # chain a->b->c->d->e on pred p, plus a q edge for alternation
    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
            ("d", "p", "e"), ("b", "q", "d")]
    t = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o) for s, p, o in rows],
        "subj string, pred string, obj string",
    )
    got = {(r.s, r.o) for r in
           match_bgp(t, [("?s", "p{2,3}", "?o")]).collect()}
    assert got == {("a", "c"), ("a", "d"), ("b", "d"), ("b", "e"),
                   ("c", "e")}
    # {n} exact, {0,m} unions the zero-length identity (anchored const)
    got1 = {(r.o,) for r in match_bgp(t, [("a", "p{2}", "?o")]).collect()}
    assert got1 == {("c",)}
    got0 = {r.o for r in match_bgp(t, [("a", "p{0,2}", "?o")]).collect()}
    assert got0 == {"a", "b", "c"}
    # composes with ^ (reversal commutes) and | (union subgraph step)
    gotr = {(r.s, r.o) for r in
            match_bgp(t, [("?s", "^p{2}", "?o")]).collect()}
    assert gotr == {("c", "a"), ("d", "b"), ("e", "c")}
    gota = {(r.s, r.o) for r in
            match_bgp(t, [("?s", "(p|q){2}", "?o")]).collect()}
    # two steps over the p∪q subgraph: a->c, b->d(pp), a->d? a->b->d(q)
    assert gota == {("a", "c"), ("b", "d"), ("a", "d"), ("b", "e"),
                    ("c", "e")}
    # guards: bad bounds, unbounded form, cap, NPS combination
    for bad in ("p{3,2}", "p{1,}", "p{0}", "p{2,99}", "!p{2}"):
        with pytest.raises(ValueError):
            match_bgp(t, [("?s", bad, "?o")])


def test_match_bgp_bind_and_modifiers(spark):
    t = _triples_df(spark)
    out = match_bgp(
        t, [("?s", "executes", "?o")],
        bind=[("concat(s, ':', o)", "tag"), ("length(tag)", "tlen")],
    )
    assert sorted(out.columns) == ["o", "s", "tag", "tlen"]
    got = {(r.s, r.o, r.tag, r.tlen) for r in out.collect()}
    assert got == {("s1", "op1", "s1:op1", 6), ("s1", "op2", "s1:op2", 6),
                   ("s2", "op2", "s2:op2", 6)}
    # order/limit/offset: total order pages deterministically
    page = match_bgp(
        t, [("?s", "executes", "?o")],
        order_by=["s", "o"], limit=2, offset=1,
    ).collect()
    assert [(r.s, r.o) for r in page] == [("s1", "op2"), ("s2", "op2")]
    # guards: rebind (case-insensitive), unknown column, missing order
    with pytest.raises(ValueError, match="rebinds"):
        match_bgp(t, [("?s", "executes", "?o")], bind=[("1", "S")])
    with pytest.raises(ValueError, match="failed analysis"):
        match_bgp(t, [("?s", "executes", "?o")], bind=[("nope + 1", "x")])
    with pytest.raises(ValueError, match="nondeterministic"):
        match_bgp(t, [("?s", "executes", "?o")], limit=1)
    with pytest.raises(ValueError, match="order_by"):
        match_bgp(t, [("?s", "executes", "?o")],
                  order_by=["zzz asc"], limit=1).collect()


def test_match_quads_blocks_and_union_default(spark):
    from spacy_llm_spark.operators.graph import match_quads

    rows = [("g1", "a", "p", "b"), ("g1", "b", "q", "c"),
            ("g2", "a", "p", "b"), ("g2", "b", "q", "d"),
            ("g2", "d", "r", "e"), (None, "x", "p", "y")]
    q = spark.createDataFrame(
        [Row(graph=g, subj=s, pred=p, obj=o) for g, s, p, o in rows],
        "graph string, subj string, pred string, obj string",
    )
    # variable graph: both patterns forced into the SAME graph
    got = {(r.g, r.s, r.o, r.t) for r in match_quads(
        q, graphs=[("?g", [("?s", "p", "?o"), ("?o", "q", "?t")])]
    ).collect()}
    assert got == {("g1", "a", "b", "c"), ("g2", "a", "b", "d")}
    # constant graph block (pushdown) + union-default pattern
    got2 = {(r.s, r.o, r.t) for r in match_quads(
        q, patterns=[("?s", "p", "?o")],
        graphs=[("g2", [("?o", "q", "?t")])],
    ).collect()}
    assert got2 == {("a", "b", "d"), ("x", "y", "d")} or \
        got2 == {("a", "b", "d")}
    # default patterns see the union of ALL graphs (incl. NULL)
    base = {(r.s, r.o) for r in
            match_quads(q, patterns=[("?s", "p", "?o")]).collect()}
    assert base == {("a", "b"), ("x", "y")}
    # graph var can join across blocks and with quoted literal preds
    gq = {(r.g,) for r in match_quads(
        q, graphs=[("?g", [("?s", "<p>", "?o"), ("?o", "q", "?t")])]
    ).select("g").collect()}
    assert gq == {("g1",), ("g2",)}
    # guards
    with pytest.raises(ValueError, match="at least one pattern"):
        match_quads(q)
    with pytest.raises(ValueError, match="grouped fixpoint"):
        match_quads(q, graphs=[("?g", [("?s", "p+", "?o")])])
    with pytest.raises(ValueError, match="disconnected"):
        match_quads(q, patterns=[("?a", "p", "?b")],
                    graphs=[("?g", [("?c", "q", "?d")])])
    with pytest.raises(ValueError, match="no patterns"):
        match_quads(q, graphs=[("?g", [])])


def test_match_quads_constant_graph_paths(spark):
    from spacy_llm_spark.operators.graph import match_quads

    rows = [("g1", "a", "p", "b"), ("g1", "b", "p", "c"),
            ("g1", "c", "p", "d"),
            ("g2", "a", "p", "b"), ("g2", "b", "p", "c")]
    q = spark.createDataFrame(
        [Row(graph=g, subj=s, pred=p, obj=o) for g, s, p, o in rows],
        "graph string, subj string, pred string, obj string",
    )
    # constant graph blocks delegate to the FULL match_bgp grammar —
    # the closure runs over the graph-filtered projection only
    got1 = {(r.s, r.o) for r in match_quads(
        q, graphs=[("g1", [("?s", "p+", "?o")])]
    ).collect()}
    assert got1 == {("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                    ("b", "d"), ("c", "d")}
    got2 = {(r.s, r.o) for r in match_quads(
        q, graphs=[("g2", [("?s", "p{2}", "?o")])]
    ).collect()}
    assert got2 == {("a", "c")}
    # default patterns close over the UNION graph — strictly more pairs
    gotu = {(r.s, r.o) for r in
            match_quads(q, patterns=[("?s", "p+", "?o")]).collect()}
    assert got1 <= gotu


def test_match_quads_filters(spark):
    from spacy_llm_spark.operators.graph import match_quads

    rows = [("g1", "a", "p", "b"), ("g2", "a", "p", "c"),
            ("g10", "a", "p", "d")]
    q = spark.createDataFrame(
        [Row(graph=g, subj=s, pred=p, obj=o) for g, s, p, o in rows],
        "graph string, subj string, pred string, obj string",
    )
    got = {(r.g, r.o) for r in match_quads(
        q, graphs=[("?g", [("?s", "p", "?o")])],
        filters=["length(g) = 2", "o != 'c'"],
    ).collect()}
    assert got == {("g1", "b")}
    with pytest.raises(ValueError, match="failed analysis"):
        match_quads(q, graphs=[("?g", [("?s", "p", "?o")])],
                    filters=["nope = 1"])


def _g(rows):
    return {(r.subj, r.pred, r.obj) for r in rows}


def test_update_where_delete_only(spark):
    from spacy_llm_spark.operators.graph import update_where

    out = update_where(
        _triples_df(spark),
        [("?s", "executes", "?o"), ("?o", "appliesTo", "?t"),
         ("?s", "stores", "?t")],
        delete=[("?s", "stores", "?t")],
    )
    got = _g(out.collect())
    assert got == set(TRIPLES) - {("s1", "stores", "t1"),
                                  ("s2", "stores", "t2")}


def test_update_where_insert_only_and_idempotent(spark):
    from spacy_llm_spark.operators.graph import update_where

    where = [("?s", "executes", "?o"), ("?o", "appliesTo", "?t"),
             ("?s", "stores", "?t")]
    ins = [("?s", "runsOn", "?t")]
    out1 = update_where(_triples_df(spark), where, insert=ins)
    got1 = _g(out1.collect())
    assert got1 == set(TRIPLES) | {("s1", "runsOn", "t1"),
                                   ("s2", "runsOn", "t2")}
    # set-insert: applying the same update to the updated graph is a
    # no-op (the WHERE still matches; inserts already present)
    got2 = _g(update_where(out1, where, insert=ins).collect())
    assert got2 == got1


def test_update_where_rename_pred_and_both_sets_survival(spark):
    from spacy_llm_spark.operators.graph import update_where

    # schema migration: stores -> storedIn
    out = update_where(
        _triples_df(spark),
        [("?s", "stores", "?t")],
        delete=[("?s", "stores", "?t")],
        insert=[("?s", "storedIn", "?t")],
    )
    got = _g(out.collect())
    expect = (set(TRIPLES) - {("s1", "stores", "t1"), ("s2", "stores", "t2")}
              ) | {("s1", "storedIn", "t1"), ("s2", "storedIn", "t2")}
    assert got == expect
    # a triple in BOTH template sets survives (spec: delete, then insert)
    same = update_where(
        _triples_df(spark),
        [("?s", "stores", "?t")],
        delete=[("?s", "stores", "?t")],
        insert=[("?s", "stores", "?t")],
    )
    assert _g(same.collect()) == set(TRIPLES)


def test_update_where_delta_and_guards(spark):
    from spacy_llm_spark.operators.graph import update_where
    import pytest as _pytest

    # insert template hitting an EXISTING triple: delta excludes it;
    # delete template instantiating absent triples: delta excludes them
    new_graph, deleted, inserted = update_where(
        _triples_df(spark),
        [("?s", "executes", "?o")],
        delete=[("?o", "obsoletes", "?s")],      # none of these exist
        insert=[("?s", "uses", "?o"), ("s1", "executes", "op1")],
        with_delta=True,
    )
    assert _g(deleted.collect()) == set()
    assert _g(inserted.collect()) == {
        ("s1", "uses", "op1"), ("s1", "uses", "op2"), ("s2", "uses", "op2"),
    }
    assert _g(new_graph.collect()) == set(TRIPLES) | {
        ("s1", "uses", "op1"), ("s1", "uses", "op2"), ("s2", "uses", "op2"),
    }
    with _pytest.raises(ValueError, match="delete and/or insert"):
        update_where(_triples_df(spark), [("?s", "executes", "?o")])
    # NULL solutions (OPTIONAL miss) drop only the incomplete template rows
    g2, d2, i2 = update_where(
        _triples_df(spark),
        [("?s", "executes", "?o")],
        optional=[[("?o", "appliesTo", "?t")]],
        insert=[("?s", "reaches", "?t")],
        with_delta=True,
    )
    assert _g(i2.collect()) == {
        ("s1", "reaches", "t1"), ("s1", "reaches", "t2"),
        ("s2", "reaches", "t1"), ("s2", "reaches", "t2"),
    }


TURTLE_EXTRA = [
    ("K1.2", "a.b.", "x"),        # inner dots safe; trailing dot unsafe
    ("9start", "has:colon", "-lead"),  # digit start safe; '-' lead unsafe
]


def test_turtle_flat_roundtrip_adversarial(spark):
    rows = ADVERSARIAL + TURTLE_EXTRA
    df = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o) for s, p, o in rows],
        "subj string, pred string, obj string",
    )
    for obj_is_iri in (True, False):
        lines = rdf.to_turtle(df, grouped=False, obj_is_iri=obj_is_iri)
        assert lines.columns == ["turtle"]
        back = rdf.parse_turtle(lines)
        got = {(r.subj, r.pred, r.obj, r.obj_is_iri) for r in back.collect()}
        assert got == {(s, p, o, obj_is_iri) for s, p, o in rows}


def test_turtle_prefix_compression_and_fallback(spark):
    df = spark.createDataFrame(
        [Row(subj="K1", pred="sp ace", obj="surface:row")],
        "subj string, pred string, obj string",
    )
    line = rdf.to_turtle(df, grouped=False).head()[0]
    # safe terms compress; the space forces a full escaped IRI
    assert line == (
        "kg:K1 <http://example.org/kg/sp%20ace> kg:surface:row ."
    )
    assert rdf.turtle_header() == "@prefix kg: <http://example.org/kg/> ."
    # header + malformed lines drop in the parser
    junk = spark.createDataFrame(
        [Row(turtle=x) for x in [
            rdf.turtle_header(), line, "kg:a kg:b", 'kg:a kg:b "unclosed .',
        ]],
        "turtle string",
    )
    ok = rdf.parse_turtle(junk).collect()
    assert len(ok) == 1 and ok[0].obj == "surface:row" and ok[0].obj_is_iri


def test_turtle_grouped_blocks_deterministic(spark):
    rows = [("s1", "p", "a"), ("s1", "p", "b"), ("s1", "q", "c"),
            ("s2", "p", "a"), ("s1", "p", "b")]  # dup object collapses
    df = spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o) for s, p, o in rows],
        "subj string, pred string, obj string",
    )
    out = {r.subj: r.turtle for r in rdf.to_turtle(df).collect()}
    assert out["s1"] == (
        "kg:s1 kg:p kg:a,\n        kg:b ;\n    kg:q kg:c ."
    )
    assert out["s2"] == "kg:s2 kg:p kg:a ."
    # literal objects quote + escape inside a grouped block
    lit = spark.createDataFrame(
        [Row(subj="s3", pred="label", obj='say "hi"')],
        "subj string, pred string, obj string",
    )
    got = rdf.to_turtle(lit, obj_is_iri=False).head().turtle
    assert got == 'kg:s3 kg:label "say \\"hi\\"" .'


def test_construct_triples_bnode_templates(spark):
    import hashlib
    from spacy_llm_spark.operators.graph import construct_triples

    bind = spark.createDataFrame(
        [Row(s="a", t=None), Row(s="b", t="x")], "s string, t string"
    )
    out = construct_triples(
        bind, [("?s", "gen", "_:ev"), ("_:ev", "of", "?t")]
    ).collect()
    got = {(r.subj, r.pred, r.obj) for r in out}

    def skolem(label, *cols):
        payload = "\x1f".join("\x00null" if c is None else c for c in cols)
        return f"_:{label}_" + hashlib.sha256(payload.encode()).hexdigest()[:16]

    b_a = skolem("ev", "a", None)
    b_b = skolem("ev", "b", "x")
    # per-solution node shared across templates; NULL-t drops only the
    # second template's row for solution a
    assert got == {("a", "gen", b_a), ("b", "gen", b_b), (b_b, "of", "x")}
    assert b_a != b_b
    # NULL-shift twins cannot collide: (None,'q') vs ('q',None)
    twin = spark.createDataFrame(
        [Row(s=None, t="q"), Row(s="q", t=None)], "s string, t string"
    )
    ids = {r.obj for r in
           construct_triples(twin, [("x", "p", "_:n")]).collect()}
    assert len(ids) == 2
    with pytest.raises(ValueError, match="bnode label"):
        construct_triples(bind, [("?s", "p", "_:bad-label")])
