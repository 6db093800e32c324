"""Connected-components and canonicalization tests."""

from pyspark.sql import functions as F

from spacy_llm_spark.operators.canonicalize import (
    canonical_vertices,
    connected_components,
    surface_kb_edges,
)


def _cc_map(spark, edges, **kwargs):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r.node: r.component for r in connected_components(df, **kwargs).collect()
    }


def test_cc_two_components(spark):
    comp = _cc_map(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["a"] != comp["x"]


def test_cc_chain_converges(spark):
    # long chain exercises multi-iteration propagation
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)]
    comp = _cc_map(spark, chain)
    assert set(comp.values()) == {"n00"}


def test_cc_cycle(spark):
    comp = _cc_map(spark, [("p", "q"), ("q", "r"), ("r", "p")])
    assert set(comp.values()) == {"p"}


def test_cc_distributed_path_matches_driver(spark):
    """Force the distributed label-propagation path (driver_threshold=0)
    and check it produces the same components as union-find."""
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("m", "n"), ("n", "o"), ("o", "a")]
    driver = _cc_map(spark, edges)
    dist = _cc_map(spark, edges, driver_threshold=0)
    assert driver == dist


def test_surface_clusters_via_shared_qid(spark):
    """Two different surfaces linking to the same KB id canonicalize into
    one component named by the KB id (K... < surface:...)."""
    links = spark.createDataFrame(
        [
            (1, "s1", 0, 0, 4, "OP", "Sort", "K120"),
            (2, "s2", 0, 0, 7, "OP", "sorting", "K120"),
            (3, "s3", 0, 0, 3, "OP", "foo", "NIL"),
        ],
        "doc_id long, content_sha256 string, ent_idx int, start int, end int, "
        "label string, surface string, kb_id string",
    )
    edges = surface_kb_edges(links)
    assert edges.count() == 2  # (surface:sort, K120), (surface:sorting, K120)
    verts = canonical_vertices(links)
    rows = {r.node: r.component for r in verts.collect()}
    assert rows["surface:sort"] == "K120"
    assert rows["surface:sorting"] == "K120"
    assert rows["K120"] == "K120"
    # NIL mention stays a singleton surface component
    assert rows["surface:foo"] == "surface:foo"


def test_distributed_cc_large_graph_matches_union_find(spark):
    """Large-star/small-star at real scale: 105k+ edges of long chains
    (diameter 30k — min-label propagation would need 30k rounds), hub
    stars, and cross-links; must equal exact union-find bit-for-bit."""
    edges = []
    for c in range(3):
        base = c * 40000
        edges += [(f"n{base + i:07d}", f"n{base + i + 1:07d}") for i in range(30000)]
    for s in range(10):
        edges += [(f"hub{s}", f"leaf{s}_{i:05d}") for i in range(1500)]
    # merge chain 0 with star 0, star 1 with chain 1
    edges += [("n0000000", "hub0"), ("hub1", "n0040000")]
    assert len(edges) >= 100_000
    df = spark.createDataFrame(edges, "src string, dst string")

    got = {
        r.node: r.component
        for r in connected_components(df, max_iter=40, driver_threshold=0).collect()
    }

    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    expected = {n: find(n) for n in parent}
    assert got == expected
    # sanity: chain0+star0, chain1+star1, chain2, and 8 free stars
    assert len(set(expected.values())) == 3 + 8


def test_cc_local_contraction_matches_uncontracted(spark):
    """Partition-local contraction is an exact preconditioner: with the
    edges scattered ADVERSARIALLY across partitions (hash-repartitioned,
    so most components span many partitions), the contracted distributed
    path, the uncontracted distributed path, and driver union-find all
    agree bit-for-bit."""
    edges = (
        [(f"c{i:03d}", f"c{i+1:03d}") for i in range(200)]  # chain, diam 200
        + [("hub", f"l{i:03d}") for i in range(150)]        # star
        + [("c000", "hub")]                                  # merged
        + [("z1", "z2"), ("z2", "z1"), ("z1", "z2")]         # dup multigraph
        + [("iso", "iso")]                                   # self-loop node
    )
    df = spark.createDataFrame(edges, "src string, dst string").repartition(16)
    contracted = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    plain = {
        r.node: r.component
        for r in connected_components(
            df, driver_threshold=0, local_contraction=False
        ).collect()
    }
    driver = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert contracted == plain == driver
    assert contracted["hub"] == contracted["c200"] == "c000"
    assert contracted["iso"] == "iso"


def test_cc_local_contraction_null_endpoints_and_flush(spark):
    """NULL-endpoint rows are dropped (same as the uncontracted path's
    src != dst filter), and a tiny in-memory node budget — forcing a
    flush mid-partition — changes nothing but how much one pass
    contracts."""
    from spacy_llm_spark.operators.canonicalize import _contract_partitions

    rows = [("a", "b"), ("b", None), (None, "q"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(rows, "src string, dst string")
    comp = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    # NULL rows contribute their non-null endpoint to all_nodes only
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
                    "q": "q", None: None}

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(50)], "src string, dst string"
    ).coalesce(1)
    flushed = _contract_partitions(chain, max_nodes_in_memory=5)
    # flushing caps the union-find at ~5 nodes, so one partition emits
    # many partial stars; downstream CC still resolves the single chain
    labels = {
        r.node: r.component
        for r in connected_components(flushed, driver_threshold=0).collect()
    }
    assert set(labels.values()) == {"n0"}
    assert len(labels) == 51


def test_distributed_cc_keeps_self_loop_nodes(spark):
    """A node appearing only in self-loop edges is a singleton component in
    BOTH strategies (they must be interchangeable bit-for-bit)."""
    edges = [("a", "a"), ("b", "c")]
    assert _cc_map(spark, edges, driver_threshold=0) == _cc_map(spark, edges)


def _labels_df(spark, edges, **kwargs):
    return connected_components(
        spark.createDataFrame(edges, "src string, dst string"), **kwargs
    )


def test_incremental_components_equals_full(spark):
    """Batched maintenance == recompute-from-scratch, bit-for-bit, across
    two successive increments (incremental-of-incremental)."""
    from spacy_llm_spark.operators.canonicalize import incremental_components

    # deterministic graph: chains that later batches splice together,
    # plus components the increments never touch
    batch0 = [(f"a{i:02d}", f"a{i+1:02d}") for i in range(8)] + [
        ("u0", "u1"), ("u1", "u2"), ("iso0", "iso0"),
    ]
    batch1 = [(f"b{i:02d}", f"b{i+1:02d}") for i in range(6)] + [
        ("a04", "b03"),  # splice into batch0's chain
    ]
    batch2 = [("b00", "c00"), ("c00", "c01"), ("z9", "z9")]

    labels = _labels_df(spark, batch0)
    labels = incremental_components(
        labels, spark.createDataFrame(batch1, "src string, dst string")
    )
    labels = incremental_components(
        labels, spark.createDataFrame(batch2, "src string, dst string")
    )
    got = {r.node: r.component for r in labels.collect()}
    want = {
        r.node: r.component
        for r in _labels_df(spark, batch0 + batch1 + batch2).collect()
    }
    assert got == want
    assert len(got) == len(labels.collect())  # no duplicate node rows


def test_incremental_components_untouched_pass_through(spark):
    """Components no new edge touches are emitted verbatim — the slice
    entering the recompute is increment-scale, not history-scale."""
    from spacy_llm_spark.operators.canonicalize import incremental_components

    labels = _labels_df(spark, [("a", "b"), ("u0", "u1"), ("u1", "u2")])
    out = incremental_components(
        labels,
        spark.createDataFrame([("a", "new0"), ("fresh0", "fresh1")],
                              "src string, dst string"),
    )
    got = {r.node: r.component for r in out.collect()}
    # untouched component unchanged
    assert got["u0"] == got["u1"] == got["u2"] == "u0"
    # touched component absorbed the new node, label stable at the min
    assert got["a"] == got["b"] == got["new0"] == "a"
    # brand-new component labeled by its own min
    assert got["fresh0"] == got["fresh1"] == "fresh0"


def test_incremental_components_distributed_path(spark):
    """Same equivalence with the star-round CC forced (driver_threshold=0)."""
    from spacy_llm_spark.operators.canonicalize import incremental_components

    batch0 = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(6)]
    batch1 = [("n03", "m00"), ("m00", "m01"), ("q0", "q0")]
    labels = _labels_df(spark, batch0, driver_threshold=0)
    out = incremental_components(
        labels,
        spark.createDataFrame(batch1, "src string, dst string"),
        driver_threshold=0,
    )
    got = {r.node: r.component for r in out.collect()}
    want = {
        r.node: r.component
        for r in _labels_df(spark, batch0 + batch1, driver_threshold=0).collect()
    }
    assert got == want
    assert got["q0"] == "q0"  # self-loop admitted as a singleton


def test_incremental_canonical_edges_equals_full(spark):
    """Remapping the stored canonical table through the updated label map
    (+ canonicalizing only the increment's raw triples) equals rebuilding
    the canonical table from all raw triples with the new labels."""
    from spacy_llm_spark.operators.canonicalize import (
        canonical_edges,
        incremental_canonical_edges,
        incremental_components,
    )

    ent0 = [("s:a", "K1"), ("s:b", "K2")]
    ent1 = [("K1", "K2"), ("s:c", "K3")]  # merges K1/K2; brand-new K3 comp
    tri0 = [("s:a", "uses", "K1", 1), ("K2", "uses", "s:b", 2)]
    tri1 = [("s:c", "uses", "K3", 3), ("s:b", "uses", "K1", 4)]
    tdf = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "subj string, pred string, obj string, doc_id long"
    )
    edf = lambda rows: spark.createDataFrame(rows, "src string, dst string")  # noqa: E731

    v_old = _labels_df(spark, ent0)
    c_old = canonical_edges(tdf(tri0), v_old)
    v_new = incremental_components(v_old, edf(ent1))
    got = incremental_canonical_edges(c_old, tdf(tri1), v_new)

    want = canonical_edges(tdf(tri0 + tri1), _labels_df(spark, ent0 + ent1))
    key = lambda r: (r.subj, r.pred, r.obj, r.doc_id)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    # the merged component relabeled BOTH old triples' endpoints
    assert {r.subj for r in got.collect() if r.doc_id in (1, 2)} == {"K1"}


def test_incremental_components_property(spark):
    """Random edge batches: sequential incremental maintenance equals
    full recompute for every prefix, including empty/self-loop batches.
    Pure-python union-find is the independent oracle."""
    from hypothesis import given, settings, strategies as st

    from spacy_llm_spark.operators.canonicalize import incremental_components

    nodes = [f"v{i}" for i in range(12)]
    edge = st.tuples(st.sampled_from(nodes), st.sampled_from(nodes))
    batches = st.lists(
        st.lists(edge, min_size=0, max_size=6), min_size=2, max_size=3
    )

    def uf_labels(edges):
        parent = {}

        def find(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = sorted((ra, rb))
                parent[hi] = lo
        return {n: find(n) for n in parent}

    @given(batches)
    @settings(max_examples=12, deadline=None)
    def run(bs):
        if not bs[0]:
            bs[0] = [("v0", "v0")]  # labels need at least one node
        labels = connected_components(
            spark.createDataFrame(bs[0], "src string, dst string")
        )
        seen = list(bs[0])
        for batch in bs[1:]:
            if not batch:
                continue
            labels = incremental_components(
                labels, spark.createDataFrame(batch, "src string, dst string")
            )
            seen += batch
            got = {r.node: r.component for r in labels.collect()}
            assert got == uf_labels(seen)

    run()


def test_union_find_helper():
    """The shared driver union-find: min-label reps, path compression,
    idempotent unions — the single implementation both the CC driver
    path and canonical_vertices now use (they must not drift)."""
    from spacy_llm_spark.operators.canonicalize import UnionFind

    uf = UnionFind()
    uf.union("b", "c")
    uf.union("a", "b")
    uf.union("a", "c")  # no-op: already one set
    assert uf.find("c") == uf.find("b") == uf.find("a") == "a"
    uf.union("x", "y")
    assert uf.find("y") == "x"
    assert dict(uf.items()) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x"
    }
    # a never-unioned probe registers itself as a singleton
    assert uf.find("z") == "z"


def test_canonical_edges_broadcast_gate(spark, tmp_path):
    """The vertex-map broadcast is size-gated on Catalyst's plan-time
    estimate: a parquet-backed map with known small stats keeps the
    hint; an unknown-stats source (LogicalRDD reports the huge default)
    or broadcast_threshold=0 declines it, leaving the join to whatever
    AQE picks from MEASURED sizes — results identical either way. This
    is the web-scale fallback for a surface-form map that outgrows
    executor memory."""
    from spacy_llm_spark.operators.canonicalize import canonical_edges

    triples = spark.createDataFrame(
        [("s:a", "uses", "K1", 1), ("K2", "uses", "s:b", 2)],
        "subj string, pred string, obj string, doc_id long",
    )
    vmap_mem = spark.createDataFrame(
        [("s:a", "K1"), ("s:b", "K2")], "node string, component string"
    )
    vmap_mem.write.parquet(str(tmp_path / "vmap"))
    vmap = spark.read.parquet(str(tmp_path / "vmap"))

    hinted = canonical_edges(triples, vmap)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()

    # conservative on unknown stats: in-memory RDD-backed frames report
    # the defaultSizeInBytes sentinel, which must NOT clear the gate
    no_stats = canonical_edges(triples, vmap_mem)
    assert "ResolvedHint" not in (
        no_stats._jdf.queryExecution().analyzed().toString()
    )

    unhinted = canonical_edges(triples, vmap, broadcast_threshold=0)
    assert "ResolvedHint" not in (
        unhinted._jdf.queryExecution().analyzed().toString()
    )

    key = lambda r: (r.subj, r.pred, r.obj, r.doc_id)
    want = sorted(map(key, hinted.collect()))
    assert sorted(map(key, unhinted.collect())) == want
    assert sorted(map(key, no_stats.collect())) == want


def test_incremental_canonical_edges_gate_passthrough(spark):
    """broadcast_threshold threads through incremental_canonical_edges
    to both remap joins; result equals the hinted default."""
    from spacy_llm_spark.operators.canonicalize import (
        canonical_edges,
        incremental_canonical_edges,
    )

    old = spark.createDataFrame(
        [("K1", "uses", "K2", 1)],
        "subj string, pred string, obj string, doc_id long",
    )
    new = spark.createDataFrame(
        [("s:a", "uses", "K1", 2)],
        "subj string, pred string, obj string, doc_id long",
    )
    verts = spark.createDataFrame(
        [("s:a", "K1"), ("K1", "K1"), ("K2", "K2")],
        "node string, component string",
    )
    key = lambda r: (r.subj, r.pred, r.obj, r.doc_id)
    a = incremental_canonical_edges(old, new, verts)
    b = incremental_canonical_edges(old, new, verts, broadcast_threshold=0)
    assert "ResolvedHint" not in b._jdf.queryExecution().analyzed().toString()
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_incremental_components_adversarial_fallback(spark, caplog):
    """A batch whose touched components cover >= full_recompute_fraction
    of the label ROWS (node fraction — so one touched giant component
    counts as the work it actually is) triggers the
    full-recompute-over-stars fallback; results stay identical to the
    sliced path. Pin both the trigger and the non-trigger side."""
    import logging

    from spacy_llm_spark.operators.canonicalize import incremental_components

    # 4 components: {a,b}, {c,d}, {e}, {f}
    labels = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"), ("e", "e"),
         ("f", "f")],
        "node string, component string",
    )

    def run(edges, frac):
        with caplog.at_level(
            logging.INFO, logger="spacy_llm_spark.operators.canonicalize"
        ):
            caplog.clear()
            out = incremental_components(
                labels,
                spark.createDataFrame(edges, "src string, dst string"),
                full_recompute_fraction=frac,
            )
            got = {r.node: r.component for r in out.collect()}
            fell_back = any(
                "falling back to full recompute" in r.message
                for r in caplog.records
            )
        return got, fell_back

    # touches components a,c,e -> 5/6 label rows: >= 0.5 triggers,
    # >= 0.9 doesn't (5/6 ~ 0.833)
    adversarial = [("b", "c"), ("e", "e")]
    got_fb, fb = run(adversarial, 0.5)
    assert fb
    got_sliced, fb2 = run(adversarial, None)
    assert not fb2
    assert got_fb == got_sliced == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "f"
    }
    _, fb3 = run(adversarial, 0.9)
    assert not fb3  # 5/6 stays on the sliced path below 0.9

    # small touch never falls back at the default threshold
    got_small, fb4 = run([("e", "f")], 0.8)
    assert not fb4
    assert got_small == {
        "a": "a", "b": "a", "c": "c", "d": "c", "e": "e", "f": "e"
    }


def test_order_encode_monotone_across_many_partitions(spark):
    """The order-preserving id encoding of connected_components and
    strongly_connected_components: ids are strictly increasing in node
    order even when the sort spreads the nodes over many partitions
    (the partition index is the high bits of each id)."""
    import random

    from spacy_llm_spark.operators.canonicalize import order_encode

    rng = random.Random(7)
    nodes = sorted({f"n{rng.randrange(10**9)}" for _ in range(3000)})
    shuffled = nodes[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame([(n,) for n in shuffled], "node string").repartition(13)
    conf = spark.conf
    saved = conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        rows = order_encode(df, "node", "_nid").collect()
    finally:
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    assert sorted(r.node for r in rows) == nodes
    ids = [r._nid for r in sorted(rows, key=lambda r: r.node)]
    assert all(a < b for a, b in zip(ids, ids[1:]))
    assert len({i >> 33 for i in ids}) > 4  # many partitions took part
