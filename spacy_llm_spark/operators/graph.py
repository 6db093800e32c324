"""Graph analytics over the materialized KG edge table.

Once triples are materialized (operators/materialize.py) and canonical
components exist (operators/canonicalize.py), the natural next queries
are graph-shaped: vertex degree profiles and centrality. Both are
expressed as vanilla DataFrame aggregations/joins so Catalyst owns the
physical strategy.

Scale shapes:

- ``degree_stats``: one union + one groupBy on the vertex id — a single
  shuffle over 2·|E| narrow rows with map-side partial aggregation.
- ``pagerank``: the standard damped power iteration. Per round: one
  join rank⋈out-degree (co-partitioned on the vertex key), one join
  against the edge list, one groupBy(dst) — all keyed on vertex ids, so
  every round reuses the same hash partitioning; lineage is cut per
  round (``fs.cut_lineage`` — reliable ``checkpoint()`` on clusters,
  ``localCheckpoint`` locally) exactly like the connected-components
  loop. Dangling mass (sinks) is folded back uniformly, keeping the
  rank a probability distribution.

Determinism across engines: each round quantizes ranks to 10 dp (both
here and in the SQL oracle) so float summation order — which Spark's
partial aggregation does not fix — cannot drift the fixed number of
rounds apart; accumulated error per round is ~1e-16, ten orders below
the quantum.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .. import fs


def degree_stats(
    edges: DataFrame, src: str = "subj", dst: str = "obj", distinct_pairs: bool = False
) -> DataFrame:
    """Per-vertex out/in/total degree of the (multi-)edge list.

    ``distinct_pairs=True`` collapses parallel edges first (degree in the
    simple-graph sense)."""
    if distinct_pairs:
        edges = edges.select(src, dst).distinct()
    contribs = edges.select(
        F.col(src).alias("vertex"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionByName(
        edges.select(F.col(dst).alias("vertex"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    )
    return contribs.groupBy("vertex").agg(
        F.sum("o").cast("long").alias("out_degree"),
        F.sum("i").cast("long").alias("in_degree"),
        (F.sum("o") + F.sum("i")).cast("long").alias("degree"),
    )


def _undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected simple edges as (lo, hi), lo < hi — drops
    self-loops, direction, and parallel edges."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .where(F.col("lo") < F.col("hi"))
        .distinct()
    )


def _oriented_wedges(und: DataFrame) -> DataFrame:
    """Degree-oriented wedge candidates (a, b): two oriented edges w→a,
    w→b (a < b) pivoting on w, where each undirected edge is oriented
    from its lower-(degree, id) endpoint to its higher one
    (Suri–Vassilvitskii / Cohen orientation).

    Every vertex's oriented out-degree is bounded by the graph
    arboricity (≤ O(sqrt(|E|))), so a hub of degree d no longer emits
    O(d²) wedges — all its edges point INTO it and it pivots nothing.
    Each triangle has exactly one vertex with oriented edges to the
    other two (its (degree, id)-minimum), so downstream counting stays
    exactly-once. Exposed separately so tests can pin the fan-out
    bound on skewed graphs."""
    deg = (
        und.select(F.col("lo").alias("v"))
        .unionByName(und.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dl = deg.select(F.col("v").alias("lo"), F.col("d").alias("_dlo"))
    dh = deg.select(F.col("v").alias("hi"), F.col("d").alias("_dhi"))
    lo_first = (F.col("_dlo") < F.col("_dhi")) | (
        (F.col("_dlo") == F.col("_dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("w"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("x"),
        )
    )
    o1 = oriented.select("w", F.col("x").alias("a"))
    o2 = oriented.select("w", F.col("x").alias("b"))
    # the pivot w rides along so per-vertex consumers (clustering
    # coefficient) can attribute the triangle to all three corners
    return o1.join(o2, "w").where(F.col("a") < F.col("b")).select("w", "a", "b")


def triangle_count(
    edges: DataFrame, src: str = "subj", dst: str = "obj"
) -> DataFrame:
    """Global triangle count of the undirected simple graph underlying
    the edge list; returns a single row (n_triangles).

    Degree-oriented wedge enumeration: orient each undirected edge from
    its lower-(degree, id) endpoint to the higher, enumerate wedges
    pivoting on the orientation source (`_oriented_wedges` — fan-out
    bounded by arboricity, not max degree, so a canonical-entity hub
    cannot create a quadratic hot partition), then count wedges whose
    closing undirected edge exists. Each triangle is counted exactly
    once at its (degree, id)-minimum vertex. Three equi-joins on vertex
    ids, all shuffle-partitioned — never an all-pairs expansion."""
    und = _undirected_edges(edges, src, dst)
    closing = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    return _oriented_wedges(und).join(closing, ["a", "b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "subj", dst: str = "obj"
) -> DataFrame:
    """Per-vertex local clustering coefficient of the undirected simple
    graph: ``2·tri(v) / (deg(v)·(deg(v)−1))``, 0.0 for degree < 2.

    Output: (vertex, degree, n_triangles, coeff), one row per vertex of
    the simple graph, coeff rounded to 6 dp for cross-engine hashing.

    Triangles are enumerated once each via the same degree-oriented
    wedge machinery as ``triangle_count`` (fan-out bounded by
    arboricity, no hub hot partition) with the pivot retained, then
    attributed to all three corners by a 3-way unpivot + count — one
    extra shuffle on vertex id over the count-only form. A KG
    curation signal: canonical entities whose neighborhoods are
    near-cliques are cohesive concepts; coeff ~ 0 hubs are ambiguous
    surface forms worth splitting."""
    und = _undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("lo").alias("vertex"))
        .unionByName(und.select(F.col("hi").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    closing = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    tri = _oriented_wedges(und).join(closing, ["a", "b"])
    tri_per_vertex = (
        tri.select(F.col("w").alias("vertex"))
        .unionByName(tri.select(F.col("a").alias("vertex")))
        .unionByName(tri.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(tri_per_vertex, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce("n_triangles", F.lit(0)) / (d * (d - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("coeff"),
        )
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 5,
    damping: float = 0.85,
    quantum: int = 10,
) -> DataFrame:
    """Damped PageRank over the distinct directed edge set; returns
    (vertex, rank) after ``iters`` power-iteration rounds.

    The vertex count is collected once (a single scalar — cheap at any
    scale); the per-round dangling mass stays distributed (aggregate +
    broadcast cross join), so no round ever collects rank rows to the
    driver. The out-degree is folded into the materialized rank frame
    ONCE before the loop — (vertex, out_degree, rank) — so a round is
    one vertex-keyed join + one groupBy + one left join; the old
    per-round ranks-to-degree join (recomputed twice per round, once
    for contributions and once for the dangling mass) is gone, and the
    dangling aggregate is now a plain scan of the checkpointed frame."""
    e = fs.cut_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    )
    nodes = fs.cut_lineage(
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("t").alias("vertex")))
        .distinct()
    )
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("_outdeg"))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    d = float(damping)
    base = (1.0 - d) / n

    ranks = fs.cut_lineage(
        nodes.join(out_deg, nodes["vertex"] == out_deg["s"], "left").select(
            "vertex", "_outdeg", F.round(F.lit(1.0 / n), quantum).alias("rank")
        )
    )
    for _ in range(iters):
        contrib = (
            ranks.where(F.col("_outdeg").isNotNull())
            .select("vertex", (F.col("rank") / F.col("_outdeg")).alias("share"))
            .join(e, F.col("vertex") == e["s"])
            .groupBy(F.col("t").alias("vertex"))
            .agg(F.sum("share").alias("contrib"))
        )
        dangling = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("_outdeg").isNull(), F.col("rank"))), F.lit(0.0)
            ).alias("dm")
        )
        ranks = fs.cut_lineage(
            ranks.select("vertex", "_outdeg")
            .join(contrib, "vertex", "left")
            .crossJoin(broadcast(dangling))
            .select(
                "vertex",
                "_outdeg",
                F.round(
                    F.lit(base)
                    + F.lit(d)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / F.lit(float(n))),
                    quantum,
                ).alias("rank"),
            )
        )
    return ranks.select("vertex", "rank")


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """(vertex, level): minimum hop distance from the seed set over the
    undirected distinct edge set, for every vertex within ``max_hops``.

    Frontier-expansion BFS (multi-source). Per hop, exactly two joins:

    - expand: frontier ⋈ adjacency on the frontier vertex — a shuffled
      hash equi-join keyed on the vertex id; when the frontier is small
      (the common case for seed-anchored traversals) AQE picks a
      broadcast build side at runtime, so no hint is planted;
    - dedupe: one ``left_anti`` against the visited set, keyed on the
      same vertex id — Catalyst reuses the hash partitioning, and the
      anti-join keeps every frontier strictly new, which is what bounds
      total work at O(|reachable| + |E touched|) instead of
      O(|E| · hops).

    The frontier is lineage-cut per hop (``fs.cut_lineage`` — reliable
    ``checkpoint()`` on clusters) with the hop's frontier size observed
    DURING the cut's materialization job (``df.observe``, zero extra
    scans — same trick as connected_components), so the loop exits the
    moment a frontier drains without a separate count job.

    Reference analogue: none — spacy-llm holds its KB in driver memory
    (spacy_llm/tasks/entity_linker/registry.py); this is the
    distributed traversal the reference could not express. Mirrors the
    iterative-join discipline of ``connected_components``.
    """
    from pyspark.sql import Observation

    de = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )
    # cut the symmetrized adjacency ONCE: it is re-joined every hop, and
    # leaving it lazy re-ran the corpus-scale distinct (a full exchange
    # of the edge set) max_hops times (guide §2.4 — remove shuffles
    # outright). NOTE (r06): pinning a hash layout through the cut
    # (repartition + AQE-off materialization) was A/B'd and REVERTED —
    # it blocks AQE's runtime broadcast of the frontier side, which
    # beats a co-partitioned sort-merge join at every measured scale.
    und = fs.cut_lineage(
        de.union(de.select(F.col("t").alias("s"), F.col("s").alias("t")))
    )

    visited = fs.cut_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("vertex"))
        .distinct()
        .withColumn("level", F.lit(0))
    )
    frontier = visited.select("vertex")
    for hop in range(1, max_hops + 1):
        obs = Observation()
        nxt = (
            und.join(frontier, und["s"] == frontier["vertex"])
            .select(F.col("t").alias("vertex"))
            .distinct()
            .join(visited.select("vertex"), "vertex", "left_anti")
            .withColumn("level", F.lit(hop))
        )
        nxt = fs.cut_lineage(nxt.observe(obs, F.count(F.lit(1)).alias("n")))
        # visited stays a PLAIN union of already-cut hop frames — its plan
        # is K checkpoint scans, so cutting it again each hop would add an
        # O(|visited|) materialization per hop (O(V·hops) total) for no
        # lineage benefit. Only the frontier (whose plan grows) is cut.
        visited = visited.unionByName(nxt)
        if obs.get["n"] == 0:
            break
        frontier = nxt.select("vertex")
    return visited.select("vertex", F.col("level").cast("long").alias("level"))


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    min_common: int = 1,
    max_pivot_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the undirected simple
    graph: for every vertex pair sharing at least ``min_common``
    neighbors, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the classic
    entity-resolution / missing-edge signal (two canonical entities
    whose KG neighborhoods largely coincide are merge or link
    candidates).

    Output: ``(id_a, id_b, common_neighbors, jaccard)`` with
    ``id_a < id_b``, jaccard rounded to 6 dp. Pairs with no common
    neighbor are (correctly) never materialized — the all-pairs zero
    sea is exactly what must not exist at scale.

    Scale shape: one pivot-keyed self-equi-join generates the shared-
    neighbor wedges (a pivot of degree d emits C(d,2) pair rows), one
    count aggregate with map-side partials collapses them, and the
    degree join is vertex-scale. The quadratic hazard is a hub pivot:
    a canonical entity linked from d=10^6 docs would emit 5·10^11
    wedges. ``max_pivot_degree`` caps it — wedges are counted only
    through pivots of degree ≤ cap, making ``common_neighbors`` (and
    jaccard, whose denominator keeps the FULL degrees) a certified
    LOWER bound: hub-mediated co-citation stops counting as evidence,
    which for entity resolution is usually the right call anyway
    (sharing 'USA' as a neighbor is not a merge signal). Unset = exact.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    und = _undirected_edges(edges, src, dst)
    adj = und.select(F.col("lo").alias("p"), F.col("hi").alias("n")).unionByName(
        und.select(F.col("hi").alias("p"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    piv = adj
    if max_pivot_degree is not None:
        if max_pivot_degree < 1:
            raise ValueError(
                f"max_pivot_degree must be >= 1, got {max_pivot_degree}"
            )
        piv = adj.join(
            deg.where(F.col("d") <= max_pivot_degree).select("p"), "p"
        )
    a = piv.select("p", F.col("n").alias("id_a"))
    b = piv.select("p", F.col("n").alias("id_b"))
    common = (
        a.join(b, "p")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
        .where(F.col("common_neighbors") >= min_common)
    )
    da = deg.select(F.col("p").alias("id_a"), F.col("d").alias("_da"))
    db = deg.select(F.col("p").alias("id_b"), F.col("d").alias("_db"))
    return (
        common.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("_da") + F.col("_db") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 100,
) -> DataFrame:
    """(vertex, degree): the k-core of the undirected distinct edge set
    — the maximal subgraph in which every vertex keeps degree >= k.
    The standard KG-pruning primitive: peeling off low-engagement
    surface forms leaves the densely cross-referenced entity core.

    Iterative peeling (Batagelj–Zaveršnik semantics, synchronous
    rounds): each round computes degrees over the surviving edges and
    drops every vertex below k together with its incident edges.
    Removals only ever lower neighbour degrees, so the fixpoint is
    unique and order-independent — any peeling schedule converges to
    the same core, which is what makes the synchronous distributed
    rounds exact.

    Scale shape: per round ONE degree aggregation + two anti-joins, all
    keyed on the vertex id (the dropped-vertex side is tiny and AQE
    broadcasts it at runtime — no hint planted); the edge set shrinks
    monotonically and is lineage-cut per round with the surviving edge
    count observed DURING the cut's materialization (``df.observe`` —
    zero extra scans, same discipline as ``bfs_levels``). Fixpoint is
    detected as an unchanged edge count: every sub-``k`` vertex still
    present owns >= 1 surviving edge, so a round that drops nobody is
    exactly a round that removes no edge.

    Reference analogue: none — driver-memory KBs (reference
    spacy_llm/tasks/entity_linker/registry.py) cannot express corpus-
    scale graph pruning; cited for parity accounting only.
    """
    from pyspark.sql import Observation

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    und = fs.cut_lineage(_undirected_edges(edges, src, dst))
    n_edges = und.count()
    converged = False
    for _ in range(max_rounds):
        if n_edges == 0:
            # fall through to the final aggregation over the empty edge
            # set — keeps the vertex column's INPUT type (a hardcoded
            # empty schema would diverge from the non-empty path)
            converged = True
            break
        deg = (
            und.select(F.col("lo").alias("v"))
            .unionByName(und.select(F.col("hi").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        bad = deg.where(F.col("d") < k).select("v")
        obs = Observation()
        nxt = (
            und.join(bad.withColumnRenamed("v", "lo"), "lo", "left_anti")
            .join(bad.withColumnRenamed("v", "hi"), "hi", "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        nxt = fs.cut_lineage(nxt)
        n_next = obs.get["n"]
        if n_next == n_edges:
            converged = True
            break
        und, n_edges = nxt, n_next
    if not converged and n_edges > 0:
        # a partially peeled graph is NOT a k-core; never return it
        # (an empty survivor set IS converged: the core is empty)
        raise RuntimeError(
            f"k_core did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (each round removes >= 1 edge, so "
            "max_rounds=|E| always suffices)"
        )
    return (
        und.select(F.col("lo").alias("vertex"))
        .unionByName(und.select(F.col("hi").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 100,
) -> DataFrame:
    """(lo, hi, support): the k-truss of the undirected simple graph —
    the maximal subgraph in which every EDGE closes >= k-2 triangles
    (Cohen 2008). One notch stronger than :func:`k_core` as a
    dense-community filter: a k-truss is always inside the (k-1)-core,
    but survives only where edges are mutually reinforced by triangles
    — the "is this relation corroborated by a common neighbor"
    criterion that matters for KG noise pruning.

    Synchronous peeling: each round counts per-edge support over the
    SURVIVING edge set (degree-oriented wedge enumeration — the same
    Suri–Vassilvitskii orientation as :func:`triangle_count`, so a hub
    never emits quadratic wedges), drops every edge below k-2, and
    repeats until no edge drops. Like k-core, removals only lower other
    edges' supports, so the fixpoint is unique and order-independent —
    synchronous batch peeling is exact, not an approximation.

    Scale shape, per round: the orientation degree aggregate, the wedge
    self-join, ONE closing-edge equi-join, a 3-per-triangle explode +
    (lo, hi)-keyed count, and one edge⋈support join with the filter —
    every stage keyed on vertex or edge ids. The edge set shrinks
    monotonically, lineage is cut per round, and the surviving count is
    observed during the cut (``df.observe``, zero extra scans). A
    partially peeled graph is never returned (RuntimeError past
    ``max_rounds``); ``support`` in the result is the triangle count
    within the final truss. Reference analogue: none; cited for parity
    accounting."""
    from pyspark.sql import Observation

    if k < 2:
        raise ValueError(f"k_truss: k must be >= 2, got {k}")
    und = fs.cut_lineage(_undirected_edges(edges, src, dst))
    n_edges = und.count()
    need = k - 2
    result = None
    for _ in range(max_rounds):
        if n_edges == 0:
            result = und.withColumn("support", F.lit(0).cast("long"))
            break
        tri = _oriented_wedges(und).join(
            und.withColumnRenamed("lo", "a").withColumnRenamed("hi", "b"),
            ["a", "b"],
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("w", "a").alias("lo"),
                            F.greatest("w", "a").alias("hi"),
                        ),
                        F.struct(
                            F.least("w", "b").alias("lo"),
                            F.greatest("w", "b").alias("hi"),
                        ),
                        F.struct(
                            F.col("a").alias("lo"), F.col("b").alias("hi")
                        ),
                    )
                ).alias("e")
            )
            .select("e.lo", "e.hi")
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        keep = (
            und.join(sup, ["lo", "hi"], "left")
            .withColumn("support", F.coalesce("support", F.lit(0)))
            .where(F.col("support") >= need)
        )
        obs = Observation()
        keep = fs.cut_lineage(
            keep.observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n_next = obs.get["n"]
        if n_next == n_edges:
            result = keep  # supports were computed ON this final set
            break
        und, n_edges = keep.select("lo", "hi"), n_next
    if result is None:
        raise RuntimeError(
            f"k_truss did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (each round removes >= 1 edge, so "
            "max_rounds=|E| always suffices)"
        )
    return result.select(
        "lo", "hi", F.col("support").cast("long").alias("support")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 5,
    damping: float = 0.85,
    quantum: int = 10,
) -> DataFrame:
    """Personalized PageRank: damped power iteration whose teleport
    (and dangling) mass returns to the SEED set instead of the uniform
    vector — (vertex, ppr) is relevance relative to the seeds, the
    standard "which entities matter to this topic/repo" KG ranking.

    Same per-round shape and determinism discipline as ``pagerank``
    (one vertex-keyed join + one groupBy + a broadcast 1-row dangling
    frame; 10 dp quantization keeps float summation order out of the
    result): the seed weight is folded into the materialized rank
    frame once — (vertex, out_degree, seed_w, rank) — so rounds never
    rejoin the seed table. Seeds absent from the graph are dropped
    (they can neither emit nor receive mass); an empty effective seed
    set raises.
    """
    e = fs.cut_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    )
    nodes = fs.cut_lineage(
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("t").alias("vertex")))
        .distinct()
    )
    seed_set = (
        seeds.select(F.col(seeds.columns[0]).alias("vertex"))
        .distinct()
        .join(nodes, "vertex", "left_semi")
    )
    n_seeds = seed_set.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is present in the graph")
    d = float(damping)
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("_outdeg"))

    from pyspark.sql import Observation

    # the dangling mass rides each round's lineage-cut materialization
    # as a df.observe (the connected_components discipline): the old
    # per-round ``ranks.agg`` + broadcast was ONE extra job per round
    # re-scanning the rank checkpoint. Same double value either way;
    # the 10 dp quantization absorbs summation-order ulps exactly as
    # before.
    _dm_metric = F.coalesce(
        F.sum(F.when(F.col("_outdeg").isNull(), F.col("rank"))), F.lit(0.0)
    ).alias("dm")
    obs = Observation()
    ranks = fs.cut_lineage(
        nodes.join(out_deg, nodes["vertex"] == out_deg["s"], "left")
        .join(seed_set.withColumn("_is_seed", F.lit(True)), "vertex", "left")
        .select(
            "vertex",
            "_outdeg",
            F.when(F.col("_is_seed"), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("_sw"),
        )
        .withColumn("rank", F.round(F.col("_sw"), quantum))
        .observe(obs, _dm_metric)
    )
    dm = float(obs.get["dm"] or 0.0)
    for _ in range(iters):
        contrib = (
            ranks.where(F.col("_outdeg").isNotNull())
            .select("vertex", (F.col("rank") / F.col("_outdeg")).alias("share"))
            .join(e, F.col("vertex") == e["s"])
            .groupBy(F.col("t").alias("vertex"))
            .agg(F.sum("share").alias("contrib"))
        )
        obs = Observation()
        ranks = fs.cut_lineage(
            ranks.select("vertex", "_outdeg", "_sw")
            .join(contrib, "vertex", "left")
            .select(
                "vertex",
                "_outdeg",
                "_sw",
                F.round(
                    F.lit(1.0 - d) * F.col("_sw")
                    + F.lit(d)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.lit(dm) * F.col("_sw")
                    ),
                    quantum,
                ).alias("rank"),
            )
            .observe(obs, _dm_metric)
        )
        dm = float(obs.get["dm"] or 0.0)
    return ranks.select("vertex", "rank")


def hits(
    edges: DataFrame,
    *,
    src: str = "subj",
    dst: str = "obj",
    iters: int = 5,
    quantum: int = 10,
) -> DataFrame:
    """(vertex, hub, authority) after ``iters`` rounds of Kleinberg's
    HITS over the distinct directed edge set — the complement of
    PageRank for KG entity importance: authorities are the entities
    many good hubs point AT (canonical targets), hubs are the entities
    that point at many good authorities (aggregator/subject nodes).
    A directed KG's subj->obj triples make this the natural
    subject-importance / object-importance split.

    L1-normalized power iteration: each round updates authorities from
    the CURRENT hubs, renormalizes to sum 1, then hubs from the NEW
    authorities (Kleinberg's update order). Scores are quantized to
    ``quantum`` dp after every normalization — the same cross-engine
    discipline as ``pagerank``: both engines then feed bit-identical
    addends into the next round, and the only float divergence left is
    the one summation-order ulp the quantization absorbs.

    Scale shape, per round: two edge-scale equi-joins (each carrying
    one double), two vertex-keyed aggregates with map-side partials,
    and two 1-row total aggregates broadcast back. No per-round
    collect beyond the initial vertex count; lineage cut per round.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e = fs.cut_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    )
    nodes = fs.cut_lineage(
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("t").alias("vertex")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "vertex",
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("authority"),
        )
    init = F.round(F.lit(1.0 / n), quantum)
    scores = fs.cut_lineage(
        nodes.select("vertex", init.alias("hub"), init.alias("authority"))
    )

    from pyspark.sql import Observation

    def _half_step(frame: DataFrame, in_col: str, join_on: str, group_to: str,
                   out_col: str) -> DataFrame:
        """One HITS half-step: push ``in_col`` across the edges joined on
        ``join_on``, sum into ``group_to``, L1-normalize, quantize.

        The frame is SUPPORT-ONLY (zero-score vertices are simply
        absent, and a NULL score is the same as absent): a zero/missing
        input contributes nothing to any sum (F.sum skips NULLs), and
        the L1 total ignores it identically, so dropping the old
        per-half-step vertex-scale zero-fill join changes no value —
        zeros are restored once, at the end.

        The L1 total rides the half-step's own lineage-cut job as a
        ``df.observe`` and normalization divides by the observed
        literal: the old broadcast-scalar-subquery shape evaluated the
        edge join + aggregate TWICE per half-step (once building the
        broadcast, once in the main plan) — same double value either
        way (the quantization discipline absorbs the summation-order
        ulp exactly as before)."""
        obs = Observation()
        raw = fs.cut_lineage(
            e.join(
                frame.select(F.col("vertex").alias(join_on), in_col), join_on
            )
            .groupBy(F.col(group_to).alias("vertex"))
            .agg(F.sum(in_col).alias("_raw"))
            .observe(obs, F.coalesce(F.sum("_raw"), F.lit(0.0)).alias("_tot"))
        )
        tot = float(obs.get["_tot"] or 0.0)
        if tot > 0:
            norm_expr = F.coalesce("_raw", F.lit(0.0)) / F.lit(tot)
        else:
            norm_expr = F.lit(0.0)
        return raw.select(
            "vertex", F.round(norm_expr, quantum).alias(out_col)
        )

    for _ in range(iters):
        auth = _half_step(scores, "hub", "s", "t", "authority")
        hubs = _half_step(auth, "authority", "t", "s", "hub")
        # full outer: hub and authority supports differ on one-sided
        # vertices; missing/NULL sides mean 0.0 (coalesced at the end);
        # both halves are checkpoint scans, so the round join stays lazy
        scores = hubs.join(auth, "vertex", "full")
    if iters == 0:
        return scores.select("vertex", "hub", "authority")
    return nodes.join(scores, "vertex", "left").select(
        "vertex",
        F.coalesce("hub", F.lit(0.0)).alias("hub"),
        F.coalesce("authority", F.lit(0.0)).alias("authority"),
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    min_common: int = 1,
    max_pivot_degree: int | None = None,
    exclude_existing: bool = True,
) -> DataFrame:
    """Adamic–Adar link prediction over the undirected simple graph:
    for every non-adjacent vertex pair sharing >= ``min_common``
    neighbors, sum(1 / ln(deg(w))) over the common neighbors w — the
    classic KG-completion score that discounts hub-mediated evidence
    (sharing a degree-10^6 neighbor is worth ~1/14 of sharing a
    degree-2 one), complementing ``neighbor_jaccard``'s size-normalized
    overlap.

    Output: ``(id_a, id_b, common_neighbors, adamic_adar)`` with
    ``id_a < id_b``, score rounded to 6 dp. ``exclude_existing=True``
    (default) anti-joins pairs already connected — the link-PREDICTION
    form; False keeps them (the similarity form shared with
    ``neighbor_jaccard``). A common neighbor has degree >= 2 by
    construction, so ln(deg) >= ln 2 and the score is always finite.

    Scale shape: identical to ``neighbor_jaccard`` — one vertex-scale
    degree aggregate, one pivot-keyed self-equi-join emitting C(d,2)
    rows per pivot, one (id_a, id_b) aggregate with map-side partials,
    plus one anti-join against the edge set. The same hub hazard and
    the same ``max_pivot_degree`` cap apply — capped scores are a
    certified LOWER bound, and for Adamic–Adar the cap costs least by
    design (the excluded hub wedges are exactly the ~1/ln(d) ≈ 0
    contributions).

    Determinism: the per-pair sum of 1/ln(d) terms is a float whose
    summation order Spark's partial aggregation does not fix;
    round-to-6dp absorbs the ~1e-15 reassociation drift (same
    discipline as ``pagerank``'s quantization).
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    und = _undirected_edges(edges, src, dst)
    adj = und.select(F.col("lo").alias("p"), F.col("hi").alias("n")).unionByName(
        und.select(F.col("hi").alias("p"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    piv = adj.join(deg, "p")
    if max_pivot_degree is not None:
        if max_pivot_degree < 1:
            raise ValueError(f"max_pivot_degree must be >= 1, got {max_pivot_degree}")
        piv = piv.where(F.col("d") <= max_pivot_degree)
    a = piv.select("p", "d", F.col("n").alias("id_a"))
    b = piv.select("p", F.col("n").alias("id_b"))
    scored = (
        a.join(b, "p")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.round(F.sum(F.lit(1.0) / F.log("d")), 6).alias("adamic_adar"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    if exclude_existing:
        scored = scored.join(
            und.select(F.col("lo").alias("id_a"), F.col("hi").alias("id_b")),
            ["id_a", "id_b"],
            "left_anti",
        )
    return scored


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """(vertex, label) after ``rounds`` synchronous label-propagation
    rounds over the undirected simple graph (Raghavan et al. 2007) —
    the cheap community-detection primitive for KG entity grouping:
    unlike connected components (one label per component), LPA splits a
    connected graph along its dense regions.

    Deterministic variant: labels start as the vertex id; each round
    EVERY vertex simultaneously adopts the most frequent label among
    its neighbors, ties broken by the smallest label. No RNG, no
    visit-order dependence — the output is a pure function of (graph,
    rounds), which is what makes a cross-engine oracle possible.
    Synchronous LPA need not converge (bipartite regions can
    oscillate), so the contract is explicitly "labels after N rounds",
    not a fixpoint; rounds is small by design (community structure
    saturates in ~5 rounds on social/KG graphs).

    Scale shape, per round: one edge-scale join (neighbor labels, keyed
    on the vertex id), one (vertex, label) count aggregate with
    map-side partials, and one vertex-keyed min-struct aggregate that
    picks argmax-count/min-label in a SINGLE pass — ``min(struct(-n,
    label))`` — so no window sort and no second shuffle on a skewed
    key. Lineage is cut per round like the other iterative operators.
    Counts are integers: no float drift, no quantization needed.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    und = _undirected_edges(edges, src, dst)
    adj = fs.cut_lineage(
        und.select(F.col("lo").alias("v"), F.col("hi").alias("n")).unionByName(
            und.select(F.col("hi").alias("v"), F.col("lo").alias("n"))
        )
    )
    labels = adj.select("v").distinct().withColumn("label", F.col("v"))
    for _ in range(rounds):
        nbr = adj.join(
            labels.withColumnRenamed("v", "n"), "n"
        ).select("v", "label")
        labels = fs.cut_lineage(
            nbr.groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("_n")).alias("nc"), F.col("label").alias("l"))
                )["l"].alias("label")
            )
        )
    return labels.select(F.col("v").alias("vertex"), "label")


def modularity(
    edges: DataFrame,
    assignment: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    vertex: str = "vertex",
    label: str = "label",
) -> DataFrame:
    """Newman modularity of a community ``assignment`` over the
    undirected simple graph — the standard quality score for
    :func:`label_propagation` output (Newman & Girvan 2004): per
    community c, ``q_c = m_in/m - (d_tot/(2m))^2`` where ``m`` is the
    total edge count, ``m_in`` the intra-community edge count and
    ``d_tot`` the community's degree mass; the graph's modularity Q is
    the sum of the ``q`` column (each term quantized to 10 dp so float
    summation order cannot drift a cross-engine compare — same
    convention as pagerank).

    Self-loops and parallel edges are dropped (``_undirected_edges``,
    the same simple-graph convention as triangles/LPA). Everything is
    computed from the label-JOINED edge set, so a partial assignment
    scores the INDUCED subgraph consistently (m, degrees, and intra
    counts all agree) rather than mixing a full-graph m with
    partial-graph numerators; ``n_nodes`` counts the community's
    vertices that appear in that graph.

    Scale shape: one edge⋈label join per endpoint (vertex-keyed — AQE
    broadcasts the label map when it fits, shuffles otherwise), one
    edge-scale union for degree mass, three label-keyed aggregates with
    map-side partials, and ONE broadcast 1-row total — no window, no
    driver loop. Reference analogue: none (no graph layer in the
    reference); cited for parity accounting."""
    und = _undirected_edges(edges, src, dst)
    asn = assignment.select(
        F.col(vertex).alias("__mv"), F.col(label).alias("lab")
    ).distinct()
    je = (
        und.join(asn.withColumnRenamed("__mv", "lo").withColumnRenamed(
            "lab", "la"), "lo")
        .join(asn.withColumnRenamed("__mv", "hi").withColumnRenamed(
            "lab", "lb"), "hi")
        .select("lo", "hi", "la", "lb")
    )
    tot = je.agg(F.count(F.lit(1)).alias("__m"))
    deg = (
        je.select(F.col("la").alias("lab"))
        .unionByName(je.select(F.col("lb").alias("lab")))
        .groupBy("lab")
        .agg(F.count(F.lit(1)).alias("d_tot"))
    )
    intra = (
        je.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    gverts = (
        und.select(F.col("lo").alias("__mv"))
        .unionByName(und.select(F.col("hi").alias("__mv")))
        .distinct()
    )
    n_nodes = (
        asn.join(gverts, "__mv", "left_semi")
        .groupBy("lab")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    m = F.col("__m").cast("double")
    return (
        deg.join(intra, "lab", "left")
        .join(n_nodes, "lab")
        .crossJoin(broadcast(tot))
        .select(
            F.col("lab").alias(label),
            "n_nodes",
            F.coalesce(F.col("m_in"), F.lit(0)).alias("m_in"),
            "d_tot",
            F.round(
                F.coalesce(F.col("m_in"), F.lit(0)) / m
                - F.pow(F.col("d_tot") / (2 * m), F.lit(2)),
                10,
            ).alias("q"),
        )
    )


def negative_triples(
    edges: DataFrame,
    *,
    src: str = "subj",
    pred: str = "pred",
    dst: str = "obj",
    seed: int = 42,
    buckets: int = 64,
) -> DataFrame:
    """(subj, pred, obj, neg_obj): one deterministic corrupted negative
    per distinct positive triple — the training-pair generator for
    KG-embedding losses (TransE-style object corruption).

    RNG-free empirical-distribution sampling: each distinct triple gets
    a seeded sha-derived hash; its negative object is the NEXT triple's
    object in the hash-shuffled order within its hash bucket (wrapping
    at the bucket end), so negatives follow the empirical object
    distribution without any global vertex index or single-partition
    window. Self-corruptions (neg_obj == obj) drop out, and accidental
    positives (the corrupted triple actually exists) are removed by ONE
    anti-join against the positive set. Shape: one hash projection, one
    bucket-keyed window pass (bucket sizes ~|T|/buckets — raise
    ``buckets`` with scale), one anti-join. Same corpus, seed, and
    bucket count => same negatives on any cluster size.
    """
    from pyspark.sql import Window

    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    t = edges.select(src, pred, dst).distinct()
    hv = F.conv(
        F.substring(
            F.sha2(
                F.concat_ws(
                    "\x1f", F.lit(str(seed)), F.col(src), F.col(pred), F.col(dst)
                ),
                256,
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = t.withColumn("_hv", hv).withColumn("_b", F.col("_hv") % buckets)
    order = [F.col("_hv"), F.col(src), F.col(pred), F.col(dst)]
    win = Window.partitionBy("_b").orderBy(*order)
    win_all = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    neg = (
        w.withColumn(
            "neg_obj",
            F.coalesce(F.lead(dst).over(win), F.first(dst).over(win_all)),
        )
        .where(F.col("neg_obj") != F.col(dst))
        .select(src, pred, dst, "neg_obj")
    )
    positives = t.select(
        F.col(src), F.col(pred), F.col(dst).alias("neg_obj")
    )
    return neg.join(positives, [src, pred, "neg_obj"], "left_anti")


def node2vec_walks(
    edges: DataFrame,
    walks_per_vertex: int = 2,
    walk_length: int = 4,
    w_return: int = 1,
    w_in: int = 1,
    w_out: int = 1,
    seed: int | str = 42,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """Second-order biased random walks (node2vec, Grover & Leskovec
    2016) over the undirected distinct edge set — the BFS/DFS-
    interpolating walk corpus (``w_return = w_in = w_out`` gives the
    uniform DeepWalk walk).

    Weights are INTEGERS (node2vec's 1/p, 1/q scaled to a common
    denominator: p=0.5, q=0.25 with K=1 -> w_return=2, w_in=1,
    w_out=4): a candidate one hop from ``cur`` scores ``w_return`` if
    it IS the previous vertex, ``w_in`` if it neighbors the previous
    vertex (triangle-closing/BFS-ish), ``w_out`` otherwise
    (DFS-ish). The weighted choice is made WITHOUT floats: every
    candidate owns ``w`` replicas, each replica draws an iid
    hash-uniform sha256(seed US walk US step US candidate US replica),
    and the global argmin wins — each replica is equally likely to be
    the minimum, so candidate win probability is EXACTLY w/Σw, and the
    (hv, n, r) struct-min tie-break makes the walk set bit-reproducible
    at any parallelism AND expressible in ANSI SQL (the oracle unrolls
    one CTE per step with a bounded ``range()`` replica product and
    ``row_number() OVER (ORDER BY hv, n, r)``) — no ``ln()`` whose
    last-ulp libm-vs-JVM disagreement could flip a comparison.

    Per step: ONE frontier equi-join through the adjacency (fan-out =
    degree), ONE (prev, candidate)-keyed LEFT join against the same
    adjacency for the triangle test, a <= max-weight replica explode,
    and ONE walk-keyed min-struct aggregate — partitionings reused,
    state lineage-cut, never a neighborhood product. The first step
    has no previous vertex and is uniform (weight 1), as in the
    reference implementation. Reference analogue: none — cited for
    parity accounting.
    """
    if walks_per_vertex < 1:
        raise ValueError(f"walks_per_vertex must be >= 1, got {walks_per_vertex}")
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    for name, w in (("w_return", w_return), ("w_in", w_in), ("w_out", w_out)):
        if not isinstance(w, int) or not 1 <= w <= 64:
            raise ValueError(
                f"{name} must be an integer in [1, 64], got {w!r} — scale "
                "node2vec's 1/p, 1/q to small integers"
            )
    und = _undirected_edges(edges, src, dst)
    adj = und.select(F.col("lo").alias("p"), F.col("hi").alias("n")).unionByName(
        und.select(F.col("hi").alias("p"), F.col("lo").alias("n"))
    )
    exists = adj.select(
        F.col("p").alias("ep"), F.col("n").alias("en"), F.lit(True).alias("_e")
    )
    verts = adj.select(F.col("p").alias("v")).distinct()
    state = fs.cut_lineage(
        verts.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
            ).alias("r"),
            F.col("v"),
        ).select(
            F.concat_ws("#", F.col("v"), F.col("r")).alias("walk_id"),
            F.lit(None).cast("string").alias("prev"),
            F.col("v").alias("cur"),
            F.col("v").alias("path"),
        )
    )

    def _hv(step: int):
        return F.conv(
            F.substring(
                F.sha2(
                    F.concat_ws(
                        "\x1f",
                        F.lit(str(seed)),
                        F.col("walk_id"),
                        F.lit(str(step)),
                        F.col("n"),
                        F.col("_r").cast("string"),
                    ),
                    256,
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    for step in range(1, walk_length):
        cand = state.join(adj, state["cur"] == adj["p"])
        if step == 1:
            cand = cand.withColumn("_w", F.lit(1))
        else:
            cand = cand.join(
                exists,
                (F.col("prev") == F.col("ep")) & (F.col("n") == F.col("en")),
                "left",
            ).withColumn(
                "_w",
                F.when(F.col("n") == F.col("prev"), F.lit(w_return))
                .when(F.col("_e"), F.lit(w_in))
                .otherwise(F.lit(w_out)),
            )
        picked = (
            cand.withColumn(
                "_r", F.explode(F.sequence(F.lit(1), F.col("_w")))
            )
            .withColumn("_hv", _hv(step))
            .groupBy("walk_id", "cur", "path")
            .agg(
                F.min(
                    F.struct(F.col("_hv"), F.col("n"), F.col("_r"))
                ).alias("_m")
            )
        )
        state = fs.cut_lineage(
            picked.select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("_m.n").alias("cur"),
                F.concat_ws(" ", F.col("path"), F.col("_m.n")).alias("path"),
            )
        )
    return state.select("walk_id", F.col("path").alias("walk"))


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str | None = None,
    max_hops: int = 6,
    src: str = "subj",
    dst: str = "obj",
    directed: bool = False,
) -> DataFrame:
    """(vertex, dist): minimum-weight path distance from the seed set
    using at most ``max_hops`` edges — hop-bounded Bellman–Ford, the
    weighted generalization of ``bfs_levels`` (which it reproduces
    exactly at weight 1). ``weight_col`` NULL/missing => unit weights;
    negative weights raise (a negative cycle makes the hop-bounded
    answer meaningless as a distance).

    Per round: ONE equi-join of the settled frontier against the edge
    list (keyed on the vertex id) + ONE min aggregate over
    (old dists ∪ relaxed candidates) — both reuse the vertex hash
    partitioning; state is lineage-cut per round with the round's
    (vertex count, total distance) observed DURING the cut
    (``df.observe``, zero extra scans). Both observables are
    monotone — count never shrinks, total never grows — so a round
    that changes neither is a fixpoint and the loop exits early.

    Float discipline: each candidate distance is the SAME left-to-right
    sum along its path in any engine (relaxation is sequential), and
    min never re-associates additions — so with weights that are
    exactly representable (integers, or sums well under 2^53) the
    result is bit-identical to the SQL oracle's unrolled rounds with
    no quantization step needed.

    Reference analogue: none — the KB in spacy-llm is driver-resident
    (spacy_llm/tasks/entity_linker/registry.py); weighted reachability
    over the materialized KG is a post-materialization query it cannot
    express.
    """
    from pyspark.sql import Observation

    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t"), w.alias("w")
    ).where(F.col("s") != F.col("t"))
    if weight_col:
        neg = e.where(F.col("w") < 0).limit(1).collect()
        if neg:
            raise ValueError(
                f"shortest_paths: negative weight {neg[0]['w']} on edge "
                f"({neg[0]['s']}, {neg[0]['t']}) — hop-bounded distances "
                "are not defined under negative weights"
            )
    if not directed:
        e = e.unionByName(
            e.select(F.col("t").alias("s"), F.col("s").alias("t"), "w")
        )

    dist = fs.cut_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("vertex"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
    )
    prev = (None, None)
    for _ in range(max_hops):
        obs = Observation()
        relaxed = (
            dist.join(e, dist["vertex"] == e["s"])
            .select(F.col("t").alias("vertex"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        nxt = (
            dist.unionByName(relaxed)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )
        nxt = fs.cut_lineage(
            nxt.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("dist").alias("total"),
            )
        )
        cur = (obs.get["n"], obs.get["total"])
        dist = nxt
        if cur == prev:
            break
        prev = cur
    return dist.select("vertex", F.col("dist").alias("dist"))


def strongly_connected_components(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 12,
    max_iter: int = 60,
) -> DataFrame:
    """(vertex, scc) over the DIRECTED edge set — each SCC labeled by
    its lexicographically smallest member (the same min-label convention
    as ``connected_components``, whose undirected answer this refines:
    cyclic knowledge clusters like precedes-cycles stay together, while
    one-way containment/feeds-into chains split apart — the condensation
    DAG is what topological KG consumers actually want).

    FW-Trim-coloring (Orzan 2004 / Slota et al. 2014), fully
    synchronous so the output is schedule-independent:

    1. **Trim**: a vertex with zero live in-degree or zero live
       out-degree cannot sit on a cycle — it is a singleton SCC. Peeled
       to fixpoint (two vertex-keyed semi-joins per round), which
       disposes of the entire DAG portion — on real KGs the vast
       majority — without ever coloring it.
    2. **Color**: forward min-label propagation to fixpoint over the
       surviving subgraph; color(v) = the smallest vertex that can
       reach v. Per round ONE edge⋈label equi-join + ONE min aggregate,
       both keyed on the vertex id so the hash partitioning is reused;
       O(color diameter) rounds.
    3. **Extract**: each color root r (color(r) == r) is provably the
       minimum of its own SCC, and SCC(r) = the vertices backward-
       reachable from r WITHIN color class r — one reversed frontier
       BFS restricted by color, all roots in parallel. Extracted
       vertices are removed and the outer loop repeats on the rest.

    Every inner loop detects its fixpoint with ``df.observe`` riding the
    per-round lineage cut (zero extra scans — the shared discipline of
    ``connected_components``/``k_core``/``bfs_levels``) and the final
    result is exact; non-convergence within the budgets raises rather
    than returning a partial labeling. Outer rounds scale with the
    DEPTH OF THE SCC CHAIN between color roots, not |V| — trimming
    guarantees every surviving vertex lies on a cycle, and real KG
    condensations are shallow; the budgets are configurable for
    adversarial shapes.

    Reference analogue: none — spacy-llm's KB lives in driver memory
    (spacy_llm/tasks/entity_linker/registry.py); cited for parity
    accounting only.
    """
    from pyspark.sql import Observation

    de = fs.cut_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )
    live_raw = fs.cut_lineage(
        edges.select(F.col(src).alias("vertex"))
        .unionByName(edges.select(F.col(dst).alias("vertex")))
        .distinct()
    )
    # The betweenness lesson: every trim/color/extract round keys its
    # joins and aggregates on vertex ids, so arbitrary-width strings are
    # hashed and shuffled ~dozens of times. Encode once to longs whose
    # order matches the vertex order (``order_encode``) — hence min-label
    # coloring picks the same root through the bijection, and one decode
    # at the end restores the caller's ids bit-for-bit.
    from .canonicalize import order_encode

    vmap = order_encode(live_raw, "vertex", "_nid")
    de = fs.cut_lineage(
        de.join(vmap.select(F.col("vertex").alias("s"),
                            F.col("_nid").alias("_ns")), "s")
        .join(vmap.select(F.col("vertex").alias("t"),
                          F.col("_nid").alias("_nt")), "t")
        .select(F.col("_ns").alias("s"), F.col("_nt").alias("t"))
    )
    live_v = vmap.select(F.col("_nid").alias("vertex"))
    n_live = live_v.count()
    done_parts: list[DataFrame] = []
    live_e = de

    def _restrict(edges_df: DataFrame, verts_df: DataFrame) -> DataFrame:
        return edges_df.join(
            verts_df.withColumnRenamed("vertex", "s"), "s", "left_semi"
        ).join(verts_df.withColumnRenamed("vertex", "t"), "t", "left_semi")

    for _ in range(max_rounds):
        if n_live == 0:
            break
        # -- 1. trim singleton SCCs (no in- or no out-edge) to fixpoint.
        # The per-round edge restriction stays LAZY against this outer
        # round's cut edge base — restriction by the latest live_v is
        # the same set as restricting iteratively, live_v is cut every
        # round so the lazy plan stays 2 semi-joins deep, and each trim
        # round runs ONE materialization job instead of two.
        base_e = live_e
        for _ in range(max_iter):
            cur_e = _restrict(base_e, live_v)
            cyclic = live_v.join(
                cur_e.select(F.col("s").alias("vertex")), "vertex", "left_semi"
            ).join(
                cur_e.select(F.col("t").alias("vertex")), "vertex", "left_semi"
            )
            obs = Observation()
            cyclic = fs.cut_lineage(
                cyclic.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            n_cyclic = obs.get["n"]
            if n_cyclic == n_live:
                break
            done_parts.append(
                live_v.join(cyclic, "vertex", "left_anti").withColumn(
                    "scc", F.col("vertex")
                )
            )
            live_v, n_live = cyclic, n_cyclic
        else:
            raise RuntimeError(
                f"scc: trim did not converge within max_iter={max_iter}"
            )
        if n_live == 0:
            break
        # one cut of the trimmed edge set feeds coloring + extraction
        live_e = fs.cut_lineage(_restrict(base_e, live_v))
        # -- 2. forward min-label coloring to fixpoint
        colors = fs.cut_lineage(live_v.withColumn("color", F.col("vertex")))
        for _ in range(max_iter):
            # merge as a co-partitioned left join instead of union +
            # re-aggregate of the FULL color frame (guide §2.3): only
            # the propagated candidates cross an exchange; the old color
            # rides the same row, so the changed-count observe needs no
            # extra self-join either.
            cand = (
                live_e.join(colors.withColumnRenamed("vertex", "s"), "s")
                .select(F.col("t").alias("vertex"), "color")
                .groupBy("vertex")
                .agg(F.min("color").alias("_cand"))
            )
            obs = Observation()
            nxt = fs.cut_lineage(
                colors.withColumnRenamed("color", "_old")
                .join(cand, "vertex", "left")
                .select(
                    "vertex",
                    F.least(
                        F.col("_old"), F.coalesce("_cand", F.col("_old"))
                    ).alias("color"),
                    "_old",
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("color") < F.col("_old")).cast("long")
                    ).alias("changed"),
                )
            ).drop("_old")
            changed = obs.get["changed"]
            colors = nxt
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"scc: coloring did not converge within max_iter={max_iter}"
            )
        # -- 3. backward BFS from each color root within its color class
        member = fs.cut_lineage(
            colors.where(F.col("color") == F.col("vertex")).select(
                "vertex", F.col("vertex").alias("scc")
            )
        )
        frontier = member
        for _ in range(max_iter):
            cand = (
                live_e.join(frontier.withColumnRenamed("vertex", "t"), "t")
                .select(F.col("s").alias("vertex"), "scc")
                .distinct()
                .join(colors, "vertex")
                .where(F.col("color") == F.col("scc"))
                .drop("color")
                .join(member.select("vertex"), "vertex", "left_anti")
            )
            obs = Observation()
            cand = fs.cut_lineage(
                cand.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            if obs.get["n"] == 0:
                break
            member = member.unionByName(cand)
            frontier = cand
        else:
            raise RuntimeError(
                f"scc: extraction did not converge within max_iter={max_iter}"
            )
        done_parts.append(member)
        obs = Observation()
        live_v = fs.cut_lineage(
            live_v.join(member.select("vertex"), "vertex", "left_anti").observe(
                obs, F.count(F.lit(1)).alias("n")
            )
        )
        n_live = obs.get["n"]
        live_e = fs.cut_lineage(_restrict(live_e, live_v))
    if n_live > 0:
        raise RuntimeError(
            f"scc: did not converge within max_rounds={max_rounds} outer "
            "rounds (depth of the SCC chain between color roots exceeds "
            "the budget); raise max_rounds"
        )
    if not done_parts:  # empty edge frame: typed empty result
        return vmap.select("vertex", F.col("vertex").alias("scc")).limit(0)
    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    # decode the internal vertex codes back to the caller's ids (one
    # join per column; vmap is node-scale)
    return (
        out.join(vmap.select(F.col("_nid").alias("vertex"),
                             F.col("vertex").alias("_v")), "vertex")
        .join(vmap.select(F.col("_nid").alias("scc"),
                          F.col("vertex").alias("_c")), "scc")
        .select(F.col("_v").alias("vertex"), F.col("_c").alias("scc"))
    )


# transitive_closure strategy switch (driver-known INPUT count, so the
# choice is deterministic and never changes the result set): below this
# many distinct edges the classic one-job-per-round squaring wins on
# latency (schema/ontology hierarchies close in 2-3 trivial rounds);
# above it the smart P/T recurrence wins on join volume — squaring a
# closed 200-cycle re-derives 200^3 join rows per round, the smart form
# 200^2 (before/after numbers in OPTIMIZATION_r06.md).
_SMART_TC_MIN_PAIRS = 1024


def transitive_closure(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 30,
) -> DataFrame:
    """All reachable ``(src, dst)`` pairs of the directed edge set — the
    transitive closure, the ontology primitive behind ``subclass_of`` /
    ``part_of`` chain expansion (type inheritance, containment rollups)
    in KG construction.

    Path doubling: maintaining R as "all pairs connected by a path of
    length <= 2^i", each round sets R <- R ∪ (R ⋈ R), squaring the
    reachable path length, so a graph of finite reachability depth d
    converges in ceil(log2(d)) rounds — O(log d) shuffles instead of
    the d rounds a frontier expansion would take (on a 100-deep
    ontology chain: 7 rounds, not 100). Each round is ONE equi-join of
    the pair set with itself on the midpoint vertex plus ONE distinct,
    both keyed shuffles Catalyst plans as hash joins/aggregates;
    lineage is cut per round with the pair count observed during the
    cut (``df.observe`` — zero extra scans, the ``k_core`` discipline)
    and an unchanged count is exactly the fixpoint (R only grows).

    Self-pairs: a vertex reaches itself only through a cycle; acyclic
    inputs (the ontology case) produce none, and any input self-loop
    is preserved as given. Output is the closure of the DISTINCT edge
    set — multiplicities carry no reachability information.

    Two physical strategies, same result set and the same O(log d)
    round count (a driver-known input-count switch, never a semantic
    one):

    - small inputs (< ``_SMART_TC_MIN_PAIRS`` distinct edges — schema
      hierarchies, part trees): classic squaring ``R <- R ∪ (R ⋈ R)``,
      ONE job per round.
    - larger inputs: the Valduriez/Boral "smart" recurrence
      ``T_{i+1} = T_i ∪ (P_i ⋈ T_i)``, ``P_{i+1} = P_i ⋈ P_i`` where
      ``P_i`` holds pairs connected by a path of length EXACTLY ``2^i``
      and ``T_i`` pairs at length ``<= 2^i``. Squaring the full closed
      set re-derives every pair out of every split point — on a closed
      c-cycle that is c^3 join rows per round just to add nothing —
      while ``P`` stays edge-scale on bounded-out-degree graphs
      (functional chains, hierarchies), so the per-round join output is
      proportional to NEW pairs, not density. Correctness of the stop
      rule is the standard midpoint argument: a pair at shortest
      distance in (2^i, 2^{i+1}] splits at its 2^i-prefix into
      P_i ⋈ T_i; if a round adds nothing, no pair at distance
      > 2^i exists at all (its shortest path's inner vertex at
      distance 2^i + 1 would itself be a new pair). Both frames ride
      ONE tagged union-distinct job per round (the tag keys the
      distinct, so T and P dedup independently in one shuffle).

    Scale note: the closure is output-bound — a single giant cycle of
    n vertices closes to n^2 pairs, so this is an operator for
    bounded-reachability relations (ontology DAGs, org charts,
    container hierarchies), not the full web graph; ``max_rounds``
    bounds the doubling and a non-converged loop raises rather than
    returning a partial closure. Reference analogue: none — the
    reference's in-memory KB (spacy_llm/tasks/entity_linker/
    registry.py) has no graph expansion; cited for parity accounting.
    """
    from pyspark.sql import Observation

    reach = fs.cut_lineage(edges.select(src, dst).distinct())
    n_pairs = reach.count()
    if n_pairs == 0:
        return reach
    if n_pairs < _SMART_TC_MIN_PAIRS:
        for _ in range(max_rounds):
            left = reach.withColumnRenamed(dst, "__mid")
            right = reach.withColumnRenamed(src, "__mid")
            obs = Observation()
            nxt = (
                left.join(right, "__mid")
                .select(src, dst)
                .unionByName(reach)
                .distinct()
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            nxt = fs.cut_lineage(nxt)
            n_next = obs.get["n"]
            if n_next == n_pairs:
                return nxt
            reach, n_pairs = nxt, n_next
    else:
        # the per-round tagged distinct hashes and shuffles every pair
        # key for every round; when keys are not already fixed-width
        # integers (strings, structs), dictionary-encode the VERTICES
        # once (vertex-scale, bijective, internal to this run) so the
        # multi-million-pair rounds run on longs, and decode only the
        # final closure (guide §2.3 "narrower types")
        vtype = reach.schema[src].dataType.simpleString()
        encode = vtype not in (
            "tinyint", "smallint", "int", "bigint"
        )
        if encode:
            verts = fs.cut_lineage(
                reach.select(F.col(src).alias("__v"))
                .union(reach.select(F.col(dst).alias("__v")))
                .distinct()
                .select("__v", F.monotonically_increasing_id().alias("__c"))
            )
            orig_src, orig_dst = src, dst
            src, dst = "__cs", "__cd"
            reach = fs.cut_lineage(
                reach.join(
                    verts.select(F.col("__v").alias(orig_src),
                                 F.col("__c").alias("__cs")), orig_src
                ).join(
                    verts.select(F.col("__v").alias(orig_dst),
                                 F.col("__c").alias("__cd")), orig_dst
                ).select("__cs", "__cd")
            )

        def _decode(pairs_df: DataFrame) -> DataFrame:
            if not encode:
                return pairs_df
            return (
                pairs_df.join(
                    verts.select(F.col("__c").alias("__cs"),
                                 F.col("__v").alias(orig_src)), "__cs"
                )
                .join(
                    verts.select(F.col("__c").alias("__cd"),
                                 F.col("__v").alias(orig_dst)), "__cd"
                )
                .select(orig_src, orig_dst)
            )

        exact = reach  # paths of length exactly 2^i; i = 0 at entry
        for _ in range(max_rounds):
            p_left = exact.withColumnRenamed(dst, "__mid")
            t_right = reach.withColumnRenamed(src, "__mid")
            p_right = exact.withColumnRenamed(src, "__mid")
            t_next = (
                p_left.join(t_right, "__mid")
                .select(src, dst)
                .unionByName(reach)
                .withColumn("__t", F.lit(True))
            )
            p_next = (
                p_left.join(p_right, "__mid")
                .select(src, dst)
                .withColumn("__t", F.lit(False))
            )
            obs = Observation()
            tagged = (
                t_next.unionByName(p_next)
                .distinct()
                .observe(
                    obs,
                    F.sum(F.col("__t").cast("long")).alias("n"),
                )
            )
            tagged = fs.cut_lineage(tagged)
            n_next = obs.get["n"]
            if n_next == n_pairs:
                return _decode(tagged.where("__t").select(src, dst))
            reach = tagged.where("__t").select(src, dst)
            exact = tagged.where(~F.col("__t")).select(src, dst)
            n_pairs = n_next
    raise RuntimeError(
        f"transitive_closure: not converged within max_rounds={max_rounds} "
        f"doubling rounds (reachability depth > 2^{max_rounds}); raise "
        "max_rounds"
    )


def _split_path(s: str, sep: str) -> list:
    """Split a property-path term on ``sep`` at top level only —
    separators inside ``<...>`` IRI brackets or ``(...)`` groups don't
    split, so ``<http://a/b>/p`` is a two-step sequence whose first
    step is the literal IRI pred."""
    parts, buf, iri, paren = [], [], 0, 0
    for ch in s:
        if ch == "<":
            iri += 1
        elif ch == ">":
            iri = max(0, iri - 1)
        elif iri == 0 and ch == "(":
            paren += 1
        elif iri == 0 and ch == ")":
            paren = max(0, paren - 1)
        if ch == sep and iri == 0 and paren == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _unbracket(name: str) -> tuple:
    """Strip one layer of ``<...>`` from a path step name. Returns
    (bare_name, was_bracketed) — bracketed names are literal pred
    values (SPARQL IRIs) and exempt from the path-syntax char check."""
    if name.startswith("<") and name.endswith(">") and len(name) > 2:
        return name[1:-1], True
    return name, False


_PATH_META = set("^!()/|?*+<>{}")

# Bounded path repetition p{n,m} — see _compile_bgp. Each extra step is
# one self-join in the plan, so the cap keeps an errant {2,1000} from
# compiling a thousand-join tree; real bounded-path queries are short.
_MAX_PATH_REPEAT = 16
_PATH_REPEAT_RE = re.compile(r"\{(\d+)(,(\d+)?)?\}$")


def _bounded_path(
    step: DataFrame, lo: int, hi: int, subj: str, obj: str
) -> DataFrame:
    """Pairs connected by a path of length in ``[max(lo,1), hi]`` over
    the single-step edge set ``step`` — the draft-SPARQL / Jena
    ``elt{n,m}`` bounded repetition. Unlike the ``+``/``*`` closures
    (whose fixpoint needs eager jobs), the bounded form is a STATIC
    plan: ``hi - 1`` self-joins with a distinct per level, fully lazy
    and Catalyst-owned — at 100 TB the optimizer sees one tree, reuses
    the step scan via its own subquery reuse, and AQE sizes every
    shuffle. The zero-length case (``lo == 0``) is unioned in by the
    CALLER via the pattern's identity rows, matching how ``*`` / ``?``
    compose."""
    pairs = step.select(subj, obj).distinct()
    cur = pairs
    acc = pairs if lo <= 1 else None
    right = pairs.select(
        F.col(subj).alias("__bp_mid"), F.col(obj).alias("__bp_dst")
    )
    for k in range(2, hi + 1):
        cur = (
            cur.select(subj, F.col(obj).alias("__bp_mid"))
            .join(right, "__bp_mid")
            .select(subj, F.col("__bp_dst").alias(obj))
            .distinct()
        )
        if k >= max(lo, 1):
            acc = cur if acc is None else acc.unionByName(cur)
    if acc is None:  # lo > hi can't happen (validated); lo==hi==0 ditto
        raise AssertionError("bounded path with empty step range")
    return acc.distinct()


def _compile_bgp(
    triples: DataFrame,
    patterns: list,
    subj: str,
    pred: str,
    obj: str,
    allow_cartesian: bool,
    what: str = "patterns",
):
    """Compile a pattern list to (bound_vars, DataFrame) — shared by the
    required and OPTIONAL groups of :func:`match_bgp`."""

    def is_var(t: str) -> bool:
        return isinstance(t, str) and t.startswith("?")

    def var_name(t: str) -> str:
        name = t[1:]
        if not name.isidentifier():
            raise ValueError(f"match_bgp: bad variable name {t!r}")
        return name

    # sequence-path pre-expansion: a constant pred with a top-level /
    # is SPARQL's PathSequence — rewritten, exactly as the spec's
    # algebra translation does, into chained patterns joined through
    # fresh internal variables (?__seq{i}_{j}, projected away below, so
    # solution multiplicities are preserved like the spec's projection
    # of the fresh variables). ^ was already parsed per-step by the
    # split (SPARQL gives ^ tighter binding than /, so ^a/b means
    # (^a)/b — which is what per-segment parsing yields). A bare | in a
    # segment is refused: SPARQL binds | LOOSER than /, so a/b|c means
    # (a/b)|c — an alternation of sequences this single-chain rewrite
    # cannot express; per-step alternation must be parenthesised
    # (a/(b|c)); whole-sequence alternation is not supported.
    expanded = []
    for i, pat in enumerate(patterns):
        for t in pat:
            if isinstance(t, str) and t.startswith("?__seq"):
                raise ValueError(
                    "match_bgp: variable prefix ?__seq is reserved for "
                    f"sequence-path expansion (pattern {i}: {t!r})"
                )
        p = pat[1] if len(pat) == 3 else None
        if isinstance(p, str) and not is_var(p):
            segs = _split_path(p, "/")
        else:
            segs = [p]
        if len(segs) > 1:
            if not all(segs):
                raise ValueError(
                    f"match_bgp: bad sequence path {p!r} in pattern {i}"
                )
            for seg in segs:
                if len(_split_path(seg, "|")) > 1:
                    raise ValueError(
                        f"match_bgp: bare | inside sequence step {seg!r} "
                        f"(pattern {i}) — SPARQL parses a/b|c as (a/b)|c, "
                        "which one pattern chain cannot express; "
                        "parenthesise a per-step alternation (a/(b|c)); "
                        "alternated sequences are not supported"
                    )
            mids = [f"?__seq{i}_{j}" for j in range(len(segs) - 1)]
            chain = [pat[0], *mids, pat[2]]
            expanded.extend(
                (chain[j], seg, chain[j + 1]) for j, seg in enumerate(segs)
            )
        else:
            expanded.append(pat)
    patterns = expanded

    compiled = []  # (vars frozenset, n_constants, DataFrame)
    for i, pat in enumerate(patterns):
        if len(pat) != 3:
            raise ValueError(f"match_bgp: pattern {i} is not a term triple: {pat!r}")
        p_term = pat[1]
        term_cols = (subj, pred, obj)
        if isinstance(p_term, str) and not is_var(p_term):
            # constant predicate path syntax: optional ^ (inverse path
            # — the pattern's subject/object swap roles), optional
            # trailing + (one-or-more), | alternation between plain
            # pred names. ^(p+) == (^p)+ and closure(p|q) is the
            # closure of the UNION subgraph (SPARQL (p|q)+), so one
            # parse order covers the combinations.
            core = p_term[1:] if p_term.startswith("^") else p_term
            if p_term.startswith("^"):
                term_cols = (obj, pred, subj)
            bracketed = core.startswith("<") and core.endswith(">")
            plus = not bracketed and core.endswith("+") and len(core) > 1
            star = not bracketed and core.endswith("*") and len(core) > 1
            opt = not bracketed and core.endswith("?") and len(core) > 1
            rep = None if bracketed else _PATH_REPEAT_RE.search(core)
            repeat = None
            if rep:
                # bounded repetition p{n,m} / p{n} — the draft-SPARQL /
                # Jena extension. {n,} (unbounded) is the + / * closure
                # in disguise; {0} is the bare zero-length identity —
                # both refused toward the canonical spelling.
                lo = int(rep.group(1))
                if rep.group(2) and rep.group(3) is None:
                    raise ValueError(
                        f"match_bgp: unbounded repetition {p_term!r} "
                        f"(pattern {i}) — use p+ (one-or-more) or p* "
                        "(zero-or-more) for the unbounded closures"
                    )
                hi = int(rep.group(3)) if rep.group(2) else lo
                if hi < max(lo, 1):
                    raise ValueError(
                        f"match_bgp: bad repetition bounds {p_term!r} "
                        f"(pattern {i}) — need 0 <= n <= m and m >= 1"
                    )
                if hi > _MAX_PATH_REPEAT:
                    raise ValueError(
                        f"match_bgp: repetition bound {hi} in {p_term!r} "
                        f"(pattern {i}) exceeds the {_MAX_PATH_REPEAT}-"
                        "join cap — each step compiles to one self-join; "
                        "use the + / * closure for long reachability"
                    )
                repeat = (lo, hi)
                body = core[: rep.start()]
            else:
                body = core[:-1] if plus or star or opt else core
            neg = body.startswith("!")
            if neg:
                if plus or star or opt or repeat:
                    raise ValueError(
                        f"match_bgp: negated property set {p_term!r} "
                        f"(pattern {i}) cannot take a closure modifier — "
                        "a SPARQL NPS is a single step; parenthesised "
                        "path grouping is not supported here"
                    )
                body = body[1:]
            if body.startswith("(") and body.endswith(")") and len(body) > 2:
                body = body[1:-1]
            alts = []
            for a in _split_path(body, "|"):
                bare, was_iri = _unbracket(a)
                if not was_iri and set(bare) & _PATH_META:
                    raise ValueError(
                        f"match_bgp: unsupported path syntax {a!r} in "
                        f"predicate {p_term!r} (pattern {i}) — wrap a "
                        "literal pred name containing path metacharacters "
                        "in <...>"
                    )
                alts.append(bare)
            if not core or not all(alts):
                raise ValueError(
                    f"match_bgp: bad predicate path {p_term!r} in "
                    f"pattern {i}"
                )
        else:
            plus = star = opt = neg = False
            alts = repeat = None

        def _identity_rows():
            # SPARQL zero-length path: every graph TERM matches itself,
            # plus any constant this pattern anchors on (the spec's ALP
            # evaluation starts from the given term whether or not it
            # occurs in the graph). Term-scale, one union-distinct —
            # identity is symmetric, so the ^ column swap is a no-op
            # on these rows.
            terms = (
                triples.select(F.col(subj).alias("_t"))
                .unionByName(triples.select(F.col(obj).alias("_t")))
                .distinct()
            )
            consts = [
                t for t in (pat[0], pat[2])
                if isinstance(t, str) and not is_var(t)
            ]
            if consts:
                terms = terms.unionByName(
                    triples.sparkSession.createDataFrame(
                        [(c,) for c in sorted(set(consts))], "_t string"
                    )
                ).distinct()
            return terms.select(
                F.col("_t").alias(subj),
                F.lit(p_term).alias(pred),
                F.col("_t").alias(obj),
            )

        if repeat:
            # bounded repetition pred{n,m}: paths of length n..m over
            # the (possibly alternated) step subgraph — a STATIC tree of
            # m-1 self-joins (_bounded_path), no eager fixpoint jobs,
            # composing with ^ (reversal commutes with repetition) and
            # | (the step scan is the union subgraph) exactly like the
            # closures; n == 0 unions in the zero-length identity per
            # the same ALP rule * uses.
            lo_, hi_ = repeat
            df = _bounded_path(
                triples.where(F.col(pred).isin(alts)).select(subj, obj),
                lo_, hi_, subj, obj,
            ).withColumn(pred, F.lit(p_term))
            if lo_ == 0:
                df = df.select(subj, pred, obj).unionByName(
                    _identity_rows()
                ).distinct()
        elif plus or star:
            # SPARQL property path pred+ : one-or-more steps. The
            # pred-filtered subgraph is closed by path doubling HERE, at
            # compile time (transitive_closure runs its fixpoint jobs
            # eagerly) — the closed pair set then joins like any other
            # pattern scan. The pred column is re-labeled with the FULL
            # original term so the constant filter below passes.
            df = transitive_closure(
                triples.where(F.col(pred).isin(alts)).select(subj, obj),
                src=subj,
                dst=obj,
            ).withColumn(pred, F.lit(p_term))
            if star:  # pred* = pred+ ∪ zero-length
                df = df.select(subj, pred, obj).unionByName(
                    _identity_rows()
                ).distinct()
        elif opt:
            # pred? = one step ∪ zero-length
            df = (
                triples.where(F.col(pred).isin(alts))
                .select(subj, F.lit(p_term).alias(pred), obj)
                .unionByName(_identity_rows())
                .distinct()
            )
        elif neg:
            # negated property set !p / !(p|q): ONE scan keeping every
            # edge whose pred is NOT in the set — the SPARQL NPS, a
            # single not-isin filter, never a diff of scans
            df = triples.where(~F.col(pred).isin(alts)).select(
                subj, F.lit(p_term).alias(pred), obj
            )
        elif alts is not None and (len(alts) > 1 or p_term != alts[0]):
            # alternation and/or bare inverse: one scan with an isin
            # pushdown filter (single isin is a plain equality filter),
            # pred re-labeled to the FULL term so the constant filter
            # below matches.
            df = triples.where(F.col(pred).isin(alts)).select(
                subj, F.lit(p_term).alias(pred), obj
            )
        else:
            df = triples.select(subj, pred, obj)
        cols, seen, n_const = [], {}, 0
        for col, term in zip(term_cols, pat):
            if is_var(term):
                v = var_name(term)
                if v in seen:  # repeated variable: same-row equality
                    df = df.where(F.col(col) == F.col(seen[v]))
                else:
                    seen[v] = col
                    cols.append(F.col(col).alias(v))
            else:
                df = df.where(F.col(col) == F.lit(term))
                n_const += 1
        if not seen:
            raise ValueError(
                f"match_bgp: pattern {i} binds no variable (pure "
                "existence checks are not bindings): {pat!r}"
            )
        compiled.append((frozenset(seen), n_const, df.select(*cols)))

    # greedy join order: most selective (most constants) seed, then any
    # pattern connected to the bound variable set
    compiled.sort(key=lambda t: (-t[1], sorted(t[0])))
    bound_vars, _, bound = compiled[0]
    todo = list(compiled[1:])
    while todo:
        pick = next(
            (t for t in todo if t[0] & bound_vars),
            None,
        )
        if pick is None:
            if not allow_cartesian:
                raise ValueError(
                    f"match_bgp: {what} split into disconnected variable "
                    "groups — a cartesian product; pass "
                    "allow_cartesian=True to run it anyway"
                )
            pick = todo[0]
            bound = bound.crossJoin(pick[2])
        else:
            shared = sorted(pick[0] & bound_vars)
            bound = bound.join(pick[2], on=shared)
        bound_vars = bound_vars | pick[0]
        todo.remove(pick)
    internal = {v for v in bound_vars if v.startswith("__seq")}
    if internal:
        keep = frozenset(bound_vars - internal)
        if not keep:
            raise ValueError(
                f"match_bgp: {what} bind no variable beyond the "
                "sequence-path internals (pure existence checks are not "
                "bindings)"
            )
        # project the fresh sequence variables away WITHOUT distinct —
        # SPARQL's sequence-path translation keeps the multiplicities
        # of the projected solutions (set semantics is applied, if
        # asked for, by the caller at query level)
        bound_vars, bound = keep, bound.select(*sorted(keep))
    return bound_vars, bound


def match_bgp(
    triples: DataFrame,
    patterns: list,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    distinct: bool = True,
    allow_cartesian: bool = False,
    optional: list | None = None,
    filters: list | None = None,
    minus: list | None = None,
    exists: list | None = None,
    not_exists: list | None = None,
    values: tuple | None = None,
    bind: list | None = None,
    order_by: list | None = None,
    limit: int | None = None,
    offset: int | None = None,
) -> DataFrame:
    """Conjunctive triple-pattern matching over the materialized KG —
    the SPARQL basic-graph-pattern (BGP) core, compiled to DataFrame
    self-joins so Catalyst owns the physical plan.

    ``patterns`` is a list of ``(s, p, o)`` term triples; a term
    starting with ``?`` is a variable, anything else a constant. The
    result has one column per distinct variable (without the ``?``),
    one row per binding; ``distinct=True`` gives SPARQL
    ``SELECT DISTINCT`` semantics (the default here — the canonical
    triple set is itself a set).

    Compilation: each pattern becomes one scan of the triple table with
    its constant terms as pushdown filters (a constant predicate prunes
    at the parquet scan — and prunes whole partitions when the table is
    written partitioned/bucketed by ``pred``, the classic RDF layout);
    patterns are then joined greedily — most-constant pattern first,
    then always a pattern sharing >= 1 variable with the bound set,
    equi-joined on the shared variables. Disjoint pattern groups would
    need a cartesian product; that's refused unless
    ``allow_cartesian=True`` (at KG scale an accidental cross of two
    open patterns is a job-killer, not a query).

    ``optional`` is a list of pattern GROUPS with SPARQL ``OPTIONAL``
    semantics: each group is compiled like ``patterns`` (internally
    equi-joined) and then LEFT-joined to the required bindings on their
    shared variables — bindings survive with NULLs where the group
    found no match. Each group must share >= 1 variable with the
    required patterns (an unanchored OPTIONAL is a cartesian, refused),
    and groups may not rebind each other's optional-only variables
    (join-on-NULL semantics differ between SPARQL engines; this keeps
    the compilation unambiguous).

    A variable repeated WITHIN one pattern (e.g. ``("?x", "p", "?x")``)
    becomes a same-row equality filter. Constant predicates support the
    core SPARQL property-path forms: a trailing ``+``
    (e.g. ``"precedes+"``) is the one-or-more path — the pred-filtered
    subgraph is transitively closed (path doubling,
    :func:`transitive_closure` — so the closure's fixpoint jobs run
    EAGERLY when this function is called) and the closed pair set joins
    like an ordinary pattern, with the same output-bound caveat; a
    leading ``^`` (``"^stores"``) is the inverse path — the pattern's
    subject and object swap roles, a zero-cost column remap; ``|``
    (``"appliesTo|emits"``) is alternation — ONE scan with an ``isin``
    pushdown filter, never a union of scans; trailing ``*``
    (zero-or-more) is the ``+`` closure unioned with the zero-length
    identity, and trailing ``?`` (zero-or-one) the single step unioned
    with it — the identity being, per the SPARQL ALP evaluation, every
    graph TERM matched to itself plus any constant the pattern anchors
    on (term-scale, one union-distinct; an open ``("?x", "p*", "?y")``
    therefore deliberately returns every term reflexively, as the spec
    requires). They compose without parentheses — the whole constant
    parses as ``[^] names [+*?]``, so ``"^p|q+"`` means ``^((p|q)+)``,
    which equals ``((^p)|(^q))+`` because closure commutes with edge
    reversal (and identity is symmetric, so the same holds for ``*`` /
    ``?``); other groupings need separate patterns.

    Three more SPARQL path forms complete the grammar. ``/`` is the
    sequence path (``"imports/defines"``): the pattern is rewritten —
    exactly as the spec's algebra translation does — into chained
    patterns joined through fresh internal variables that are projected
    away before the query-level stages, preserving solution
    multiplicities; each step parses with the full per-step grammar, so
    ``"^a/b+"`` means ``(^a)/(b+)`` (SPARQL gives ``^`` and closures
    tighter binding than ``/``). A BARE ``|`` inside a sequence step is
    refused because SPARQL binds ``|`` looser than ``/`` (``a/b|c`` is
    ``(a/b)|c``, inexpressible as one chain) — parenthesise a per-step
    alternation (``"a/(b|c)"``, one isin scan for that step);
    alternated sequences are not supported. ``!`` is the
    negated property set (``"!p"``, ``"!(p|q)"``): ONE scan keeping
    every edge whose pred is NOT in the set; per the SPARQL grammar an
    NPS is a single step, so closure modifiers on it are refused.
    ``<...>`` quotes a literal pred name (a SPARQL IRI) — path
    metacharacters inside the brackets are literal, so
    ``"<http://a/b>/p"`` is a two-step sequence whose first pred is
    the IRI itself; unquoted names containing path metacharacters are
    refused rather than silently misparsed.

    ``filters`` is a list of SPARQL ``FILTER`` expressions as SQL
    boolean strings over the required-bound variable columns (without
    the ``?``), e.g. ``"s != o"`` or ``"length(t) > 4"`` — each becomes
    one ``Filter`` node over the joined bindings, so Catalyst pushes
    conjuncts that mention a single pattern's variables down into that
    pattern's scan (the classic FILTER-into-BGP optimization, for
    free). Expressions may reference required variables only — an
    unknown name fails analysis immediately with the bound set in the
    message; referencing OPTIONAL-only variables is therefore refused
    by construction, which sidesteps SPARQL's unbound-is-error
    three-valued edge cases.

    ``minus`` is a list of pattern GROUPS with SPARQL ``MINUS``
    semantics: each group is compiled like ``patterns`` and the
    required bindings that agree with ANY group solution on the shared
    variables are removed — exactly one ``left_anti`` equi-join per
    group, no negation flag threaded through row space. A group
    sharing NO variable with the required patterns is refused: the
    SPARQL spec makes a domain-disjoint MINUS a silent no-op (every
    solution survives), which at query-authoring time is almost always
    a variable-name typo — the error message cites the rule so a user
    who truly wants the no-op can just delete the group.

    ``exists`` / ``not_exists`` are lists of pattern GROUPS with SPARQL
    ``FILTER EXISTS`` / ``FILTER NOT EXISTS`` semantics: a binding
    survives iff the group, correlated on its shared variables, has
    (resp. lacks) at least one solution — one ``left_semi`` /
    ``left_anti`` equi-join per group. Unlike MINUS, a domain-disjoint
    group is well-defined in SPARQL (the inner pattern is evaluated
    uncorrelated and the filter is all-or-nothing), so it is supported:
    one driver-side emptiness probe of the group decides between
    identity and the empty result. On nonnull required bindings the
    shared-variable case of ``not_exists`` coincides with ``minus`` —
    the forms diverge in standard SPARQL only via unbound variables and
    inner FILTERs, neither of which reaches this restricted surface.

    ``values`` is ``(vars, rows)`` with SPARQL ``VALUES`` semantics
    restricted to required-bound variables: an inline table of allowed
    term combinations inner-joined (broadcast — VALUES blocks are
    query-literal-sized) against the bindings. Variable names may
    carry or omit the ``?``; rows must match the vars arity; ``UNDEF``
    wildcards are not supported (filter per-variable instead).

    ``bind`` is a list of ``(sql_expr, name)`` pairs with SPARQL
    ``BIND (expr AS ?v)`` semantics: each extends every binding with a
    computed column (the algebra's ``Extend``) — pure projections, zero
    extra plan nodes beyond the expression itself. Expressions may
    reference required variables and earlier binds; a name that
    collides with an existing variable is refused (SPARQL makes
    rebinding a syntax error). Binds are evaluated after the
    row-removing stages and BEFORE ``DISTINCT``, so bound columns
    participate in the solution-set identity exactly as the spec's
    group translation has it.

    ``order_by`` / ``limit`` / ``offset`` are the SPARQL solution
    modifiers, applied last (after OPTIONAL): ``order_by`` is a list of
    SQL sort expressions over the output columns (``"n DESC"``, ``"s"``
    ...); ``limit``/``offset`` require ``order_by`` — an unordered
    LIMIT is engine-nondeterministic on a distributed table, which this
    surface refuses rather than silently varying between runs (give a
    total order for reproducible results). ``ORDER BY + LIMIT``
    compiles to Spark's ``TakeOrderedAndProject`` — a per-partition
    top-k plus one k-row merge, never a global sort of the full
    solution set.

    Algebra order (matching the SPARQL group translation): required
    BGP join -> VALUES -> FILTER -> EXISTS -> NOT EXISTS -> MINUS ->
    BIND -> DISTINCT -> OPTIONAL left-joins -> ORDER/OFFSET/LIMIT.
    Every pre-DISTINCT stage only removes rows and adds no columns
    (the row-removing stages therefore commute — the order is the
    spec's, not load-bearing), so everything downstream (the
    distinct's Exchange, the OPTIONAL joins) sees the already-thinned
    binding set. Reference analogue:
    none — the reference constructs triples but has no query layer over
    them; cited for parity accounting.
    """
    if not patterns:
        raise ValueError("match_bgp: need at least one pattern")
    bound_vars, bound = _compile_bgp(
        triples, patterns, subj, pred, obj, allow_cartesian
    )
    if values is not None:
        vvars, vrows = values
        vvars = [v[1:] if v.startswith("?") else v for v in vvars]
        unknown = set(vvars) - bound_vars
        if not vvars or unknown:
            raise ValueError(
                f"match_bgp: values variables {sorted(unknown) or vvars} "
                f"not among the required-bound {sorted(bound_vars)}"
            )
        bad = [r for r in vrows if len(r) != len(vvars)]
        if bad:
            raise ValueError(
                f"match_bgp: values row {bad[0]!r} does not match the "
                f"{len(vvars)} declared variables"
            )
        vdf = triples.sparkSession.createDataFrame(
            [tuple(r) for r in vrows],
            ", ".join(f"{v} string" for v in vvars),
        ).distinct()
        bound = bound.join(F.broadcast(vdf), on=vvars)
    for fi, expr in enumerate(filters or []):
        try:
            bound = bound.where(F.expr(expr))
        except Exception as exc:  # AnalysisException: unresolved column
            raise ValueError(
                f"match_bgp: filter {fi} ({expr!r}) failed analysis over "
                f"the required-bound variables {sorted(bound_vars)} — "
                "FILTER may reference required variables only"
            ) from exc
    for want, groups in ((True, exists), (False, not_exists)):
        kind = "exists" if want else "not_exists"
        for gi, group in enumerate(groups or []):
            gvars, gdf = _compile_bgp(
                triples, group, subj, pred, obj, allow_cartesian,
                what=f"{kind} group {gi}",
            )
            shared = sorted(gvars & bound_vars)
            if shared:
                bound = bound.join(
                    gdf.select(*shared).distinct(),
                    on=shared,
                    how="left_semi" if want else "left_anti",
                )
            elif gdf.isEmpty() == want:
                # uncorrelated EXISTS over an empty group / NOT EXISTS
                # over a nonempty one: all-or-nothing per the spec —
                # the probe is one limit-1 job over the group's scans
                bound = bound.limit(0)
    for gi, group in enumerate(minus or []):
        gvars, gdf = _compile_bgp(
            triples, group, subj, pred, obj, allow_cartesian,
            what=f"minus group {gi}",
        )
        shared = sorted(gvars & bound_vars)
        if not shared:
            raise ValueError(
                f"match_bgp: minus group {gi} shares no variable with "
                "the required patterns — per the SPARQL spec a "
                "domain-disjoint MINUS removes nothing; drop the group "
                "or fix the variable names"
            )
        bound = bound.join(gdf.select(*shared).distinct(), on=shared,
                           how="left_anti")
    for bi, item in enumerate(bind or []):
        try:
            expr, name = item
        except (TypeError, ValueError):
            raise ValueError(
                f"match_bgp: bind {bi} must be an (sql_expr, name) "
                f"pair, got {item!r}"
            ) from None
        if not isinstance(name, str) or not name.isidentifier():
            raise ValueError(f"match_bgp: bad bind name {name!r}")
        if name.lower() in {v.lower() for v in bound_vars}:
            # case-INSENSITIVE: Spark resolves columns case-insensitively
            # by default, so a bind named "S" would silently shadow a
            # variable "s" in every later expression and the projection
            raise ValueError(
                f"match_bgp: bind {bi} rebinds {name!r} — SPARQL BIND "
                "may only introduce a fresh variable (checked "
                "case-insensitively: Spark column resolution is "
                "case-insensitive)"
            )
        try:
            bound = bound.withColumn(name, F.expr(expr))
        except Exception as exc:
            raise ValueError(
                f"match_bgp: bind {bi} ({expr!r}) failed analysis over "
                f"{sorted(bound_vars)} — BIND may reference required "
                "variables and earlier binds only"
            ) from exc
        bound_vars = bound_vars | {name}
    all_vars = set(bound_vars)
    # OPTIONAL groups left-join AFTER the required distinct — SPARQL
    # evaluates OPTIONAL against the BGP solution multiset, and the
    # distinct-first order also keeps the left side minimal
    if distinct:
        bound = bound.select(*sorted(bound_vars)).distinct()
    opt_seen: set = set()
    for gi, group in enumerate(optional or []):
        gvars, gdf = _compile_bgp(
            triples, group, subj, pred, obj, allow_cartesian,
            what=f"optional group {gi}",
        )
        shared = sorted(gvars & bound_vars)
        if not shared:
            raise ValueError(
                f"match_bgp: optional group {gi} shares no variable with "
                "the required patterns — an unanchored OPTIONAL is a "
                "cartesian product"
            )
        new = gvars - bound_vars
        clash = new & opt_seen
        if clash:
            raise ValueError(
                f"match_bgp: optional group {gi} rebinds optional-only "
                f"variable(s) {sorted(clash)} from an earlier group"
            )
        opt_seen |= new
        if distinct:
            gdf = gdf.distinct()
        bound = bound.join(gdf, on=shared, how="left")
        all_vars |= gvars
    out = bound.select(*sorted(all_vars))
    if (limit is not None or offset is not None) and not order_by:
        raise ValueError(
            "match_bgp: limit/offset without order_by is "
            "nondeterministic on a distributed solution set — give a "
            "total sort order"
        )
    if order_by:
        try:
            out = out.orderBy(*[F.expr(e) for e in order_by])
        except Exception as exc:
            raise ValueError(
                f"match_bgp: order_by {order_by!r} failed analysis over "
                f"the output columns {sorted(all_vars)}"
            ) from exc
        if offset:
            out = out.offset(int(offset))
        if limit is not None:
            out = out.limit(int(limit))
    return out


def wl_fingerprints(
    quads: DataFrame,
    rounds: int = 2,
    graph: str = "graph",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    node_label: str | None = None,
) -> DataFrame:
    """Weisfeiler–Leman structural fingerprint per named graph — the
    KG-shaped dedup primitive: two documents whose extracted subgraphs
    are the same TEMPLATE (same edge-label structure, different entity
    names) hash to the same fingerprint, so template detection /
    boilerplate-KG dedup is one groupBy over this table. WL color
    refinement (Weisfeiler & Leman 1968; Shervashidze et al. 2011,
    WL-kernel) distinguishes everything except WL-equivalent graphs —
    strictly stronger than degree/triple-count profiles, not full
    isomorphism (document that to users; for R rounds it captures
    R-hop neighborhoods).

    Node colors start UNIFORM (or from ``node_label`` to make the hash
    entity-aware) and refine ``rounds`` times: each node's new color is
    the hash of its old color plus the SORTED multiset of
    ``(pred, direction, neighbor color)`` messages; the graph
    fingerprint is the hash of its sorted final color multiset. Every
    hash is ``sha2(..., 256)`` over deterministic sorted-string
    encodings, so the same construction runs verbatim in the SQL
    oracle (``string_agg ... ORDER BY``).

    Scale shape, per round: two edge-scale joins (colors onto each
    endpoint, keyed on (graph, node) — the partitioning every round
    reuses), one (graph, node)-keyed sort-aggregate building the
    message string, one left join back onto the node set (isolated or
    message-less nodes keep refining their own color). The final
    fingerprint is one (graph)-keyed sort-aggregate. Everything is
    native expressions — no Python in the path. Rounds are a static
    unrolled plan (no fixpoint): WL needs at most diameter rounds and
    template detection saturates at 2-3. Reference analogue: none;
    cited for parity accounting."""
    if rounds < 1:
        raise ValueError(f"wl_fingerprints: rounds must be >= 1, got {rounds}")
    g, s, p, o = graph, subj, pred, obj
    nodes = (
        quads.select(F.col(g).alias("_g"), F.col(s).alias("_v"))
        .unionByName(quads.select(F.col(g).alias("_g"), F.col(o).alias("_v")))
        .distinct()
    )
    if node_label is not None:
        raise NotImplementedError(
            "wl_fingerprints: node_label seeding is reserved — colors "
            "start uniform so the fingerprint is purely structural "
            "(template detection); seed support lands with a use case"
        )
    colors = nodes.withColumn("_c", F.lit("0"))
    edges = quads.select(
        F.col(g).alias("_g"),
        F.col(s).alias("_s"),
        F.col(p).alias("_p"),
        F.col(o).alias("_o"),
    )
    for _ in range(rounds):
        out_msgs = edges.join(
            colors.select(
                F.col("_g"), F.col("_v").alias("_o"), F.col("_c").alias("_nc")
            ),
            ["_g", "_o"],
        ).select(
            "_g",
            F.col("_s").alias("_v"),
            F.concat(F.col("_p"), F.lit(">out>"), F.col("_nc")).alias("_m"),
        )
        in_msgs = edges.join(
            colors.select(
                F.col("_g"), F.col("_v").alias("_s"), F.col("_c").alias("_nc")
            ),
            ["_g", "_s"],
        ).select(
            "_g",
            F.col("_o").alias("_v"),
            F.concat(F.col("_p"), F.lit(">in>"), F.col("_nc")).alias("_m"),
        )
        msgs = (
            out_msgs.unionByName(in_msgs)
            .groupBy("_g", "_v")
            .agg(
                F.array_join(F.array_sort(F.collect_list("_m")), ",").alias(
                    "_ms"
                )
            )
        )
        colors = (
            colors.join(msgs, ["_g", "_v"], "left")
            .select(
                "_g",
                "_v",
                F.sha2(
                    F.concat(
                        F.col("_c"), F.lit("|"), F.coalesce("_ms", F.lit(""))
                    ),
                    256,
                ).alias("_c"),
            )
        )
    return (
        colors.groupBy("_g")
        .agg(
            F.sha2(
                F.array_join(F.array_sort(F.collect_list("_c")), ","), 256
            ).alias("fingerprint"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
        .select(F.col("_g").alias(graph), "fingerprint", "n_nodes")
    )


def structural_duplicate_graphs(
    quads: DataFrame,
    rounds: int = 2,
    graph: str = "graph",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    min_group: int = 2,
) -> DataFrame:
    """Groups of named graphs with IDENTICAL WL fingerprints — the
    template-dedup report over :func:`wl_fingerprints`: one
    fingerprint-keyed aggregate returning (fingerprint, n_graphs,
    n_nodes, graphs sorted). Graph lists are per-template scale; a
    pathological corpus where one template covers everything makes one
    big row — cap consumers on n_graphs, not here (the report IS the
    place you find that out)."""
    fps = wl_fingerprints(quads, rounds, graph, subj, pred, obj)
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_graphs"),
            F.min("n_nodes").alias("n_nodes"),
            F.array_join(
                F.array_sort(F.collect_list(graph)), ","
            ).alias("graphs"),
        )
        .where(F.col("n_graphs") >= F.lit(min_group))
    )


def match_quads(
    quads: DataFrame,
    patterns: list | None = None,
    graphs: list | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    graph: str = "graph",
    distinct: bool = True,
    allow_cartesian: bool = False,
    filters: list | None = None,
) -> DataFrame:
    """SPARQL named-graph matching over an RDF DATASET — a quad table
    ``(graph, subj, pred, obj)`` such as a per-document/per-repo
    provenance-scoped KG materializes.

    ``patterns`` are default-graph triple patterns evaluated against
    the UNION of all graphs (the "union default graph" convention of
    Jena TDB / Virtuoso — the natural reading when graphs are
    provenance scopes rather than disjoint datasets); they support the
    FULL property-path grammar of :func:`match_bgp`, since the union
    projection is an ordinary triple table.

    ``graphs`` is a list of ``(graph_term, patterns)`` blocks — SPARQL
    ``GRAPH g { ... }``:

    - a CONSTANT graph term compiles the block against the
      graph-filtered projection (the constant is a pushdown filter —
      with the quad table written partitioned by ``graph``, whole
      partitions prune). Full path grammar, again via
      :func:`match_bgp`'s compiler.
    - a VARIABLE graph term (``"?g"``) binds the graph name per
      solution: every pattern in the block scans the quad table with
      the graph column projected onto the shared variable, so the
      block's patterns are forced into the SAME graph by the ordinary
      equi-join on ``?g`` — no correlated subquery, no per-graph loop;
      at 100 TB this is the same join-on-key plan as any other
      variable. Property paths inside a variable-graph block are
      refused: a per-graph closure is a GROUPED fixpoint (one closure
      per graph value), which this engine deliberately does not hide
      behind a pattern string — filter to a constant graph first.

    All compiled units (default patterns, blocks) then join greedily on
    shared variables exactly like :func:`match_bgp`'s BGP — disjoint
    variable groups are refused unless ``allow_cartesian=True``.
    ``filters`` are SPARQL FILTER expressions as SQL boolean strings
    over the bound variables (graph variables included) — same
    semantics and pushdown behavior as :func:`match_bgp`'s. Output
    has one column per variable (graph variables included);
    ``distinct`` gives SELECT DISTINCT semantics. Reference analogue:
    none — the reference has no query layer; cited for parity
    accounting."""

    def is_var(t) -> bool:
        return isinstance(t, str) and t.startswith("?")

    def var_name(t: str) -> str:
        name = t[1:]
        if not name.isidentifier():
            raise ValueError(f"match_quads: bad variable name {t!r}")
        return name

    units = []  # (vars frozenset, n_constants, DataFrame)
    triple_view = quads.select(subj, pred, obj)
    for i, pat in enumerate(patterns or []):
        vs, df = _compile_bgp(
            triple_view, [pat], subj, pred, obj, allow_cartesian,
            what=f"default pattern {i}",
        )
        n_const = sum(0 if is_var(t) else 1 for t in pat)
        units.append((vs, n_const, df))
    for bi, block in enumerate(graphs or []):
        try:
            gterm, bpats = block
        except (TypeError, ValueError):
            raise ValueError(
                f"match_quads: graphs[{bi}] must be a "
                f"(graph_term, patterns) pair, got {block!r}"
            ) from None
        if not bpats:
            raise ValueError(f"match_quads: graphs[{bi}] has no patterns")
        if not is_var(gterm):
            scoped = quads.where(F.col(graph) == F.lit(gterm)).select(
                subj, pred, obj
            )
            vs, df = _compile_bgp(
                scoped, bpats, subj, pred, obj, allow_cartesian,
                what=f"graph block {bi}",
            )
            units.append((vs, 1 + len(bpats), df))
            continue
        gv = var_name(gterm)
        for pi, pat in enumerate(bpats):
            if len(pat) != 3:
                raise ValueError(
                    f"match_quads: graphs[{bi}] pattern {pi} is not a "
                    f"term triple: {pat!r}"
                )
            p_term = pat[1]
            if (
                isinstance(p_term, str)
                and not is_var(p_term)
                and set(p_term) & _PATH_META
            ):
                bare, was_iri = _unbracket(p_term)
                if not was_iri:
                    raise ValueError(
                        f"match_quads: property path {p_term!r} inside "
                        f"variable-graph block {bi} — a per-graph "
                        "closure is a grouped fixpoint; use a constant "
                        "graph term (or quote a literal pred in <...>)"
                    )
                p_term = bare
            df = quads
            cols, seen, n_const = [], {}, 0
            for col, term in zip(
                (graph, subj, pred, obj), (gterm, pat[0], p_term, pat[2])
            ):
                if is_var(term):
                    v = var_name(term)
                    if v in seen:
                        df = df.where(F.col(col) == F.col(seen[v]))
                    else:
                        seen[v] = col
                        cols.append(F.col(col).alias(v))
                else:
                    df = df.where(F.col(col) == F.lit(term))
                    n_const += 1
            units.append((frozenset(seen), n_const, df.select(*cols)))
    if not units:
        raise ValueError("match_quads: need at least one pattern")

    units.sort(key=lambda t: (-t[1], sorted(t[0])))
    bound_vars, _, bound = units[0]
    todo = list(units[1:])
    while todo:
        pick = next((t for t in todo if t[0] & bound_vars), None)
        if pick is None:
            if not allow_cartesian:
                raise ValueError(
                    "match_quads: patterns split into disconnected "
                    "variable groups — a cartesian product; pass "
                    "allow_cartesian=True to run it anyway"
                )
            pick = todo[0]
            bound = bound.crossJoin(pick[2])
        else:
            bound = bound.join(pick[2], on=sorted(pick[0] & bound_vars))
        bound_vars = bound_vars | pick[0]
        todo.remove(pick)
    for fi, expr in enumerate(filters or []):
        try:
            bound = bound.where(F.expr(expr))
        except Exception as exc:
            raise ValueError(
                f"match_quads: filter {fi} ({expr!r}) failed analysis "
                f"over the bound variables {sorted(bound_vars)}"
            ) from exc
    out = bound.select(*sorted(bound_vars))
    return out.distinct() if distinct else out


def construct_triples(
    bindings: DataFrame,
    templates: list,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    distinct: bool = True,
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: materialize NEW triples from a binding
    frame (typically :func:`match_bgp` output) through ``(s, p, o)``
    templates — the rule-based KG enrichment step (derive ``runsOn``
    from an executes/appliesTo/stores triangle, flatten a 2-hop path
    into one edge, emit inferred types).

    Each template term is either ``?var`` (a ``bindings`` column) or a
    constant literal; each template contributes one projection of the
    binding frame and the results union — all whole-stage-codegen
    projections over ONE pass of the bindings, plus one distinct when
    ``distinct=True`` (CONSTRUCT's graph-merge semantics: a graph is a
    set). Rows where any templated term is NULL are dropped, matching
    SPARQL's incomplete-solution rule for OPTIONAL-derived NULLs.

    A ``_:label`` term is a BLANK-NODE template (SPARQL CONSTRUCT's
    third term kind): it instantiates one fresh node per solution —
    skolemized deterministically as
    ``_:label_<sha256(all binding columns)[:16]>``, so the same
    solution yields the same node across every template (the spec's
    within-solution sharing) and different solutions never collide.
    Skolemization is per DISTINCT solution: a bag-semantics duplicate
    solution reuses its twin's node (the standard skolem reading;
    spec-fresh bnodes per duplicate would make the output
    non-deterministic anyway). NULL binding columns hash as a reserved
    sentinel, not as absent, so NULL-shift twins cannot collide.

    Reference analogue: none — cited for parity accounting.
    """
    if not templates:
        raise ValueError("construct_triples: need at least one template")

    _solution_hash = F.substring(
        F.sha2(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in bindings.columns
                ],
            ),
            256,
        ),
        1,
        16,
    )

    def term_col(t, i):
        if isinstance(t, str) and t.startswith("_:"):
            label = t[2:]
            if not label or not label.replace("_", "").isalnum():
                raise ValueError(
                    f"construct_triples: template {i} bnode label {t!r} "
                    "must be alphanumeric/underscore"
                )
            return F.concat(F.lit("_:" + label + "_"), _solution_hash)
        if isinstance(t, str) and t.startswith("?"):
            v = t[1:]
            if v not in bindings.columns:
                raise ValueError(
                    f"construct_triples: template {i} references ?{v}, "
                    f"not a binding column {bindings.columns}"
                )
            return F.col(v)
        return F.lit(t)

    parts = []
    for i, tpl in enumerate(templates):
        if len(tpl) != 3:
            raise ValueError(
                f"construct_triples: template {i} is not a term triple: {tpl!r}"
            )
        s, p, o = (term_col(t, i) for t in tpl)
        parts.append(
            bindings.select(s.alias(subj), p.alias(pred), o.alias(obj)).where(
                F.col(subj).isNotNull()
                & F.col(pred).isNotNull()
                & F.col(obj).isNotNull()
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.distinct() if distinct else out


def update_where(
    triples: DataFrame,
    patterns: list,
    delete: list | None = None,
    insert: list | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    with_delta: bool = False,
    **match_kwargs,
):
    """SPARQL Update ``DELETE/INSERT WHERE`` over the materialized KG —
    the graph-MUTATION form that completes the query layer (SELECT =
    :func:`match_bgp`, CONSTRUCT = :func:`construct_triples`): evaluate
    the WHERE pattern group ONCE against the current graph, instantiate
    the ``delete`` and ``insert`` templates from the same solution set,
    and return ``(G \\ D) ∪ I`` — the spec's
    order (both template sets computed against the PRE-update graph;
    deletes applied before inserts, so a triple in both sets survives).

    ``patterns`` and ``match_kwargs`` (filters / optional / minus /
    values / ...) pass straight to :func:`match_bgp`; ``delete`` /
    ``insert`` are :func:`construct_triples` template lists (``?var``
    terms bind solution columns, other terms are constants; solutions
    with a NULL templated term drop per SPARQL's incomplete-solution
    rule). At least one of the two must be non-empty.

    The input graph is treated as a SET (an RDF graph is one; the
    canonical triple tables here are distinct by construction — rows
    duplicated in a non-set input pass through untouched unless
    deleted). Physical shape: one binding-frame computation, then one
    hash anti-join of G against the delete set on ``(s, p, o)`` and one
    anti-join of the insert set against the survivors (set-insert
    without re-distincting the 100-TB graph — D and I are
    solution-scale, so AQE broadcasts them when small while G itself is
    never shuffled beyond the join's own exchange). ``with_delta=True``
    additionally returns the applied delta frames
    ``(new_graph, deleted, inserted)`` — deleted = D ∩ G, inserted =
    I \\ (G \\ D) — the exact increments a downstream persisted
    index/maintenance consumer needs.

    Reference analogue: none — cited for parity accounting.
    """
    delete = list(delete or [])
    insert = list(insert or [])
    if not delete and not insert:
        raise ValueError("update_where: need delete and/or insert templates")
    graph = triples.select(subj, pred, obj)
    # cut the solution frame ONCE (guide §2.4): both template
    # instantiations (delete + insert) pull from ``bindings``, and a
    # lazy plan re-ran the whole WHERE evaluation — k pattern scans of
    # the graph plus k-1 joins — per template set (measured 2x on the
    # bench shape, worse when the input graph is itself a lazy
    # pipeline). The solution set is solution-scale by the operator's
    # own contract (templates instantiate row-per-solution), so the
    # materialization is bounded.
    bindings = fs.cut_lineage(
        match_bgp(
            triples, patterns, subj=subj, pred=pred, obj=obj, **match_kwargs
        )
    )
    cols = [subj, pred, obj]
    if delete:
        d_set = construct_triples(
            bindings, delete, subj=subj, pred=pred, obj=obj, distinct=True
        )
        survivors = graph.join(d_set, on=cols, how="left_anti")
    else:
        d_set = None
        survivors = graph
    if insert:
        i_set = construct_triples(
            bindings, insert, subj=subj, pred=pred, obj=obj, distinct=True
        )
        i_new = i_set.join(survivors, on=cols, how="left_anti")
        new_graph = survivors.unionByName(i_new)
    else:
        i_new = None
        new_graph = survivors
    if not with_delta:
        return new_graph
    empty = graph.limit(0)
    deleted = (
        graph.join(d_set, on=cols, how="left_semi").distinct()
        if d_set is not None
        else empty
    )
    inserted = i_new if i_new is not None else empty
    return new_graph, deleted, inserted


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    directed: bool = False,
    max_hops: int = 20,
) -> DataFrame:
    """Betweenness centrality accumulated over a source set — Brandes'
    algorithm (2001) with the Brandes–Pich (2007) sampled-source
    approximation: exact when ``sources`` is every vertex, an unbiased
    |V|/|S|-scalable estimate when it's a sample. The bridge-vertex
    signal the rest of the centrality family (degree/PageRank/HITS)
    cannot see: entities that connect communities without being hubs.

    Level-synchronous distributed Brandes, unit weights:

    - Forward (per hop, like ``bfs_levels``): frontier ⋈ adjacency +
      one (source, vertex) aggregate summing path counts sigma, one
      anti-join against the visited set; per-level frontiers are
      retained (lineage-cut) because the backward pass consumes them.
    - Backward (per level, deepest first): each level joins its
      successor level through the adjacency once and aggregates the
      dependency ``delta(v) = Σ_w sigma(v)/sigma(w) · (1 + delta(w))``
      per (source, vertex).

    Every join/aggregate is keyed on (source, vertex) — the hash
    partitioning is reused across all ~2·diameter rounds and no stage
    is ever quadratic in degree. Work scales with |S|·(touched edges),
    the textbook O(|S|·|E|) sliced into diameter-many barriers.

    Determinism: sigma is an exact integer count; delta is quantized to
    10 dp per level (the ``pagerank`` discipline) so partial-aggregation
    order cannot drift engines apart; the returned ``betweenness`` is
    the per-vertex sum over sources and levels rounded to 6 dp, one row
    per vertex that appears in the edge set (0.0 where no shortest path
    passes through). Endpoint vertices accumulate nothing, per Brandes.

    Reference analogue: none — cited for parity accounting.
    """
    from pyspark.sql import Observation

    if max_hops < 1:
        raise ValueError(f"betweenness: max_hops must be >= 1, got {max_hops}")
    if directed:
        adj = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        und = _undirected_edges(edges, src, dst)
        adj = und.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            und.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
    adj = adj.where(F.col("u") != F.col("v")).distinct()
    adj = fs.cut_lineage(adj)
    nodes_raw = (
        adj.select(F.col("u").alias("vertex"))
        .unionByName(adj.select(F.col("v").alias("vertex")))
        .distinct()
    )
    # ~2·eccentricity rounds of (source, vertex)-keyed joins/aggregates
    # follow; hashing and shuffling long keys instead of arbitrary-width
    # vertex strings cuts every round's bytes and hash cost (guide §2.3
    # "narrower types"), so vertices are dictionary-encoded ONCE up
    # front and decoded once at the end. The code is internal to this
    # run (monotonically_increasing_id over the cut nodes frame, itself
    # cut so it never re-derives) — a bijection, so sigma counts, level
    # sets and the quantized delta sums are unchanged.
    vmap = fs.cut_lineage(
        nodes_raw.select("vertex", F.monotonically_increasing_id().alias("_nid"))
    )
    adj = fs.cut_lineage(
        adj.join(vmap.select(F.col("vertex").alias("u"),
                             F.col("_nid").alias("_nu")), "u")
        .join(vmap.select(F.col("vertex").alias("v"),
                          F.col("_nid").alias("_nv")), "v")
        .select(F.col("_nu").alias("u"), F.col("_nv").alias("v"))
    )
    nodes = vmap.select(F.col("_nid").alias("vertex"))
    seed_col = sources.columns[0]
    level0 = fs.cut_lineage(
        sources.select(F.col(seed_col).alias("s"))
        .distinct()
        .join(vmap.withColumnRenamed("vertex", "s"), "s")
        .select(
            F.col("_nid").alias("s"),
            F.col("_nid").alias("v"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    levels = [level0]
    visited = level0.select("s", "v")
    for hop in range(1, max_hops + 2):
        prev = levels[-1]
        obs = Observation()
        # aggregate sigma BEFORE the visited anti-join: a visited (s, v)
        # loses ALL its expanded rows either way, so filtering after the
        # sum is the same set — but the anti-join input shrinks from
        # expanded-edge scale to frontier scale and reuses the groupBy's
        # (s, v) hash partitioning instead of forcing its own exchange.
        nxt = (
            prev.join(adj, prev["v"] == adj["u"])
            .select("s", adj["v"].alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["s", "v"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        nxt = fs.cut_lineage(nxt)
        if obs.get["n"] == 0:
            break
        if hop > max_hops:
            # frontier still alive past max_hops: deeper shortest paths
            # exist and every delta upstream of them would be wrong
            raise RuntimeError(
                f"betweenness: BFS not drained within max_hops={max_hops}; "
                "raise max_hops (needs >= the graph's source eccentricity)"
            )
        levels.append(nxt)
        # visited stays a PLAIN union of the already-cut level frames
        # (the bfs_levels discipline): each hop's plan is K checkpoint
        # scans, so re-cutting it was one extra O(|visited|)
        # materialization job per hop for no lineage benefit
        visited = visited.unionByName(nxt.select("s", "v"))
    # backward dependency accumulation, deepest level first
    deltas = []
    delta_next = levels[-1].select(
        "s", "v", "sigma", F.lit(0.0).alias("delta")
    )
    for lvl in range(len(levels) - 2, -1, -1):
        cur = levels[lvl]
        succ = delta_next.select(
            F.col("s").alias("ws"),
            F.col("v").alias("wv"),
            F.col("sigma").alias("wsigma"),
            F.col("delta").alias("wdelta"),
        )
        contrib = (
            cur.join(adj, cur["v"] == adj["u"])
            .join(
                succ,
                (F.col("ws") == cur["s"]) & (F.col("wv") == adj["v"]),
            )
            .groupBy(cur["s"].alias("s"), cur["v"].alias("v"))
            .agg(
                F.round(
                    F.sum(
                        F.col("sigma") / F.col("wsigma") * (1.0 + F.col("wdelta"))
                    ),
                    10,
                ).alias("delta")
            )
        )
        delta_next = fs.cut_lineage(
            cur.join(contrib, ["s", "v"], "left").select(
                "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
        )
        if lvl >= 1:  # sources accumulate nothing
            deltas.append(delta_next.select("v", "delta"))
    if not deltas:
        return vmap.select("vertex", F.lit(0.0).alias("betweenness"))
    acc = deltas[0]
    for d in deltas[1:]:
        acc = acc.unionByName(d)
    # undirected graphs: each unordered (s, t) pair was walked from both
    # endpoints when sources cover both — the standard convention halves
    half = 1.0 if directed else 0.5
    bc = acc.groupBy("v").agg(
        F.round(F.sum("delta") * F.lit(half), 6).alias("betweenness")
    )
    # decode the internal vertex code back to the caller's ids
    return vmap.join(bc, vmap["_nid"] == bc["v"], "left").select(
        "vertex", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def transitive_closure_append(
    closure: DataFrame,
    new_edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    max_rounds: int = 30,
) -> DataFrame:
    """Incremental transitive closure: fold a batch of NEW edges into a
    previously computed closure — the daily-ontology-update shape, in
    the same persisted-result/merge family as the dedup indexes and
    ``incremental_components``.

    Correctness rests on closure idempotence: ``TC(TC(E) ∪ D) =
    TC(E ∪ D)``, so re-running path doubling over the stored pair set
    plus the delta is bit-equal to a full recompute. Efficiency rests
    on the stored pairs already collapsing every old path to length 1:
    doubling only has to bridge chains that alternate through NEW
    edges, so it converges in ~log2(delta-induced depth) rounds — a
    single added edge between two closed ontologies closes in 2 rounds
    regardless of how deep either side is. The history is re-SHUFFLED
    (the join is over the whole pair set) but never re-DERIVED: the
    original edge list is not re-read and old chains are never
    re-walked.

    Reference analogue: none — cited for parity accounting.
    """
    return transitive_closure(
        closure.select(src, dst).unionByName(new_edges.select(src, dst)),
        src=src,
        dst=dst,
        max_rounds=max_rounds,
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    directed: bool = False,
    max_hops: int = 20,
) -> DataFrame:
    """Harmonic centrality ``H(v) = Σ_s 1/d(s, v)`` accumulated over a
    source set (Boldi–Vigna's axiom-respecting replacement for
    closeness — finite on disconnected graphs, which canonical KGs
    always are): exact on all sources, an unbiased sampled estimate
    otherwise. The distance-based complement of the flow-based
    centralities (PageRank/HITS/betweenness): high-H(v) entities sit
    near everything even when no shortest path routes THROUGH them.

    One multi-source BFS carrying the source id — per hop ONE frontier
    equi-join through the adjacency + ONE (source, vertex) distinct +
    ONE anti-join against the visited set (the ``bfs_levels``
    discipline with a source column, partitioning reused across
    rounds); contributions ``1/hop`` sum per vertex at the end. Work is
    O(|S|·|E|) sliced into eccentricity-many barriers; hop counts are
    exact integers and the final sum of 1/hop terms is quantized to
    6 dp (every term is a small-integer reciprocal, so cross-engine
    order cannot move the 6th decimal at any realistic source count).

    Unlike ``betweenness`` a still-live frontier at ``max_hops`` only
    TRUNCATES the estimate (far vertices contribute <= 1/(max_hops+1)
    each), so it warns via the returned schema's contract rather than
    raising; pass a ``max_hops`` >= the source eccentricity for the
    exact value. Directed mode measures d(s, v) along edge direction.

    Reference analogue: none — cited for parity accounting.
    """
    from pyspark.sql import Observation

    if max_hops < 1:
        raise ValueError(
            f"harmonic_centrality: max_hops must be >= 1, got {max_hops}"
        )
    if directed:
        adj = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        und = _undirected_edges(edges, src, dst)
        adj = und.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            und.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
    adj = fs.cut_lineage(adj.where(F.col("u") != F.col("v")).distinct())
    nodes = (
        adj.select(F.col("u").alias("vertex"))
        .unionByName(adj.select(F.col("v").alias("vertex")))
        .distinct()
    )
    seed_col = sources.columns[0]
    frontier = fs.cut_lineage(
        sources.select(F.col(seed_col).alias("s"))
        .distinct()
        .join(nodes.withColumnRenamed("vertex", "s"), "s", "left_semi")
        .select("s", F.col("s").alias("v"))
    )
    visited = frontier
    contribs = []
    for hop in range(1, max_hops + 1):
        obs = Observation()
        frontier = fs.cut_lineage(
            frontier.join(adj, frontier["v"] == adj["u"])
            .select("s", adj["v"].alias("v"))
            .distinct()
            .join(visited, ["s", "v"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if obs.get["n"] == 0:
            break
        visited = fs.cut_lineage(visited.unionByName(frontier))
        contribs.append(
            frontier.select("v", (F.lit(1.0) / F.lit(float(hop))).alias("c"))
        )
    if not contribs:
        return nodes.select("vertex", F.lit(0.0).alias("harmonic"))
    acc = contribs[0]
    for c in contribs[1:]:
        acc = acc.unionByName(c)
    h = acc.groupBy("v").agg(F.round(F.sum("c"), 6).alias("harmonic"))
    return nodes.join(h, nodes["vertex"] == h["v"], "left").select(
        "vertex", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic")
    )


def hyperball(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    directed: bool = False,
    max_t: int = 64,
    lg_k: int = 12,
    return_balls: bool = False,
):
    """HyperBall (Boldi–Vigna 2013): the neighborhood function
    ``N(t) = |{(v, u) : d(v, u) <= t}|`` estimated with per-vertex
    HyperLogLog counters — the algorithm that computed Facebook's
    "four degrees of separation". Exact N(t) needs the full distance
    multiset (quadratic state); HyperBall keeps ONE mergeable fixed-size
    sketch per vertex and runs BFS-style rounds, so the state is
    O(|V| * 2^lg_k) bytes no matter how dense reachability gets —
    the only neighborhood-function algorithm that survives a
    billion-vertex KG.

    Sketches are Spark's built-in Apache DataSketches HLL columns
    (``hll_sketch_agg`` / ``hll_union_agg`` — JVM-side, mergeable,
    deterministic), so every round is ONE equi-join of the ball frame
    through the edge list plus ONE keyed union-merge aggregate — both
    on the vertex key, partitioning reused round to round; lineage is
    cut per round with the fixpoint signature (row count +
    order-insensitive fold of per-vertex estimates) observed DURING the
    cut's materialization job, zero extra scans (the
    ``connected_components`` discipline). Iteration stops when NO
    vertex's estimate changed — in principle a round can grow a ball
    without moving its rounded estimate (register collision or
    sub-rounding growth) making the stop early; the certificate form
    sidesteps this by iterating to the EXACT side's fixpoint.

    Returns a (t, n_pairs_estimate) frame with one row per round until
    the fixpoint (t = 0 is |V|); with ``return_balls=True``, a tuple of
    that and the converged (node, ball) sketch frame for downstream
    per-vertex reuse (centrality estimation, ball-size joins).
    ``directed=True`` follows edge direction (out-balls); default
    symmetrizes. Raises after ``max_t`` rounds without convergence
    (t exceeds the graph's eccentricity bound only on adversarial
    inputs; N(t) is monotone so a partial curve is NOT returned).

    Reference analogue: none — cited for parity accounting.
    """
    from pyspark.sql import Observation

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.where(F.col("src") != F.col("dst")).distinct()
    # NOTE (r06): two restructures were A/B'd here and REVERTED — (a) a
    # co-partitioned left-join merge of the contribution sketches into
    # the balls frame (both as sort-merge and as shuffled-hash) and (b)
    # pre-partitioning e on dst. The union+groupBy merge is already
    # near-optimal for this shape: hll_union_agg partial-aggregates the
    # contributions map-side, and the |V|-scale balls frame auto-
    # broadcasts in the contribution join, so the join variants only
    # added per-round sorts/hash builds (19.3 s -> 21.6 s SMJ, ~22.5 s
    # SHJ load-adjusted on the bench shape).
    e = fs.cut_lineage(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    balls = nodes.groupBy("node").agg(
        F.hll_sketch_agg("node", F.lit(lg_k)).alias("ball")
    )

    def _cut_with_signature(df: DataFrame):
        obs = Observation()
        # the signature folds PER-NODE estimates, not sketch bytes:
        # DataSketches' sparse-mode serialization is insertion-order-
        # dependent, so byte equality never stabilizes across rounds —
        # estimate stability per vertex is the practical HyperBall stop
        # rule (and the documented early-stop caveat's actual boundary)
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("cnt"),
            F.expr(
                "bit_xor(xxhash64(node, hll_sketch_estimate(ball)))"
            ).alias("hsh"),
            F.sum(F.hll_sketch_estimate("ball")).alias("est"),
        )
        cut = fs.cut_lineage(observed)
        got = obs.get
        return cut, (got["cnt"], got["hsh"]), got["est"]

    balls, sig, est = _cut_with_signature(balls)
    curve = [(0, int(est))]
    for t in range(1, max_t + 1):
        contrib = e.join(balls, e["dst"] == balls["node"]).select(
            F.col("src").alias("node"), "ball"
        )
        merged = balls.unionByName(contrib).groupBy("node").agg(
            F.hll_union_agg("ball").alias("ball")
        )
        merged, new_sig, est = _cut_with_signature(merged)
        if new_sig == sig:
            spark = edges.sparkSession
            nf = spark.createDataFrame(curve, "t int, n_pairs_estimate long")
            return (nf, merged) if return_balls else nf
        balls, sig = merged, new_sig
        curve.append((t, int(est)))
    raise RuntimeError(
        f"hyperball: not converged within max_t={max_t} rounds"
    )


def hyperball_certificate(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    directed: bool = False,
    max_t: int = 64,
    lg_k: int = 12,
    sigma: float = 4.0,
) -> DataFrame:
    """Exact neighborhood function + a boolean certifying the HyperBall
    estimate per round — the cross-engine contract for sketch-valued
    results (the oracle side is the exact curve plus a literal
    ``true``).

    The exact side materializes the reachable-pair set round by round
    (p_t = p_{t-1} ∪ p_{t-1}⋈edges, one join + one distinct per round —
    quadratic state, test/audit scale ONLY; production uses
    :func:`hyperball` alone) and iterates to ITS fixpoint, so the
    certified curve covers every t up to the true eccentricity bound
    regardless of sketch-collision early stops. ``ok`` asserts
    ``|est - exact| <= sigma * rsd * exact`` with the HLL rsd
    ``1.04 / sqrt(2^lg_k)`` — conservative for a SUM of per-vertex
    estimates whose errors partially cancel.

    Output: (t, n_pairs, ok) — ``n_pairs`` exact, one row per round
    until the exact fixpoint.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.where(F.col("src") != F.col("dst")).distinct()
    e = fs.cut_lineage(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    balls = nodes.groupBy("node").agg(
        F.hll_sketch_agg("node", F.lit(lg_k)).alias("ball")
    )
    balls = fs.cut_lineage(balls)
    pairs = nodes.select(F.col("node").alias("v"), F.col("node").alias("u"))
    pairs = fs.cut_lineage(pairs)
    n_prev = pairs.count()
    est = balls.agg(
        F.sum(F.hll_sketch_estimate("ball")).alias("e")
    ).collect()[0]["e"]
    curve = [(0, n_prev, int(est))]
    for t in range(1, max_t + 1):
        stepped = pairs.join(e, pairs["u"] == e["src"]).select(
            "v", F.col("dst").alias("u")
        )
        pairs = fs.cut_lineage(pairs.unionByName(stepped).distinct())
        n = pairs.count()
        if n == n_prev:
            break
        contrib = e.join(balls, e["dst"] == balls["node"]).select(
            F.col("src").alias("node"), "ball"
        )
        balls = fs.cut_lineage(
            balls.unionByName(contrib).groupBy("node").agg(
                F.hll_union_agg("ball").alias("ball")
            )
        )
        est = balls.agg(
            F.sum(F.hll_sketch_estimate("ball")).alias("e")
        ).collect()[0]["e"]
        curve.append((t, n, int(est)))
        n_prev = n
    else:
        raise RuntimeError(
            f"hyperball_certificate: not converged within max_t={max_t}"
        )
    rsd = 1.04 / (2 ** (lg_k / 2.0))
    spark = edges.sparkSession
    nf = spark.createDataFrame(curve, "t int, n_pairs long, est long")
    return nf.select(
        "t",
        "n_pairs",
        (
            F.abs(F.col("est").cast("double") - F.col("n_pairs").cast("double"))
            <= F.lit(sigma * rsd) * F.col("n_pairs").cast("double")
        ).alias("ok"),
    )


def effective_diameter(nf: DataFrame, alpha: float = 0.9) -> float:
    """Effective diameter at fraction ``alpha`` from a neighborhood-
    function frame (``t`` + a pair-count column, :func:`hyperball` /
    :func:`hyperball_certificate` output): the smallest t whose N(t)
    reaches ``alpha`` of the final N — the "90% of pairs within t hops"
    number HyperBall exists to compute. Linear interpolation between
    the bracketing rounds (Boldi–Vigna's convention), driver-side over
    the round-count-sized curve."""
    cnt = [c for c in nf.columns if c != "t" and not c.endswith("ok")][0]
    rows = sorted(
        (r["t"], r[cnt]) for r in nf.select("t", cnt).collect()
    )  # bounded: one row per BFS round
    if not rows:
        raise ValueError("effective_diameter: empty neighborhood function")
    target = alpha * rows[-1][1]
    prev_t, prev_n = rows[0]
    if prev_n >= target:
        return float(prev_t)
    for t, n in rows[1:]:
        if n >= target:
            return prev_t + (target - prev_n) / (n - prev_n) * (t - prev_t)
        prev_t, prev_n = t, n
    return float(rows[-1][0])


def degree_assortativity(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    mode: str = "undirected",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) — the Pearson
    correlation of the degrees at the two endpoints of each edge, the
    one-number summary of whether hubs attach to hubs (assortative,
    r > 0: social-graph shape) or to leaves (disassortative, r < 0:
    web/KG shape — a strong prior for skew-join planning, since
    disassortative hubs fan out to low-degree neighborhoods).

    ``mode="undirected"`` treats each row as an undirected edge: one
    degree table over both endpoint columns, and the correlation is
    taken over BOTH orientations of every row — the standard
    symmetrization that makes r orientation-invariant. Directed modes
    ``"out_in"`` / ``"in_out"`` / ``"out_out"`` / ``"in_in"`` correlate
    the chosen source-side degree with the chosen target-side degree
    over each directed row once (out_in is the classic directed
    assortativity). The edge list is used AS GIVEN — dedupe upstream
    for simple-graph semantics; self-loops count like any edge.

    Plan shape: degree tables are ONE groupBy each over vertex-scale
    keys; they join back onto the edge list as two hash equi-joins
    (vertex-scale build sides — AQE broadcasts them when they fit),
    then ONE partial+final corr aggregate. Nothing is ever collected;
    no window. Returns one row (mode, n_edges, assortativity) with the
    coefficient rounded to 6 dp (NULL when degenerate: fewer than two
    distinct degree values on either side). Reference analogue: none —
    cited for parity accounting.
    """
    modes = ("undirected", "out_in", "in_out", "out_out", "in_in")
    if mode not in modes:
        raise ValueError(
            f"degree_assortativity: mode {mode!r} not in {modes}"
        )
    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    out_deg = e.groupBy(F.col("_u").alias("_n")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    in_deg = e.groupBy(F.col("_v").alias("_n")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    if mode == "undirected":
        deg = (
            e.select(F.col("_u").alias("_n"))
            .unionAll(e.select(F.col("_v").alias("_n")))
            .groupBy("_n")
            .agg(F.count(F.lit(1)).alias("_d"))
        )
        pairs = (
            e.unionAll(e.select(F.col("_v").alias("_u"),
                                F.col("_u").alias("_v")))
            .join(deg.select(F.col("_n").alias("_u"),
                             F.col("_d").alias("_du")), on="_u")
            .join(deg.select(F.col("_n").alias("_v"),
                             F.col("_d").alias("_dv")), on="_v")
        )
        n_edges = F.count(F.lit(1)) / 2
    else:
        sdeg = out_deg if mode.startswith("out") else in_deg
        tdeg = in_deg if mode.endswith("in") else out_deg
        # LEFT joins + coalesce-0: a pure-source vertex has in-degree
        # 0 (and a pure-sink out-degree 0) — a legitimate value the
        # correlation must see, not a dropped edge
        pairs = (
            e.join(
                sdeg.select(F.col("_n").alias("_u"),
                            F.col("_d").alias("_du")),
                on="_u",
                how="left",
            )
            .join(
                tdeg.select(F.col("_n").alias("_v"),
                            F.col("_d").alias("_dv")),
                on="_v",
                how="left",
            )
            .select(
                F.coalesce("_du", F.lit(0)).alias("_du"),
                F.coalesce("_dv", F.lit(0)).alias("_dv"),
            )
        )
        n_edges = F.count(F.lit(1))
    # corr() written out as covar/(sd*sd) through try_divide: under
    # ANSI mode (Spark 4 default) corr itself THROWS DIVIDE_BY_ZERO on
    # a zero-variance side, where the metric's contract (and the SQL
    # oracle's corr) is NULL-on-degenerate
    return pairs.agg(
        F.lit(mode).alias("mode"),
        n_edges.cast("long").alias("n_edges"),
        F.round(
            F.try_divide(
                F.covar_samp("_du", "_dv"),
                F.stddev_samp("_du") * F.stddev_samp("_dv"),
            ),
            6,
        ).alias("assortativity"),
    )


def reciprocity(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """Edge reciprocity of a directed graph: the fraction of distinct
    non-loop edges (u, v) whose reverse (v, u) is also present — near 0
    for hierarchies and citation-shaped KGs, near 1 for mutual-follow
    social graphs; with :func:`degree_assortativity` the two standard
    one-number structure summaries.

    Plan shape: ONE distinct over the deduped non-loop edge set, one
    left join against its own swap (same shuffle key width), ONE
    global aggregate. Returns one row (n_edges, n_reciprocated,
    reciprocity) — counts over the distinct simple digraph, ratio
    rounded to 6 dp, 0.0 on an edgeless input. Reference analogue:
    none — cited for parity accounting.
    """
    de = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .where(F.col("_u") != F.col("_v"))
        .distinct()
    )
    rev = de.select(
        F.col("_v").alias("_u"), F.col("_u").alias("_v")
    ).withColumn("_r", F.lit(1))
    return (
        de.join(rev, on=["_u", "_v"], how="left")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.coalesce(F.sum("_r"), F.lit(0)).cast("long").alias(
                "n_reciprocated"
            ),
        )
        .select(
            "n_edges",
            "n_reciprocated",
            F.round(
                F.when(
                    F.col("n_edges") > 0,
                    F.col("n_reciprocated") / F.col("n_edges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("reciprocity"),
        )
    )


def quotient_graph(
    edges: DataFrame,
    subj_label: str = "subj_label",
    obj_label: str = "obj_label",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """SNAP-style label QUOTIENT of the instance graph — the schema
    graph an ABox implies: one supernode per class label, one row per
    ``(subj_label, pred, obj_label)`` super-edge with ``n_triples``
    (distinct instance triples it summarizes), ``n_subjects`` /
    ``n_objects`` (distinct instance endpoints), and ``density`` =
    n_triples / (n_subjects * n_objects), 6 dp — how close the
    class-pair is to complete-bipartite under this predicate (1.0 on
    this engine's dictionary-driven synthetic KG, which is exactly why
    structural MINUS needed a TPC-H view — the quotient makes that
    property measurable).

    The 100 TB visualization/planning primitive: a trillion-edge
    instance graph reduces to a label-pair-scale summary in ONE
    aggregate over the distinct triple set (map-side partials; two
    distinct-counts share the same grouping shuffle).

    Reference analogue: none — cited for parity accounting.
    """
    de = edges.select(
        F.col(subj_label).alias("sl"), F.col(pred).alias("p"),
        F.col(obj_label).alias("ol"), F.col(subj).alias("s"),
        F.col(obj).alias("o"),
    ).distinct()
    return (
        de.groupBy("sl", "p", "ol")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("s").alias("n_subjects"),
            F.countDistinct("o").alias("n_objects"),
        )
        .select(
            F.col("sl").alias(subj_label), F.col("p").alias(pred),
            F.col("ol").alias(obj_label),
            "n_triples", "n_subjects", "n_objects",
            F.round(
                F.col("n_triples")
                / (F.col("n_subjects") * F.col("n_objects")), 6
            ).alias("density"),
        )
    )


def weighted_pagerank(
    edges: DataFrame,
    *,
    src: str = "subj",
    dst: str = "obj",
    weight: str = "weight",
    iters: int = 5,
    damping: float = 0.85,
    quantum: int = 10,
) -> DataFrame:
    """PageRank with WEIGHTED transitions — entity importance where an
    edge's pull is proportional to its evidence (feed it per-triple
    mention or doc counts and the random surfer follows well-attested
    edges): a vertex's rank flows to its out-neighbors proportionally to
    ``w(s, t) / W(s)`` (``W`` = the vertex's total out-weight) instead
    of uniformly. Duplicate ``(src, dst)`` rows SUM their weights;
    weights must be positive (zero/negative/NULL raise — a zero-weight
    edge is a deleted edge, not a 0-probability one, and NULL would
    silently drop mass).

    Same scale/determinism discipline as :func:`pagerank`: out-weight
    folded into the rank frame once, per-round one vertex-keyed join +
    one aggregate + broadcast dangling scalar. Because weighted shares
    are all DIFFERENT values (unlike the uniform case), each per-edge
    share is quantized ``quantum`` dp BEFORE the destination sum — the
    DSIR pre-sum rule — so both engines aggregate bit-comparable
    addends.

    Reference analogue: none — cited for parity accounting.
    """
    e = fs.cut_lineage(
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("t"),
            F.col(weight).cast("double").alias("w"),
        )
        .groupBy("s", "t")
        .agg(F.sum("w").alias("w"))
    )
    n_bad = e.where(F.col("w").isNull() | (F.col("w") <= 0)).count()
    if n_bad:
        raise ValueError(
            f"weighted_pagerank: {n_bad} edge(s) have NULL or"
            " non-positive total weight"
        )
    nodes = fs.cut_lineage(
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("t").alias("vertex")))
        .distinct()
    )
    out_w = e.groupBy("s").agg(F.sum("w").alias("_W"))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    d = float(damping)
    base = (1.0 - d) / n
    ranks = fs.cut_lineage(
        nodes.join(out_w, nodes["vertex"] == out_w["s"], "left").select(
            "vertex", "_W", F.round(F.lit(1.0 / n), quantum).alias("rank")
        )
    )
    for _ in range(iters):
        contrib = (
            ranks.where(F.col("_W").isNotNull())
            .join(e, F.col("vertex") == e["s"])
            .select(
                "t",
                F.round(
                    F.col("rank") * F.col("w") / F.col("_W"), quantum
                ).alias("share"),
            )
            .groupBy(F.col("t").alias("vertex"))
            .agg(F.sum("share").alias("contrib"))
        )
        dangling = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("_W").isNull(), F.col("rank"))),
                F.lit(0.0),
            ).alias("dm")
        )
        ranks = fs.cut_lineage(
            ranks.select("vertex", "_W")
            .join(contrib, "vertex", "left")
            .crossJoin(broadcast(dangling))
            .select(
                "vertex",
                "_W",
                F.round(
                    F.lit(base)
                    + F.lit(d)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("dm") / F.lit(float(n))
                    ),
                    quantum,
                ).alias("rank"),
            )
        )
    return ranks.select("vertex", "rank")


def katz_centrality(
    edges: DataFrame,
    *,
    src: str = "subj",
    dst: str = "obj",
    alpha: float = 0.1,
    beta: float = 1.0,
    iters: int = 5,
    quantum: int = 10,
) -> DataFrame:
    """Katz centrality (Katz 1953) over the distinct directed edge
    set: ``c = beta + alpha * A^T c`` iterated ``iters`` rounds from
    ``c0 = beta`` — unlike PageRank it counts ALL walks into a vertex
    (damped by length through ``alpha``) instead of normalizing by
    out-degree, so prolific subjects do not dilute their endorsement;
    the KG reading is "importance through well-connected citers".
    ``alpha`` must stay below the spectral radius bound for
    convergence — the usual practical rule ``alpha < 1/max_indegree``
    is the caller's to honor (the fixed ``iters`` keeps divergence
    bounded and deterministic either way).

    Per round: ONE edge-scale equi-join carrying one double + one
    destination-keyed sum (map-side partials) + one left join back to
    the vertex set — rank quantized ``quantum`` dp per round (the
    pagerank/hits discipline; addends are the uniform ``c`` values, so
    post-sum rounding suffices). No per-round driver data.

    Reference analogue: none — cited for parity accounting.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e = fs.cut_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    )
    nodes = fs.cut_lineage(
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("t").alias("vertex")))
        .distinct()
    )
    a, b = float(alpha), float(beta)
    cent = nodes.select("vertex", F.round(F.lit(b), quantum).alias("katz"))
    for _ in range(iters):
        inflow = (
            cent.join(e, cent["vertex"] == e["s"])
            .groupBy(F.col("t").alias("vertex"))
            .agg(F.sum("katz").alias("_in"))
        )
        cent = fs.cut_lineage(
            nodes.join(inflow, "vertex", "left").select(
                "vertex",
                F.round(
                    F.lit(b)
                    + F.lit(a) * F.coalesce("_in", F.lit(0.0)),
                    quantum,
                ).alias("katz"),
            )
        )
    return cent


def ego_network(
    edges: DataFrame,
    seeds: DataFrame,
    radius: int = 2,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """The ``radius``-hop EGO network of a seed set — the induced
    subgraph debugging/visualization/sampling primitive ("show me
    everything within 2 hops of this entity"; also the subgraph
    sampler GNN mini-batching wants): every original edge whose BOTH
    endpoints lie within ``radius`` undirected hops of a seed
    (:func:`bfs_levels` distances), with the endpoint levels attached
    — ``(subj, pred?, obj, subj_level, obj_level)`` keeps whatever
    extra columns the edge frame carries.

    Induced-subgraph semantics: an edge between two radius-boundary
    vertices IS included (both endpoints qualify) even though the BFS
    never traversed it — two inner equi-joins against the
    vertex-scale level frame, not a re-traversal. Work is
    O(reachable + touched edges) from the BFS plus the two joins; the
    full edge table streams through them once.

    Reference analogue: none — cited for parity accounting.
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    levels = bfs_levels(edges, seeds, max_hops=radius, src=src, dst=dst)
    ls = levels.select(
        F.col("vertex").alias(src), F.col("level").alias("subj_level")
    )
    lt = levels.select(
        F.col("vertex").alias(dst), F.col("level").alias("obj_level")
    )
    return edges.join(ls, src).join(lt, dst).select(
        *edges.columns, "subj_level", "obj_level"
    )


def degree_histogram(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    directed: bool = False,
) -> DataFrame:
    """Log-binned degree distribution — the power-law / hub diagnostic
    behind every skew decision this engine makes (salting thresholds,
    LSH hot-bucket caps, broadcast gates): one row per log2 bin with
    ``bin`` (floor(log2(degree))), the bin's ``[degree_lo, degree_hi]``
    range, ``n_vertices``, and the bin's ``max_degree`` — a straight
    line over these bins on log-log axes is the scale-free signature,
    and the top bin's mass says how hard the salting has to work.
    ``directed=False`` (default) uses undirected degree over the
    distinct edge set (self-loops dropped); ``directed=True`` bins
    OUT-degree. Two keyed aggregates (vertex, then bin) — both
    map-side-partial, output is ~log(max_degree) rows.

    Reference analogue: none — cited for parity accounting.
    """
    de = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).where(F.col("s") != F.col("t")).distinct()
    if directed:
        inc = de.select(F.col("s").alias("v"))
    else:
        und = de.select(
            F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
        ).distinct()
        inc = und.select(F.col("a").alias("v")).unionByName(
            und.select(F.col("b").alias("v"))
        )
    deg = inc.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    binned = deg.select(
        F.floor(F.log2("degree")).cast("long").alias("bin"), "degree"
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.max("degree").alias("max_degree"),
        )
        .select(
            "bin",
            F.pow(F.lit(2.0), F.col("bin")).cast("long").alias("degree_lo"),
            (F.pow(F.lit(2.0), F.col("bin") + 1) - 1)
            .cast("long").alias("degree_hi"),
            "n_vertices", "max_degree",
        )
    )


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    weight: str = "weight",
    max_rounds: int = 50,
) -> DataFrame:
    """(lo, hi, weight): the minimum spanning forest of the undirected
    weighted graph — the single-linkage backbone primitive (cutting it
    at a threshold IS single-linkage clustering; it is also the cheapest
    skeleton for visualizing an entity-similarity graph).

    Boruvka's algorithm, the distributed-native MST: each round every
    component picks its minimum outgoing edge under the DETERMINISTIC
    total order (weight, lo, hi) — ties cannot make the result
    engine-dependent, and a consistent total order also guarantees the
    per-round picks are acyclic — then picked components contract.
    Component count at least halves per round, so log2(V) rounds
    suffice.

    Scale shape per round: one min-struct pick aggregate over 2x the
    surviving inter-component edges (map-side combined), a merge of the
    PICKED-edge graph — component-scale, geometrically shrinking —
    delegated to ``connected_components`` (driver union-find under its
    threshold, exact star rounds above), then the textbook edge
    CONTRACTION: endpoints relabel onto merged components (two
    component-keyed joins against the pick-scale label map),
    intra-component edges drop, and parallel edges min-collapse (cut
    property: only the minimum edge between two components can ever
    join the MSF, so the collapse is lossless). The working edge set —
    which carries both the original (lo, hi) identity and the
    contracted (u, v) endpoints — therefore SHRINKS round over round;
    no vertex-scale label map is ever joined. Frames are lineage-cut
    per round with the pick count observed during the cut
    (``df.observe`` — the k_core discipline). Parallel input edges
    collapse to their min weight up front; self-loops drop.

    Reference analogue: none — driver-memory KBs (reference
    spacy_llm/tasks/entity_linker/registry.py) cannot express
    corpus-scale spanning structure; cited for parity accounting only.
    """
    from pyspark.sql import Observation

    from .canonicalize import connected_components

    # NOTE (r06): an order-preserving long encoding of the endpoints was
    # A/B'd here (the betweenness discipline) and REVERTED — the op runs
    # only ~log2(V) rounds and its inner connected_components takes the
    # driver union-find path, so the encode/decode joins cost more than
    # the rounds saved (8.5 s -> 9.2 s on the bench shape).
    e = fs.cut_lineage(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.col(weight).alias("w"),
        )
        .where(F.col("lo") != F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.min("w").alias("w"))
    )
    # the working edge set carries BOTH identities: (lo, hi, w) = the
    # original edge (what the forest emits) and (u, v) = its endpoints
    # in the CONTRACTED graph. Contracting the edges themselves — the
    # textbook Boruvka — makes every round's work proportional to the
    # SURVIVING inter-component edges (geometrically shrinking in
    # practice) instead of |E| + a vertex-scale label map join.
    e = fs.cut_lineage(
        e.select(
            "lo", "hi", "w",
            F.col("lo").alias("u"), F.col("hi").alias("v"),
        )
    )

    def _decode(parts: list) -> DataFrame:
        out = e.select("lo", "hi", F.col("w").alias(weight)).limit(0)
        for part_df in parts:
            out = out.unionByName(part_df)
        return out

    forest_parts: list[DataFrame] = []
    for _ in range(max_rounds):
        pick = F.struct("w", "lo", "hi", "u", "v")
        sel = (
            e.select(F.col("u").alias("comp"), pick.alias("p"))
            .union(e.select(F.col("v").alias("comp"), pick.alias("p")))
            .groupBy("comp")
            .agg(F.min("p").alias("p"))
            .select("p.*")
            .distinct()  # both endpoints picking the same edge collapse
        )
        obs = Observation()
        sel = fs.cut_lineage(sel.observe(obs, F.count(F.lit(1)).alias("n")))
        if obs.get["n"] == 0:
            return _decode(forest_parts)
        forest_parts.append(sel.select("lo", "hi", F.col("w").alias(weight)))
        cc = connected_components(
            sel.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        # contract: relabel endpoints onto the merged components, drop
        # intra-component edges, and min-collapse parallel edges — only
        # the minimum edge between two components can ever join the MSF
        # (cut property under the unique total order), so the collapse
        # is lossless AND what makes the edge set actually shrink
        relabeled = (
            e.join(
                cc.select(F.col("node").alias("u"), F.col("component").alias("_nu")),
                "u", "left",
            )
            .join(
                cc.select(F.col("node").alias("v"), F.col("component").alias("_nv")),
                "v", "left",
            )
            .select(
                "lo", "hi", "w",
                F.coalesce("_nu", "u").alias("u"),
                F.coalesce("_nv", "v").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
        )
        e = fs.cut_lineage(
            relabeled.groupBy(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .agg(F.min(F.struct("w", "lo", "hi")).alias("m"))
            .select(
                F.col("m.lo").alias("lo"), F.col("m.hi").alias("hi"),
                F.col("m.w").alias("w"), "u", "v",
            )
        )
    raise RuntimeError(
        f"minimum_spanning_forest did not converge within max_rounds="
        f"{max_rounds}; component count at least halves per round, so "
        "max_rounds=ceil(log2(|V|)) always suffices — raise max_rounds"
    )


def single_linkage_clusters(
    forest: DataFrame,
    threshold,
    nodes: DataFrame | None = None,
    src: str = "lo",
    dst: str = "hi",
    weight: str = "weight",
) -> DataFrame:
    """(node, cluster): single-linkage clustering at a distance
    threshold — clusters are the connected components of the
    sub-threshold (``weight <= threshold``) edge set, labeled by their
    lexicographically smallest member.

    Pass the ``minimum_spanning_forest`` output as ``forest`` and the
    cut runs over FOREST-scale edges (|V|-1, not |E|): single linkage
    at every threshold is a classic MSF invariant (components of
    G restricted to w<=t equal components of MSF(G) restricted to
    w<=t), so one MSF pays for any number of threshold sweeps — the
    dendrogram-cut primitive for ER cluster tuning. Passing the raw
    edge set instead is legal and gives the same answer, just at
    edge-scale cost.

    ``nodes`` (single-column, optional) adds isolated vertices as
    singleton clusters — the forest alone cannot know about vertices
    whose every incident edge is above the cut... or that had no edges
    at all. Without it, only vertices on sub-threshold edges appear.

    Reference analogue: none — cited for parity accounting only
    (driver-memory KBs cannot express corpus-scale clustering).
    """
    from .canonicalize import connected_components

    cut = forest.where(F.col(weight) <= threshold).select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    cc = connected_components(cut).select(
        F.col("node"), F.col("component").alias("cluster")
    )
    if nodes is None:
        return cc
    col = nodes.columns[0]
    all_nodes = nodes.select(F.col(col).alias("node")).distinct()
    return all_nodes.join(cc, "node", "left").select(
        "node", F.coalesce("cluster", "node").alias("cluster")
    )
