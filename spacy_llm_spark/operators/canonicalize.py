"""Canonicalization: surface-form clustering via connected components.

north_rule: "canonicalization via salted groupBy + connected-components
over surface-form clusters before materializing (subj, pred, obj) edge and
vertex tables".

Graph model: nodes are entity keys — KB ids (``K...``/``Q...``) and
surface nodes (``surface:<normalized form>``). For every linked mention we
add an undirected edge (surface_node, kb_node); surfaces that ever link to
the same KB entity end up in one component, and the component's canonical
id is its lexicographically smallest node (KB ids sort before surface
nodes, so linked clusters take a KB id).

Scale shape: the corpus-sized ``links`` table is reduced ONCE by a
map-side-combined distinct to the entity-scale (surface, kb_id) pair set;
everything else (graph build, components, vertex map) runs on that tiny
frame. The pair distinct is the only shuffle that sees corpus-scale data,
and its map-side partial aggregation collapses each partition to at most
|distinct surfaces x kb ids| rows before shuffling.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..fs import cut_lineage
from ..kb import NIL
from ..session import local_frame

logger = logging.getLogger(__name__)

# Vertex-map broadcast gate for canonical_edges — see its docstring.
_BROADCAST_VMAP_DEFAULT = 256 << 20  # 256 MiB


class UnionFind:
    """Driver-side union-find with path compression. The representative
    of every set is its lexicographically SMALLEST member — the same
    min-label convention the distributed large/small-star rounds
    converge to, which is what makes the driver and distributed CC paths
    interchangeable bit-for-bit. Shared by ``connected_components`` and
    ``canonical_vertices`` so the two paths cannot drift.
    """

    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        parent = self.parent
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo

    def items(self):
        """(member, root) for every node ever seen, insertion order."""
        return [(node, self.find(node)) for node in self.parent]


def surface_kb_pairs(links: DataFrame) -> DataFrame:
    """One aggregation over the links table -> distinct
    (surface_norm, kb_id) pairs (kb_id may be NIL). Entity-scale output.
    """
    return (
        links.select(
            F.lower(F.trim(F.col("surface"))).alias("surface_norm"),
            F.coalesce("kb_id", F.lit(NIL)).alias("kb_id"),
        )
        .distinct()
    )


def surface_kb_edges(links: DataFrame) -> DataFrame:
    """Distinct (surface_node, kb_node) edges from the links table."""
    pairs = surface_kb_pairs(links)
    return pairs.where(F.col("kb_id") != NIL).select(
        F.concat(F.lit("surface:"), F.col("surface_norm")).alias("src"),
        F.col("kb_id").alias("dst"),
    )


def _contract_partitions(
    edges: DataFrame, max_nodes_in_memory: int = 4_000_000
) -> DataFrame:
    """Partition-local contraction: run union-find over each partition's
    edges and emit its local star edges (member -> partition-local min).

    This is the map-side combine of connected components. Replacing a
    partition's edge multiset with the star edges of its LOCAL components
    preserves connectivity exactly (same nodes reachable from each other
    within the partition), so ``CC(∪_p E_p) == CC(∪_p stars(CC(E_p)))``
    — and because every local root is the partition-local minimum, the
    global min-label convention is untouched. What it buys at scale:

    - the output is at most one row per distinct node per partition —
      a multigraph partition (corpus-derived edge sets repeat pairs
      heavily) collapses before it ever reaches a shuffle, and the
      corpus-scale global ``distinct`` the rounds otherwise need is
      dropped entirely (one narrow pass instead of the job's widest
      shuffle);
    - local diameter collapses to 1, so the large/small-star rounds
      start from path lengths ~(#partitions a component spans), not the
      raw graph diameter — on a chain-of-2000 benchmark graph this cuts
      the O(log diameter) round count roughly in half.

    Memory is bounded: the per-partition union-find is flushed (emit
    current stars, reset) whenever it exceeds ``max_nodes_in_memory``
    nodes — a flushed partition contracts slightly less (the star rounds
    re-join the pieces) but never exceeds the budget. Duplicate (node,
    root) rows across partitions/flushes are harmless to the rounds
    (duplicates cannot change a min) and are bounded by the first
    round's distinct. Rows with a NULL endpoint are dropped, matching
    the ``src != dst`` null semantics of the uncontracted path.
    """
    import pandas as pd

    def _contract(batches):
        uf = UnionFind()

        def flush():
            rows = [(n, r) for n, r in uf.items() if n != r]
            uf.parent.clear()
            if rows:
                return pd.DataFrame(rows, columns=["src", "dst"])
            return None

        for pdf in batches:
            pdf = pdf.dropna(subset=["src", "dst"])
            for a, b in zip(pdf["src"], pdf["dst"]):
                if a == b:
                    continue
                uf.union(a, b)
            if len(uf.parent) > max_nodes_in_memory:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    # preserve the caller's node type (the star rounds union src/dst, so
    # the two columns are necessarily of one type already)
    from pyspark.sql.types import StructField, StructType

    node_type = edges.schema["src"].dataType
    out_schema = StructType(
        [StructField("src", node_type), StructField("dst", node_type)]
    )
    return edges.select("src", "dst").mapInPandas(_contract, out_schema)


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star step over edge frame (src, dst).

    Per-round min-of-neighborhood is computed with a window aggregate in
    the SAME shuffle that groups the key (WindowExec's group buffer is
    spill-backed), replacing the groupBy+re-join pattern: 3 shuffles per
    round (two star windows + the final distinct) instead of 7, and no
    Join node anywhere in the round plan (pinned by
    tests/test_plans.py). Intermediate distincts are dropped — duplicate
    pairs cannot change a min, and the single post-small-star distinct
    is what bounds the edge set between rounds — so the round-by-round
    edge sets (and round count) are bit-identical to the textbook
    two-join formulation of Kiveris et al. (2014)."""
    w = Window.partitionBy("src")
    # ---- large-star: every neighbor larger than u links to the min of
    # u's closed neighborhood ----
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    large = (
        sym.select(
            "src", "dst",
            F.least(F.col("src"), F.min("dst").over(w)).alias("m"),
        )
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    # ---- small-star: orient (larger -> smaller), relink every small
    # neighbor (and the center) to the minimum ----
    oriented = large.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    return (
        oriented.select("src", "dst", F.min("dst").over(w).alias("m"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("a"), F.col("m").alias("b")),
                    F.struct(F.col("src").alias("a"), F.col("m").alias("b")),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def order_encode(nodes: DataFrame, col: str, id_col: str) -> DataFrame:
    """ORDER-PRESERVING dictionary encoding (guide §2.3 narrower types):
    (``col``, ``id_col``) for the distinct values of ``nodes.col``, where
    the long ids are strictly increasing in the order of ``col``.

    monotonically_increasing_id over the SORTED frame: partition index in
    the high bits, row position in the low bits, and the range-partitioned
    sort puts lower values in lower partitions; the expression is
    non-deterministic, so Catalyst keeps it above the sort. Lineage is cut,
    so the ids are computed once. ``nodes`` must hold distinct values."""
    return cut_lineage(
        nodes.orderBy(col).select(col, F.monotonically_increasing_id().alias(id_col))
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
    local_contraction: bool = True,
) -> DataFrame:
    """(node, component) for every node in the undirected edge set.

    Two physical strategies, same result:

    - The entity graph is KB-scale (nodes ~ |aliases| + |entities|), tiny
      relative to the corpus. Below ``driver_threshold`` edges we collect
      and run exact union-find on the driver — one job instead of log(n)
      shuffle rounds. This mirrors the reference, which holds its whole KB
      in memory (InMemoryLookupKB).
    - Above the threshold: the large-star/small-star alternation of
      Kiveris et al., "Connected Components in MapReduce and Beyond"
      (SoCC 2014). Each round is three shuffles — the two per-star
      min-of-neighborhood passes run as window aggregates inside the
      grouping shuffle itself (no groupBy+re-join), plus one distinct
      that bounds the edge set — and the edge set converges to
      per-component stars in O(log n) rounds even on high-diameter
      graphs (a chain of length d needs ~log2(d) rounds, where min-label
      propagation would need d). Fixpoint detection rides the eager
      lineage cut via ``df.observe`` (zero extra scans); lineage is cut
      per round via ``cut_lineage`` (localCheckpoint, or reliable
      ``checkpoint`` when ``fs.configure_lineage(reliable=True)``);
      non-convergence raises instead of returning wrong labels.

    Both strategies label every component by its lexicographically
    smallest node, so they are interchangeable bit-for-bit.

    ``local_contraction`` (default on) precedes the star rounds with one
    narrow partition-local union-find pass (``_contract_partitions``) —
    the map-side combine of CC. It replaces the corpus-scale global
    ``distinct`` with a per-partition collapse AND cuts the starting
    diameter to the number of partitions a component spans, typically
    halving the round count. Exact: local stars are
    connectivity-equivalent to the partition's edges.
    """
    spark = edges.sparkSession
    head = edges.select("src", "dst").distinct().limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        uf = UnionFind()
        for row in head:
            uf.union(row[0], row[1])
        return local_frame(spark, uf.items(), "node string, component string")

    # all_nodes from the RAW edge set: a node appearing only in self-loop
    # edges is still a (singleton) component, matching the driver path
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    all_nodes = cut_lineage(all_nodes)
    # each star round's two window sorts and the bounding distinct
    # hash/sort/shuffle node ids several times, so arbitrary-width ids are
    # encoded once to order-preserving longs. Min-label arithmetic
    # commutes with the bijection, so the decoded labels are
    # bit-identical to the direct-id rounds — and identical to the driver
    # union-find path's convention.
    vmap = order_encode(all_nodes, "node", "_nid")
    enc_edges = (
        edges.join(vmap.select(F.col("node").alias("src"),
                               F.col("_nid").alias("_ns")), "src")
        .join(vmap.select(F.col("node").alias("dst"),
                          F.col("_nid").alias("_nd")), "dst")
        .select(F.col("_ns").alias("src"), F.col("_nd").alias("dst"))
    )

    def _cut_with_signature(df: DataFrame):
        """Lineage-cut ``df`` and return (cut_df, fixpoint signature).

        The signature — (row count, order-insensitive hash fold) — is
        collected via ``df.observe`` DURING the materialization job that
        the eager lineage cut runs anyway, so fixpoint detection costs
        zero extra scans per round (same df.observe trick as
        checkpoint.run_stage)."""
        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("cnt"),
            F.expr("bit_xor(xxhash64(concat_ws('|', src, dst)))").alias("hsh"),
        )
        cut = cut_lineage(observed)
        got = obs.get  # blocks until the materialization job reports
        return cut, (got["cnt"], got["hsh"])

    if local_contraction:
        # one narrow pass; no global distinct needed — duplicate star
        # rows cannot change a min and the first round's distinct bounds
        # the edge set anyway
        e0 = _contract_partitions(enc_edges)
    else:
        e0 = (
            enc_edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
    e, sig = _cut_with_signature(e0)
    converged = False
    for _ in range(max_iter):
        e, new_sig = _cut_with_signature(_star_round(e))
        if new_sig == sig:
            converged = True
            break
        sig = new_sig

    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "large/small-star rounds; raise max_iter (rounds needed ~ log2 of "
            "the largest component diameter)"
        )

    # fixpoint edge set = stars (node -> component min); roots map to
    # self. Decode the internal codes back to the caller's ids (vmap is
    # node-scale), then fill roots/singletons from all_nodes as before.
    star_map = (
        e.join(vmap.select(F.col("_nid").alias("src"),
                           F.col("node").alias("_vn")), "src")
        .join(vmap.select(F.col("_nid").alias("dst"),
                          F.col("node").alias("_vc")), "dst")
        .select(F.col("_vn").alias("node"), F.col("_vc").alias("component"))
    )
    return all_nodes.join(star_map, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def links_increment_edges(links: DataFrame) -> DataFrame:
    """A links batch as an entity-graph increment for
    ``incremental_components``: the distinct (surface_node, kb_node)
    edges, PLUS one self-loop per node seen in the batch — self-loops
    register never-linked (all-NIL) surfaces as singleton components and
    make re-merging a replayed batch a no-op (idempotent maintenance).
    """
    pairs = surface_kb_pairs(links)
    real = pairs.where(F.col("kb_id") != NIL).select(
        F.concat(F.lit("surface:"), F.col("surface_norm")).alias("src"),
        F.col("kb_id").alias("dst"),
    )
    nodes = (
        pairs.select(
            F.concat(F.lit("surface:"), F.col("surface_norm")).alias("n")
        )
        .union(pairs.where(F.col("kb_id") != NIL).select("kb_id"))
        .distinct()
    )
    return real.unionByName(
        nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
    full_recompute_fraction: float | None = 0.8,
) -> DataFrame:
    """Merge a new edge batch into an existing (node, component) map
    without recomputing over the historical edge set.

    An existing label map is itself a star edge set (node -> component)
    with exactly the connectivity of the full historical graph, so
    ``CC(E_old ∪ E_new) == CC(stars(labels) ∪ E_new)`` — and components
    no new edge touches cannot change at all. The maintenance step is
    therefore sliced to the increment:

    1. touched = components of any node appearing in ``new_edges``
       (semi-join; increment-scale, so AQE broadcasts it);
    2. recompute CC over (touched components' star edges ∪ new edges) —
       work proportional to the affected slice, not to history;
    3. untouched labels pass through verbatim (anti-join).

    This is the daily-crawl path at the 10^12-file design point: the
    historical EDGE set (corpus-scale) never re-enters a shuffle — only
    the node-scale label map and the increment do. Labels stay
    min-labeled exactly as a full recompute would produce them (the
    recomputed slice contains every member node of every touched
    component), so incremental-then-incremental equals
    recompute-from-scratch bit-for-bit.

    Self-loop rows (n, n) in ``new_edges`` register n as a node (new
    singleton, or a touch of its existing component) — callers use this
    to admit edge-less nodes such as never-linked surfaces.

    Adversarial-touch guard: the worst case for the sliced path is a
    batch whose touched components cover (nearly) every NODE — the
    canonical example being a batch that brushes a dominant giant
    component every time. The recomputed slice is then ~the whole
    graph, and the semi/anti-join slicing is pure overhead on top of a
    de-facto full recompute. The guard measures the touched-NODE
    fraction (not component count: one touched giant among thousands
    of tiny components is a small count-fraction but ~all the work);
    at ``full_recompute_fraction`` of label rows (default 0.8; None
    disables the probe) the slicing is skipped and CC runs over ALL
    label stars ∪ increment directly — same result (the label stars
    carry the full historical connectivity), minus two joins and a
    union. The slice count rides the lineage-cut materialization via
    ``df.observe`` (no extra scan); the only added job is one
    node-scale count. BENCH/INCREMENTAL_r5.md §1 records the measured
    crossover (adversarial touch, sliced vs fallback vs full).
    """
    labels = labels.select("node", "component")
    new_edges = new_edges.select("src", "dst")
    new_nodes = (
        new_edges.select(F.col("src").alias("node"))
        .union(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    touched = cut_lineage(
        labels.join(new_nodes, "node", "left_semi").select("component").distinct()
    )
    obs = Observation()
    sub_stars = cut_lineage(
        labels.join(touched, "component", "left_semi")
        .select(F.col("node").alias("src"), F.col("component").alias("dst"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    if full_recompute_fraction is not None:
        n_sliced = obs.get["n"]  # free: observed during the lineage cut
        if n_sliced > 0:
            n_total = labels.count()
            if n_total > 0 and n_sliced / n_total >= full_recompute_fraction:
                logger.info(
                    "incremental_components: batch touches %d/%d label rows "
                    "(>= %.0f%%) — falling back to full recompute over label "
                    "stars, skipping the slice joins",
                    n_sliced, n_total, full_recompute_fraction * 100,
                )
                all_stars = labels.select(
                    F.col("node").alias("src"), F.col("component").alias("dst")
                )
                return connected_components(
                    all_stars.unionByName(new_edges),
                    max_iter=max_iter,
                    driver_threshold=driver_threshold,
                ).select("node", "component")
    merged = connected_components(
        sub_stars.unionByName(new_edges),
        max_iter=max_iter,
        driver_threshold=driver_threshold,
    )
    unchanged = labels.join(touched, "component", "left_anti")
    return unchanged.unionByName(merged.select("node", "component"))


def canonical_vertices(
    links: DataFrame, max_iter: int = 25, driver_threshold: int = 2_000_000
) -> DataFrame:
    """(node, component, is_kb) vertex table over all entity keys seen in
    links — including never-linked (all-NIL) surfaces, which become their
    own singleton components.

    Exactly ONE corpus-scale aggregation (the map-side-combined pair
    distinct). The resulting pair set is entity-scale; below
    ``driver_threshold`` pairs it is collected and the whole graph —
    union-find included — is resolved on the driver in a single job
    (mirroring the reference's in-memory KB). Above it, the distributed
    label-propagation CC takes over.
    """
    # materialize the (single) corpus-scale aggregation BEFORE the
    # threshold probe: probing the lazy frame would run the full distinct
    # once for the probe and AGAIN for the distributed branch's lineage
    # cut — the most expensive shuffle in the job, twice
    pairs = cut_lineage(surface_kb_pairs(links))
    head = pairs.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        uf = UnionFind()
        nodes = set()
        for row in head:
            s = f"surface:{row.surface_norm}"
            nodes.add(s)
            if row.kb_id != NIL:
                nodes.add(row.kb_id)
                uf.union(s, row.kb_id)
        rows = [
            (node, uf.find(node), not node.startswith("surface:"))
            for node in sorted(nodes)
        ]
        # a driver-built LocalRelation: its size is known at plan time, so
        # canonical_edges' broadcast gate sees a small map as small
        return local_frame(
            links.sparkSession, rows, "node string, component string, is_kb boolean"
        )

    edges = pairs.where(F.col("kb_id") != NIL).select(
        F.concat(F.lit("surface:"), F.col("surface_norm")).alias("src"),
        F.col("kb_id").alias("dst"),
    )
    comps = connected_components(
        edges, max_iter=max_iter, driver_threshold=driver_threshold
    )

    all_nodes = (
        pairs.select(
            F.when(F.col("kb_id") != NIL, F.col("kb_id"))
            .otherwise(F.concat(F.lit("surface:"), F.col("surface_norm")))
            .alias("node")
        )
        .union(edges.select(F.col("src").alias("node")))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return all_nodes.join(comps, "node", "left").select(
        "node",
        F.coalesce("component", "node").alias("component"),
        (~F.col("node").startswith("surface:")).alias("is_kb"),
    )


def incremental_canonical_edges(
    canonical: DataFrame,
    new_edges: DataFrame,
    new_vertices: DataFrame,
    *,
    broadcast_threshold: int | None = _BROADCAST_VMAP_DEFAULT,
) -> DataFrame:
    """Maintain a materialized canonical triple table under an increment.

    ``canonical`` is the previously materialized table (endpoints already
    on OLD canonical ids), ``new_edges`` the increment's raw triples, and
    ``new_vertices`` the updated label map (e.g. from
    ``incremental_components``). Old canonical ids are themselves graph
    nodes, and components only ever merge, so remapping the stored
    canonical ids through the new label map lands every historical triple
    on its new component — identical to re-canonicalizing the raw
    historical edges, WITHOUT storing or re-reading them. Self-labeled
    ids are filtered out of the remap (an unmoved canonical id maps to
    itself via the join miss), so the pass-through is one left join
    against the entity-scale label map — broadcast when the map's
    plan-time size estimate clears ``broadcast_threshold`` (see
    ``canonical_edges`` for the gate), in which case the corpus-scale
    triple table never shuffles; only the increment's raw triples are
    (re)canonicalized from scratch either way.
    """
    moved = new_vertices.where(F.col("node") != F.col("component")).select(
        "node", "component"
    )
    return canonical_edges(
        canonical, moved, broadcast_threshold=broadcast_threshold
    ).unionByName(
        canonical_edges(
            new_edges, new_vertices, broadcast_threshold=broadcast_threshold
        )
    )


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate — free (no job). Unknown
    sources (e.g. lineage-cut in-memory frames) report the configured
    default (huge), which the gate treats as 'too big to hint'."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def canonical_edges(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    broadcast_threshold: int | None = _BROADCAST_VMAP_DEFAULT,
) -> DataFrame:
    """Rewrite triple endpoints onto canonical component ids.

    The vertex map is entity-scale, so broadcasting it lets the
    corpus-scale triple table pass through both joins without a single
    shuffle — the 100× plan. But "entity-scale" includes one node per
    DISTINCT NORMALIZED SURFACE FORM, which on a web-scale corpus grows
    into the billions and stops fitting executor memory; a hard
    broadcast hint would then force an OOM-prone build side. The hint is
    therefore size-gated: applied only when Catalyst's plan-time
    estimate of the map is under ``broadcast_threshold`` bytes (default
    256 MiB — comfortably inside a multi-GiB executor after the ~3-5×
    broadcast-hashmap expansion). Above the threshold — or when the
    estimate is unknown, which Catalyst reports as a huge default — the
    join is left unhinted: AQE still picks a broadcast join at runtime
    if the map's MEASURED size turns out small, and falls back to a
    shuffled hash join (or a bucketed co-partitioned join if the triple
    table is laid out on subj/obj via sources/bucketed.py) otherwise.
    ``broadcast_threshold=0`` never hints; ``None`` restores the
    unconditional hint (tests/debug only).
    """
    vmap = vertices.select("node", "component")
    if broadcast_threshold is None or (
        broadcast_threshold > 0
        and _plan_size_bytes(vmap) <= broadcast_threshold
    ):
        vmap = F.broadcast(vmap)
    return (
        edges.join(vmap.selectExpr("node AS subj", "component AS subj_canonical"), "subj", "left")
        .join(vmap.selectExpr("node AS obj", "component AS obj_canonical"), "obj", "left")
        .selectExpr(
            "coalesce(subj_canonical, subj) AS subj",
            "pred",
            "coalesce(obj_canonical, obj) AS obj",
            *[c for c in edges.columns if c not in ("subj", "pred", "obj")],
        )
    )
