"""Benchmark harness (driver contract).

Runs the headline queries on $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) with local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus throughput extras (triples, triples_per_sec)}.

The headline metric is the end-to-end KG pipeline (corpus -> NER -> REL
-> EL -> triples materialize + canonicalize) — BASELINE.json's
triples/sec target. SPARK_GRAFT_REPLICATE (default 4) scales the corpus
deterministically to keep the measurement out of fixed-overhead noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from spacy_llm_spark import get_spark  # noqa: E402
from spacy_llm_spark.corpus import corpus_from_documents  # noqa: E402
from spacy_llm_spark.kb import build_code_kb  # noqa: E402
from spacy_llm_spark.operators import canonicalize as canon  # noqa: E402
from spacy_llm_spark.operators import dedup, materialize as mat, similarity  # noqa: E402
from spacy_llm_spark.pipeline import KGConfig, annotate_corpus  # noqa: E402


def run_bench(sf_dir: str, cpus: int, replicate: int) -> dict:
    spark = get_spark(
        app_name="spacy-llm-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # this sandbox's disk stalls are the dominant noise source
            # (D-state waits with idle CPUs); shuffle/spill on tmpfs
            "spark.local.dir": "/dev/shm/spark-bench-local",
        },
    )
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    corpus = corpus_from_documents(spark, sf_dir, replicate=replicate)
    corpus = corpus.localCheckpoint()  # materialize input once; bench the engine
    n_docs = corpus.count()

    # headline: full KG construction. localCheckpoint (row blocks), not
    # .persist(): the columnar cache is pathological for array<struct>.
    # Best-of-2: this sandbox shares cores with co-tenants, wall-clock
    # noise between identical runs exceeds 2x; min is the honest estimate
    # of engine cost.
    def kg_run():
        t0 = time.time()
        annotated = annotate_corpus(corpus, KGConfig(), build_code_kb()).localCheckpoint()
        edges = mat.edges_table(annotated)
        links = mat.links_table(annotated)
        n_triples = edges.count()
        vertices = canon.canonical_vertices(links)
        canonical = canon.canonical_edges(edges, vertices)
        n_canonical = canonical.count()
        return time.time() - t0, n_triples, n_canonical

    runs = [kg_run() for _ in range(2)]
    kg_secs, n_triples, n_canonical = min(runs, key=lambda r: r[0])
    timings["kg_pipeline"] = round(kg_secs, 3)

    # the driver test parquet is one file -> one partition; spread it so
    # the Arrow kernels use all cores (input prep, same as the corpus)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(cpus * 2)
        .localCheckpoint()
    )
    timed("dedup_minhash_lsh", lambda: dedup.minhash_lsh_dup_pairs(
        docs, n_hashes=64, bands=16, threshold=0.8).count())

    # the persisted-index probe path, through the bucketed table layout
    # (sources/bucketed.py) vs a plain in-memory index frame: at scale
    # the bucketed read elides the index-side Exchange entirely (plan
    # pinned in test_bucketed.py); these rows record the measured delta
    # at bench SF. Probe batch = 1% of the corpus (the daily-crawl shape).
    from spacy_llm_spark.sources.bucketed import write_bucketed

    idx_kw = dict(n_hashes=64, bands=16, shingle_k=3)
    probe_batch = docs.where(F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 100) == 0)
    probe_batch = probe_batch.select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
    ).localCheckpoint()
    mem_idx = dedup.minhash_lsh_index(docs, **idx_kw).localCheckpoint()
    t0 = time.time()
    dedup.minhash_lsh_probe(
        probe_batch, mem_idx, threshold=0.8, include_new_pairs=False, **idx_kw
    ).count()
    extras["lsh_probe_memory_index_sec"] = round(time.time() - t0, 3)
    write_bucketed(
        mem_idx, "bench_lsh_idx", "/dev/shm/spark-bench-local/lsh_idx",
        "bucket", buckets=max(cpus // 2, 8), sort_by=False,
    )
    t0 = time.time()
    dedup.minhash_lsh_probe(
        probe_batch, spark.table("bench_lsh_idx"),
        threshold=0.8, include_new_pairs=False, **idx_kw,
    ).count()
    extras["lsh_probe_bucketed_index_sec"] = round(time.time() - t0, 3)
    spark.sql("DROP TABLE IF EXISTS bench_lsh_idx")
    timed("dedup_simhash", lambda: dedup.simhash(docs).count())
    # simhash near-dup clustering goes in its own field (new in r3) so the
    # headline "value" stays comparable across rounds
    t0 = time.time()
    _pairs = dedup.simhash_dup_pairs(docs, max_hamming=3)
    _n_clusters = (
        dedup.dedup_clusters(_pairs, docs)
        .where(F.col("doc_id") == F.col("cluster_rep"))
        .count()
    )
    extras["simhash_dup_clusters_sec"] = round(time.time() - t0, 3)
    extras["simhash_n_clusters"] = _n_clusters
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    timed("cosine_topk", lambda: similarity.cosine_topk(
        emb, [float(x) for x in probe], k=10).collect())
    timed("ann_lsh_topk", lambda: similarity.ann_lsh_topk(
        emb, [float(x) for x in probe], k=10).collect())

    def embedding_lsh_run():
        base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        doubled = base.union(
            base.select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
            )
        )
        return dedup.embedding_dup_pairs(
            doubled, threshold=0.95, bands=24, planes_per_band=12, dim=len(probe)
        ).count()

    timed("dedup_embedding_lsh", embedding_lsh_run)

    # the zero-shuffle repetition projection over the docs frame
    from spacy_llm_spark.functions import text as textfn

    timed("repetition_stats", lambda: textfn.repetition_stats(docs).count())

    # distributed CC is timed OUTSIDE the headline query set: its wall is
    # dominated by per-round scheduling overhead on this box (~2s/round x
    # log2(diameter) rounds) and would swamp the cross-round comparability
    # of "value"; it gets its own top-level field instead.
    t0 = time.time()
    ids = spark.range(200_000)
    chain = ids.where(F.col("id") % 2000 != 1999).select(
        F.format_string("c%08d", "id").alias("src"),
        F.format_string("c%08d", F.col("id") + 1).alias("dst"),
    )
    # 100 chains of length 2000 (~200k edges, diameter 2000):
    # large-star/small-star converges in ~log2(2000) rounds where
    # min-label propagation would need 2000
    canon.connected_components(chain, max_iter=30, driver_threshold=0).count()
    extras["cc_distributed_200k_edges_sec"] = round(time.time() - t0, 3)

    # round-5 operator families — extras (same comparability note):
    # multi-source BFS over the same 100-chain graph (seeds = one end of
    # every chain; 5 hops of frontier expansion over 200k edges)
    t0 = time.time()
    from spacy_llm_spark.operators.graph import bfs_levels

    seeds = ids.where(F.col("id") % 2000 == 0).select(
        F.format_string("c%08d", "id").alias("vertex")
    )
    bfs_levels(chain, seeds, max_hops=5, src="src", dst="dst").count()
    extras["bfs_levels_200k_edges_5hops_sec"] = round(time.time() - t0, 3)

    # node2vec biased walks over a 1/10 slice of the chain graph
    # (20k edges, 1 walk x length 4 per vertex): per step one adjacency
    # join + one triangle-test join + replica explode + min-struct pick
    t0 = time.time()
    from spacy_llm_spark.operators.graph import node2vec_walks

    n_n2v = node2vec_walks(
        chain.where(F.col("src") < "c00020000"),
        walks_per_vertex=1, walk_length=4,
        w_return=4, w_in=1, w_out=2,
        src="src", dst="dst",
    ).count()
    extras["node2vec_20k_edges_len4_sec"] = round(time.time() - t0, 3)
    extras["node2vec_n_walks"] = n_n2v

    # neighborhood-Jaccard link prediction over the same 200k-edge graph
    # with the hub-pivot cap engaged (the designed 100x path: canonical-
    # entity hubs pivot nothing above the cap)
    t0 = time.time()
    from spacy_llm_spark.operators.graph import neighbor_jaccard

    n_nj = neighbor_jaccard(
        chain, src="src", dst="dst", max_pivot_degree=256
    ).count()
    extras["neighbor_jaccard_200k_edges_sec"] = round(time.time() - t0, 3)
    extras["neighbor_jaccard_n_pairs"] = n_nj

    t0 = time.time()
    from spacy_llm_spark.operators.dedup import duplicated_ngram_stats

    duplicated_ngram_stats(docs, n=3).count()
    extras["dup_ngram_stats_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    from spacy_llm_spark.operators.similarity import lexical_cosine_pairs

    n_lex = lexical_cosine_pairs(docs, min_sim=0.5, n=3, max_df=2000).count()
    extras["lexical_cosine_pairs_sec"] = round(time.time() - t0, 3)
    extras["lexical_cosine_n_pairs"] = n_lex

    # round-5 addition: SemDeDup (doubled corpus, 16 cells)
    t0 = time.time()
    base_emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sem_doubled = base_emb.union(
        base_emb.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
        )
    )
    sem_cents = [
        r[0]
        for r in base_emb.where(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    n_sem = dedup.semantic_dup_pairs(sem_doubled, sem_cents, threshold=0.95).count()
    extras["semantic_dedup_pairs_sec"] = round(time.time() - t0, 3)
    extras["semantic_dedup_n_pairs"] = n_sem

    t0 = time.time()
    from spacy_llm_spark.operators.dedup import (
        remove_duplicated_lines,
        token_window_lines,
    )

    n_line = (
        remove_duplicated_lines(
            docs, 1, lines=token_window_lines("text", 8), delim=" "
        )
        .agg(F.sum("n_lines_removed"))
        .head()[0]
    )
    extras["line_dedup_sec"] = round(time.time() - t0, 3)
    extras["line_dedup_n_removed"] = int(n_line)

    # round-5 late families: k-core peeling + personalized pagerank over
    # the 200k-edge graph
    t0 = time.time()
    from spacy_llm_spark.operators.graph import k_core

    # chains have no 2-core; add rungs between consecutive chains to make
    # peeling non-trivial (ladder graph: the rungs + chain interiors
    # survive at k=2, chain endpoints peel off in cascades)
    rungs = ids.where((F.col("id") % 7 == 3) & (F.col("id") < 198_000)).select(
        F.format_string("c%08d", "id").alias("src"),
        F.format_string("c%08d", F.col("id") + 2000).alias("dst"),
    )
    n_core = k_core(chain.union(rungs), 2, src="src", dst="dst").count()
    extras["kcore_228k_edges_sec"] = round(time.time() - t0, 3)
    extras["kcore_n_vertices"] = n_core

    t0 = time.time()
    from spacy_llm_spark.operators.graph import personalized_pagerank

    personalized_pagerank(chain, seeds, src="src", dst="dst", iters=5).count()
    extras["ppr_200k_edges_5iters_sec"] = round(time.time() - t0, 3)

    # Adamic–Adar link prediction over the 200k-edge chain graph (~every
    # interior vertex is a wedge pivot -> ~200k scored non-adjacent pairs)
    t0 = time.time()
    from spacy_llm_spark.operators.graph import adamic_adar

    n_aa = adamic_adar(chain, src="src", dst="dst", max_pivot_degree=64).count()
    extras["adamic_adar_200k_edges_sec"] = round(time.time() - t0, 3)
    extras["adamic_adar_n_pairs"] = n_aa

    t0 = time.time()
    from spacy_llm_spark.operators.graph import label_propagation

    label_propagation(chain, rounds=3, src="src", dst="dst").count()
    extras["lpa_200k_edges_3rounds_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    from spacy_llm_spark.operators.graph import hits

    hits(chain, iters=3, src="src", dst="dst").count()
    extras["hits_200k_edges_3iters_sec"] = round(time.time() - t0, 3)

    # SCC over a realistic 200k-edge digraph: 20k independent 5-cycles
    # (coloring diameter 5, all roots extract in parallel) + 10k
    # depth-10 DAG chains (the trim path peels one level per round) —
    # the dense-cyclic-core + shallow-tail shape of real KG
    # condensations, NOT a single long cycle (the documented worst case)
    t0 = time.time()
    from spacy_llm_spark.operators.graph import strongly_connected_components

    cyc = spark.range(100_000).select(
        F.format_string("s%08d", "id").alias("subj"),
        F.format_string(
            "s%08d", F.col("id") - F.col("id") % 5 + (F.col("id") + 1) % 5
        ).alias("obj"),
    )
    dag = spark.range(100_000, 200_000).where(
        F.col("id") % 10 != 9
    ).select(
        F.format_string("s%08d", "id").alias("subj"),
        F.format_string("s%08d", F.col("id") + 1).alias("obj"),
    )
    n_scc = (
        strongly_connected_components(cyc.unionByName(dag), max_iter=30)
        .select("scc")
        .distinct()
        .count()
    )
    extras["scc_200k_edges_sec"] = round(time.time() - t0, 3)
    extras["scc_n_components"] = n_scc

    # SHACL shape audit over 1M synthetic labeled triples: one broadcast-
    # joined map pass (4 BroadcastHashJoins, no Exchange on the fact side)
    t0 = time.time()
    from spacy_llm_spark.operators.audit import triple_shape_violations

    preds = ["precedes", "appliesTo", "emits", "executes", "stores"]
    labs = ["OP", "TABLE", "SYS"]
    fact = spark.range(1_000_000).select(
        F.col("id"),
        F.element_at(
            F.array(*[F.lit(p) for p in preds]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("pred"),
        F.element_at(
            F.array(*[F.lit(x) for x in labs]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("subj_label"),
        F.element_at(
            F.array(*[F.lit(x) for x in labs]),
            (F.col("id") % 7 % 3 + 1).cast("int"),
        ).alias("obj_label"),
    )
    shapes = spark.createDataFrame(
        [
            ("precedes", "OP", "OP"),
            ("appliesTo", "OP", "TABLE"),
            ("emits", "OP", "SYS"),
            ("executes", "SYS", "OP"),
        ],
        ["pred", "subj_label", "obj_label"],
    )
    n_viol = triple_shape_violations(fact, shapes).count()
    extras["shape_audit_1m_triples_sec"] = round(time.time() - t0, 3)
    extras["shape_audit_n_violations"] = n_viol

    # hard-negative mining: every 100th embedding vs the full corpus,
    # band [0.2, 0.99), k=10 — band filter before the bounded top-k
    t0 = time.time()
    from spacy_llm_spark.operators.similarity import hard_negatives

    embh = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    hard_negatives(
        embh.where(F.col("vec_id") % 100 == 0), embh, k=10,
        sim_lo=0.2, sim_hi=0.99,
    ).count()
    extras["hard_negatives_sec"] = round(time.time() - t0, 3)

    # BGP triangle over a 1M synthetic labeled-triple set: three
    # pushdown-filtered scans + two hash equi-joins + one distinct
    t0 = time.time()
    from spacy_llm_spark.operators.graph import match_bgp, transitive_closure

    # id//5 decorrelates the node id from the pred cycle (id%5), so
    # every base node carries all five predicates
    base = F.floor(F.col("id") / 5) % 20_000

    def _n(e):
        return F.concat(F.lit("n"), (e % 20_000).cast("string"))

    # pred-dependent endpoints so the triangle actually closes: for
    # every base node b, executes(b, b+1), appliesTo(b+1, b+2),
    # stores(b, b+2) — 20k real bindings under ~1M noise-heavy triples
    bgp_triples = fact.select(
        F.when(F.col("pred") == "appliesTo", _n(base + 1))
        .otherwise(_n(base))
        .alias("subj"),
        "pred",
        F.when(F.col("pred") == "executes", _n(base + 1))
        .when(F.col("pred").isin("appliesTo", "stores"), _n(base + 2))
        .otherwise(_n(base * 7 + 3))
        .alias("obj"),
    )
    n_bgp = match_bgp(
        bgp_triples,
        [("?s", "executes", "?o"), ("?o", "appliesTo", "?t"),
         ("?s", "stores", "?t")],
    ).count()
    extras["bgp_triangle_1m_triples_sec"] = round(time.time() - t0, 3)
    extras["bgp_n_bindings"] = n_bgp

    # transitive closure of a 200k-node binary hierarchy (depth ~17):
    # 5 path-doubling rounds, ~3.4M closure pairs
    t0 = time.time()
    hier = spark.range(2, 200_000).select(
        F.col("id").alias("child"),
        F.floor(F.col("id") / 2).alias("parent"),
    )
    n_clo = transitive_closure(hier, src="child", dst="parent").count()
    extras["closure_200k_hierarchy_sec"] = round(time.time() - t0, 3)
    extras["closure_n_pairs"] = n_clo

    # RDFS entailment over the 1M-row synthetic triple set plus 20k
    # type memberships: two schema-scale closures (driver-counted,
    # broadcast under the byte gate) + four instance-side joins + one
    # union-distinct — the materialize-the-entailed-graph step
    t0 = time.time()
    from spacy_llm_spark.operators.reason import rdfs_entailment

    rtypes = spark.range(20_000).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("subj"),
        F.lit("type").alias("pred"),
        F.element_at(
            F.array(F.lit("OP"), F.lit("TABLE"), F.lit("SYS")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("obj"),
    )
    ront = spark.createDataFrame(
        [
            ("executes", "subPropertyOf", "dependsOn"),
            ("stores", "subPropertyOf", "dependsOn"),
            ("dependsOn", "subPropertyOf", "relatedTo"),
            ("precedes", "subPropertyOf", "flowsTo"),
            ("dependsOn", "domain", "ACTOR"),
            ("dependsOn", "range", "RESOURCE"),
            ("appliesTo", "domain", "NODE"),
            ("OP", "subClassOf", "STEP"),
            ("STEP", "subClassOf", "ENTITY"),
            ("TABLE", "subClassOf", "ENTITY"),
            ("SYS", "subClassOf", "ENTITY"),
            ("ACTOR", "subClassOf", "ENTITY"),
            ("RESOURCE", "subClassOf", "ENTITY"),
            ("NODE", "subClassOf", "ENTITY"),
        ],
        ["subj", "pred", "obj"],
    )
    n_rdfs = rdfs_entailment(bgp_triples.unionByName(rtypes), ront).count()
    extras["rdfs_entailment_1m_triples_sec"] = round(time.time() - t0, 3)
    extras["rdfs_n_entailed"] = n_rdfs

    # joint RDFS+OWL fixpoint over the same set: rdfs7 folds the 20k
    # precedes edges (a functional graph, cycles 8/40/200) into
    # flowsTo, which OWL closes transitively (~3.3M pairs) — the
    # cross-vocabulary interaction needs the alternation, converging in
    # 2 rounds + 1 observation
    t0 = time.time()
    from spacy_llm_spark.operators.reason import entailment_fixpoint

    oont = spark.createDataFrame(
        [("flowsTo", "type", "TransitiveProperty")], ["subj", "pred", "obj"]
    )
    n_fix = entailment_fixpoint(
        bgp_triples.unionByName(rtypes), ront, oont
    ).count()
    extras["entailment_fixpoint_1m_sec"] = round(time.time() - t0, 3)
    extras["fixpoint_n_entailed"] = n_fix

    # Brandes betweenness from ~10 sampled sources over a 200k-edge
    # shuffle-exchange graph (diameter ~17): ~2·ecc level-synchronous
    # rounds, each one (source, vertex)-keyed join + aggregate
    t0 = time.time()
    from spacy_llm_spark.operators.graph import betweenness

    bx = spark.range(100_000)
    bedges = bx.select(
        F.format_string("b%06d", "id").alias("subj"),
        F.format_string("b%06d", (F.col("id") * 2) % 100_000).alias("obj"),
    ).unionByName(
        bx.select(
            F.format_string("b%06d", "id").alias("subj"),
            F.format_string("b%06d", (F.col("id") * 2 + 1) % 100_000).alias(
                "obj"
            ),
        )
    )
    bseeds = bx.where(F.col("id") % 9973 == 0).select(
        F.format_string("b%06d", "id").alias("vertex")
    )
    betweenness(bedges, bseeds, max_hops=60).count()
    extras["betweenness_200k_edges_10src_sec"] = round(time.time() - t0, 3)

    # HyperBall neighborhood function over the same 200k-edge
    # shuffle-exchange graph (undirected diameter ~17): ~17 rounds of
    # one edge join + one hll_union_agg merge; lg_k=8 keeps per-vertex
    # sketches ~hundreds of bytes even once every ball covers all 100k
    # vertices — the fixed-state property that IS HyperBall
    t0 = time.time()
    from spacy_llm_spark.operators.graph import effective_diameter, hyperball

    nf = hyperball(bedges, lg_k=8, max_t=40)
    extras["hyperball_200k_edges_sec"] = round(time.time() - t0, 3)
    extras["hyperball_eff_diameter"] = round(effective_diameter(nf), 2)

    # N-Triples serialization of 1M triples: pure codegen projection —
    # measures serialize throughput (no shuffle; the agg is the sink)
    t0 = time.time()
    from spacy_llm_spark.functions.rdf import to_ntriples

    to_ntriples(
        fact.select(
            F.concat(F.lit("n"), F.col("id").cast("string")).alias("subj"),
            "pred",
            F.col("subj_label").alias("obj"),
        )
    ).agg(F.sum(F.length("ntriple"))).collect()
    extras["ntriples_serialize_1m_sec"] = round(time.time() - t0, 3)

    # named-graph BGP over the same 1M triples scoped into 1000 graphs:
    # GRAPH ?g {executes . appliesTo} — same-graph enforcement is one
    # extra equi-join key, so the cost should track the plain two-hop
    t0 = time.time()
    from spacy_llm_spark.operators.graph import match_quads

    # graph scoped by the statement's BASE node (20 bases/graph): both
    # rows of a base's executes/appliesTo chain inherit the base's
    # graph, so every chain is same-graph by construction — a graph
    # label derived from the row's own subject would scatter the chain
    # across graphs and match ~nothing
    quads_1m = fact.select(
        F.concat(
            F.lit("doc:"), F.floor(base / 20).cast("string")
        ).alias("graph"),
        F.when(F.col("pred") == "appliesTo", _n(base + 1))
        .otherwise(_n(base))
        .alias("subj"),
        "pred",
        F.when(F.col("pred") == "executes", _n(base + 1))
        .when(F.col("pred").isin("appliesTo", "stores"), _n(base + 2))
        .otherwise(_n(base * 7 + 3))
        .alias("obj"),
    )
    n_qd = match_quads(
        quads_1m,
        graphs=[("?g", [("?s", "executes", "?o"), ("?o", "appliesTo", "?t")])],
    ).count()
    extras["quads_graph_bgp_1m_sec"] = round(time.time() - t0, 3)
    extras["quads_n_bindings"] = n_qd

    # 5-truss over 300k edges: 20k planted K5 cliques (200k clique
    # edges, support exactly 3 — all survive) + a 100k-edge chain
    # threading the cliques together (support 0 — peels in round one);
    # fixpoint in 2 rounds, each one oriented-wedge enumeration + one
    # closing join + one edge-keyed count
    t0 = time.time()
    from spacy_llm_spark.operators.graph import k_truss

    tn = spark.range(100_000)
    tcl = (
        tn.select((F.col("id") - F.col("id") % 5).alias("b"),
                  (F.col("id") % 5).alias("i"))
        .join(
            tn.select((F.col("id") - F.col("id") % 5).alias("b"),
                      (F.col("id") % 5).alias("j")),
            "b",
        )
        .where(F.col("i") < F.col("j"))
        .select(
            F.format_string("k%06d", F.col("b") + F.col("i")).alias("subj"),
            F.format_string("k%06d", F.col("b") + F.col("j")).alias("obj"),
        )
    )
    tch = tn.where(F.col("id") < 99_999).select(
        F.format_string("k%06d", "id").alias("subj"),
        F.format_string("k%06d", F.col("id") + 1).alias("obj"),
    )
    n_truss = k_truss(tcl.unionByName(tch), k=5).count()
    extras["ktruss_300k_edges_sec"] = round(time.time() - t0, 3)
    extras["ktruss_n_edges"] = n_truss

    # valid-time snapshot over a 1M-row assertion log (100k keys x 10
    # versions): ONE grouped max-struct argmax — partial aggregation
    # keeps only the running max per key, so a hot key costs its rows,
    # never memory
    t0 = time.time()
    from spacy_llm_spark.operators.temporal import snapshot_asof

    vlog = spark.range(1_000_000).select(
        F.format_string("e%06d", F.col("id") % 100_000).alias("subj"),
        F.lit("state").alias("pred"),
        F.format_string("v%02d", F.col("id") % 17).alias("obj"),
        (F.col("id") / 100_000).cast("long").alias("ts"),
        F.col("id").alias("seq"),
    )
    n_snap = snapshot_asof(vlog, 7, seq="seq").count()
    extras["snapshot_asof_1m_log_sec"] = round(time.time() - t0, 3)
    extras["snapshot_n_facts"] = n_snap

    # bounded path repetition parent{2,3} over the 200k-node hierarchy:
    # a STATIC 2-join tree (lazy, Catalyst-owned) vs the eager
    # path-doubling closure above — the {n,m} scale story in one row
    t0 = time.time()
    n_bp = match_bgp(
        hier.select(
            F.col("child").alias("subj"),
            F.lit("parent").alias("pred"),
            F.col("parent").alias("obj"),
        ),
        [("?a", "parent{2,3}", "?b")],
    ).count()
    extras["bounded_path_200k_sec"] = round(time.time() - t0, 3)
    extras["bounded_path_n_pairs"] = n_bp

    # DELETE/INSERT WHERE over the noise frame's distinct triple set
    # (1M rows reduce to ~100k distinct triples): the triangle WHERE
    # (20k solutions) drives two solution-scale anti-joins against the
    # graph — cost ~ BGP + two hash joins, never a re-distinct of the
    # graph inside the operator
    t0 = time.time()
    from spacy_llm_spark.operators.graph import update_where

    n_upd = update_where(
        bgp_triples.distinct(),
        [("?s", "executes", "?o"), ("?o", "appliesTo", "?t"),
         ("?s", "stores", "?t")],
        delete=[("?s", "stores", "?t")],
        insert=[("?s", "derivedStores", "?t")],
    ).count()
    extras["update_where_100k_distinct_sec"] = round(time.time() - t0, 3)
    extras["update_where_n_triples"] = n_upd

    # grouped Turtle of the same 1M triples: term compression is a
    # projection; the blocks are two subject-keyed hash aggregates
    t0 = time.time()
    from spacy_llm_spark.functions.rdf import to_turtle

    to_turtle(bgp_triples).agg(F.sum(F.length("turtle"))).collect()
    extras["turtle_grouped_1m_sec"] = round(time.time() - t0, 3)

    # ontology induction over the labeled 1M frame: label-count
    # argmaxes + distinct counts meet at predicate scale (5 rows out)
    t0 = time.time()
    from spacy_llm_spark.operators.audit import induce_ontology

    induce_ontology(
        fact.select(
            _n(base).alias("subj"), "pred",
            _n(base * 3 + 1).alias("obj"), "subj_label", "obj_label",
        )
    ).count()
    extras["ontology_induction_1m_sec"] = round(time.time() - t0, 3)

    # truth-discovery fusion: 1M claims (200k data items x ~5 sources,
    # mixed corroboration/conflict), 3 trust rounds
    # TransE epoch over ~100k distinct triples (dim 16): negatives,
    # init, one full-batch quantized-gradient epoch — the dim-x
    # posexplode is the honest parameter-server-free cost
    t0 = time.time()
    from spacy_llm_spark.operators import kgembed
    from spacy_llm_spark.operators.graph import negative_triples

    te_pairs = negative_triples(bgp_triples.distinct())
    te_ents = (
        te_pairs.select(F.col("subj").alias("id"))
        .unionByName(te_pairs.select(F.col("obj").alias("id")))
        .unionByName(te_pairs.select(F.col("neg_obj").alias("id")))
    )
    te_e0 = kgembed.init_embeddings(te_ents, "id", dim=16)
    te_r0 = kgembed.init_embeddings(
        te_pairs.select(F.col("pred").alias("id")), "id", dim=16
    )
    te_e1, _ = kgembed.transe_epoch(te_pairs, te_e0, te_r0, lr=0.05)
    n_te = te_e1.count()
    extras["transe_epoch_100k_triples_sec"] = round(time.time() - t0, 3)
    extras["transe_n_entities"] = n_te

    t0 = time.time()
    from spacy_llm_spark.operators.fusion import fuse_facts

    cl = spark.range(1_000_000).select(
        F.format_string("s%03d", F.col("id") % 997).alias("source"),
        F.format_string("i%06d", F.col("id") % 200_000).alias("subj"),
        F.lit("val").alias("pred"),
        F.when(
            (F.col("id") % 10 + F.floor(F.col("id") / 200_000)) % 10 < 7,
            F.format_string("right%06d", F.col("id") % 200_000),
        ).otherwise(F.format_string("wrong%d", F.col("id") % 3)).alias("obj"),
    )
    n_fused = fuse_facts(cl, iters=3).count()
    extras["fuse_facts_1m_claims_sec"] = round(time.time() - t0, 3)
    extras["fuse_facts_n_items"] = n_fused

    # Boruvka MSF over 100 chains of 1000 + skip-7 chords (~200k edges,
    # cycles everywhere): log2(1000) pick/contract rounds, per-round
    # contraction on the geometrically shrinking picked-edge graph
    t0 = time.time()
    from spacy_llm_spark.operators.graph import minimum_spanning_forest

    mids = spark.range(100_000)
    m_chain = mids.where(F.col("id") % 1000 != 999).select(
        F.format_string("m%08d", "id").alias("src"),
        F.format_string("m%08d", F.col("id") + 1).alias("dst"),
        ((F.col("id") * 37) % 1000 + 1).alias("w"),
    )
    m_chord = mids.where(F.col("id") % 1000 < 993).select(
        F.format_string("m%08d", "id").alias("src"),
        F.format_string("m%08d", F.col("id") + 7).alias("dst"),
        ((F.col("id") * 53) % 1000 + 1).alias("w"),
    )
    n_msf = minimum_spanning_forest(
        m_chain.unionByName(m_chord), src="src", dst="dst", weight="w"
    ).count()
    extras["msf_200k_edges_sec"] = round(time.time() - t0, 3)
    extras["msf_n_edges"] = n_msf

    spark.stop()
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    return {
        "metric": "kg_pipeline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "n_triples": n_triples,
        "n_canonical_triples": n_canonical,
        "triples_per_sec": round(n_triples / kg_secs, 1),
        "cpus": cpus,
        "replicate": replicate,
        **extras,
    }


def _loadavg1() -> float:
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:  # non-Linux fallback: no gate
        return 0.0


def _parallel_worker(_arg: int) -> int:
    s = 0
    for i in range(5_000_000):
        s += i
    return s


def _effective_cores(cpus: int) -> dict:
    """Measure the host's *delivered* parallel capacity with a ~2 s
    fixed-work probe: one worker alone, then ``cpus`` workers at once.
    effective_cores = single_wall * cpus / parallel_wall.

    Guest loadavg misses hypervisor-level steal: a round-4 window showed
    launch_load 0.07 yet only ~12 of 32 cores delivered (every bench
    query uniformly ~2.6x slower on diff-identical code). This probe
    makes such windows self-identifying in the artifact itself."""
    t0 = time.perf_counter()
    _parallel_worker(0)
    single = time.perf_counter() - t0
    import multiprocessing as mp

    t0 = time.perf_counter()
    with mp.Pool(cpus) as pool:
        pool.map(_parallel_worker, range(cpus))
    wide = time.perf_counter() - t0
    eff = single * cpus / wide if wide > 0 else float(cpus)
    return {
        "single_wall_s": round(single, 3),
        "parallel_wall_s": round(wide, 3),
        "effective_cores": round(min(eff, float(cpus)), 1),
    }


def _wait_for_quiet(max_load: float, max_wait_secs: float) -> float:
    """Block until host 1-min loadavg drops below ``max_load`` (or the
    wait budget runs out — the bench then proceeds and the recorded
    launch_load flags the run as contention-suspect). Round-3 lesson:
    an ungated bench run in a load~13 window mimicked a 2x regression
    in three similarity queries that a quiet rerun disproved."""
    t0 = time.time()
    while True:
        load1 = _loadavg1()
        if load1 <= max_load or time.time() - t0 > max_wait_secs:
            return load1
        time.sleep(15)


def _wait_for_capacity(cpus: int, floor: float, max_wait_secs: float) -> dict:
    """Block until the DELIVERED parallel capacity (not guest loadavg)
    reaches ``floor`` effective cores, re-probing every ~20 s. Round-4
    lesson: the r4 headline passed the loadavg<=6 gate at launch_load
    5.18 yet its own capacity probe recorded 10.5/32 effective cores —
    hypervisor steal is invisible to loadavg, so the probe IS the gate
    now. Returns the last probe; the caller records whether the floor
    was met (an unmet floor marks the artifact degraded-host)."""
    t0 = time.time()
    while True:
        probe = _effective_cores(cpus)
        probe["floor_met"] = probe["effective_cores"] >= floor
        if probe["floor_met"] or time.time() - t0 > max_wait_secs:
            return probe
        time.sleep(15)


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "4"))
    max_load = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "6"))
    max_wait = float(os.environ.get("SPARK_GRAFT_MAX_WAIT_SECS", "900"))
    # capacity floor: 0.7x of nominal cores (22.4/32) separates the
    # quiet windows (19-28 effective observed) from the degraded ones
    # (~10-13) by a wide margin on this host's bimodal steal pattern
    floor = float(os.environ.get("SPARK_GRAFT_MIN_EFF_CORES", str(0.7 * cpus)))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    deadline = time.time() + max_wait  # shared across all gate waits

    attempts: list[dict] = []
    for _ in range(n_runs):
        launch_load = _wait_for_quiet(max_load, max(0.0, deadline - time.time()))
        probe_before = _wait_for_capacity(
            cpus, floor, max(0.0, deadline - time.time())
        )
        result = run_bench(sf_dir, cpus, replicate)
        result["launch_load"] = launch_load
        result["end_load"] = _loadavg1()
        result["capacity_probe"] = {"before": probe_before,
                                    "after": _effective_cores(cpus)}
        result["clean_capacity"] = (
            probe_before["floor_met"]
            and result["capacity_probe"]["after"]["effective_cores"] >= floor
        )
        attempts.append(result)

    # best-of-K is part of the artifact itself (was a manual
    # BENCH/bench_r4_best.json step in r4): prefer the fastest run whose
    # BOTH capacity probes cleared the floor; only if no attempt ran
    # clean fall back to the fastest overall and flag degraded_host.
    clean = [a for a in attempts if a["clean_capacity"]]
    best = min(clean or attempts, key=lambda a: a["value"])
    best["degraded_host"] = not clean
    best["capacity_gate"] = {
        "min_effective_cores": floor,
        "max_load": max_load,
        "max_wait_secs": max_wait,
        "n_runs": n_runs,
    }
    best["attempts"] = [
        {
            "value": a["value"],
            "triples_per_sec": a["triples_per_sec"],
            "launch_load": a["launch_load"],
            "effective_cores_before": a["capacity_probe"]["before"]["effective_cores"],
            "effective_cores_after": a["capacity_probe"]["after"]["effective_cores"],
            "clean_capacity": a["clean_capacity"],
            "selected": a is best,
        }
        for a in attempts
    ]
    print(json.dumps(best))
