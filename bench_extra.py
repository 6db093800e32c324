"""Per-operator isolation harness for the optimization rounds (guide §1).

NOT the driver bench (bench.py is frozen): this file times ONE target at
a time with the same data shapes as bench.py, so before/after deltas for
a single operator are measurable without the 30-minute full sweep.

Usage:
    python bench_extra.py --targets entailment_fixpoint,hard_negatives \
        [--sf /root/testdata/sf0.1] [--explain-dir plans/r06 --suffix before]

Prints one JSON line {target: seconds, ...} (plus row counts as
"<target>_n" keys for a quick sanity check that an optimization did not
change the result cardinality).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from spacy_llm_spark import get_spark  # noqa: E402
from spacy_llm_spark.corpus import corpus_from_documents  # noqa: E402


def build_session(cpus: int):
    return get_spark(
        app_name="spacy-llm-spark-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": "/dev/shm/spark-bench-local",
        },
    )


def _docs(spark, sf_dir, cpus):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(cpus * 2)
        .localCheckpoint()
    )


def _fact(spark):
    preds = ["precedes", "appliesTo", "emits", "executes", "stores"]
    labs = ["OP", "TABLE", "SYS"]
    return spark.range(1_000_000).select(
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


def _n(e):
    return F.concat(F.lit("n"), (e % 20_000).cast("string"))


def _bgp_triples(spark):
    base = F.floor(F.col("id") / 5) % 20_000
    return _fact(spark).select(
        F.when(F.col("pred") == "appliesTo", _n(base + 1))
        .otherwise(_n(base))
        .alias("subj"),
        "pred",
        F.when(F.col("pred") == "executes", _n(base + 1))
        .when(F.col("pred").isin("appliesTo", "stores"), _n(base + 2))
        .otherwise(_n(base * 7 + 3))
        .alias("obj"),
    )


def _rtypes(spark):
    return spark.range(20_000).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("subj"),
        F.lit("type").alias("pred"),
        F.element_at(
            F.array(F.lit("OP"), F.lit("TABLE"), F.lit("SYS")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("obj"),
    )


def _ront(spark):
    return spark.createDataFrame(
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


def _chain(spark):
    ids = spark.range(200_000)
    return ids.where(F.col("id") % 2000 != 1999).select(
        F.format_string("c%08d", "id").alias("src"),
        F.format_string("c%08d", F.col("id") + 1).alias("dst"),
    )


def _bedges(spark):
    bx = spark.range(100_000)
    return bx.select(
        F.format_string("b%06d", "id").alias("subj"),
        F.format_string("b%06d", (F.col("id") * 2) % 100_000).alias("obj"),
    ).unionByName(
        bx.select(
            F.format_string("b%06d", "id").alias("subj"),
            F.format_string("b%06d", (F.col("id") * 2 + 1) % 100_000).alias("obj"),
        )
    )


def make_targets(spark, sf_dir, cpus, replicate):
    """name -> zero-arg callable returning a row count (the action)."""
    T = {}

    def docs():
        return _docs(spark, sf_dir, cpus)

    # --- reasoning family -------------------------------------------------
    def entailment_fixpoint():
        from spacy_llm_spark.operators.reason import entailment_fixpoint

        oont = spark.createDataFrame(
            [("flowsTo", "type", "TransitiveProperty")], ["subj", "pred", "obj"]
        )
        return entailment_fixpoint(
            _bgp_triples(spark).unionByName(_rtypes(spark)), _ront(spark), oont
        ).count()

    T["entailment_fixpoint"] = entailment_fixpoint

    def rdfs_entailment():
        from spacy_llm_spark.operators.reason import rdfs_entailment

        return rdfs_entailment(
            _bgp_triples(spark).unionByName(_rtypes(spark)), _ront(spark)
        ).count()

    T["rdfs_entailment"] = rdfs_entailment

    def closure_hierarchy():
        from spacy_llm_spark.operators.graph import transitive_closure

        hier = spark.range(2, 200_000).select(
            F.col("id").alias("child"), F.floor(F.col("id") / 2).alias("parent")
        )
        return transitive_closure(hier, src="child", dst="parent").count()

    T["closure_hierarchy"] = closure_hierarchy

    # --- vector similarity -----------------------------------------------
    def hard_negatives():
        from spacy_llm_spark.operators.similarity import hard_negatives

        embh = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return hard_negatives(
            embh.where(F.col("vec_id") % 100 == 0), embh, k=10,
            sim_lo=0.2, sim_hi=0.99,
        ).count()

    T["hard_negatives"] = hard_negatives

    def lexical_cosine():
        from spacy_llm_spark.operators.similarity import lexical_cosine_pairs

        return lexical_cosine_pairs(docs(), min_sim=0.5, n=3, max_df=2000).count()

    T["lexical_cosine"] = lexical_cosine

    # --- graph family -----------------------------------------------------
    def betweenness():
        from spacy_llm_spark.operators.graph import betweenness

        bx = spark.range(100_000)
        bseeds = bx.where(F.col("id") % 9973 == 0).select(
            F.format_string("b%06d", "id").alias("vertex")
        )
        return betweenness(_bedges(spark), bseeds, max_hops=60).count()

    T["betweenness"] = betweenness

    def hyperball():
        from spacy_llm_spark.operators.graph import hyperball

        return hyperball(_bedges(spark), lg_k=8, max_t=40).count()

    T["hyperball"] = hyperball

    def scc():
        from spacy_llm_spark.operators.graph import strongly_connected_components

        cyc = spark.range(100_000).select(
            F.format_string("s%08d", "id").alias("subj"),
            F.format_string(
                "s%08d", F.col("id") - F.col("id") % 5 + (F.col("id") + 1) % 5
            ).alias("obj"),
        )
        dag = spark.range(100_000, 200_000).where(F.col("id") % 10 != 9).select(
            F.format_string("s%08d", "id").alias("subj"),
            F.format_string("s%08d", F.col("id") + 1).alias("obj"),
        )
        return (
            strongly_connected_components(cyc.unionByName(dag), max_iter=30)
            .select("scc").distinct().count()
        )

    T["scc"] = scc

    def msf():
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
        return minimum_spanning_forest(
            m_chain.unionByName(m_chord), src="src", dst="dst", weight="w"
        ).count()

    T["msf"] = msf

    def hits():
        from spacy_llm_spark.operators.graph import hits

        return hits(_chain(spark), iters=3, src="src", dst="dst").count()

    T["hits"] = hits

    def ppr():
        from spacy_llm_spark.operators.graph import personalized_pagerank

        ids = spark.range(200_000)
        seeds = ids.where(F.col("id") % 2000 == 0).select(
            F.format_string("c%08d", "id").alias("vertex")
        )
        return personalized_pagerank(
            _chain(spark), seeds, src="src", dst="dst", iters=5
        ).count()

    T["ppr"] = ppr

    def cc():
        from spacy_llm_spark.operators import canonicalize as canon

        return canon.connected_components(
            _chain(spark), max_iter=30, driver_threshold=0
        ).count()

    T["cc"] = cc

    def bfs():
        from spacy_llm_spark.operators.graph import bfs_levels

        ids = spark.range(200_000)
        seeds = ids.where(F.col("id") % 2000 == 0).select(
            F.format_string("c%08d", "id").alias("vertex")
        )
        return bfs_levels(
            _chain(spark), seeds, max_hops=5, src="src", dst="dst"
        ).count()

    T["bfs"] = bfs

    def kcore():
        from spacy_llm_spark.operators.graph import k_core

        ids = spark.range(200_000)
        rungs = ids.where((F.col("id") % 7 == 3) & (F.col("id") < 198_000)).select(
            F.format_string("c%08d", "id").alias("src"),
            F.format_string("c%08d", F.col("id") + 2000).alias("dst"),
        )
        return k_core(_chain(spark).union(rungs), 2, src="src", dst="dst").count()

    T["kcore"] = kcore

    def ktruss():
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
        return k_truss(tcl.unionByName(tch), k=5).count()

    T["ktruss"] = ktruss

    def lpa():
        from spacy_llm_spark.operators.graph import label_propagation

        return label_propagation(
            _chain(spark), rounds=3, src="src", dst="dst"
        ).count()

    T["lpa"] = lpa

    def update_where():
        from spacy_llm_spark.operators.graph import update_where

        return update_where(
            _bgp_triples(spark).distinct(),
            [("?s", "executes", "?o"), ("?o", "appliesTo", "?t"),
             ("?s", "stores", "?t")],
            delete=[("?s", "stores", "?t")],
            insert=[("?s", "derivedStores", "?t")],
        ).count()

    T["update_where"] = update_where

    # --- embedding / fusion ----------------------------------------------
    def transe():
        from spacy_llm_spark.operators import kgembed
        from spacy_llm_spark.operators.graph import negative_triples

        te_pairs = negative_triples(_bgp_triples(spark).distinct())
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
        return te_e1.count()

    T["transe"] = transe

    def fuse_facts():
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
        return fuse_facts(cl, iters=3).count()

    T["fuse_facts"] = fuse_facts

    # --- dedup family -----------------------------------------------------
    def dedup_minhash():
        from spacy_llm_spark.operators import dedup

        return dedup.minhash_lsh_dup_pairs(
            docs(), n_hashes=64, bands=16, threshold=0.8
        ).count()

    T["dedup_minhash"] = dedup_minhash

    def dedup_simhash():
        from spacy_llm_spark.operators import dedup

        return dedup.simhash(docs()).count()

    T["dedup_simhash"] = dedup_simhash

    def dedup_embedding():
        from spacy_llm_spark.operators import dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        probe = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
        base = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        doubled = base.union(
            base.select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
            )
        )
        return dedup.embedding_dup_pairs(
            doubled, threshold=0.95, bands=24, planes_per_band=12, dim=len(probe)
        ).count()

    T["dedup_embedding"] = dedup_embedding

    # --- kg pipeline (headline) ------------------------------------------
    def kg_pipeline():
        from spacy_llm_spark.kb import build_code_kb
        from spacy_llm_spark.operators import canonicalize as canon
        from spacy_llm_spark.operators import materialize as mat
        from spacy_llm_spark.pipeline import KGConfig, annotate_corpus

        corpus = corpus_from_documents(
            spark, sf_dir, replicate=replicate
        ).localCheckpoint()
        corpus.count()
        annotated = annotate_corpus(
            corpus, KGConfig(), build_code_kb()
        ).localCheckpoint()
        edges = mat.edges_table(annotated)
        links = mat.links_table(annotated)
        n_triples = edges.count()
        vertices = canon.canonical_vertices(links)
        canonical = canon.canonical_edges(edges, vertices)
        canonical.count()
        return n_triples

    T["kg_pipeline"] = kg_pipeline

    return T


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--targets", required=True)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--replicate", type=int, default=int(
        os.environ.get("SPARK_GRAFT_REPLICATE", "4")))
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    spark = build_session(args.cpus)
    T = make_targets(spark, args.sf, args.cpus, args.replicate)
    names = [t.strip() for t in args.targets.split(",") if t.strip()]
    if names == ["all"]:
        names = list(T)
    out = {"sf": args.sf, "cpus": args.cpus}
    for name in names:
        if name not in T:
            raise SystemExit(f"unknown target {name}; have {sorted(T)}")
        best, n = None, None
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            n = T[name]()
            dt = round(time.time() - t0, 3)
            best = dt if best is None else min(best, dt)
            spark.sparkContext.setJobDescription(None)
        out[name] = best
        out[f"{name}_n"] = n
        print(json.dumps({name: best, "n": n}), flush=True)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
