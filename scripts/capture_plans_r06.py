"""Capture .explain("formatted") for the round-6 touched query shapes.

Usage: python scripts/capture_plans_r06.py <suffix> [name ...]
Writes plans/r06/<name>_<suffix>.txt. Shapes mirror bench.py /
__spark_entry__.py; loop-based operators (fixpoint, closure) capture the
plan of the RETURNED frame (the converged round), which is where the
per-round shape shows.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spacy_llm_spark import get_spark  # noqa: E402


def capture(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    suffix = sys.argv[1]
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    shapes = {}

    def hard_negatives():
        from spacy_llm_spark.operators.similarity import hard_negatives

        return hard_negatives(
            emb.where(F.col("vec_id") % 100 == 0), emb, k=10,
            sim_lo=0.2, sim_hi=0.99,
        )

    shapes["hard_negatives"] = hard_negatives

    def kg_closure():
        from spacy_llm_spark.operators.graph import transitive_closure

        hier = spark.range(2, 60_000).select(
            F.col("id").alias("child"), F.floor(F.col("id") / 2).alias("parent")
        )
        return transitive_closure(hier, src="child", dst="parent")

    shapes["kg_closure"] = kg_closure

    def kg_rdfs():
        from spacy_llm_spark.operators.reason import rdfs_entailment

        triples = spark.createDataFrame(
            [("a", "executes", "b"), ("a", "type", "OP")],
            ["subj", "pred", "obj"],
        )
        ront = spark.createDataFrame(
            [("executes", "subPropertyOf", "dependsOn"),
             ("OP", "subClassOf", "ENTITY")],
            ["subj", "pred", "obj"],
        )
        return rdfs_entailment(triples, ront)

    shapes["kg_rdfs"] = kg_rdfs

    def transe_epoch():
        from spacy_llm_spark.operators import kgembed
        from spacy_llm_spark.operators.graph import negative_triples

        triples = spark.createDataFrame(
            [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a")],
            ["subj", "pred", "obj"],
        )
        pairs = negative_triples(triples)
        ents = (
            pairs.select(F.col("subj").alias("id"))
            .unionByName(pairs.select(F.col("obj").alias("id")))
            .unionByName(pairs.select(F.col("neg_obj").alias("id")))
        )
        e0 = kgembed.init_embeddings(ents, "id", dim=4)
        r0 = kgembed.init_embeddings(
            pairs.select(F.col("pred").alias("id")), "id", dim=4
        )
        e1, _ = kgembed.transe_epoch(pairs, e0, r0, lr=0.05)
        return e1

    shapes["transe_epoch"] = transe_epoch

    def embedding_dup_pairs():
        from spacy_llm_spark.operators import dedup

        base = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        return dedup.embedding_dup_pairs(
            base, threshold=0.95, bands=24, planes_per_band=12, dim=64
        )

    shapes["embedding_dup_pairs"] = embedding_dup_pairs

    def dedup_minhash_lsh():
        from spacy_llm_spark.operators import dedup

        return dedup.minhash_lsh_dup_pairs(
            docs, n_hashes=64, bands=16, threshold=0.8
        )

    shapes["dedup_minhash_lsh"] = dedup_minhash_lsh

    def kg_hits():
        from spacy_llm_spark.operators.graph import hits

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["subj", "obj"]
        )
        return hits(e, iters=2)

    shapes["kg_hits"] = kg_hits

    def kg_ppr():
        from spacy_llm_spark.operators.graph import personalized_pagerank

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["subj", "obj"]
        )
        seeds = spark.createDataFrame([("a",)], ["vertex"])
        return personalized_pagerank(e, seeds, iters=2)

    shapes["kg_ppr"] = kg_ppr

    def fuse_facts():
        from spacy_llm_spark.operators.fusion import fuse_facts

        cl = spark.range(10_000).select(
            F.format_string("s%03d", F.col("id") % 97).alias("source"),
            F.format_string("i%05d", F.col("id") % 2_000).alias("subj"),
            F.lit("val").alias("pred"),
            F.format_string("v%d", F.col("id") % 3).alias("obj"),
        )
        return fuse_facts(cl, iters=3)

    shapes["fuse_facts"] = fuse_facts

    def ann_lsh_topk():
        from spacy_llm_spark.operators.similarity import ann_lsh_topk

        probe = [float(x) for x in range(64)]
        return ann_lsh_topk(emb, probe, k=10)

    shapes["ann_lsh_topk"] = ann_lsh_topk

    def cosine_topk():
        from spacy_llm_spark.operators.similarity import cosine_topk

        probe = [float(x) for x in range(64)]
        return cosine_topk(emb, probe, k=10)

    shapes["cosine_topk"] = cosine_topk

    def embedding_lsh_probe():
        from spacy_llm_spark.operators import dedup

        base = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        idx = dedup.embedding_lsh_index(base, bands=24, planes_per_band=12, dim=64)
        batch = base.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        ).limit(50)
        return dedup.embedding_lsh_probe(
            batch, idx, bands=24, planes_per_band=12, threshold=0.95, dim=64,
            include_new_pairs=False,
        )

    shapes["embedding_lsh_probe"] = embedding_lsh_probe

    def topological_levels():
        from spacy_llm_spark.operators.graph import topological_levels

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
            ["subj", "obj"],
        )
        return topological_levels(e)

    shapes["topological_levels"] = topological_levels

    def kg_bfs_levels():
        from spacy_llm_spark.operators.graph import bfs_levels

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["subj", "obj"]
        )
        seeds = spark.createDataFrame([("a",)], ["vertex"])
        return bfs_levels(e, seeds, max_hops=2)

    shapes["kg_bfs_levels"] = kg_bfs_levels

    def kg_scc():
        from spacy_llm_spark.operators.graph import (
            strongly_connected_components,
        )

        e = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c")],
            ["subj", "obj"],
        )
        return strongly_connected_components(e)

    shapes["kg_scc"] = kg_scc

    def cc_distributed():
        from spacy_llm_spark.operators.canonicalize import (
            connected_components,
        )

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
        )
        return connected_components(e, driver_threshold=0)

    shapes["cc_distributed"] = cc_distributed

    def kg_betweenness():
        from spacy_llm_spark.operators.graph import betweenness

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d")], ["subj", "obj"]
        )
        seeds = spark.createDataFrame([("a",)], ["vertex"])
        return betweenness(e, seeds, max_hops=6)

    shapes["kg_betweenness"] = kg_betweenness

    def kg_update_where():
        from spacy_llm_spark.operators.graph import update_where

        tri = spark.createDataFrame(
            [("a", "executes", "b"), ("b", "appliesTo", "c"),
             ("a", "stores", "c"), ("x", "stores", "y")],
            ["subj", "pred", "obj"],
        )
        return update_where(
            tri,
            [("?s", "executes", "?o"), ("?o", "appliesTo", "?t"),
             ("?s", "stores", "?t")],
            delete=[("?s", "stores", "?t")],
            insert=[("?s", "derivedStores", "?t")],
        )

    shapes["kg_update_where"] = kg_update_where

    for name, fn in shapes.items():
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(capture(fn()))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
