"""Quantify the incremental-maintenance claim: merging a small edge
batch into an existing label map must cost a fraction of a full CC
recompute, and the result must be identical.

Graph: the same 100-chains-of-2000 shape bench.py times for distributed
CC (200k edges, diameter 2000 — a worst case for label propagation).
Increment: 100 extra edges (0.05%) splicing chain ends. Both runs use
driver_threshold=0 so the distributed star-round path is what's timed.

Prints one JSON line:
  {"full_cc_sec": ..., "incremental_sec": ..., "speedup": ...,
   "labels_match": true, "n_edges": 200000, "n_increment": 100, ...}

Usage: python scripts/bench_incremental.py [n_base_edges] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spacy_llm_spark import get_spark
from spacy_llm_spark.operators import canonicalize as canon


def chain_edges(spark, n: int, chunk: int = 2000, dup_factor: int = 1):
    """~n raw edge rows. dup_factor > 1 keeps the node set n/dup_factor
    small while the RAW edge set stays n — the multigraph shape a
    corpus-derived entity graph has (every mention re-asserts its edge).
    The full recompute must distinct all n rows every run; the
    incremental path reads only the node-scale label map + increment."""
    ids = spark.range(n)
    base = (F.col("id") % (n // dup_factor)) if dup_factor > 1 else F.col("id")
    return ids.select(base.alias("b")).where(
        F.col("b") % chunk != chunk - 1
    ).select(
        F.format_string("c%08d", "b").alias("src"),
        F.format_string("c%08d", F.col("b") + 1).alias("dst"),
    )


def adversarial_main() -> None:
    """The sliced path's worst case, measured: a base graph dominated by
    ONE giant component, then 10 successive batches that each touch the
    giant. Every merge must recompute ~the whole graph; the question is
    what the slice joins add on top and where the auto-fallback
    (full_recompute_fraction) should sit. Prints one JSON line with the
    per-batch times for (a) sliced path forced (fraction=None), (b)
    auto-fallback (default 0.8 — always triggers here), and (c) full
    recompute from raw edges, plus final-label equality across all three.

    Usage: python scripts/bench_incremental.py --adversarial [n] [cpus]
    """
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    spark = get_spark(
        app_name="bench-incremental-adversarial",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # one giant chain (diameter n) + 1000 isolated 2-cliques
    giant = chain_edges(spark, n, chunk=n)
    tiny = spark.range(1000).select(
        F.format_string("t%06da", "id").alias("src"),
        F.format_string("t%06db", "id").alias("dst"),
    )
    base = giant.unionByName(tiny).localCheckpoint()
    batches = []
    for b in range(10):
        # each batch splices 20 new nodes INTO the giant component
        rows = [
            (f"c{(b * 37 + i * 991) % (n - 1):08d}", f"x{b:02d}_{i:04d}")
            for i in range(20)
        ]
        batches.append(
            spark.createDataFrame(rows, "src string, dst string").localCheckpoint()
        )

    def run_chain(fraction):
        t0 = time.time()
        labels = canon.connected_components(
            base, max_iter=30, driver_threshold=0
        ).localCheckpoint()
        per_batch = []
        for inc in batches:
            t1 = time.time()
            labels = canon.incremental_components(
                labels, inc, max_iter=30, driver_threshold=0,
                full_recompute_fraction=fraction,
            ).localCheckpoint()
            per_batch.append(round(time.time() - t1, 3))
        return labels, per_batch, round(time.time() - t0, 3)

    sliced_labels, sliced_batches, sliced_total = run_chain(None)
    fb_labels, fb_batches, fb_total = run_chain(0.8)

    t0 = time.time()
    full_batches = []
    edges_so_far = base
    for inc in batches:
        t1 = time.time()
        edges_so_far = edges_so_far.unionByName(inc).localCheckpoint()
        full_labels = canon.connected_components(
            edges_so_far, max_iter=30, driver_threshold=0
        ).localCheckpoint()
        full_batches.append(round(time.time() - t1, 3))
    full_total = round(time.time() - t0, 3)

    def as_map(df):
        return {r.node: r.component for r in df.collect()}

    match = as_map(sliced_labels) == as_map(fb_labels) == as_map(full_labels)
    spark.stop()
    print(json.dumps({
        "metric": "incremental_cc_adversarial_touch",
        "n_base_edges": n + 1000,
        "n_batches": len(batches),
        "sliced_per_batch_sec": sliced_batches,
        "fallback_per_batch_sec": fb_batches,
        "full_recompute_per_batch_sec": full_batches,
        "sliced_total_sec": sliced_total,
        "fallback_total_sec": fb_total,
        "full_total_sec": full_total,
        "labels_match": match,
        "cpus": cpus,
    }))


def stream_maintenance_main() -> None:
    """Live label maintenance at bench scale: real KG links from the sf
    corpus, split into N batches by doc hash. Incremental curve = chain
    incremental_components over per-batch increments (exactly what the
    maintain_vertices stream runs per micro-batch); full curve = rerun
    connected_components over ALL links seen so far at every batch (what
    a stream without maintenance would have to do). One JSON line with
    both curves and final-label equality.

    Usage: python scripts/bench_incremental.py --stream [n_batches] [cpus] [sf_dir]
    """
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from spacy_llm_spark.corpus import corpus_from_documents
    from spacy_llm_spark.kb import build_code_kb
    from spacy_llm_spark.operators import materialize as mat
    from spacy_llm_spark.pipeline import KGConfig, annotate_corpus

    spark = get_spark(
        app_name="bench-incremental-stream",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    corpus = corpus_from_documents(spark, sf_dir)
    links = mat.links_table(
        annotate_corpus(corpus, KGConfig(), build_code_kb())
    ).localCheckpoint()
    link_batches = [
        links.where(F.pmod(F.xxhash64("content_sha256"), n_batches) == b)
        .localCheckpoint()
        for b in range(n_batches)
    ]

    t0 = time.time()
    inc_batches = []
    labels = None
    for lb in link_batches:
        t1 = time.time()
        inc = canon.links_increment_edges(lb)
        if labels is None:
            labels = canon.connected_components(inc).localCheckpoint()
        else:
            labels = canon.incremental_components(labels, inc).localCheckpoint()
        inc_batches.append(round(time.time() - t1, 3))
    incremental_total = round(time.time() - t0, 3)

    t0 = time.time()
    full_batches = []
    for b in range(n_batches):
        t1 = time.time()
        seen = link_batches[0]
        for lb in link_batches[1:b + 1]:
            seen = seen.unionByName(lb)
        full_labels = canon.connected_components(
            canon.links_increment_edges(seen)
        ).localCheckpoint()
        full_batches.append(round(time.time() - t1, 3))
    full_total = round(time.time() - t0, 3)

    def as_map(df):
        return {r.node: r.component for r in df.collect()}

    match = as_map(labels) == as_map(full_labels)
    n_links = links.count()
    spark.stop()
    print(json.dumps({
        "metric": "live_label_maintenance_vs_full",
        "sf_dir": sf_dir,
        "n_links": n_links,
        "n_batches": n_batches,
        "incremental_per_batch_sec": inc_batches,
        "full_recompute_per_batch_sec": full_batches,
        "incremental_total_sec": incremental_total,
        "full_total_sec": full_total,
        "speedup": round(full_total / incremental_total, 2),
        "labels_match": match,
        "cpus": cpus,
    }))


def alignment_main() -> None:
    """Incremental entity alignment vs full recompute over K append
    batches of synthetic triples: the incremental curve merges each
    batch into the standing feature index (index-scale recount) and
    probes the NEXT batch against it, while the full curve re-scans all
    accumulated history per probe. Probe == full is asserted at the
    final batch (the side-separable-df exact equivalence).
    Usage: bench_incremental.py --alignment [k_batches]
    """
    from spacy_llm_spark.operators.audit import (
        align_entities,
        align_entities_probe,
        alignment_index,
        alignment_index_append,
    )

    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    if k < 1:
        raise SystemExit("--alignment needs k_batches >= 1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    n_per = int(os.environ.get("SPARK_GRAFT_ALIGN_BATCH", "100000"))
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def batch(i):
        # entity namespace e{batch}_{n}: features overlap via shared
        # object values v{n%5000}, so cross-batch alignment is real
        return spark.range(n_per).select(
            F.format_string(f"e{i}_%06d", F.col("id") % (n_per // 5)).alias("subj"),
            F.element_at(
                F.array(F.lit("hasValue"), F.lit("linksTo"), F.lit("typed")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("pred"),
            F.format_string("v%05d", F.col("id") % 5000).alias("obj"),
        ).localCheckpoint()

    base = batch(0)
    index = alignment_index(base).localCheckpoint()
    history = base
    inc_secs, full_secs, n_cand = [], [], []
    probe = None
    for i in range(1, k + 1):
        nb = batch(i)
        t0 = time.time()
        probe = align_entities_probe(nb, index, min_shared=2)
        n_cand.append(probe.count())
        index = alignment_index_append(index, nb).localCheckpoint()
        inc_secs.append(round(time.time() - t0, 3))
        t0 = time.time()
        full = align_entities(nb, history, min_shared=2)
        full.count()
        full_secs.append(round(time.time() - t0, 3))
        history = history.unionByName(nb).localCheckpoint()
    cols = ["left_id", "right_id", "n_shared", "score"]
    diff = (
        probe.join(full, cols, "left_anti").count()
        + full.join(probe, cols, "left_anti").count()
    )
    print(json.dumps({
        "metric": "incremental_vs_full_alignment",
        "triples_per_batch": n_per, "k_batches": k,
        "incremental_per_batch_sec": inc_secs,
        "full_recompute_per_batch_sec": full_secs,
        "total_incremental_sec": round(sum(inc_secs), 3),
        "total_full_sec": round(sum(full_secs), 3),
        "speedup": round(sum(full_secs) / max(sum(inc_secs), 1e-9), 2),
        "n_candidates_per_batch": n_cand,
        "probe_equals_full_final": diff == 0,
        "cpus": cpus,
    }))
    spark.stop()


def fusion_main() -> None:
    """Incremental truth discovery vs full refusion over K claim
    batches: the incremental curve scores each batch against the
    FROZEN standing trust table (one probabilistic-OR pass), the full
    curve re-runs the 3-round iteration over all accumulated claims.
    The frozen trust is stale by design (fuse==full equivalence on
    identical claims is test-pinned in test_fusion.py; the drift
    metric is the retrain trigger) — this measures the COST gap the
    frozen-probe pattern buys. Usage: bench_incremental.py --fusion [k]
    """
    from spacy_llm_spark.operators.fusion import (
        fuse_facts,
        fuse_facts_with_trust,
        source_trust_table,
    )

    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    if k < 1:
        raise SystemExit("--fusion needs k_batches >= 1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    n_per = int(os.environ.get("SPARK_GRAFT_FUSION_BATCH", "200000"))
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def batch(i):
        # disjoint item namespaces per batch; sources SHARED across
        # batches (the standing-trust reuse that makes freezing work)
        return spark.range(n_per).select(
            F.format_string("s%03d", F.col("id") % 997).alias("source"),
            F.format_string(f"i{i}_%06d", F.col("id") % (n_per // 5)).alias("subj"),
            F.lit("val").alias("pred"),
            F.when(
                (F.col("id") % 10 + F.floor(F.col("id") / (n_per // 5))) % 10 < 7,
                F.format_string("right%06d", F.col("id") % (n_per // 5)),
            ).otherwise(
                F.format_string("wrong%d", F.col("id") % 3)
            ).alias("obj"),
        ).localCheckpoint()

    base = batch(0)
    trust = source_trust_table(base, iters=3).localCheckpoint()
    history = base
    inc_secs, full_secs, n_items = [], [], []
    for i in range(1, k + 1):
        nb = batch(i)
        t0 = time.time()
        n_items.append(fuse_facts_with_trust(nb, trust).count())
        inc_secs.append(round(time.time() - t0, 3))
        history = history.unionByName(nb).localCheckpoint()
        t0 = time.time()
        fuse_facts(history, iters=3).count()
        full_secs.append(round(time.time() - t0, 3))
    print(json.dumps({
        "metric": "incremental_vs_full_fusion",
        "claims_per_batch": n_per, "k_batches": k,
        "incremental_per_batch_sec": inc_secs,
        "full_refusion_per_batch_sec": full_secs,
        "total_incremental_sec": round(sum(inc_secs), 3),
        "total_full_sec": round(sum(full_secs), 3),
        "speedup": round(sum(full_secs) / max(sum(inc_secs), 1e-9), 2),
        "n_items_per_batch": n_items,
        "trust_frozen_note": "stale by design; retrain on trust_drift",
        "cpus": cpus,
    }))
    spark.stop()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    dup_factor = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    if n // dup_factor < 2 * 2000:
        raise SystemExit(
            "n/dup_factor must cover at least two 2000-node chains; the "
            "hardcoded splice increment assumes that node space"
        )
    spark = get_spark(
        app_name="bench-incremental",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    base = chain_edges(spark, n, dup_factor=dup_factor).localCheckpoint()
    # increment: ~100 edges touching TWO of the 100 chains — one splice
    # (chain 0 -> chain 1) plus shortcut edges inside chain 0. The touched
    # slice is 2 components (4k nodes of 200k); everything else must pass
    # through untouched.
    inc_rows = [("c00001999", "c00002000")] + [
        (f"c{i:08d}", f"c{i + 2:08d}") for i in range(0, 198, 2)
    ]
    inc = spark.createDataFrame(inc_rows, "src string, dst string").localCheckpoint()

    t0 = time.time()
    labels = canon.connected_components(base, max_iter=30, driver_threshold=0)
    labels = labels.localCheckpoint()  # the standing map a real job persists
    base_cc_sec = time.time() - t0

    t0 = time.time()
    incr = canon.incremental_components(
        labels, inc, max_iter=30, driver_threshold=0
    ).localCheckpoint()
    incremental_sec = time.time() - t0

    t0 = time.time()
    full = canon.connected_components(
        base.unionByName(inc), max_iter=30, driver_threshold=0
    ).localCheckpoint()
    full_cc_sec = time.time() - t0

    mismatches = (
        incr.alias("a")
        .join(full.alias("b"), "node", "full")
        .where(
            F.col("a.component").isNull()
            | F.col("b.component").isNull()
            | (F.col("a.component") != F.col("b.component"))
        )
        .count()
    )
    spark.stop()
    print(json.dumps({
        "metric": "incremental_vs_full_cc",
        "n_edges": n,
        "n_increment": len(inc_rows),
        "base_cc_sec": round(base_cc_sec, 3),
        "full_cc_sec": round(full_cc_sec, 3),
        "incremental_sec": round(incremental_sec, 3),
        "speedup": round(full_cc_sec / incremental_sec, 2),
        "labels_match": mismatches == 0,
        "cpus": cpus,
        "dup_factor": dup_factor,
    }))




def edgesupport_main() -> None:
    """Incremental provenance maintenance vs full recompute over K
    append batches: the incremental curve should stay ~flat (delta
    aggregate + triple-scale merge) while the full curve re-aggregates
    the whole growing edge history every batch. Synthetic edge batches:
    disjoint doc-id ranges (the append contract), the SAME ~200k-triple
    pool every batch so merges contend on every key. Equality asserted
    at the final batch. Usage: bench_incremental.py --edgesupport [k]
    """
    from spacy_llm_spark.operators.materialize import (
        edge_support,
        edge_support_append,
    )

    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    if k < 1:
        raise SystemExit("--edgesupport needs k_batches >= 1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    n, pool = 200_000, 50_000
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def batch(i):
        ids = spark.range(n)
        return ids.select(
            (F.lit(i * n) + F.col("id") % (n // 10)).alias("doc_id"),
            F.format_string("s%06d", F.col("id") % pool).alias("subj"),
            F.format_string("p%02d", F.col("id") % 7).alias("pred"),
            F.format_string("o%06d", (F.col("id") * 31) % pool).alias("obj"),
        ).repartition(cpus).localCheckpoint()

    base = batch(0)
    stored = edge_support(base).localCheckpoint()
    history = base
    inc_secs, full_secs = [], []
    for i in range(1, k + 1):
        nb = batch(i)
        t0 = time.time()
        stored = edge_support_append(stored, nb).localCheckpoint()
        inc_secs.append(round(time.time() - t0, 3))
        history = history.unionByName(nb).localCheckpoint()
        t0 = time.time()
        full = edge_support(history)
        full.count()
        full_secs.append(round(time.time() - t0, 3))
    cols = ["subj", "pred", "obj", "n_docs", "n_mentions"]
    diff = (
        stored.select(*cols).exceptAll(full.select(*cols)).count()
        + full.select(*cols).exceptAll(stored.select(*cols)).count()
    )
    print(json.dumps({
        "metric": "incremental_vs_full_edgesupport",
        "rows_per_batch": n, "k_batches": k,
        "incremental_per_batch_sec": inc_secs,
        "full_recompute_per_batch_sec": full_secs,
        "total_incremental_sec": round(sum(inc_secs), 3),
        "total_full_sec": round(sum(full_secs), 3),
        "speedup": round(sum(full_secs) / max(sum(inc_secs), 1e-9), 2),
        "support_match_final": diff == 0,
        "cpus": cpus,
    }))
    spark.stop()


def dupngram_main() -> None:
    """Incremental dup-ngram maintenance vs full recompute over K append
    batches at $SPARK_GRAFT_SF_DIR scale: the incremental curve should
    stay ~flat per batch (batch shingle + count merge + crossed-gram
    scan) while the full-recompute curve grows with accumulated history
    (re-shingles everything every batch). Stats equality is asserted at
    the final batch. Usage: bench_incremental.py --dupngram [k_batches]
    """
    from spacy_llm_spark.operators.dedup import (
        dup_ngram_counts,
        dup_ngram_index,
        dup_ngram_stats_probe,
        duplicated_ngram_stats,
    )

    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    if k < 1:
        raise SystemExit("--dupngram needs k_batches >= 1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    # batch i = the same docs re-keyed into a fresh id range (append-only)
    def batch(i):
        return docs.select(
            (F.col("doc_id") + i * 10 * n_docs).alias("doc_id"), "text"
        ).repartition(cpus).localCheckpoint()

    base = batch(0)
    grams = dup_ngram_index(base, n=3).localCheckpoint()
    counts = dup_ngram_counts(grams, n=3).localCheckpoint()
    stats = duplicated_ngram_stats(base, n=3).localCheckpoint()
    history = base
    inc_secs, full_secs = [], []
    for i in range(1, k + 1):
        nb = batch(i)
        t0 = time.time()
        stats, grams, counts = dup_ngram_stats_probe(
            grams, counts, stats, nb, n=3, min_docs=2
        )
        stats = stats.localCheckpoint()
        grams = grams.localCheckpoint()
        counts = counts.localCheckpoint()
        inc_secs.append(round(time.time() - t0, 3))
        history = history.unionByName(nb).localCheckpoint()
        t0 = time.time()
        full = duplicated_ngram_stats(history, n=3)
        n_full = full.count()
        full_secs.append(round(time.time() - t0, 3))
    diff = stats.exceptAll(full).count() + full.exceptAll(stats).count()
    print(json.dumps({
        "metric": "incremental_vs_full_dupngram",
        "sf_dir": sf_dir, "docs_per_batch": n_docs, "k_batches": k,
        "incremental_per_batch_sec": inc_secs,
        "full_recompute_per_batch_sec": full_secs,
        "total_incremental_sec": round(sum(inc_secs), 3),
        "total_full_sec": round(sum(full_secs), 3),
        "speedup": round(sum(full_secs) / max(sum(inc_secs), 1e-9), 2),
        "stats_match_final": diff == 0,
        "cpus": cpus,
    }))
    spark.stop()


def lsh_main() -> None:
    """Incremental LSH near-dup maintenance vs full recompute over K
    append batches at $SPARK_GRAFT_SF_DIR scale: the incremental curve
    pays one batch-index build + one probe against the standing banded
    index per batch (history never re-shingles), while the full curve
    re-shingles and re-bands the whole accumulated corpus every batch.
    Pair-set equality (the lsh_dedup_incremental identity) is asserted
    at the final batch. Usage: bench_incremental.py --lsh [k_batches]
    """
    from spacy_llm_spark.operators.dedup import (
        minhash_lsh_dup_pairs,
        minhash_lsh_index,
        minhash_lsh_probe,
    )

    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    if k < 1:
        raise SystemExit("--lsh needs k_batches >= 1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    # the daily-crawl shape: every batch is a DISJOINT slice of the
    # corpus (genuinely new docs, organic near-dup rate) — re-keyed
    # copies of the same docs would make every batch a near-dup of all
    # history and the quadratic pair growth would swamp the curve with
    # snapshot-write cost
    def batch(i):
        return docs.where(
            F.col("doc_id") % (k + 1) == i
        ).select("doc_id", "text").repartition(cpus).localCheckpoint()

    base = batch(0)
    index = minhash_lsh_index(base).localCheckpoint()
    pairs = minhash_lsh_dup_pairs(base, index=index).localCheckpoint()
    history = base
    inc_secs, full_secs, n_pairs = [], [], []
    for i in range(1, k + 1):
        nb = batch(i)
        t0 = time.time()
        nb_idx = minhash_lsh_index(nb).localCheckpoint()
        new_pairs = minhash_lsh_probe(nb, index, new_index=nb_idx)
        pairs = pairs.unionByName(new_pairs).localCheckpoint()
        index = index.unionByName(nb_idx)
        n_pairs.append(pairs.count())
        inc_secs.append(round(time.time() - t0, 3))
        history = history.unionByName(nb).localCheckpoint()
        t0 = time.time()
        full = minhash_lsh_dup_pairs(history)
        full.count()
        full_secs.append(round(time.time() - t0, 3))
    # anti-join diff (exceptAll trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    # on these unioned localCheckpoint frames in Spark 4.1); both pair
    # sets are duplicate-free so the anti-join count is an exact diff
    cols = ["id_a", "id_b", "jaccard_est"]
    diff = (
        pairs.join(full, cols, "left_anti").count()
        + full.join(pairs, cols, "left_anti").count()
    )
    print(json.dumps({
        "metric": "incremental_vs_full_lsh",
        "sf_dir": sf_dir, "corpus_docs": n_docs,
        "docs_per_batch": n_docs // (k + 1), "k_batches": k,
        "incremental_per_batch_sec": inc_secs,
        "full_recompute_per_batch_sec": full_secs,
        "total_incremental_sec": round(sum(inc_secs), 3),
        "total_full_sec": round(sum(full_secs), 3),
        "speedup": round(sum(full_secs) / max(sum(inc_secs), 1e-9), 2),
        "n_pairs_per_batch": n_pairs,
        "pairs_match_final": diff == 0,
        "cpus": cpus,
    }))
    spark.stop()


def closure_main() -> None:
    """Incremental transitive closure vs full recompute over K append
    batches: a growing binary hierarchy (the ontology shape), each batch
    adding the next slab of leaf keys. transitive_closure_append folds
    the batch into the STORED pair set (old chains never re-walked, few
    doubling rounds — new leaves attach near the frontier), while the
    full recompute re-derives every chain from raw edges each batch.
    Pair-set equality is asserted at the final batch.
    Usage: bench_incremental.py --closure [k_batches] [n_base]
    """
    from spacy_llm_spark.operators.graph import (
        transitive_closure,
        transitive_closure_append,
    )

    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    n_base = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    slab = n_base // 5

    def hier(lo, hi):
        return spark.range(max(lo, 2), hi).select(
            F.col("id").alias("subj"),
            F.floor(F.col("id") / 2).alias("obj"),
        )

    closure = transitive_closure(hier(2, n_base)).localCheckpoint()
    inc_secs, full_secs = [], []
    for i in range(1, k + 1):
        lo, hi = n_base + (i - 1) * slab, n_base + i * slab
        t0 = time.time()
        closure = transitive_closure_append(
            closure, hier(lo, hi)
        ).localCheckpoint()
        inc_secs.append(round(time.time() - t0, 3))
        t0 = time.time()
        full = transitive_closure(hier(2, hi))
        n_full = full.count()
        full_secs.append(round(time.time() - t0, 3))
    diff = closure.exceptAll(full).count() + full.exceptAll(closure).count()
    print(json.dumps({
        "metric": "incremental_vs_full_transitive_closure",
        "n_base_edges": n_base, "slab_edges": slab, "k_batches": k,
        "n_closure_pairs_final": n_full,
        "incremental_per_batch_sec": inc_secs,
        "full_recompute_per_batch_sec": full_secs,
        "total_incremental_sec": round(sum(inc_secs), 3),
        "total_full_sec": round(sum(full_secs), 3),
        "speedup": round(sum(full_secs) / max(sum(inc_secs), 1e-9), 2),
        "pairs_match_final": diff == 0,
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--alignment":
        alignment_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--fusion":
        fusion_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--lsh":
        lsh_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--dupngram":
        dupngram_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--edgesupport":
        edgesupport_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--closure":
        closure_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--adversarial":
        adversarial_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--stream":
        stream_maintenance_main()
    else:
        main()
