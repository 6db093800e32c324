"""Cluster entrypoint: the KG-construction job as a spark-submit script.

    spark-submit --py-files spacy_llm_spark.zip scripts/run_kg_job.py \
        --source /path/or/iceberg.table --output /warehouse/kg \
        --config job_config.json [--resume] [--replicate N]

- builds no SparkSession config of its own beyond defaults: cluster
  sizing (executors, memory, shuffle partitions) comes from spark-submit
  --conf, so the SAME artifact runs at N and 4N executors (north_rule).
- resumable: per-stage checkpoint + anti-join keyed on content_sha256;
  re-submitting after a kill continues where it stopped with no duplicate
  triples.
- writes mentions/links/edges/vertices/canonical_edges + a metrics table
  with per-stage lineage (rows in/out, cache hits, wall).

Build the --py-files artifact with:  python scripts/make_pyfiles_zip.py
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--source", required=True,
                        help="corpus parquet path / Iceberg table, or a testdata sf dir")
    parser.add_argument("--output", required=True, help="output table root")
    parser.add_argument("--config", default=None, help="KGConfig JSON file")
    parser.add_argument("--resume", action="store_true",
                        help="resume from checkpoints under <output>/_checkpoints")
    parser.add_argument("--replicate", type=int, default=1,
                        help="deterministic corpus scale-up factor (testdata source only)")
    parser.add_argument("--source-format", default="auto",
                        choices=["auto", "parquet", "iceberg", "testdata"])
    parser.add_argument("--save-io", action="store_true",
                        help="retain raw prompt/response columns (llm_io) "
                             "for debugging/audit — large payload")
    parser.add_argument("--reliable-checkpoints", action="store_true",
                        help="cut lineage with fault-tolerant df.checkpoint() "
                             "into <output>/_lineage (survives executor loss) "
                             "instead of executor-local blocks")
    args = parser.parse_args(argv)

    spark = SparkSession.builder.appName("spacy-llm-spark-kg").getOrCreate()
    # scale-sensitive defaults that don't override spark-submit --conf
    for key, value in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    }.items():
        try:
            spark.conf.set(key, spark.conf.get(key, value))
        except Exception:  # noqa: BLE001 — static confs can't be reset
            pass

    from spacy_llm_spark.corpus import corpus_from_documents
    from spacy_llm_spark.kb import build_code_kb
    from spacy_llm_spark.pipeline import KGConfig, run_pipeline
    from spacy_llm_spark.sources.readers import read_corpus_table
    from spacy_llm_spark.sources.sinks import write_table

    cfg_kwargs = {}
    if args.config:
        with open(args.config) as f:
            cfg_kwargs = json.load(f)
    if args.resume:
        cfg_kwargs.setdefault(
            "checkpoint_dir", os.path.join(args.output, "_checkpoints")
        )
    if args.save_io:
        cfg_kwargs["save_io"] = True
    cfg = KGConfig(**cfg_kwargs)
    lineage_dir = None
    if args.reliable_checkpoints:
        from spacy_llm_spark.fs import configure_lineage

        lineage_dir = os.path.join(args.output, "_lineage")
        configure_lineage(True, spark=spark, checkpoint_dir=lineage_dir)

    fmt = args.source_format
    if fmt == "auto":
        fmt = "testdata" if os.path.isdir(args.source) and os.path.exists(
            os.path.join(args.source, "documents.parquet")
        ) else "parquet"
    if fmt == "testdata":
        corpus = corpus_from_documents(spark, args.source, replicate=args.replicate)
    else:
        corpus = read_corpus_table(spark, args.source, fmt=fmt)

    t0 = time.time()
    result = run_pipeline(spark, corpus, cfg, build_code_kb())
    write_table(result.mentions, os.path.join(args.output, "mentions"), mode="overwrite")
    write_table(result.links, os.path.join(args.output, "links"), mode="overwrite")
    write_table(result.edges, os.path.join(args.output, "edges"), mode="overwrite")
    write_table(result.vertices, os.path.join(args.output, "vertices"), mode="overwrite")
    write_table(
        result.canonical_edges,
        os.path.join(args.output, "canonical_edges"),
        mode="overwrite",
    )
    if result.metrics is not None:
        write_table(result.metrics, os.path.join(args.output, "metrics"), mode="append")
    if lineage_dir is not None:
        # reliable checkpoints are per-round scratch; Spark's own cleaner
        # only removes them with
        # spark.cleaner.referenceTracking.cleanCheckpoints=true (a
        # context-start conf), so the job deletes its lineage dir once all
        # sinks are committed — iterative operators would otherwise leave
        # one full frame copy PER ROUND on HDFS/S3
        from spacy_llm_spark import fs as _fs

        _fs.delete(spark, lineage_dir)
    wall = time.time() - t0
    print(json.dumps({
        "n_triples": result.n_triples,
        "wall_secs": round(wall, 2),
        "triples_per_sec": round(result.n_triples / wall, 1),
        "output": args.output,
        "resumed": args.resume,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
