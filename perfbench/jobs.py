"""The measured job, in its production form and in a traced form.

``run_job`` is the flow of ``scripts/run_kg_job.py``: read the source
table through ``sources.readers.read_corpus_table``, run
``pipeline.run_pipeline``, commit the five KG tables through
``sources.sinks.write_table``.

``run_traced_job`` computes the same tables from the same public
functions, but cuts lineage (``fs.cut_lineage``) after each layer so
each layer's work runs inside its own span and Spark job group.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from spacy_llm_spark.fs import cut_lineage
from spacy_llm_spark.kb import build_code_kb
from spacy_llm_spark.operators import canonicalize as canon
from spacy_llm_spark.operators import materialize as mat
from spacy_llm_spark.operators.checkpoint import CheckpointManager
from spacy_llm_spark.pipeline import KGConfig, annotate_corpus, run_pipeline
from spacy_llm_spark.plans.validate import validate_stage_chain
from spacy_llm_spark.sources.readers import read_corpus_table
from spacy_llm_spark.sources.sinks import write_table

from tracing import Tracer

TABLES = ("mentions", "links", "edges", "vertices", "canonical_edges")


@dataclass
class JobOutput:
    out_dir: str
    n_triples: int
    # checkpoint stage counters (rows_in, cache_hits, rows_processed);
    # None when the job ran without a checkpoint
    stage: Optional[tuple] = None


def _stage_counters(metrics) -> Optional[tuple]:
    if metrics is None:
        return None
    row = metrics.collect()[0]
    return (row.rows_in, row.cache_hits, row.rows_processed)


def run_job(spark, table: str, cfg: KGConfig, out_dir: str) -> JobOutput:
    corpus = read_corpus_table(spark, table)
    result = run_pipeline(spark, corpus, cfg, build_code_kb())
    for name in TABLES:
        write_table(getattr(result, name), os.path.join(out_dir, name), mode="overwrite")
    return JobOutput(out_dir, result.n_triples, _stage_counters(result.metrics))


def run_traced_job(
    spark, table: str, cfg: KGConfig, out_dir: str, tracer: Tracer
) -> JobOutput:
    """``run_job`` with a span per layer. Mirrors ``run_pipeline``'s
    composition (fused path, optional checkpoint around it)."""
    kb = build_code_kb()
    span = tracer.span
    with span("job"):
        with span("pipeline"):
            corpus = read_corpus_table(spark, table)
            validate_stage_chain(corpus)
            ckpt = None
            if cfg.checkpoint_dir:
                ckpt = CheckpointManager(cfg.checkpoint_dir)

                def fused(df):
                    with span("operators.fused"):
                        return cut_lineage(annotate_corpus(df, cfg, kb))

                with span("operators.checkpoint"):
                    annotated = ckpt.run_stage(
                        spark, "annotate", corpus, fused,
                        config=cfg.fingerprint_config(),
                        micro_batches=cfg.micro_batches,
                    )
                    annotated = cut_lineage(annotated)
            else:
                with span("operators.fused"):
                    annotated = cut_lineage(
                        annotate_corpus(corpus, cfg, kb, fused=cfg.fused)
                    )
            id_cols = ("doc_id", "content_sha256")
            with span("operators.materialize"):
                mentions = cut_lineage(mat.mentions_table(annotated, id_cols))
                links = cut_lineage(mat.links_table(annotated, id_cols))
                edges = cut_lineage(mat.edges_table(annotated, id_cols))
            with span("operators.canonicalize"):
                with span("canonicalize.vertices"):
                    vertices = cut_lineage(canon.canonical_vertices(links))
                with span("canonicalize.edges"):
                    canonical_edges = cut_lineage(canon.canonical_edges(edges, vertices))
            n_triples = edges.count()
            stage = None
            if ckpt is not None:
                with span("operators.checkpoint"):
                    stage = _stage_counters(ckpt.metrics_df(spark))
        tables = {
            "mentions": mentions, "links": links, "edges": edges,
            "vertices": vertices, "canonical_edges": canonical_edges,
        }
        with span("sources.sinks"):
            for name in TABLES:
                write_table(tables[name], os.path.join(out_dir, name), mode="overwrite")
    tracer.counts[tracer.run_id] = {
        "materialize.rows_out": mentions.count() + links.count() + edges.count(),
        "canonicalize.pairs": canon.surface_kb_pairs(links).count(),
        "canonicalize.vertices": vertices.count(),
    }
    return JobOutput(out_dir, n_triples, stage)
