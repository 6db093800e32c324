"""Correctness oracles, run outside the timed interval.

Each workload's reference is computed once per benchmark run by an
independent path on the same input, written with plain
``DataFrame.write.parquet`` and read back with pyarrow, rows sorted.
Every timed job's committed tables are read the same way (no Spark job)
and compared with it row for row. A job whose tables disagree counts as
failed.

- cold_build: ``canonical_edges`` and ``vertices`` equal those of the
  staged path ``KGConfig(fused=False)``.
- long_files: all five tables equal a sharded run without a checkpoint;
  the fresh checkpoint processed every row. The sharded reference keeps
  the mentions and links of the unsharded run, and lacks only relations
  between adjacent entities split across shards.
- resume_delta: all five tables equal a cold run without a checkpoint;
  the checkpoint stage processed exactly the new distinct contents and
  answered every base and re-delivered row from cache.
- every workload: each output ``content_sha256`` is the sha256 of an
  input row's content (computed here with hashlib, not Spark).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spacy_llm_spark.kb import build_code_kb
from spacy_llm_spark.pipeline import KGConfig, run_pipeline
from spacy_llm_spark.sources.readers import read_corpus_table

from gen import Inputs
from jobs import TABLES, JobOutput

SHA_TABLES = ("mentions", "links", "edges", "canonical_edges")


def _sorted(table: pa.Table) -> pa.Table:
    """Columns by name, rows sorted on every column: the canonical form
    two multisets of rows are compared in."""
    cols = sorted(table.column_names)
    return table.select(cols).sort_by([(c, "ascending") for c in cols])


def same_rows(a: pa.Table, b: pa.Table) -> bool:
    """Equal as multisets of rows (both in ``_sorted`` form); field
    nullability and metadata are not compared."""
    return (
        a.column_names == b.column_names
        and a.num_rows == b.num_rows
        and all(a.column(c).equals(b.column(c)) for c in a.column_names)
    )


def read_sorted(path: str) -> pa.Table:
    """A parquet table directory read by pyarrow (Spark's ``_`` and ``.``
    files skipped), in ``_sorted`` form."""
    return _sorted(pq.read_table(path))


@dataclass
class Reference:
    tables: Dict[str, pa.Table]  # in ``_sorted`` form
    problems: List[str]  # run-level failures: they fail every job


def _reference(spark, inputs: Inputs, cfg: KGConfig, tables, out_dir: str) -> tuple:
    """(sorted Arrow ``tables``, the KGResult) of a run of ``cfg``."""
    corpus = read_corpus_table(spark, inputs.table)
    result = run_pipeline(spark, corpus, cfg, build_code_kb())
    out = {}
    for name in tables:
        path = os.path.join(out_dir, name)
        getattr(result, name).write.mode("overwrite").parquet(path)
        out[name] = read_sorted(path)
    return out, result


def build_reference(spark, inputs: Inputs, job_cfg: KGConfig, out_dir: str) -> Reference:
    """The workload's reference; its tables are written under ``out_dir``."""
    if inputs.workload == "cold_build":
        tables, _ = _reference(
            spark, inputs, KGConfig(fused=False), ("canonical_edges", "vertices"), out_dir
        )
        return Reference(tables, [])

    cold_cfg = KGConfig(context_length=job_cfg.context_length)
    tables, cold = _reference(spark, inputs, cold_cfg, TABLES, out_dir)
    problems = []
    if job_cfg.context_length is not None:
        plain_tables, plain = _reference(
            spark, inputs, KGConfig(), ("mentions", "links"), os.path.join(out_dir, "plain")
        )
        for name in ("mentions", "links"):
            if not same_rows(plain_tables[name], tables[name]):
                problems.append(f"sharded {name} differ from the unsharded run")
        keys = ["doc_id", "dep", "dest", "relation"]
        sharded_rels = cold.relations.select(*keys)
        plain_rels = plain.relations.select(*keys)
        if sharded_rels.exceptAll(plain_rels).limit(1).count():
            problems.append("sharded run has relations the unsharded run lacks")
        missing = plain_rels.exceptAll(sharded_rels)
        if missing.where(F.col("dest") != F.col("dep") + 1).limit(1).count():
            problems.append("sharding lost a relation between non-adjacent entities")
    return Reference(tables, problems)


def check_jobs(inputs: Inputs, ref: Reference, jobs: List[JobOutput]) -> List[List[str]]:
    """Problems with each job's committed output ([] = correct)."""
    known = set(inputs.content_sha256)
    expected = expected_stage(inputs)
    problems = []
    for job in jobs:
        found = list(ref.problems)
        tables = {name: read_sorted(os.path.join(job.out_dir, name)) for name in TABLES}
        for name, want in ref.tables.items():
            if not same_rows(tables[name], want):
                found.append(f"{name} differs from the reference")
        hashes = set()
        for name in SHA_TABLES:
            hashes.update(pc.unique(tables[name].column("content_sha256")).to_pylist())
        if not hashes <= known:
            found.append(f"{len(hashes - known)} output content_sha256 not in the input")
        if expected is not None and job.stage != expected:
            found.append(
                f"checkpoint (rows_in, cache_hits, rows_processed) = {job.stage}, "
                f"expected {expected}"
            )
        problems.append(found)
    return problems


def expected_stage(inputs: Inputs) -> Optional[tuple]:
    """The checkpoint's (rows_in, cache_hits, rows_processed), from the
    generator's counts; None for a workload without a checkpoint."""
    if inputs.workload == "long_files":  # fresh, empty checkpoint
        return (inputs.rows, 0, inputs.distinct)
    if inputs.workload == "resume_delta":
        return (
            inputs.rows,
            inputs.counts["base_rows"] + inputs.counts["redelivered_rows"],
            inputs.counts["new_rows"],
        )
    return None
