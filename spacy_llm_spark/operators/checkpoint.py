"""Per-stage checkpointing + anti-join resume (S6/S7/F1 — the BatchCache).

The reference's BatchCache (spacy_llm/cache.py:25-269) is a
content-addressed doc store probed before every model call
(pipeline/llm.py:217-224). Spark translation:

- checkpoint table = parquet (Iceberg-layout compatible) keyed by
  ``content_sha256`` — the commutative token-hash doc id of cache.py:158-164
  becomes the sha256 parity column mandated by BASELINE.json.
- probe       = LEFT ANTI join (rows still to process)
- reuse       = the checkpoint table itself (already typed results)
- template guard (cache.py:96-122) = a config-hash stamped into the
  checkpoint directory; mismatch on resume raises, like the reference.
- stats (cache.py:59-67) = hit/miss counts via ``df.observe`` piggybacked
  on the jobs the stage already runs — zero extra scans (A7).

All metadata side-files (guard, schema manifest, existence probes) go
through the Hadoop FileSystem API (``..fs``), NOT driver-local POSIX I/O,
so ``base_path`` may be any registered scheme (file:, hdfs:, s3a:, ...)
and resumability works wherever the parquet goes.

Idempotency at scale: each run appends only keys absent from the
checkpoint, so re-running after a mid-job kill never duplicates triples;
the anti-join is the exactly-once gate (at-least-once file append +
key-level dedup on read).

Parallelism: the work still to do is deduped on the key in ONE exchange
sized to the cores (``defaultParallelism`` hash partitions). The stage fn
costs milliseconds of model work per row but the rows are only bytes, so
the by-bytes AQE coalescing of a plain dedup would run the whole stage as
one task.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import time
from dataclasses import dataclass, field
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from .. import fs
from ..session import local_frame


def observed_rows(obs: Observation) -> Optional[int]:
    """Non-blocking read of an Observation's ``rows`` metric; ``None`` when
    unavailable.

    Unavailable covers two cases: (a) no action has touched the observed
    plan yet, and (b) the metrics were lost — Spark 4.1's AQE drops
    CollectMetrics results that end up inside an already-materialized query
    stage and then completes the observation with a schema-less empty row,
    which makes ``getOrEmpty`` itself NPE. Callers fall back to a count in
    both cases, so metrics stay correct at the cost of (at most) one extra
    job per stage — vs. the three unconditional count() scans this design
    replaced. Observations are therefore attached ONLY at plan roots
    (``todo``, ``out``), where the first job that runs the plan — the
    stage's own write, or the eager lineage cut of the work list — reports
    them reliably."""
    jo = obs._jo  # noqa: SLF001 — scala Observation (classic mode)
    if jo is None:
        return None
    try:
        jmap = jo.getOrEmpty()
    except Exception:  # noqa: BLE001 — py4j NPE on unfired/lost observation
        return None
    if jmap.isEmpty():
        return None
    it = jmap.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == "rows":
            return int(kv._2())
    return None


class StageMetrics:
    """Lazily-resolved per-stage counters (A7, reference cache.py:59-67).

    ``rows_processed`` is observed on the todo frame — populated by the
    first job the stage already runs over it: the persist write on a fresh
    checkpoint, the materialization of the work list on a resume or with
    ``micro_batches`` (zero extra actions).
    ``rows_out`` is observed on the returned frame and resolves when the
    caller consumes it; ``rows_in == rows_out`` by construction (the
    read-back is an inner key-join against a store that, post-persist,
    covers every input key exactly once), so no third observation is
    needed. Reading a metric whose observation hasn't fired (or was lost
    to the AQE metric-drop quirk — see ``observed_rows``) triggers one count()
    and caches the result.

    Caveat: ``rows_in == rows_out`` relies on the stage-fn contract (fn
    must not drop input keys — run_stage docstring); a contract-violating
    fn makes rows_in under-report and cache_hits go negative rather than
    raising. The contract is the documented API; the metric does not
    re-police it."""

    def __init__(
        self,
        stage: str,
        obs_todo: Observation,
        obs_out: Observation,
        todo_df: DataFrame,
        out_df: DataFrame,
        wall_secs: float,
        resolved: Optional[dict] = None,
    ):
        self.stage = stage
        self._obs_todo = obs_todo
        self._obs_out = obs_out
        self._todo_df = todo_df
        self._out_df = out_df
        # pre-resolved values (e.g. the micro-batch path already counted
        # todo) — avoids a duplicate count job at metrics-read time
        self._resolved: dict = dict(resolved or {})
        self.wall_secs = wall_secs

    def _resolve(self, name: str, obs: Observation, attr: str) -> int:
        if name not in self._resolved:
            value = observed_rows(obs)
            if value is None:
                value = getattr(self, attr).count()
            self._resolved[name] = value
        # drop the DataFrame reference once its metric is pinned: holding
        # it would keep any lineage-cut blocks alive for the manager's
        # lifetime (they are freed when the plan is garbage collected)
        setattr(self, attr, None)
        return self._resolved[name]

    @property
    def rows_in(self) -> int:
        return self.rows_out

    @property
    def rows_processed(self) -> int:
        return self._resolve("todo", self._obs_todo, "_todo_df")

    @property
    def cache_hits(self) -> int:
        return self.rows_in - self.rows_processed

    @property
    def rows_out(self) -> int:
        return self._resolve("out", self._obs_out, "_out_df")


@dataclass
class CheckpointManager:
    base_path: str
    key_col: str = "content_sha256"
    metrics: List[StageMetrics] = field(default_factory=list)

    def _stage_dir(self, stage: str) -> str:
        return posixpath.join(self.base_path, stage)

    def _guard_path(self, stage: str) -> str:
        return posixpath.join(self.base_path, f"{stage}.config.json")

    def _manifest_path(self, stage: str) -> str:
        return posixpath.join(self.base_path, f"{stage}.schema.json")

    def _write_manifest(
        self, spark: SparkSession, stage: str, ann_cols: list, dropped: list,
        schema_json: str,
    ) -> None:
        fs.mkdirs(spark, self.base_path)
        fs.write_text(
            spark,
            self._manifest_path(stage),
            json.dumps(
                {
                    "annotation_cols": ann_cols,
                    "dropped_input_cols": dropped,
                    "schema": schema_json,
                }
            ),
        )

    def _read_manifest(self, spark: SparkSession, stage: str) -> dict:
        return json.loads(fs.read_text(spark, self._manifest_path(stage)))

    def _check_guard(
        self, spark: SparkSession, stage: str, config_fingerprint: Optional[str]
    ) -> None:
        """Prompt-template guard analog (cache.py:96-122): refuse to resume
        a checkpoint produced under a different stage config."""
        if config_fingerprint is None:
            return
        path = self._guard_path(stage)
        if fs.exists(spark, path):
            stored = json.loads(fs.read_text(spark, path))["fingerprint"]
            if stored != config_fingerprint:
                raise ValueError(
                    f"Checkpoint for stage '{stage}' was written with a "
                    f"different configuration (stored {stored[:12]}..., "
                    f"current {config_fingerprint[:12]}...). Clear "
                    f"{self._stage_dir(stage)} to reprocess."
                )
        else:
            fs.mkdirs(spark, self.base_path)
            fs.write_text(spark, path, json.dumps({"fingerprint": config_fingerprint}))

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        input_df: DataFrame,
        fn: Callable[[DataFrame], DataFrame],
        config: Optional[dict] = None,
        micro_batches: Optional[int] = None,
    ) -> DataFrame:
        """Resume-or-run: anti-join input against the stage checkpoint,
        process only the misses, append, and return results for EXACTLY
        the input rows.

        The checkpoint stores only (key, annotation columns) — the
        content-addressed annotation store; row identity (repo, path,
        doc_id, ...) stays with the input and is re-attached by an inner
        join on the key. This is what makes the stage correct in two
        cases the naive "return the checkpoint table" design gets wrong:
        (a) stale keys from earlier runs against the same dir never leak
        into this run's output, and (b) distinct docs sharing content
        (vendored deps, forks, replicated corpora) each keep their own
        output row while the expensive model work still happens once per
        distinct content hash. Mirrors the reference BatchCache, which
        returns exactly the requested docs (spacy_llm/cache.py:216-233).

        ``fn`` runs on ``defaultParallelism`` partitions of the deduped
        work (hash-partitioned on the key), whatever the input's size in
        bytes.

        On a resume (a checkpoint exists) the work list — the anti-join
        against the store, deduped — is materialized once
        (``fs.cut_lineage``) before ``fn`` runs: its observed size decides
        whether ``fn`` runs at all, and ``fn`` then reads the cut blocks,
        so the store and the input are scanned once for the anti-join.

        Contract for ``fn``: it may APPEND annotation columns and DROP
        input columns, but must not modify values of columns it passes
        through — pass-through columns are re-attached from the input on
        read-back (only key + appended columns are persisted), so in-place
        value edits would be silently discarded. All engine stage fns
        comply (they only append ents/rels/kb_ids and optionally drop the
        text column).

        ``micro_batches=K`` commits work in K deterministic key buckets
        (pmod(xxhash64(key), K)) instead of one append — the
        "per-partition checkpoint" granularity: a job killed after bucket
        b resumes at bucket b+1, losing at most one bucket of work. Each
        bucket is its own Spark job; pick K so a bucket is minutes of
        work, not seconds (commit overhead) or hours (loss window).
        """
        from pyspark.sql import functions as F

        t0 = time.time()
        path = self._stage_dir(stage)
        fingerprint = (
            hashlib.sha256(
                json.dumps(config, sort_keys=True).encode()
            ).hexdigest()
            if config is not None
            else None
        )
        self._check_guard(spark, stage, fingerprint)

        has_ckpt = fs.parquet_exists(spark, path)
        has_manifest = fs.exists(spark, self._manifest_path(stage))
        if has_ckpt and not has_manifest:
            # parquet without a schema manifest = a checkpoint written by a
            # pre-manifest version (full rows, identity baked in). Refuse
            # BEFORE doing any work: appending ann-only rows next to
            # full-row files would mix two schemas in one directory and
            # the read-back would silently pick one footer's schema.
            raise ValueError(
                f"Checkpoint at {path} predates the manifest format "
                f"(missing {self._manifest_path(stage)}); clear the stage "
                "directory to reprocess."
            )
        manifest = self._read_manifest(spark, stage) if has_manifest else None

        obs_todo = Observation()
        obs_out = Observation()

        def _read_stored() -> DataFrame:
            # explicit schema from the manifest: no footer-inference job,
            # and a checkpoint holding only _SUCCESS (a committed empty
            # write) still reads back with the right columns
            reader = spark.read
            if manifest is not None and manifest.get("schema"):
                reader = reader.schema(
                    StructType.fromJson(json.loads(manifest["schema"]))
                )
            return reader.parquet(path)

        if has_ckpt:
            todo = input_df.join(
                _read_stored().select(self.key_col),
                on=self.key_col,
                how="left_anti",
            )
        else:
            todo = input_df

        # Content-addressed semantics: identical content yields identical
        # results, so process each key once per run (real corpora are full
        # of duplicate files — vendored deps, forks). The read-back below
        # is keyed dedup anyway; this just avoids redundant model work.
        # The dedup exchange is sized to the cores: each row costs
        # milliseconds of model work but only bytes of input, so AQE's
        # by-bytes coalescing would run a whole stage of long documents
        # as one task. A repartition with an explicit count is never
        # coalesced, and the dedup reuses its hash partitioning (one
        # exchange).
        n_parts = spark.sparkContext.defaultParallelism
        todo = (
            todo.repartition(n_parts, self.key_col)
            .dropDuplicates([self.key_col])
            .observe(obs_todo, F.count(F.lit(1)).alias("rows"))
        )

        def _persist(res: DataFrame) -> None:
            nonlocal manifest
            # persist only key + annotation columns (manifest-recorded);
            # identity columns are re-attached from the input on read.
            ann_cols = [
                c
                for c in res.columns
                if c == self.key_col or c not in input_df.columns
            ]
            dropped = [c for c in input_df.columns if c not in res.columns]
            selected = res.select(*ann_cols)
            if manifest is None:
                self._write_manifest(
                    spark, stage, ann_cols, dropped, selected.schema.json()
                )
                manifest = self._read_manifest(spark, stage)
            selected.write.mode("append").parquet(path)

        def _materialize(df: DataFrame):
            # the eager lineage cut fires obs_todo; counting the cut blocks
            # is the (cheap) fallback if its metrics are lost
            cut = fs.cut_lineage(df)
            n = observed_rows(obs_todo)
            return cut, cut.count() if n is None else n

        pre_resolved: dict = {}
        if micro_batches and micro_batches > 1:
            bucket = F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(micro_batches))
            todo_mat, n_todo = _materialize(todo.withColumn("_bucket", bucket))
            pre_resolved["todo"] = n_todo
            if n_todo > 0:
                for b in range(micro_batches):
                    chunk = todo_mat.where(F.col("_bucket") == b).drop("_bucket")
                    _persist(fn(chunk))
            elif manifest is None:
                # nothing to do but the manifest must exist for read-back
                _persist(fn(todo_mat.where(F.lit(False)).drop("_bucket")))
        elif has_ckpt:
            # Resume path: materialize the work list FIRST (one pass over
            # the store and the input, which also fires obs_todo) and skip
            # the stage fn entirely when everything is cached — an
            # all-cached rerun must not spin up model kernels over an empty
            # frame or append empty commits on every invocation. fn then
            # runs over the cut blocks, so the persist write does not
            # re-run the anti-join. Fresh runs (no checkpoint) skip the
            # cut: there the persist job itself populates the observations.
            todo_mat, n_todo = _materialize(todo)
            pre_resolved["todo"] = n_todo
            if n_todo > 0 or manifest is None:
                _persist(fn(todo_mat))
        else:
            _persist(fn(todo))

        dropped_cols = manifest["dropped_input_cols"]
        # key-level dedup guards against a retried append (exactly-once read)
        stored = _read_stored().dropDuplicates([self.key_col])
        out = input_df.drop(*dropped_cols).join(
            stored, on=self.key_col, how="inner"
        )
        out = out.observe(obs_out, F.count(F.lit(1)).alias("rows"))
        self.metrics.append(
            StageMetrics(
                stage=stage,
                obs_todo=obs_todo,
                obs_out=obs_out,
                # the LAZY todo plan, never the materialized work list
                # (whose blocks must not be pinned by metrics); the
                # fallback count merely re-runs the anti-join
                todo_df=todo,
                out_df=out,
                wall_secs=time.time() - t0,
                resolved=pre_resolved,
            )
        )
        return out

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """One row per stage run. Resolving the counters may run jobs;
        the returned table is driver-built (``local_frame``), so reading
        it runs none."""
        rows = [
            (m.stage, m.rows_in, m.cache_hits, m.rows_processed, m.rows_out, m.wall_secs)
            for m in self.metrics
        ]
        return local_frame(
            spark,
            rows,
            "stage string, rows_in long, cache_hits long, rows_processed long, "
            "rows_out long, wall_secs double",
        )

    def write_metrics(self, spark: SparkSession) -> None:
        self.metrics_df(spark).write.mode("append").parquet(
            posixpath.join(self.base_path, "_metrics")
        )
