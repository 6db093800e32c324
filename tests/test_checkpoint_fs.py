"""Cluster-portable checkpoint metadata + observed metrics + reliable
lineage cuts (VERDICT r2 items 1/2/4, ADVICE items a/d).

The "non-file: scheme" here is Hadoop's ``viewfs://`` mount-table
filesystem, mounted on the fly over the test tmp dir. Bytes land on local
disk, but the URI is ONLY resolvable through the Hadoop FileSystem API:
``os.path`` calls on a ``viewfs://...`` string see nothing, so any
surviving driver-local POSIX probe in the checkpoint metadata
path fails these tests.
"""

import itertools
import os
import posixpath

import pytest
from pyspark.sql import functions as F

from spacy_llm_spark import fs
from spacy_llm_spark.operators.checkpoint import CheckpointManager

_MOUNT_SEQ = itertools.count()


@pytest.fixture()
def mockfs_base(spark, tmp_path):
    # unique authority per test: Hadoop caches FileSystem instances per
    # (scheme, authority), so a reused mount table would go stale
    name = f"t{next(_MOUNT_SEQ)}"
    spark.sparkContext._jsc.hadoopConfiguration().set(  # noqa: SLF001
        f"fs.viewfs.mounttable.{name}.link./data", f"file://{tmp_path}"
    )
    return f"viewfs://{name}/data"


def _stage(chunk):
    return chunk.withColumn("out", F.col("value") * 2)


def _corpus(spark, n=20):
    return spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("content_sha256"),
        F.col("id").alias("value"),
    )


# ---------------------------------------------------------------------------
# fs helpers against a non-file scheme
# ---------------------------------------------------------------------------


def test_fs_helpers_roundtrip_mockfs(spark, mockfs_base, tmp_path):
    path = posixpath.join(mockfs_base, "meta", "guard.json")
    assert not fs.exists(spark, path)
    fs.write_text(spark, path, '{"fingerprint": "abc"}')
    assert fs.exists(spark, path)
    assert fs.read_text(spark, path) == '{"fingerprint": "abc"}'
    # reachable only through the Hadoop API, not os.path on the URI string
    assert not os.path.exists(path)
    # but physically on disk under tmp_path (RawLocalFileSystem)
    assert (tmp_path / "meta" / "guard.json").exists()
    fs.write_text(spark, path, "v2")  # overwrite
    assert fs.read_text(spark, path) == "v2"
    names = fs.list_names(spark, posixpath.join(mockfs_base, "meta"))
    assert names == ["guard.json"]
    fs.delete(spark, posixpath.join(mockfs_base, "meta"))
    assert not fs.exists(spark, path)


# ---------------------------------------------------------------------------
# run_stage on a non-file scheme (resume + guard + manifest all via Hadoop FS)
# ---------------------------------------------------------------------------


def test_run_stage_resumes_on_mockfs(spark, mockfs_base):
    ckpt_dir = posixpath.join(mockfs_base, "ck")
    mgr = CheckpointManager(ckpt_dir)
    df = _corpus(spark)
    out1 = mgr.run_stage(spark, "s", df, _stage, config={"v": 1})
    assert out1.count() == 20
    assert mgr.metrics[-1].rows_processed == 20

    # second run over a superset: only the 5 new keys are processed
    bigger = _corpus(spark, 25)
    mgr2 = CheckpointManager(ckpt_dir)
    out2 = mgr2.run_stage(spark, "s", bigger, _stage, config={"v": 1})
    assert out2.count() == 25
    assert sorted(r.out for r in out2.collect()) == sorted(2 * i for i in range(25))
    assert mgr2.metrics[-1].rows_processed == 5
    assert mgr2.metrics[-1].cache_hits == 20

    # config-guard mismatch refuses to resume (template guard analog)
    with pytest.raises(ValueError, match="different configuration"):
        CheckpointManager(ckpt_dir).run_stage(
            spark, "s", bigger, _stage, config={"v": 2}
        )


def test_pre_manifest_checkpoint_refused_before_any_write(spark, mockfs_base):
    """ADVICE r2: a legacy (pre-manifest, full-row) checkpoint must be
    refused BEFORE computing/persisting anything — otherwise the append
    mixes two schemas in one directory."""
    ckpt_dir = posixpath.join(mockfs_base, "ck")
    stage_dir = posixpath.join(ckpt_dir, "s")
    # simulate a legacy checkpoint: parquet data, no schema manifest
    _corpus(spark, 5).write.parquet(stage_dir)
    files_before = sorted(fs.list_names(spark, stage_dir))

    mgr = CheckpointManager(ckpt_dir)
    with pytest.raises(ValueError, match="predates the manifest format"):
        mgr.run_stage(spark, "s", _corpus(spark, 10), _stage, config={"v": 1})
    # nothing was appended into the legacy directory
    assert sorted(fs.list_names(spark, stage_dir)) == files_before


# ---------------------------------------------------------------------------
# A7 metrics: no extra count() scans
# ---------------------------------------------------------------------------


def _n_jobs(spark):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_run_stage_metrics_without_extra_jobs(spark, tmp_path):
    """run_stage runs exactly ONE job (the persist write); consuming the
    output then reading every metric adds no further jobs. The old design
    ran three count() scans per stage on top of the write."""
    mgr = CheckpointManager(str(tmp_path / "ck"))
    df = _corpus(spark)

    before = _n_jobs(spark)
    out = mgr.run_stage(spark, "s", df, _stage, config={"v": 1})
    after_stage = _n_jobs(spark)
    # one write pipeline only (AQE may split it into a shuffle-map job +
    # the final write job); the old design added 3 count() scans on top
    assert after_stage - before <= 2

    assert out.count() == 20  # caller consumes the output (1 job)
    after_consume = _n_jobs(spark)

    m = mgr.metrics[-1]
    assert (m.rows_in, m.cache_hits, m.rows_processed, m.rows_out) == (20, 0, 20, 20)
    # metric resolution piggybacked on the jobs above — zero extra
    assert _n_jobs(spark) == after_consume


def test_resume_runs_stage_fn_over_the_materialized_work_list(spark, tmp_path):
    """On a resume with new rows the work list (anti-join + dedup) is
    materialized once: the frame the stage fn gets does not scan the
    checkpoint, so the persist write does not re-run the anti-join, and
    the stage runs at most 4 jobs (the cut, which also gives the work
    count, and the write; a separate count plus a write that re-runs the
    anti-join is 7)."""
    ckpt_dir = str(tmp_path / "ck")
    CheckpointManager(ckpt_dir).run_stage(spark, "s", _corpus(spark), _stage, config={"v": 1})

    plans = []

    def stage(chunk):
        plans.append(chunk._jdf.queryExecution().executedPlan().toString())
        return _stage(chunk)

    mgr = CheckpointManager(ckpt_dir)
    before = _n_jobs(spark)
    out = mgr.run_stage(spark, "s", _corpus(spark, 25), stage, config={"v": 1})
    assert _n_jobs(spark) - before <= 4
    assert len(plans) == 1
    assert "FileScan" not in plans[0] and ckpt_dir not in plans[0]
    assert sorted(r.out for r in out.collect()) == [2 * i for i in range(25)]
    m = mgr.metrics[-1]
    assert (m.rows_in, m.cache_hits, m.rows_processed, m.rows_out) == (25, 20, 5, 25)


def test_metrics_correct_on_all_cached_rerun(spark, tmp_path):
    mgr = CheckpointManager(str(tmp_path / "ck"))
    df = _corpus(spark)
    mgr.run_stage(spark, "s", df, _stage, config={"v": 1}).count()
    out = mgr.run_stage(spark, "s", df, _stage, config={"v": 1})
    assert out.count() == 20
    m = mgr.metrics[-1]
    assert (m.rows_in, m.cache_hits, m.rows_processed, m.rows_out) == (20, 20, 0, 20)


# ---------------------------------------------------------------------------
# reliable lineage cuts (cut_lineage -> df.checkpoint)
# ---------------------------------------------------------------------------


def test_cut_lineage_reliable_mode(spark, tmp_path):
    from spacy_llm_spark.operators.canonicalize import connected_components

    fs.configure_lineage(
        True, spark=spark, checkpoint_dir=str(tmp_path / "reliable_ck")
    )
    try:
        assert fs.lineage_is_reliable()
        # force the distributed large-star/small-star path
        edges = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(30)] + [("z1", "z2")],
            "src string, dst string",
        )
        comps = connected_components(edges, driver_threshold=0)
        by_comp = {
            r.node: r.component for r in comps.collect()
        }
        assert len({by_comp[f"n{i}"] for i in range(31)}) == 1
        assert by_comp["z1"] == by_comp["z2"] != by_comp["n0"]
        # reliable checkpoints actually landed in the configured dir
        assert any((tmp_path / "reliable_ck").rglob("*")), "no checkpoint files"
    finally:
        fs.configure_lineage(False)


def test_configure_lineage_reliable_requires_dir(spark):
    """reliable=True with no checkpoint dir anywhere fails loudly at
    configure time, not as an opaque SparkException mid-operator."""
    # note: other tests may have set a context dir; only assert the
    # spark=None path, which can never see one
    with pytest.raises(ValueError, match="requires a checkpoint directory"):
        fs.configure_lineage(True)
    assert not fs.lineage_is_reliable()


def test_all_cached_rerun_skips_stage_fn(spark, tmp_path):
    """Resume with zero misses must not invoke the stage fn at all (no
    model-kernel spin-up, no empty append per rerun)."""
    mgr = CheckpointManager(str(tmp_path / "ck"))
    calls = []

    def stage(chunk):
        calls.append(1)
        return chunk.withColumn("out", F.col("value") * 2)

    df = _corpus(spark)
    mgr.run_stage(spark, "s", df, stage, config={"v": 1}).count()
    assert calls == [1]
    stage_dir = str(tmp_path / "ck" / "s")
    files_before = sorted(os.listdir(stage_dir))

    out = mgr.run_stage(spark, "s", df, stage, config={"v": 1})
    assert out.count() == 20
    assert calls == [1]  # fn not called again
    assert sorted(os.listdir(stage_dir)) == files_before  # no empty append
    m = mgr.metrics[-1]
    assert (m.rows_in, m.cache_hits, m.rows_processed) == (20, 20, 0)


def test_cut_profile_is_read_per_call(spark, monkeypatch, capsys):
    """SPARK_GRAFT_CUT_PROFILE takes effect when set after import."""
    monkeypatch.delenv("SPARK_GRAFT_CUT_PROFILE", raising=False)
    fs.cut_lineage(spark.range(3))
    assert "[cut]" not in capsys.readouterr().err
    monkeypatch.setenv("SPARK_GRAFT_CUT_PROFILE", "1")
    assert fs.cut_lineage(spark.range(3)).count() == 3
    assert "[cut]" in capsys.readouterr().err
