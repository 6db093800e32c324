"""Cluster-portable checkpoint metadata + observed metrics + reliable
lineage cuts (VERDICT r2 items 1/2/4, ADVICE items a/d).

The "non-file: scheme" here is Hadoop's ``viewfs://`` mount-table
filesystem, mounted on the fly over the test tmp dir. Bytes land on local
disk, but the URI is ONLY resolvable through the Hadoop FileSystem API:
``os.path`` calls on a ``viewfs://...`` string see nothing, so any
surviving driver-local POSIX probe in the checkpoint/streaming metadata
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


def test_committed_subdirs_requires_success_marker(spark, mockfs_base):
    base = posixpath.join(mockfs_base, "keys")
    spark.range(3).write.parquet(posixpath.join(base, "batch_id=0"))
    fs.mkdirs(spark, posixpath.join(base, "batch_id=1"))  # partial: no _SUCCESS
    committed = fs.committed_subdirs(spark, base)
    assert [posixpath.basename(d) for d in committed] == ["batch_id=0"]


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


# ---------------------------------------------------------------------------
# streaming: exactly-once keys on a non-file scheme (ADVICE d)
# ---------------------------------------------------------------------------


def _mini_batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, content string, lang string"
    ).withColumn("content_sha256", F.sha2("content", 256))


def test_stream_replay_and_partial_keys_crash(spark, mockfs_base):
    from spacy_llm_spark.streaming.incremental import make_batch_processor

    out_dir = posixpath.join(mockfs_base, "kg_out")
    process = make_batch_processor(spark, out_dir)
    b0 = _mini_batch(spark, [(1, "spark join customer", "py"), (2, "window sort table", "java")])
    process(b0, 0)
    edges_path = posixpath.join(out_dir, "edges")
    n_edges = spark.read.parquet(edges_path).count()
    assert n_edges > 0
    keys_dir = posixpath.join(out_dir, "_processed_keys")
    assert [posixpath.basename(d) for d in fs.committed_subdirs(spark, keys_dir)] == [
        "batch_id=0"
    ]

    # crash-replay of the same batch: sinks unchanged (exactly-once)
    process(b0, 0)
    assert spark.read.parquet(edges_path).count() == n_edges

    # simulate a crash mid-keys-write for batch 1: sinks committed, keys
    # subdir exists WITHOUT _SUCCESS. The replay must NOT treat those keys
    # as processed (that would erase batch 1's sink rows).
    b1 = _mini_batch(spark, [(3, "filter merge part", "go")])
    process(b1, 1)
    n_after_b1 = spark.read.parquet(edges_path).count()
    assert n_after_b1 > n_edges
    keys_b1 = posixpath.join(keys_dir, "batch_id=1")
    fs.delete(spark, posixpath.join(keys_b1, "_SUCCESS"), recursive=False)
    assert fs.parquet_exists(spark, keys_b1)  # partial files still there

    process(b1, 1)  # replay after the simulated crash
    # batch 1's rows are regenerated, not erased
    assert spark.read.parquet(edges_path).count() == n_after_b1
    assert sorted(
        posixpath.basename(d) for d in fs.committed_subdirs(spark, keys_dir)
    ) == ["batch_id=0", "batch_id=1"]


def test_configure_lineage_reliable_requires_dir(spark):
    """reliable=True with no checkpoint dir anywhere fails loudly at
    configure time, not as an opaque SparkException mid-operator."""
    # note: other tests may have set a context dir; only assert the
    # spark=None path, which can never see one
    with pytest.raises(ValueError, match="requires a checkpoint directory"):
        fs.configure_lineage(True)
    assert not fs.lineage_is_reliable()


def test_stream_resume_honors_legacy_flat_keys(spark, mockfs_base):
    """A pre-upgrade stream wrote processed keys as flat part files in
    _processed_keys; resume must still anti-join against them instead of
    reprocessing (and double-appending) the whole history."""
    from spacy_llm_spark.streaming.incremental import make_batch_processor

    out_dir = posixpath.join(mockfs_base, "kg_out")
    process = make_batch_processor(spark, out_dir)
    batch = spark.createDataFrame(
        [(1, "spark join customer", "py")], "doc_id long, content string, lang string"
    ).withColumn("content_sha256", F.sha2("content", 256))
    # simulate the legacy layout: keys appended flat, no batch subdir
    batch.select("content_sha256").write.mode("append").parquet(
        posixpath.join(out_dir, "_processed_keys")
    )
    process(batch, 7)
    # the doc was treated as already processed: no sink dirs were written
    assert not fs.exists(spark, posixpath.join(out_dir, "edges"))


def test_stream_legacy_keys_coexist_with_subdirs(spark, mockfs_base):
    """Legacy flat key files + batch_id subdirs (committed AND a crashed
    uncommitted one) in the same _processed_keys dir: the probe must see
    legacy + committed keys, must NOT see the uncommitted subdir's keys,
    and must not throw conflicting-directory-structures."""
    from spacy_llm_spark.streaming.incremental import make_batch_processor

    out_dir = posixpath.join(mockfs_base, "kg_out")
    keys_dir = posixpath.join(out_dir, "_processed_keys")

    def sha_of(text):
        import hashlib

        return hashlib.sha256(text.encode()).hexdigest()

    legacy_doc = "spark join customer"
    committed_doc = "window sort table"
    uncommitted_doc = "filter merge part"
    # legacy flat files
    spark.createDataFrame(
        [(sha_of(legacy_doc),)], "content_sha256 string"
    ).write.mode("append").parquet(keys_dir)
    # committed batch subdir
    spark.createDataFrame(
        [(sha_of(committed_doc),)], "content_sha256 string"
    ).write.parquet(posixpath.join(keys_dir, "batch_id=3"))
    # crashed (uncommitted) batch subdir: no _SUCCESS
    spark.createDataFrame(
        [(sha_of(uncommitted_doc),)], "content_sha256 string"
    ).write.parquet(posixpath.join(keys_dir, "batch_id=4"))
    fs.delete(
        spark, posixpath.join(keys_dir, "batch_id=4", "_SUCCESS"), recursive=False
    )

    batch = spark.createDataFrame(
        [
            (1, legacy_doc, "py"),        # seen via legacy flat files
            (2, committed_doc, "java"),   # seen via committed subdir
            (3, uncommitted_doc, "go"),   # NOT seen: crashed keys write
        ],
        "doc_id long, content string, lang string",
    ).withColumn("content_sha256", F.sha2("content", 256))
    make_batch_processor(spark, out_dir)(batch, 9)

    # only the uncommitted doc was (re)processed
    edges = spark.read.parquet(posixpath.join(out_dir, "edges"))
    shas = {r.content_sha256 for r in edges.select("content_sha256").collect()}
    assert shas == {sha_of(uncommitted_doc)}
    # no quarantine happened
    assert not fs.exists(spark, posixpath.join(out_dir, "_quarantine"))


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
