"""End-to-end KG pipeline tests: parity invariants, resume, scoring."""

import pytest
from pyspark.sql import functions as F

from spacy_llm_spark.corpus import corpus_from_documents
from spacy_llm_spark.operators.scoring import prf, score_mentions
from spacy_llm_spark.pipeline import KGConfig, run_pipeline


@pytest.fixture(scope="module")
def result(spark, sf_dir):
    corpus = corpus_from_documents(spark, sf_dir).limit(100).cache()
    return corpus, run_pipeline(spark, corpus)


def test_sha_parity(result):
    """BASELINE.json per-row invariant: content_sha256 carried through all
    derived tables and still matching sha2(content) of the source."""
    corpus, res = result
    src = corpus.select("content_sha256", F.sha2("content", 256).alias("recomputed"))
    assert src.where(F.col("content_sha256") != F.col("recomputed")).count() == 0
    for table in (res.mentions, res.relations, res.links, res.edges):
        missing = table.join(
            corpus.select("content_sha256"), "content_sha256", "left_anti"
        )
        assert missing.count() == 0


def test_mention_offsets_match_content(result):
    corpus, res = result
    joined = res.mentions.join(corpus.select("doc_id", "content"), "doc_id")
    bad = joined.where(
        F.expr("substring(content, start + 1, end - start)") != F.col("surface")
    )
    assert bad.count() == 0


def test_rel_indices_within_bounds(result):
    corpus, res = result
    n_ents = res.mentions.groupBy("doc_id").count().withColumnRenamed("count", "n")
    joined = res.relations.join(n_ents, "doc_id")
    assert joined.where((F.col("dep") >= F.col("n")) | (F.col("dest") >= F.col("n"))).count() == 0


def test_links_respect_kb(result):
    """Every non-NIL link is the top-prior candidate for its surface."""
    from spacy_llm_spark.kb import build_code_kb

    corpus, res = result
    kb = build_code_kb()
    top1 = {alias: kb.get_candidates(alias, 1)[0][0] for alias in kb.aliases}
    rows = res.links.select("surface", "kb_id").distinct().collect()
    for row in rows:
        expected = top1.get(row.surface, "NIL")
        assert row.kb_id == expected, (row.surface, row.kb_id, expected)


def test_edges_reference_canonical_nodes(result):
    corpus, res = result
    # canonical edges only contain component ids present in vertices
    vnodes = {r.component for r in res.vertices.select("component").distinct().collect()}
    enodes = {
        r.subj for r in res.canonical_edges.select("subj").distinct().collect()
    } | {r.obj for r in res.canonical_edges.select("obj").distinct().collect()}
    # surface-only nodes of unlinked mentions may be absent from vertices
    kb_like = {n for n in enodes if not n.startswith("surface:")}
    assert kb_like <= vnodes


def test_resume_idempotent(spark, sf_dir, tmp_path):
    corpus = corpus_from_documents(spark, sf_dir).limit(30)
    cfg = KGConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    r1 = run_pipeline(spark, corpus, cfg, materialize_canonical=False)
    r2 = run_pipeline(spark, corpus, cfg, materialize_canonical=False)
    assert r1.n_triples == r2.n_triples
    m = {row.stage: row for row in r2.metrics.collect()}
    assert m["annotate"].cache_hits == m["annotate"].rows_in
    assert m["annotate"].rows_processed == 0


def test_config_guard(spark, sf_dir, tmp_path):
    corpus = corpus_from_documents(spark, sf_dir).limit(5)
    cfg = KGConfig(checkpoint_dir=str(tmp_path / "ckpt2"))
    run_pipeline(spark, corpus, cfg, materialize_canonical=False)
    cfg2 = KGConfig(checkpoint_dir=str(tmp_path / "ckpt2"), top_n_candidates=3)
    with pytest.raises(ValueError, match="different configuration"):
        run_pipeline(spark, corpus, cfg2, materialize_canonical=False)


@pytest.mark.parametrize(
    "change",
    [
        {"rel_labels": ("executes",)},
        {"ner_examples": [{"text": "a join", "spans": []}]},
        {"rel_examples": [{"text": "a join", "relations": []}]},
        {"el_examples": [{"text": "a *join*", "mentions": [], "solutions": []}]},
        {"label_definitions": {"OP": "an operator"}},
    ],
    ids=lambda change: next(iter(change)),
)
def test_config_guard_prompt_fields(spark, sf_dir, tmp_path, change):
    """Every field that shapes a prompt is part of the checkpoint identity:
    resuming with it changed must raise, not return stale annotations."""
    corpus = corpus_from_documents(spark, sf_dir).limit(5)
    ckpt = str(tmp_path / "ckpt")
    run_pipeline(spark, corpus, KGConfig(checkpoint_dir=ckpt), materialize_canonical=False)
    with pytest.raises(ValueError, match="different configuration"):
        run_pipeline(
            spark, corpus, KGConfig(checkpoint_dir=ckpt, **change), materialize_canonical=False
        )


# -- scoring golden (test_ner.py:697-718 formulas) ---------------------------


@pytest.mark.parametrize("n_detections", [0, 1, 2])
def test_ner_scoring_golden(spark, n_detections):
    """Reference fixture (test_ner.py:700-718): the pipeline always
    predicts both PER mentions per doc; gold keeps only the first
    n_detections. Hence P = n/2, R = 1 if n else 0."""
    gold_rows, pred_rows = [], []
    for doc in (1, 2):
        both = [(doc, 0, 5, "PER"), (doc, 17, 20, "PER")]
        pred_rows += both
        gold_rows += both[:n_detections]
    schema = "doc_id long, start long, end long, label string"
    gold_df = spark.createDataFrame(gold_rows, schema)
    pred_df = spark.createDataFrame(pred_rows, schema)
    p, r, f = score_mentions(pred_df, gold_df)
    assert p == n_detections / 2
    assert r == (1 if n_detections else 0)
    if n_detections == 1:
        assert abs(f - 0.666666666) < 1e-6
    else:
        assert f == n_detections / 2


def test_prf_zero_safe():
    assert prf(0, 0, 0) == (0.0, 0.0, 0.0)


# -- checkpointed job: cores, one read-back, driver-built metrics -------------

TABLES = ("mentions", "links", "edges", "vertices", "canonical_edges")


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpointed_job_reads_the_checkpoint_back_once(spark, result, tmp_path):
    """With a checkpoint, the annotated frame is materialized once: its
    plan does not scan the checkpoint, the job (pipeline + the five
    writes) runs at most 14 Spark jobs — no table re-runs the read-back
    and the triple count runs no job of its own — the metrics table is
    read without a job, and the output matches the no-checkpoint run."""
    from spacy_llm_spark.sources.sinks import write_table

    corpus, plain = result
    ckpt = str(tmp_path / "ck")

    def job():
        res = run_pipeline(spark, corpus, KGConfig(checkpoint_dir=ckpt))
        for name in TABLES:
            write_table(getattr(res, name), str(tmp_path / name), mode="overwrite")
        return res

    res, n_jobs = _jobs_in_group(spark, "ckpt-job", job)
    rows, n_metric_jobs = _jobs_in_group(spark, "ckpt-metrics", res.metrics.collect)
    assert n_metric_jobs == 0
    assert n_jobs <= 14
    assert res.n_triples == plain.n_triples
    n_docs = corpus.count()
    assert [(r.rows_in, r.cache_hits, r.rows_processed, r.rows_out) for r in rows] == [
        (n_docs, 0, n_docs, n_docs)
    ]
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and ckpt not in plan


@pytest.mark.parametrize("case", ["plain", "checkpoint", "empty"])
def test_n_triples_counts_the_edges(spark, result, tmp_path, case):
    """``n_triples`` is the edge count, taken by an observation on the
    annotated frame's lineage cut: an int when run_pipeline returns, so
    reading it runs no job."""
    corpus, _ = result
    if case == "empty":
        corpus = corpus.limit(0)
    cfg = KGConfig(checkpoint_dir=str(tmp_path / "ck") if case == "checkpoint" else None)
    res = run_pipeline(spark, corpus, cfg, materialize_canonical=False)
    n, n_jobs = _jobs_in_group(spark, f"n-triples-{case}", lambda: res.n_triples)
    assert n_jobs == 0
    assert type(n) is int
    assert n == res.edges.count()
    assert (n == 0) == (case == "empty")


def _task_ids(spark, corpus, ckpt, new_docs, micro_batches=None):
    """Run the checkpointed fused extraction on ``corpus``; return the
    partition ids of the tasks that annotated ``new_docs``."""
    from spacy_llm_spark.kb import build_code_kb
    from spacy_llm_spark.operators.checkpoint import CheckpointManager
    from spacy_llm_spark.pipeline import annotate_corpus

    cfg, kb = KGConfig(), build_code_kb()

    def fused(df):
        return annotate_corpus(df, cfg, kb).withColumn("_task", F.spark_partition_id())

    out = CheckpointManager(ckpt).run_stage(
        spark, "annotate", corpus, fused, config={"v": 1}, micro_batches=micro_batches
    )
    keys = new_docs.select("content_sha256").distinct()
    return {r._task for r in out.join(keys, "content_sha256").select("_task").collect()}


def test_checkpointed_extraction_runs_on_every_core(spark, sf_dir, tmp_path):
    """The extraction input is hash-partitioned into defaultParallelism
    partitions — by rows, not by bytes (AQE would coalesce a few hundred
    KB of text into one task): on a fresh checkpoint, on a resume with new
    rows and with micro-batches."""
    n = spark.sparkContext.defaultParallelism
    assert n > 1
    docs = corpus_from_documents(spark, sf_dir).limit(60).cache()
    base = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0).join(
        base.select("content_sha256"), "content_sha256", "left_anti"
    )
    every_task = set(range(n))
    assert _task_ids(spark, base, str(tmp_path / "a"), base) == every_task
    # resume: only the docs that are new get processed
    assert _task_ids(spark, docs, str(tmp_path / "a"), new) == every_task
    assert _task_ids(spark, docs, str(tmp_path / "b"), docs, micro_batches=2) == every_task
