"""Physical-plan regression guards.

PLANS.md captures the `.explain` evidence prose; these tests pin the
load-bearing plan properties so a refactor cannot silently regress them:
the fused extraction pass must stay shuffle-free, triple materialization
must stay Generate+Project, and declarative KB candidate generation must
broadcast the alias table (the corpus side never shuffles for the join).
"""

from pyspark.sql import functions as F

from spacy_llm_spark.kb import build_code_kb
from spacy_llm_spark.operators import materialize as mat
from spacy_llm_spark.pipeline import KGConfig, annotate_corpus


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _corpus(spark, n=20):
    return spark.createDataFrame(
        [(i, f"spark join customer number {i}", "py") for i in range(n)],
        "doc_id long, content string, lang string",
    ).withColumn("content_sha256", F.sha2("content", 256))


def test_fused_annotate_plan_is_narrow(spark):
    """The expensive extraction pass: ONE mapInPandas, zero Exchange —
    partitioning preserved scan-to-output (the 100 TB property)."""
    plan = _plan(annotate_corpus(_corpus(spark), KGConfig(), build_code_kb()))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_mentions_table_plan_is_generate_project(spark):
    annotated = annotate_corpus(_corpus(spark), KGConfig(), build_code_kb())
    plan = _plan(mat.mentions_table(annotated, ("doc_id", "content_sha256")))
    assert "Generate posexplode" in plan
    assert "Exchange" not in plan  # explode is narrow too
    assert "CartesianProduct" not in plan


def test_candidates_df_broadcasts_alias_table(spark):
    from spacy_llm_spark.operators.el import candidates_df

    kb = build_code_kb()
    mentions = spark.createDataFrame(
        [(1, 0, "join"), (1, 1, "filter"), (2, 0, "window")],
        "doc_id long, ent_idx int, surface string",
    )
    out = candidates_df(mentions, kb.aliases_df(spark))
    out.collect()  # let AQE finalize
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the corpus side never shuffles


def test_cc_star_round_plan_has_no_join(spark):
    """One large/small-star CC round: per-key minima ride Window nodes
    inside the grouping shuffles — no Join operator anywhere, and only
    the three shuffles the round needs (two star windows + the distinct
    that bounds the edge set)."""
    from spacy_llm_spark.operators.canonicalize import _star_round

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    ).localCheckpoint()
    out = _star_round(e)
    out.collect()  # let AQE finalize
    # AQE's toString appends the pre-adaptive "Initial Plan" section,
    # which would double every node count — assert on the final plan only
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 2
    # two window shuffles + one distinct (HashAggregate pair) shuffle
    assert plan.count("Exchange hashpartitioning") == 3


def test_partitioned_sink_prunes_partitions_at_read(spark, tmp_path):
    """KG tables land partitioned by a stable selective column (lang at
    100 TB — the hint schema's only low-cardinality one); a filtered
    read must prune directories (PartitionFilters), not scan-and-filter."""
    from spacy_llm_spark.sources.sinks import read_table, write_table

    df = spark.range(100).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'py' ELSE 'go' END AS lang"
    )
    target = str(tmp_path / "edges_by_lang")
    write_table(df, target, mode="overwrite", partition_by=["lang"])
    rd = read_table(spark, target).filter(F.col("lang") == "py")
    assert rd.count() == 50
    plan = _plan(rd)
    assert "PartitionFilters: [" in plan
    assert "= py" in plan.split("PartitionFilters")[1]


def test_canonical_edge_remap_never_shuffles_triples(spark, tmp_path):
    """canonical_edges (and therefore the incremental pass-through remap)
    rewrites endpoints with broadcast joins only — the corpus-scale
    triple table must not hash-shuffle. The vertex map is parquet-backed
    (known plan-time stats) as it is in production, so the size gate
    applies the hint deterministically; an unknown-stats map is left to
    AQE's measured-size call instead (covered in test_canonicalize)."""
    from spacy_llm_spark.operators.canonicalize import canonical_edges

    triples = spark.createDataFrame(
        [("s:a", "uses", "K1", 1), ("K2", "uses", "s:b", 2)],
        "subj string, pred string, obj string, doc_id long",
    )
    spark.createDataFrame(
        [("s:a", "K1"), ("s:b", "K2")], "node string, component string"
    ).write.parquet(str(tmp_path / "vmap"))
    vmap = spark.read.parquet(str(tmp_path / "vmap"))
    out = canonical_edges(triples, vmap)
    out.collect()  # let AQE finalize
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_dup_ngram_stats_no_cartesian(spark):
    """Duplicated-span profiling must stay equi-join shaped: no
    cartesian/BNLJ anywhere, dup-gram filter applied before the
    semi-join back."""
    from spacy_llm_spark.operators.dedup import duplicated_ngram_stats

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(duplicated_ngram_stats(docs, n=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bfs_frontier_round_is_equi_join_shaped(spark):
    """One BFS hop = expand equi-join + visited anti-join; no cartesian,
    no sort-merge on an unkeyed frame."""
    from spacy_llm_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(f"v{i}", f"v{i+1}") for i in range(50)],
        "subj string, obj string",
    )
    seeds = spark.createDataFrame([("v0",)], "vertex string")
    out = bfs_levels(edges, seeds, max_hops=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

