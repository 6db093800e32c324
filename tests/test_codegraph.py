"""DAG layering (operators/graph.py: topological_levels)."""

import pytest

from spacy_llm_spark.operators.graph import topological_levels


# --- topological levels ----------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "subj string, obj string")


def test_topological_levels_diamond_longest_path(spark):
    # a -> b -> d, a -> c -> d, a -> d: level(d) = LONGEST path = 2
    e = _edges(
        spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")]
    )
    got = {r.vertex: r.level for r in topological_levels(e).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_topological_levels_chain_and_island_root(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    got = {r.vertex: r.level for r in topological_levels(e).collect()}
    assert got == {"a": 0, "x": 0, "b": 1, "y": 1, "c": 2}


def test_topological_levels_cycle_raises(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")])
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(e).collect()


def test_topological_levels_self_loop_ignored(spark):
    # self-loops carry no ordering constraint and are dropped up front
    e = _edges(spark, [("a", "a"), ("a", "b")])
    got = {r.vertex: r.level for r in topological_levels(e).collect()}
    assert got == {"a": 0, "b": 1}


def test_topological_levels_max_rounds_raises(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    with pytest.raises(RuntimeError, match="max_rounds"):
        topological_levels(e, max_rounds=2)
