"""Valid-time triple log snapshots (operators/temporal.py): hand logs
exercising re-assertion, retraction (NULL obj) and same-instant
tie-breaks."""

from pyspark.sql import Row

from spacy_llm_spark.operators.temporal import snapshot_asof

LOG = [
    # (subj, pred, obj, ts, seq)
    ("e1", "owner", "alice", 1, 1),
    ("e1", "owner", "bob", 3, 2),       # re-assertion supersedes
    ("e1", "lang", "py", 2, 3),
    ("e1", "lang", None, 5, 4),         # retraction
    ("e2", "owner", "carol", 4, 5),
    ("e3", "owner", "dan", 6, 6),
    ("e3", "owner", "erin", 6, 7),      # same instant: seq breaks tie
]


def _log(spark):
    return spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o, ts=t, seq=q) for s, p, o, t, q in LOG],
        "subj string, pred string, obj string, ts int, seq int",
    )


def _snap(spark, at):
    return {
        (r.subj, r.pred): r.obj
        for r in snapshot_asof(_log(spark), at, seq="seq").collect()
    }


def test_snapshot_asof_versions_retraction_ties(spark):
    assert _snap(spark, 1) == {("e1", "owner"): "alice"}
    assert _snap(spark, 2) == {("e1", "owner"): "alice", ("e1", "lang"): "py"}
    # re-assertion supersedes at its instant (<= boundary inclusive)
    assert _snap(spark, 3)[("e1", "owner")] == "bob"
    # retraction drops the key — not resurrected from the older version
    s5 = _snap(spark, 5)
    assert ("e1", "lang") not in s5 and s5[("e1", "owner")] == "bob"
    # same-ts collision: the greater seq wins
    assert _snap(spark, 6)[("e3", "owner")] == "erin"
    # before everything: empty snapshot
    assert _snap(spark, 0) == {}
