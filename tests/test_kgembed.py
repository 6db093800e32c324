"""Deterministic full-batch TransE vs a numpy reference."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spacy_llm_spark.operators import kgembed


def _emb_df(spark, d):
    return spark.createDataFrame(
        [Row(id=k, vec=[float(x) for x in v]) for k, v in d.items()],
        "id string, vec array<double>",
    )


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [Row(subj=h, pred=r, obj=t, neg_obj=tn) for h, r, t, tn in pairs],
        "subj string, pred string, obj string, neg_obj string",
    )


def _ref_epoch(pairs, ent, rel, lr, margin, q=8, normalize=True):
    ge = {k: np.asarray(v, dtype=float) for k, v in ent.items()}
    gr = {k: np.asarray(v, dtype=float) for k, v in rel.items()}
    ed, rd = {}, {}

    def add(acc, k, v):
        acc[k] = acc.get(k, np.zeros_like(v)) + np.round(v, q)

    for h, r, t, tn in pairs:
        dpos = np.abs(ge[h] + gr[r] - ge[t]).sum()
        dneg = np.abs(ge[h] + gr[r] - ge[tn]).sum()
        if margin + dpos - dneg > 0:
            gp = np.sign(ge[h] + gr[r] - ge[t])
            gn = np.sign(ge[h] + gr[r] - ge[tn])
            add(ed, h, -lr * (gp - gn))
            add(rd, r, -lr * (gp - gn))
            add(ed, t, lr * gp)
            add(ed, tn, -lr * gn)

    def stepped(table, deltas, post_norm):
        out = {}
        for k, v in table.items():
            nv = np.asarray(v, dtype=float)
            if k in deltas:
                nv = np.round(nv + np.round(deltas[k], q), q)
            if post_norm:
                nrm = np.sqrt((nv * nv).sum())
                if nrm > 0:
                    nv = np.round(nv / nrm, q)
            out[k] = nv
        return out

    return stepped(ent, ed, normalize), stepped(rel, rd, False)


ENT = {
    "a": [0.5, -0.25, 0.0], "b": [0.1, 0.2, -0.3],
    "c": [-0.4, 0.6, 0.2], "d": [0.3, 0.3, 0.3],
}
REL = {"r1": [0.05, 0.05, -0.1], "r2": [-0.2, 0.1, 0.0]}
PAIRS = [("a", "r1", "b", "c"), ("b", "r2", "c", "d"),
         ("a", "r1", "b", "d")]


def test_transe_epoch_matches_numpy_reference(spark):
    for normalize in (True, False):
        ne, nr = kgembed.transe_epoch(
            _pairs_df(spark, PAIRS), _emb_df(spark, ENT), _emb_df(spark, REL),
            lr=0.1, margin=1.0, normalize=normalize,
        )
        got_e = {r.id: np.array(r.vec) for r in ne.collect()}
        got_r = {r.id: np.array(r.vec) for r in nr.collect()}
        want_e, want_r = _ref_epoch(
            PAIRS, ENT, REL, 0.1, 1.0, normalize=normalize
        )
        assert set(got_e) == set(want_e) and set(got_r) == set(want_r)
        for k in want_e:
            np.testing.assert_allclose(got_e[k], want_e[k], atol=1e-7, err_msg=k)
        for k in want_r:
            np.testing.assert_allclose(got_r[k], want_r[k], atol=1e-7, err_msg=k)
    # epochs compose: a second epoch on the updated tables still matches
    ne2, nr2 = kgembed.transe_epoch(
        _pairs_df(spark, PAIRS), ne, nr, lr=0.1, margin=1.0
    )
    we2, wr2 = _ref_epoch(
        PAIRS, {k: list(v) for k, v in got_e.items()},
        {k: list(v) for k, v in got_r.items()}, 0.1, 1.0,
    )
    for r in ne2.collect():
        np.testing.assert_allclose(np.array(r.vec), we2[r.id], atol=1e-7)


def test_transe_epoch_inactive_hinge_is_identity(spark):
    # margin tiny and negatives far: hinge inactive -> tables unchanged
    ent = {"a": [0.0, 0.0], "b": [0.1, 0.0], "c": [5.0, 5.0]}
    rel = {"r": [0.1, 0.0]}
    ne, nr = kgembed.transe_epoch(
        _pairs_df(spark, [("a", "r", "b", "c")]),
        _emb_df(spark, ent), _emb_df(spark, rel),
        lr=0.5, margin=0.5, normalize=False,
    )
    assert {r.id: r.vec for r in ne.collect()} == ent
    assert {r.id: r.vec for r in nr.collect()} == rel


def test_transe_epoch_training_reduces_loss(spark):
    # 5 epochs on a tiny graph: mean active hinge loss must go down
    ids = _pairs_df(spark, PAIRS)
    ent = kgembed.init_embeddings(
        ids.select(F.col("subj").alias("id"))
        .unionByName(ids.select(F.col("obj").alias("id")))
        .unionByName(ids.select(F.col("neg_obj").alias("id"))), "id", dim=8
    )
    rel = kgembed.init_embeddings(
        ids.select(F.col("pred").alias("id")), "id", dim=8
    )

    def loss(e, r):
        s = kgembed.transe_scores(ids, e, r)
        return s.select(
            F.sum(
                F.greatest(
                    F.lit(0.0), F.lit(1.0) + F.col("_d_pos") - F.col("_d_neg")
                )
            ).alias("l")
        ).head().l

    l0 = loss(ent, rel)
    for _ in range(5):
        ent, rel = kgembed.transe_epoch(ids, ent, rel, lr=0.05, margin=1.0)
    assert loss(ent, rel) < l0


def test_init_embeddings_deterministic_and_bounded(spark):
    ids = spark.createDataFrame([Row(id=f"e{i}") for i in range(50)],
                                "id string")
    a = {r.id: r.vec for r in
         kgembed.init_embeddings(ids, "id", dim=6, scale=0.5).collect()}
    b = {r.id: r.vec for r in
         kgembed.init_embeddings(ids, "id", dim=6, scale=0.5).collect()}
    assert a == b
    flat = [x for v in a.values() for x in v]
    assert all(-0.5 <= x <= 0.5 for x in flat)
    assert len(set(flat)) > 40  # not degenerate
    c = {r.id: r.vec for r in
         kgembed.init_embeddings(ids, "id", dim=6, seed=7).collect()}
    assert c != a
    with pytest.raises(ValueError, match="dim"):
        kgembed.init_embeddings(ids, "id", dim=0)


def test_transe_epoch_missing_embedding_raises(spark):
    ent = {"a": [0.0, 0.0], "b": [0.1, 0.0]}  # c missing
    rel = {"r": [0.1, 0.0]}
    with pytest.raises(ValueError, match="no embedding"):
        kgembed.transe_epoch(
            _pairs_df(spark, [("a", "r", "b", "c")]),
            _emb_df(spark, ent), _emb_df(spark, rel),
        )
    with pytest.raises(ValueError, match="lr and margin"):
        kgembed.transe_epoch(
            _pairs_df(spark, [("a", "r", "b", "b")]),
            _emb_df(spark, ent), _emb_df(spark, rel), lr=0.0,
        )
