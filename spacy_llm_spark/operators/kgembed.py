"""KG-embedding training: deterministic TransE in pure DataFrame ops.

A full-batch TransE (Bordes et al., NIPS 2013) training epoch over the
corrupted samples ``graph.negative_triples`` produces, with the
margin-ranking hinge ``max(0, margin + d(h+r, t) - d(h+r, t'))`` under
the L1 distance.

Why full-batch and not SGD: distributed SGD's update order is
scheduler-dependent — the same data would train to different weights
run to run, which this engine's cross-engine determinism discipline
(and any oracle) cannot tolerate. Full-batch gradient descent with
per-aggregate quantization is order-free: every gradient contribution
is quantized to ``quantum`` dp BEFORE the per-entity sum (the DSIR
pre-sum rule), so both a 1-core and a 1000-executor run produce
bit-identical embeddings. One epoch is one pass; run epochs in a
driver loop exactly like ``pagerank``/``hits`` rounds.

Scale shape, per epoch: three embedding-table equi-joins onto the
pair frame (entity tables are entity-scale — AQE broadcasts them when
small, shuffles when not), per-pair gradient arrays as pure
``zip_with``/``transform`` projections, then ONE posexplode to
``(entity, component, contribution)`` and ONE (entity, component)-keyed
sum re-assembled with ``array_agg sorted by component``. The explode
multiplies rows by ``dim`` — the honest cost of parameter-server-free
training; keep ``dim`` modest (16-64) at the 10^9-triple point or
shard the pair frame into micro-batches upstream.

Reference analogue: none (spacy-llm has no representation-learning
surface); cited for parity accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fs


def init_embeddings(
    ids: DataFrame,
    id_col: str,
    dim: int = 16,
    seed: int = 42,
    scale: float = 0.5,
    out_col: str = "vec",
) -> DataFrame:
    """Deterministic pseudo-random init: component ``j`` of entity
    ``e`` is ``uniform(-scale, scale)`` derived from
    ``xxhash64(e, seed, j)`` — reproducible across engines, sessions,
    and partitionings (no RNG state anywhere). One pure projection."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    return ids.select(id_col).distinct().select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.round(
                (
                    F.pmod(
                        F.xxhash64(F.col(id_col), F.lit(seed), j), F.lit(2_000_001)
                    )
                    - 1_000_000
                )
                / 1_000_000.0
                * scale,
                10,
            ),
        ).alias(out_col),
    )


def transe_scores(
    pairs: DataFrame,
    ent: DataFrame,
    rel: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    neg_obj: str = "neg_obj",
    id_col: str = "id",
    vec: str = "vec",
) -> DataFrame:
    """Join embeddings onto a ``(subj, pred, obj, neg_obj)`` pair frame
    (``graph.negative_triples`` output) and compute the L1 translation
    distances ``d_pos = |h + r - t|_1`` and ``d_neg = |h + r - t'|_1``
    as pure array-fold projections. Left joins: ids with no embedding
    yield NULL ``_d_pos``/``_d_neg`` here — the missing-id guard (which
    raises) lives in :func:`transe_epoch`, riding the scored frame's
    materialization; direct callers should apply the same check or
    guarantee coverage (an inner join would silently drop triples)."""
    e = ent.select(F.col(id_col).alias("_eid"), F.col(vec).alias("_evec"))
    r = rel.select(F.col(id_col).alias("_rid"), F.col(vec).alias("_rvec"))
    joined = (
        pairs.join(
            e.select(F.col("_eid").alias(subj), F.col("_evec").alias("_h")),
            subj, "left",
        )
        .join(
            r.select(F.col("_rid").alias(pred), F.col("_rvec").alias("_r")),
            pred, "left",
        )
        .join(
            e.select(F.col("_eid").alias(obj), F.col("_evec").alias("_t")),
            obj, "left",
        )
        .join(
            e.select(
                F.col("_eid").alias(neg_obj), F.col("_evec").alias("_tn")
            ),
            neg_obj, "left",
        )
    )

    def l1(a, b, c):
        # |a + b - c|_1 via zip_with twice + aggregate fold
        diff = F.zip_with(
            F.zip_with(a, b, lambda x, y: x + y), c, lambda s, z: s - z
        )
        return F.aggregate(
            diff, F.lit(0.0), lambda acc, x: acc + F.abs(x)
        )

    out = joined.withColumn("_d_pos", l1("_h", "_r", "_t")).withColumn(
        "_d_neg", l1("_h", "_r", "_tn")
    )
    return out


def transe_epoch(
    pairs: DataFrame,
    ent: DataFrame,
    rel: DataFrame,
    lr: float = 0.01,
    margin: float = 1.0,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    neg_obj: str = "neg_obj",
    id_col: str = "id",
    vec: str = "vec",
    quantum: int = 8,
    normalize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """ONE full-batch TransE epoch over ``(subj, pred, obj, neg_obj)``
    pairs: L1 margin-ranking hinge, subgradient descent, returns the
    updated ``(entity_embeddings, relation_embeddings)`` — both
    quantized ``quantum`` dp so epochs compose deterministically.

    L1 subgradients (sign convention: minimize
    ``margin + d_pos - d_neg`` where the hinge is ACTIVE):
    with ``g_pos = sign(h + r - t)`` and ``g_neg = sign(h + r - t')``,
    the contributions are ``h -= lr*(g_pos - g_neg)``,
    ``r -= lr*(g_pos - g_neg)``, ``t += lr*g_pos``,
    ``t' -= lr*g_neg``. Every per-pair contribution is quantized
    BEFORE the per-entity sum (order-free); entities/relations with no
    active pair pass through unchanged (left join + coalesce).
    ``normalize=True`` L2-normalizes entity embeddings after the step
    (the original algorithm's constraint, applied at epoch granularity;
    zero vectors pass through).

    Use :func:`transe_scores`' ``_d_pos``/``_d_neg`` to monitor
    convergence.
    """
    if lr <= 0 or margin <= 0:
        raise ValueError(f"lr and margin must be > 0, got {lr}, {margin}")
    from pyspark.sql import Observation

    # cut the ENTITY table once: ``ent`` feeds THREE scoring joins plus
    # the final apply join, and callers routinely hand in a lazy
    # init/distinct plan that would otherwise re-run per reference.
    # ``rel`` is PERSISTED, not checkpointed: checkpointing both tables
    # trips a Catalyst mis-binding in Spark 4.1
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — a projection over the rel
    # checkpoint gets bound against an attribute of the shared upstream
    # pair plan; reproduced deterministically at bench scale, gone with
    # the rel checkpoint removed). persist() keeps the original plan —
    # the shape Spark executes reliably here — while still running the
    # caller's init/distinct once for the two references; the table is
    # relation-scale, so the pinned storage is trivial.
    ent = fs.cut_lineage(ent)
    rel = rel.persist()
    scored = transe_scores(
        pairs, ent, rel,
        subj=subj, pred=pred, obj=obj, neg_obj=neg_obj,
        id_col=id_col, vec=vec,
    )
    # the missing-id guard rides the scored frame's own lineage-cut job
    # (df.observe — zero extra scans) instead of a second full pass
    # through the four joins and the distance folds
    obs = Observation()
    scored = fs.cut_lineage(
        scored.observe(
            obs,
            F.sum(
                (
                    F.col("_h").isNull() | F.col("_r").isNull()
                    | F.col("_t").isNull() | F.col("_tn").isNull()
                ).cast("long")
            ).alias("n_missing"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    got = obs.get
    n_missing = int(got["n_missing"] or 0) if got["n_rows"] else 0
    if n_missing:
        raise ValueError(
            f"transe_epoch: {n_missing} pair(s) reference ids with no "
            "embedding — init_embeddings must cover every entity/relation"
        )
    active = scored.where(
        F.lit(float(margin)) + F.col("_d_pos") - F.col("_d_neg") > 0
    )

    def sign(a, b, c):
        return F.zip_with(
            F.zip_with(a, b, lambda x, y: x + y), c,
            lambda s, z: F.signum(s - z),
        )

    g = active.select(
        F.col(subj).alias("_s"), F.col(pred).alias("_p"),
        F.col(obj).alias("_o"), F.col(neg_obj).alias("_no"),
        sign("_h", "_r", "_t").alias("_gp"),
        sign("_h", "_r", "_tn").alias("_gn"),
    )
    lrq = float(lr)

    def contrib(id_expr, grad_col, factor):
        # per-pair, per-component quantized contribution rows
        return g.select(
            id_expr.alias("_id"),
            F.posexplode(
                F.transform(
                    grad_col, lambda x: F.round(x * F.lit(factor), quantum)
                )
            ).alias("_j", "_c"),
        )

    # h and r move by -(g_pos - g_neg); t by +g_pos; t' by -g_neg
    gdiff = F.zip_with("_gp", "_gn", lambda a, b: a - b)
    ent_contrib = (
        contrib(F.col("_s"), gdiff, -lrq)
        .unionByName(contrib(F.col("_o"), F.col("_gp"), lrq))
        .unionByName(contrib(F.col("_no"), F.col("_gn"), -lrq))
    )
    rel_contrib = contrib(F.col("_p"), gdiff, -lrq)

    def apply(table: DataFrame, contribs: DataFrame, post_norm: bool):
        delta = (
            contribs.groupBy("_id", "_j")
            .agg(F.round(F.sum("_c"), quantum).alias("_dc"))
            .groupBy("_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_j", "_dc"))
                    ),
                    lambda s: s["_dc"],
                ).alias("_delta")
            )
        )
        stepped = (
            table.join(
                delta.select(F.col("_id").alias(id_col), "_delta"),
                id_col, "left",
            )
            .select(
                F.col(id_col),
                F.when(
                    F.col("_delta").isNull(), F.col(vec)
                ).otherwise(
                    F.zip_with(
                        vec, "_delta",
                        lambda v, d: F.round(v + d, quantum),
                    )
                ).alias(vec),
            )
        )
        if not post_norm:
            return stepped
        nrm = F.sqrt(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        return stepped.select(
            F.col(id_col),
            F.when(nrm > 0,
                   F.transform(vec, lambda x: F.round(x / nrm, quantum)))
            .otherwise(F.col(vec))
            .alias(vec),
        )

    new_ent = fs.cut_lineage(apply(ent, ent_contrib, normalize))
    new_rel = fs.cut_lineage(apply(rel, rel_contrib, False))
    return new_ent, new_rel
