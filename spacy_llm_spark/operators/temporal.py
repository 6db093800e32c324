"""Valid-time (temporal) views over a versioned triple log.

Source-code KGs are inherently versioned: every commit re-asserts or
retracts facts, so the natural storage shape is an append-only
ASSERTION LOG ``(subj, pred, obj, ts, seq)`` — one row per (re-)
assertion, ``obj`` NULL marking a retraction of the key — and the
queries people actually ask are temporal: "the KG as of T", "what
changed between T1 and T2", "how long was this fact true". The three
operators here answer exactly those over functional keys
(one live ``obj`` per ``(subj, pred)`` at any instant):

- :func:`snapshot_asof` — the KG at an instant: ONE key-grouped
  max-struct argmax (no window, no self-join) over the log filtered to
  ``ts <= at``; the filter is a pushdown predicate, so a log table
  partitioned by day prunes everything after the snapshot instant.
- :func:`triple_intervals` — each assertion's validity window
  ``[valid_from, valid_to)`` via one ``lead()`` over the per-key
  version order (the single window this family uses — it is keyed on
  ``(subj, pred)``, the same key the snapshot groups on, so one shuffle
  serves it).
- :func:`snapshot_diff` — added / removed / changed facts between two
  instants: two snapshots + one full-outer equi-join on the key.

Determinism across engines: the version order is ``(ts, seq)`` with
``seq`` a caller-supplied total tie-break (commit counter, orderkey…).
Struct comparison is lexicographic by field position in BOTH Spark and
DuckDB, so the argmax is the same one-aggregation expression in engine
and oracle.

At 100 TB: everything is keyed on ``(subj, pred)`` — one hash shuffle
with map-side partial aggregation for snapshots (partials keep only
their max struct, so a hot key costs its row count, never memory), and
the diff joins two key-scale snapshot frames, not the log. Reference
analogue: none — the reference annotates documents and has no temporal
layer; cited for parity accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _version_struct(ts: str, seq: str | None, obj: str):
    fields = [F.col(ts).alias("_t")]
    if seq is not None:
        fields.append(F.col(seq).alias("_q"))
    fields.append(F.col(obj).alias("_o"))
    return F.struct(*fields)


def snapshot_asof(
    log: DataFrame,
    at,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts: str = "ts",
    seq: str | None = None,
) -> DataFrame:
    """The triple set valid at instant ``at``: per ``(subj, pred)`` the
    ``obj`` of the latest assertion with ``ts <= at`` (version order
    ``(ts, seq)``; without ``seq``, equal-``ts`` ties break by greatest
    ``obj`` — pass a total tie-break column for log shapes that can
    collide). Retractions (NULL ``obj``) participate in the ordering
    and then drop their key from the snapshot, so "deleted as of T"
    means gone, not resurrected from an older version.

    One filtered scan + ONE grouped max-struct aggregation; the
    ``ts <= at`` predicate pushes to the scan.
    """
    latest = (
        log.where(F.col(ts) <= F.lit(at))
        .groupBy(F.col(subj).alias(subj), F.col(pred).alias(pred))
        .agg(F.max(_version_struct(ts, seq, obj))["_o"].alias(obj))
    )
    return latest.where(F.col(obj).isNotNull())


def triple_intervals(
    log: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts: str = "ts",
    seq: str | None = None,
) -> DataFrame:
    """Validity windows: every assertion row becomes ``(subj, pred,
    obj, valid_from, valid_to)`` with ``valid_to`` the next version's
    timestamp (NULL = still current) — the half-open ``[from, to)``
    interval convention, so instants match exactly one version and
    :func:`snapshot_asof` at any ``t`` equals the interval containing
    ``t``. Retraction rows close the previous interval and emit no row
    themselves. One window ``lead(ts)`` over the ``(subj, pred)`` key
    ordered by ``(ts, seq)``."""
    order = [F.col(ts)] + ([F.col(seq)] if seq is not None else [])
    w = Window.partitionBy(subj, pred).orderBy(*order)
    return (
        log.withColumn("valid_to", F.lead(F.col(ts)).over(w))
        .where(F.col(obj).isNotNull())
        .select(
            subj,
            pred,
            obj,
            F.col(ts).alias("valid_from"),
            "valid_to",
        )
    )


def snapshot_state(
    log: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts: str = "ts",
    seq: str | None = None,
) -> DataFrame:
    """The maintainable CURRENT-state table: per ``(subj, pred)`` the
    latest version row — ``(subj, pred, obj, ts, seq)`` — INCLUDING
    retraction tombstones (NULL ``obj``). Tombstones must stay in the
    state: drop them and a late-arriving older assertion would
    resurrect a deleted fact on the next merge. The queryable fact set
    is :func:`snapshot_view`; the incremental merge is
    :func:`snapshot_state_append`.

    Same ONE grouped max-struct argmax as :func:`snapshot_asof`, kept
    whole-row (the version columns ride inside the struct) so the
    result is mergeable. Note the state is LOSSY below the latest
    version — as-of queries at arbitrary past instants still need the
    log; the state answers "now" in key-scale instead of log-scale."""
    ver = [F.col(ts).alias("_t")]
    if seq is not None:
        ver.append(F.col(seq).alias("_q"))
    ver.append(F.col(obj).alias("_o"))
    out = (
        log.groupBy(F.col(subj).alias(subj), F.col(pred).alias(pred))
        .agg(F.max(F.struct(*ver)).alias("_v"))
    )
    cols = [subj, pred, F.col("_v._o").alias(obj), F.col("_v._t").alias(ts)]
    if seq is not None:
        cols.append(F.col("_v._q").alias(seq))
    return out.select(*cols)


def snapshot_state_append(
    state: DataFrame,
    batch: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts: str = "ts",
    seq: str | None = None,
) -> DataFrame:
    """Merge a new assertion batch into a maintained state table
    WITHOUT re-reading the log: the per-key argmax is associative and
    commutative, so ``state_append(snapshot_state(A), B) ==
    snapshot_state(A ∪ B)`` for ANY split — including out-of-order and
    late batches (older versions lose the argmax; tombstones in the
    state keep deleted keys dead). One union of the key-scale state
    with the batch-scale increment + the same single argmax — history
    never re-shuffles. Oracle-shared equivalence is pinned by the
    ``kg_snapshot_incremental`` query."""
    cols = [subj, pred, obj, ts] + ([seq] if seq is not None else [])
    return snapshot_state(
        state.select(*cols).unionByName(batch.select(*cols)),
        subj, pred, obj, ts, seq,
    )


def snapshot_view(
    state: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """The queryable fact set of a maintained state table: project the
    triple columns and drop tombstones — a pure filter+projection, so
    BGP queries over the live KG run at key-scale."""
    return state.where(F.col(obj).isNotNull()).select(subj, pred, obj)


def snapshot_diff(
    log: DataFrame,
    at_old,
    at_new,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts: str = "ts",
    seq: str | None = None,
) -> DataFrame:
    """What changed between two instants: ``(subj, pred, obj_old,
    obj_new, change)`` with ``change`` in ``added`` / ``removed`` /
    ``changed`` — unchanged keys are omitted. Two snapshots + one
    full-outer equi-join on the key (key-scale frames, never the
    log)."""
    old = snapshot_asof(log, at_old, subj, pred, obj, ts, seq).withColumnRenamed(
        obj, "obj_old"
    )
    new = snapshot_asof(log, at_new, subj, pred, obj, ts, seq).withColumnRenamed(
        obj, "obj_new"
    )
    joined = old.join(new, on=[subj, pred], how="full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("obj_old").isNull(), F.lit("added"))
            .when(F.col("obj_new").isNull(), F.lit("removed"))
            .when(F.col("obj_old") != F.col("obj_new"), F.lit("changed")),
        )
        .where(F.col("change").isNotNull())
        .select(subj, pred, "obj_old", "obj_new", "change")
    )


def allen_relations(
    left: DataFrame,
    right: DataFrame,
    on: list | str,
    left_start: str = "valid_from",
    left_end: str = "valid_to",
    right_start: str = "valid_from",
    right_end: str = "valid_to",
) -> DataFrame:
    """Allen's interval algebra (Allen 1983) over two validity-interval
    frames — temporal REASONING, not just overlap: every key-matched
    interval pair classified into exactly one of the 13 relations
    (``before / meets / overlaps / starts / during / finishes /
    equals`` and their inverses), the vocabulary for questions like
    "did this fact's validity ABUT the release window or straddle it".

    Half-open ``[start, end)`` convention throughout, matching
    :func:`triple_intervals` (ends comparing equal mean the intervals
    share a boundary instant — ``meets`` — never an overlap); NULL
    ``valid_to`` (still-live) is treated as +infinity on both sides.
    Degenerate (empty/negative) intervals raise rather than classify.

    Physical shape: ONE hash equi-join on ``on`` (at KG scale the key
    is ``(subj, pred)`` and per-key interval counts are version
    counts — small by construction; a hot key costs its own pair
    square, the caller's retention policy bounds it) and the relation
    is a pure CASE cascade — no inequality join, no window.

    Reference analogue: none — cited for parity accounting.
    """
    keys = [on] if isinstance(on, str) else list(on)
    inf = F.lit(float("inf"))
    l_s = F.col("_ls").cast("double")
    l_e = F.coalesce(F.col("_le").cast("double"), inf)
    r_s = F.col("_rs").cast("double")
    r_e = F.coalesce(F.col("_re").cast("double"), inf)
    lf = left.select(
        *keys, F.col(left_start).alias("_ls"), F.col(left_end).alias("_le")
    )
    rf = right.select(
        *keys, F.col(right_start).alias("_rs"), F.col(right_end).alias("_re")
    )
    joined = lf.join(rf, keys)
    bad = joined.where((l_s >= l_e) | (r_s >= r_e)).count()
    if bad:
        raise ValueError(
            f"allen_relations: {bad} pair(s) involve empty or negative "
            "intervals (start >= end under the half-open convention)"
        )
    rel = (
        F.when(l_e < r_s, "before")
        .when(l_e == r_s, "meets")
        .when(r_e < l_s, "after")
        .when(r_e == l_s, "met_by")
        .when((l_s == r_s) & (l_e == r_e), "equals")
        .when((l_s == r_s) & (l_e < r_e), "starts")
        .when((l_s == r_s), "started_by")
        .when((l_e == r_e) & (l_s > r_s), "finishes")
        .when((l_e == r_e), "finished_by")
        .when((l_s > r_s) & (l_e < r_e), "during")
        .when((l_s < r_s) & (l_e > r_e), "contains")
        .when(l_s < r_s, "overlaps")
        .otherwise("overlapped_by")
    )
    return joined.select(
        *keys,
        F.col("_ls").alias("left_start"), F.col("_le").alias("left_end"),
        F.col("_rs").alias("right_start"), F.col("_re").alias("right_end"),
        rel.alias("relation"),
    )


def fact_lifetimes(
    intervals: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Fact VOLATILITY per predicate — the retention/churn profile of a
    versioned KG, over a numeric-bounds validity frame
    (:func:`triple_intervals` output with timestamps converted
    upstream, the :func:`allen_relations` convention): one row per
    predicate with ``n_versions``, ``n_keys`` (distinct subjects),
    ``versions_per_key`` (churn, 6 dp), ``n_live`` (NULL ``valid_to``
    — still-current versions), ``live_fraction``, and
    ``avg_duration`` / ``max_duration`` over the CLOSED versions
    (NULL when a predicate has no closed version yet — a live-only
    predicate has no duration evidence, and 0 would be a lie).

    The operational read: high churn + short durations = volatile
    predicates (re-crawl often, cache never); live_fraction ~1 =
    stable reference facts. ONE grouped aggregate with map-side
    partials; distinct-count shares the grouping shuffle.

    Reference analogue: none — cited for parity accounting.
    """
    dur = F.col(valid_to) - F.col(valid_from)
    return (
        intervals.groupBy(pred)
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.countDistinct(subj).alias("n_keys"),
            F.count(F.when(F.col(valid_to).isNull(), 1)).alias("n_live"),
            F.round(F.avg(dur), 6).alias("avg_duration"),
            F.max(dur).alias("max_duration"),
        )
        .select(
            pred, "n_versions", "n_keys",
            F.round(
                F.col("n_versions") / F.col("n_keys"), 6
            ).alias("versions_per_key"),
            "n_live",
            F.round(F.col("n_live") / F.col("n_versions"), 6)
            .alias("live_fraction"),
            "avg_duration", "max_duration",
        )
    )
