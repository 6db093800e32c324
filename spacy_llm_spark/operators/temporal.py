"""Valid-time (temporal) views over a versioned triple log.

Source-code KGs are inherently versioned: every commit re-asserts or
retracts facts, so the natural storage shape is an append-only
ASSERTION LOG ``(subj, pred, obj, ts, seq)`` — one row per (re-)
assertion, ``obj`` NULL marking a retraction of the key — and the
queries people actually ask are temporal, starting with "the KG as
of T" over functional keys (one live ``obj`` per ``(subj, pred)`` at
any instant):

- :func:`snapshot_asof` — the KG at an instant: ONE key-grouped
  max-struct argmax (no window, no self-join) over the log filtered to
  ``ts <= at``; the filter is a pushdown predicate, so a log table
  partitioned by day prunes everything after the snapshot instant.

Determinism across engines: the version order is ``(ts, seq)`` with
``seq`` a caller-supplied total tie-break (commit counter, orderkey…).
Struct comparison is lexicographic by field position in BOTH Spark and
DuckDB, so the argmax is the same one-aggregation expression in engine
and oracle.

At 100 TB: the snapshot is keyed on ``(subj, pred)`` — one hash
shuffle with map-side partial aggregation (partials keep only their max
struct, so a hot key costs its row count, never memory). Reference
analogue: none — the reference annotates documents and has no temporal
layer; cited for parity accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
