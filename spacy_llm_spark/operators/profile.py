"""Single-pass dataset profiling — the "corpus card" primitive.

Before a 100 TB corpus goes into a training mix, the first question is
always shape: null rates, cardinalities, value ranges, text lengths,
per column. The naive approach runs one job per column per statistic;
at petabyte scale that re-reads the corpus dozens of times. This
profiler computes EVERY column's statistics in ONE aggregation over
ONE scan:

- per column: row count, null count, distinct count, min/max (rendered
  to strings AFTER native-type comparison, so ordering is typed), and
  mean length for string columns;
- the wide 1-row aggregate is then unpivoted driver-side into one row
  per column (a constant-size reshape — the aggregate row is a few
  cells per column, never data-scale).

Distinct counts are exact by default (Spark's multi-distinct aggregate
expands the input once per distinct column inside the same shuffle —
still one scan); ``approx=True`` swaps in HLL ``approx_count_distinct``
(single expand-free pass, ~2% error) for the cardinality-heavy cases
where exactness is not worth the expand. The oracle queries use the
exact form.

Reference analogue: none — spacy-llm profiles nothing; cited for
parity accounting only. This is the operational complement to
functions/text.py's per-document quality features.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def profile_table(
    df: DataFrame,
    columns: Optional[Iterable[str]] = None,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """One row per profiled column:
    (column, n_rows, n_nulls, null_rate, n_distinct, min_value,
    max_value, avg_len). ``min/max_value`` are min/max in the column's
    NATIVE ordering rendered to string; ``avg_len`` is the mean string
    length (NULL for non-string columns); ``null_rate`` rounded to 6 dp.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    if not cols:
        raise ValueError("profile_table: no columns to profile")

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(c)
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_nn_{c}")
        )
        aggs.append(
            (
                F.approx_count_distinct(c, rsd) if approx else F.count_distinct(col)
            ).alias(f"_nd_{c}")
        )
        aggs.append(F.min(col).cast("string").alias(f"_mn_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"_mx_{c}"))
        if isinstance(df.schema[c].dataType, StringType):
            aggs.append(F.avg(F.length(col)).alias(f"_al_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"_al_{c}"))
    wide = df.agg(*aggs)

    # unpivot the 1-row aggregate into per-column rows: a stack() over a
    # constant-size frame — never touches the data again
    stack_args = []
    for c in cols:
        stack_args.extend(
            [
                F.lit(c),
                F.col(f"_nn_{c}"),
                F.col(f"_nd_{c}"),
                F.col(f"_mn_{c}"),
                F.col(f"_mx_{c}"),
                F.col(f"_al_{c}"),
            ]
        )
    return (
        wide.select(
            F.col("_n"),
            F.stack(
                F.lit(len(cols)),
                *stack_args,
            ).alias("column", "_nn", "_nd", "min_value", "max_value", "_al"),
        )
        .select(
            "column",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("_nn").cast("long").alias("n_nulls"),
            F.round(F.try_divide(F.col("_nn"), F.col("_n")), 6).alias("null_rate"),
            F.col("_nd").cast("long").alias("n_distinct"),
            "min_value",
            "max_value",
            F.round(F.col("_al"), 6).alias("avg_len"),
        )
    )


def histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram of a numeric column — the distribution
    shape the flat profiler stats can't show. (bin, lo, hi, n), bins
    covering [min, max] with the max value folded into the top bin;
    NULLs are excluded; a constant column yields one bin.

    Shape: one 1-row min/max aggregation broadcast back, then the bin
    id is a pure projection and the histogram one bins-scale
    aggregation — two passes over the column, no sort, no Python. Bin
    bounds are derived with the same fixed operand order in the SQL
    oracle, so edges match bit-for-bit."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    val = F.col(value_col).cast("double")
    bounds = df.where(val.isNotNull()).agg(
        F.min(val).alias("_lo"), F.max(val).alias("_hi")
    )
    from pyspark.sql.functions import broadcast

    width = (F.col("_hi") - F.col("_lo")) / n_bins
    bin_id = F.least(
        F.floor((val - F.col("_lo")) / width).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    return (
        df.where(val.isNotNull())
        .crossJoin(broadcast(bounds))
        .select(
            # a zero-width (constant) column puts everything in bin 0
            F.when(F.col("_hi") > F.col("_lo"), bin_id)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bin"),
            F.col("_lo"),
            F.col("_hi"),
        )
        .groupBy("bin", "_lo", "_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bin",
            F.round(
                F.col("_lo") + F.col("bin") * (F.col("_hi") - F.col("_lo")) / n_bins,
                6,
            ).alias("lo"),
            F.round(
                F.col("_lo")
                + (F.col("bin") + 1) * (F.col("_hi") - F.col("_lo")) / n_bins,
                6,
            ).alias("hi"),
            "n",
        )
    )


def skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Pre-join skew diagnostics for a prospective shuffle key:
    the ``top_n`` heaviest key values with their row share and the
    key-space skew factor (heaviest key's count / mean count per key —
    the number that predicts whether AQE skew splitting or salting is
    needed BEFORE paying for the shuffle).

    One key-keyed aggregation + one 1-row global aggregate broadcast
    back; top-n is TakeOrdered, never a global sort. Output:
    (key, n, share, skew_factor, rank) — share/skew rounded 6 dp, rank
    by (n DESC, key ASC) so the cut is deterministic under ties.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    keys = list(key_cols)
    # concat_ws silently DROPS null inputs, which would merge a NULL key
    # component with the empty string (and ('a', NULL) with ('a',)) —
    # encode each component null-safely with a sentinel instead
    parts = [
        F.coalesce(F.col(k).cast("string"), F.lit("␀")) for k in keys
    ]
    counts = df.groupBy(
        F.concat_ws("␟", *parts).alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    totals = counts.agg(
        F.sum("n").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_nkeys"),
        F.max("n").cast("double").alias("_maxn"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("_maxn") / (F.col("_total") / F.col("_nkeys")), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top_n)
        .withColumn("rank", _rank_window().cast("long"))
    )


def _rank_window():
    # rank over the already-limited top-n frame: the single-partition
    # window touches <= top_n rows, never the key space
    from pyspark.sql import Window

    return F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key")))
