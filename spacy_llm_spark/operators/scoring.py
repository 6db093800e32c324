"""Evaluation operators (A8) as two-phase Spark aggregations.

NER P/R/F semantics pinned by tests/tasks/test_ner.py:697-718: a predicted
mention is correct iff (doc, start, end, label) matches a gold mention;
P = tp / n_pred, R = tp / n_gold, F = 2PR/(P+R) (0 where undefined).

Everything is a join + count — Spark's partial aggregation does the
map-side combine; no driver-side loops.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prf(tp: int, n_pred: int, n_gold: int) -> Tuple[float, float, float]:
    p = tp / n_pred if n_pred else 0.0
    r = tp / n_gold if n_gold else 0.0
    f = 2 * p * r / (p + r) if (p + r) else 0.0
    return p, r, f


def score_mentions(
    predicted: DataFrame,
    gold: DataFrame,
    keys: Sequence[str] = ("doc_id", "start", "end", "label"),
) -> Tuple[float, float, float]:
    """NER P/R/F via inner join on the mention identity."""
    tp = predicted.select(*keys).distinct().join(
        gold.select(*keys).distinct(), on=list(keys), how="inner"
    ).count()
    return prf(tp, predicted.select(*keys).distinct().count(), gold.select(*keys).distinct().count())


def pairwise_cluster_prf(
    assign: DataFrame,
    pred_col: str,
    gold_col: str,
) -> DataFrame:
    """Pairwise clustering precision/recall/F1 — the entity-resolution
    evaluation metric: of all item pairs the predicted clustering puts
    together, how many does the gold clustering also put together?

    Computed ENTIRELY from the contingency table: |pred pairs| =
    Σ C(size_c, 2) over predicted clusters, |gold pairs| likewise, and
    |common pairs| = Σ C(n_cell, 2) over (pred, gold) joint cells — so
    no pair is ever materialized (the naive pair self-join is quadratic
    in the largest cluster; this is three aggregations, each keyed on
    cluster ids). Pair counts use integer ``div`` arithmetic (exact at
    any cluster size); rows with a NULL in either column are excluded
    (an unclustered item has no pairs). Returns ONE row:
    (n_pred_pairs, n_gold_pairs, n_common_pairs, precision, recall,
    f1), ratios rounded to 6 dp, 0.0 where undefined.
    """
    a = assign.select(pred_col, gold_col).where(
        F.col(pred_col).isNotNull() & F.col(gold_col).isNotNull()
    )

    def _pairs(counts: DataFrame) -> DataFrame:
        return counts.agg(
            F.coalesce(
                F.sum(F.expr("n * (n - 1) div 2")), F.lit(0)
            ).cast("long").alias("pairs")
        )

    pp = _pairs(
        a.groupBy(pred_col).agg(F.count(F.lit(1)).alias("n"))
    ).withColumnRenamed("pairs", "n_pred_pairs")
    gp = _pairs(
        a.groupBy(gold_col).agg(F.count(F.lit(1)).alias("n"))
    ).withColumnRenamed("pairs", "n_gold_pairs")
    cp = _pairs(
        a.groupBy(pred_col, gold_col).agg(F.count(F.lit(1)).alias("n"))
    ).withColumnRenamed("pairs", "n_common_pairs")

    p = F.when(
        F.col("n_pred_pairs") > 0,
        F.col("n_common_pairs").cast("double") / F.col("n_pred_pairs"),
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_gold_pairs") > 0,
        F.col("n_common_pairs").cast("double") / F.col("n_gold_pairs"),
    ).otherwise(F.lit(0.0))
    return (
        pp.crossJoin(gp)
        .crossJoin(cp)
        .withColumn("_p", p)
        .withColumn("_r", r)
        .select(
            "n_pred_pairs",
            "n_gold_pairs",
            "n_common_pairs",
            F.round("_p", 6).alias("precision"),
            F.round("_r", 6).alias("recall"),
            F.round(
                F.when(
                    F.col("_p") + F.col("_r") > 0,
                    2.0 * F.col("_p") * F.col("_r") / (F.col("_p") + F.col("_r")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("f1"),
        )
    )


def bcubed_prf(
    assign: DataFrame,
    pred_col: str,
    gold_col: str,
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) — the
    per-ITEM clustering metric that, unlike pairwise P/R, does not let
    one giant cluster dominate: each item contributes
    |C(i) ∩ L(i)| / |C(i)| to precision and / |L(i)| to recall,
    averaged over items.

    Same contingency-table trick as :func:`pairwise_cluster_prf` — for
    every joint (pred, gold) cell of n items each contributes
    n/|pred| resp. n/|gold|, so precision = Σ n² / |pred| / N and
    recall = Σ n² / |gold| / N over cells. Three keyed aggregations
    plus two cluster-scale joins of the cell table against the two
    size tables; no per-item work, no pair ever materialized. NULL
    rows are excluded (an unclustered item scores nothing); ratios
    rounded to 6 dp (terms are small-rational; a thousand-fold sum's
    float error sits ten orders below the quantum, the
    harmonic-centrality discipline), 0.0 where undefined.
    """
    a = assign.select(pred_col, gold_col).where(
        F.col(pred_col).isNotNull() & F.col(gold_col).isNotNull()
    )
    cell = a.groupBy(pred_col, gold_col).agg(F.count(F.lit(1)).alias("n"))
    psz = a.groupBy(pred_col).agg(F.count(F.lit(1)).alias("np"))
    gsz = a.groupBy(gold_col).agg(F.count(F.lit(1)).alias("ng"))
    joined = cell.join(psz, pred_col).join(gsz, gold_col)
    out = joined.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_items"),
        F.sum(
            F.col("n").cast("double") * F.col("n") / F.col("np")
        ).alias("_ps"),
        F.sum(
            F.col("n").cast("double") * F.col("n") / F.col("ng")
        ).alias("_rs"),
    )
    p = F.when(
        F.col("n_items") > 0, F.col("_ps") / F.col("n_items")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_items") > 0, F.col("_rs") / F.col("n_items")
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("_p", p)
        .withColumn("_r", r)
        .select(
            "n_items",
            F.round("_p", 6).alias("bcubed_precision"),
            F.round("_r", 6).alias("bcubed_recall"),
            F.round(
                F.when(
                    F.col("_p") + F.col("_r") > 0,
                    2.0
                    * F.col("_p")
                    * F.col("_r")
                    / (F.col("_p") + F.col("_r")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("bcubed_f1"),
        )
    )


def ranking_metrics(
    scored: DataFrame,
    query_col: str,
    cand_col: str,
    score_col: str,
    label_col: str,
    ks: Sequence[int] = (1, 3, 10),
    filtered: bool = True,
) -> DataFrame:
    """Link-prediction ranking evaluation — MRR / Hits@k / mean rank
    over a scored candidate table, the standard KG-embedding metric set
    (Bordes et al. 2013 TransE evaluation protocol).

    ``scored`` has one row per (query, candidate) with a model score
    and a boolean gold label; typically the output of scoring every
    (head, relation) query against its candidate tail set (e.g. the
    :func:`~spacy_llm_spark.operators.graph.negative_triples` training
    complement). Candidates are ranked per query by
    ``(score DESC, candidate ASC)`` — the explicit tie-break makes the
    metric deterministic and oracle-reproducible, where the common
    "ties rank arbitrarily" convention is not. Each POSITIVE row gets:

    - ``filtered=True`` (the protocol's *filtered* setting): rank =
      1 + the number of NEGATIVES ordered ahead of it — other
      positives of the same query are skipped over, so a query whose
      gold set is {a, b} doesn't penalize a for the model (correctly)
      ranking b high.
    - ``filtered=False`` (*raw*): rank = its row_number among ALL
      candidates of the query.

    Returned as ONE row: n_queries, n_positives, mrr (mean 1/rank),
    hits_{k} per requested k (fraction of positives with rank <= k),
    mean_rank — ratios rounded to 6 dp.

    Plan shape: ONE shuffle keyed on the query column feeds both the
    row_number and the running negatives-ahead count (same window
    spec), then one global partial+final aggregate — per-query
    candidate lists are bounded by the upstream candidate generator
    (top-n candidates, A4/O1 family), so window state is small and the
    only skew axis is a query with an outsized candidate set.
    Reference analogue: none (the reference scores EL accuracy only,
    spacy_llm/tasks/entity_linker/scorer.py) — cited for parity
    accounting.
    """
    from pyspark.sql import Window

    if not ks or any(int(k) < 1 for k in ks):
        raise ValueError(f"ranking_metrics: bad ks {ks!r}")
    lab = F.col(label_col).cast("boolean")
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(cand_col).asc()
    )
    if filtered:
        rank = (
            F.coalesce(
                F.sum(F.when(~lab, 1).otherwise(0)).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            + 1
        )
    else:
        rank = F.row_number().over(w)
    pos = (
        scored.withColumn("_rank", rank.cast("long"))
        .where(lab)
        .select(query_col, "_rank")
    )
    aggs = [
        F.count_distinct(F.col(query_col)).alias("n_queries"),
        F.count(F.lit(1)).alias("n_positives"),
        F.round(F.avg(1.0 / F.col("_rank")), 6).alias("mrr"),
    ]
    for k in ks:
        aggs.append(
            F.round(
                F.avg((F.col("_rank") <= int(k)).cast("double")), 6
            ).alias(f"hits_{int(k)}")
        )
    aggs.append(F.round(F.avg(F.col("_rank")), 6).alias("mean_rank"))
    return pos.agg(*aggs)


def calibration_bins(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic scorer — the
    monitoring table behind expected calibration error (Guo et al.
    2017): scores in [0, 1] bucket into ``n_bins`` equal-width bins
    (``floor(score * n)``, score 1.0 folded into the top bin), each row
    reporting (bin, lo, hi, n, mean_score, frac_pos, gap). ECE is then
    ``sum(n * abs(gap)) / sum(n)`` — derivable from the table, so the
    aggregate never hides the shape. One ``n_bins``-ary groupBy with
    map-side partials; means quantized 6 dp like every cross-engine
    float here. Scores outside [0, 1] raise at the first action (a lazy
    per-row guard — an out-of-range "probability" is a caller bug worth
    stopping for, not clamping silently).

    Reference analogue: none — the reference's scorers return point
    metrics (spacy_llm/tasks/entity_linker/scorer.py); calibration of
    the candidate priors is the 100-TB-monitoring extension."""
    if n_bins < 1:
        raise ValueError(f"calibration_bins: n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    guarded = F.when(
        s.isNull() | (s < 0) | (s > 1),
        F.raise_error(
            F.concat(
                F.lit("calibration_bins: score outside [0, 1]: "),
                F.coalesce(s.cast("string"), F.lit("NULL")),
            )
        ),
    ).otherwise(s)
    b = F.least(F.floor(guarded * n_bins), F.lit(n_bins - 1)).cast("long")
    return (
        scored.select(
            b.alias("bin"),
            guarded.alias("_s"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_s"), 6).alias("mean_score"),
            F.round(F.avg("_y"), 6).alias("frac_pos"),
        )
        .select(
            "bin",
            F.round(F.col("bin") / n_bins, 6).alias("lo"),
            F.round((F.col("bin") + 1) / n_bins, 6).alias("hi"),
            "n",
            "mean_score",
            "frac_pos",
            F.round(F.col("frac_pos") - F.col("mean_score"), 6).alias("gap"),
        )
    )


def roc_auc(
    scored: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Tie-aware ROC-AUC as ONE row (auc, n_pos, n_neg) — the
    Mann–Whitney U form: AUC = P(score_pos > score_neg) + 0.5 ·
    P(equal). Computed WITHOUT ranking the row space: scores group to
    their distinct values first (one map-side-combined aggregate), the
    cumulative negative mass below each value is a window over the
    DISTINCT-score rows only (score cardinality, not corpus
    cardinality — priors/probabilities have few distinct values at any
    scale), and the final dot product is one tiny aggregate:
    AUC = Σ_s p_s · (neg_below(s) + n_s/2) / (P·N). Quantized 6 dp.
    Degenerate inputs (no positives or no negatives) return NULL auc
    rather than a divide-by-zero — the caller should know, not crash.

    Reference analogue: none — point P/R/F only
    (spacy_llm/tasks/*/scorer.py); threshold-free ranking quality is
    the monitoring extension. Pairs with :func:`calibration_bins`."""
    from pyspark.sql import Window

    per_score = (
        scored.select(
            F.col(score_col).cast("double").alias("_s"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("_s")
        .agg(
            F.sum("_y").alias("_p"),
            F.sum(1 - F.col("_y")).alias("_n"),
        )
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    contrib = per_score.select(
        "_p",
        "_n",
        F.coalesce(F.sum("_n").over(w), F.lit(0.0)).alias("_below"),
    )
    return contrib.agg(
        F.round(
            F.try_divide(
                F.sum(F.col("_p") * (F.col("_below") + F.col("_n") / 2)),
                F.sum("_p") * F.sum("_n"),
            ),
            6,
        ).alias("auc"),
        F.sum("_p").cast("long").alias("n_pos"),
        F.sum("_n").cast("long").alias("n_neg"),
    )
