"""NER evaluation (A8): mention-level precision, recall and F1.

NER P/R/F semantics pinned by tests/tasks/test_ner.py:697-718: a predicted
mention is correct iff (doc, start, end, label) matches a gold mention;
P = tp / n_pred, R = tp / n_gold, F = 2PR/(P+R) (0 where undefined).

Everything is a join + count — Spark's partial aggregation does the
map-side combine; no driver-side loops.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame


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
