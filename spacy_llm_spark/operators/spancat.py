"""SpanCat stage: overlapping-span categorization as a first-class output.

The reference's SpanCat task is the NER task with ``allow_overlap`` and a
dedicated output slot — spans land in ``doc.spans[key]`` instead of
``doc.ents`` (tasks/spancat/task.py:82-88), so overlapping spans survive
(doc.ents forbids overlap, doc.spans does not). Spark translation: the
same narrow NER kernel with overlap dedup-by-sort instead of
``filter_spans``, writing a separate ``spans`` array column; the
``spans_table`` explode materializes (doc_id, span_idx, start, end,
label, surface) with overlaps intact.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ner import SHARDS_COL, extract_mentions


def extract_spans(
    df: DataFrame,
    *,
    model_spec: dict,
    labels,
    context_length: Optional[int] = None,
    definitions: Optional[dict] = None,
    examples: Optional[list] = None,
    out_col: str = "spans",
) -> DataFrame:
    """Append a ``spans`` column of aligned, possibly-overlapping spans
    (sorted by (start, end, label), exact duplicates removed)."""
    return extract_mentions(
        df,
        model_spec=model_spec,
        labels=labels,
        allow_overlap=True,
        context_length=context_length,
        definitions=definitions,
        examples=examples,
        out_col=out_col,
    ).drop(SHARDS_COL)


def spans_table(
    df: DataFrame,
    id_cols=("doc_id", "content_sha256"),
    spans_col: str = "spans",
) -> DataFrame:
    """Explode spans -> (ids..., span_idx, start, end, label, surface)."""
    return df.select(
        *id_cols, F.posexplode(spans_col).alias("span_idx", "sp")
    ).select(
        *id_cols,
        "span_idx",
        F.col("sp.start").alias("start"),
        F.col("sp.end").alias("end"),
        F.col("sp.label").alias("label"),
        F.col("sp.surface").alias("surface"),
    )
