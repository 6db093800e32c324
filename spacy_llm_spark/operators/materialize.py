"""Materialize annotated docs into the KG output tables.

All pure native-expression projections/explodes (whole-stage codegen, no
Python): the annotation arrays produced by the ner/rel/el stages become the
``mentions``, ``relations``, ``links``, and ``edges`` tables. The
``content_sha256`` parity column rides through every table (BASELINE.json
per-row invariant).

Triple semantics: an edge is (subj, pred, obj) where subj/obj are the KB
ids of the dep/dest mentions when linked, else the normalized surface form
prefixed ``surface:`` — canonicalization (operators/canonicalize.py) later
collapses surface nodes onto KB nodes via connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kb import NIL


def _explode(df: DataFrame, id_cols, array_col: str, idx: str, elem: str, *keep) -> DataFrame:
    """(ids..., keep..., idx, elem): one row per element of ``array_col``."""
    return df.selectExpr(*id_cols, *keep, f"posexplode({array_col}) AS ({idx}, {elem})")


_ENT_FIELDS = (
    "ent.start AS start", "ent.`end` AS `end`", "ent.label AS label", "ent.surface AS surface"
)


def mentions_table(df: DataFrame, id_cols=("doc_id", "content_sha256")) -> DataFrame:
    """Explode ents -> (ids..., ent_idx, start, end, label, surface)."""
    return _explode(df, id_cols, "ents", "ent_idx", "ent").selectExpr(
        *id_cols, "ent_idx", *_ENT_FIELDS
    )


def relations_table(df: DataFrame, id_cols=("doc_id", "content_sha256")) -> DataFrame:
    """Explode rels -> (ids..., rel_idx, dep, dest, relation)."""
    return _explode(df, id_cols, "rels", "rel_idx", "rel").selectExpr(
        *id_cols, "rel_idx", "rel.dep AS dep", "rel.dest AS dest", "rel.relation AS relation"
    )


def links_table(df: DataFrame, id_cols=("doc_id", "content_sha256")) -> DataFrame:
    """Explode ents aligned with kb_ids -> (ids..., ent_idx, start, end,
    label, surface, kb_id).

    Deliberately ``posexplode(ents)`` + ``element_at(kb_ids, pos+1)``, NOT
    ``arrays_zip``: field extraction from a zipped struct re-materializes
    the zip per accessed field (measured ~10x slower on this explode), and
    higher-order lambdas (zip_with) drop out of codegen entirely.
    """
    return _explode(df, id_cols, "ents", "ent_idx", "ent", "kb_ids").selectExpr(
        *id_cols, "ent_idx", *_ENT_FIELDS, "element_at(kb_ids, ent_idx + 1) AS kb_id"
    )


def merge_annotations(
    new: DataFrame,
    old: DataFrame,
    key: str = "content_sha256",
    annotation_cols=("ents", "rels", "kb_ids"),
) -> DataFrame:
    """M8: preserve non-null prior annotations when reprocessing docs —
    the reference copies non-None custom attrs from the input doc onto the
    freshly parsed doc (pipeline/llm.py:284-293). Spark translation:
    left-join on the content key, coalesce(new, old) per annotation
    column. Rows only in ``new`` keep their fresh values; prior values
    survive where the new pass produced null."""
    old_sel = old.select(
        key, *[F.col(c).alias(f"_old_{c}") for c in annotation_cols if c in old.columns]
    )
    merged = new.join(old_sel, key, "left")
    for c in annotation_cols:
        if f"_old_{c}" in merged.columns:
            merged = merged.withColumn(c, F.coalesce(F.col(c), F.col(f"_old_{c}")))
    return merged.drop(*[f"_old_{c}" for c in annotation_cols])


def _node_expr(ent_col: str, kb_col: str) -> str:
    """SQL: KB id when linked, else normalized surface node."""
    return (
        f"CASE WHEN {kb_col} IS NOT NULL AND {kb_col} != '{NIL}' THEN {kb_col} "
        f"ELSE concat('surface:', lower(trim({ent_col}))) END"
    )


def edges_table(df: DataFrame, id_cols=("doc_id", "content_sha256")) -> DataFrame:
    """(subj, pred, obj) triples: resolve rel indices into the ents/kb_ids
    arrays with element_at — a pure projection, no join, no shuffle.
    """
    return (
        _explode(df, id_cols, "rels", "rel_idx", "rel", "ents", "kb_ids")
        .selectExpr(
            *id_cols,
            "rel_idx",
            "rel.relation AS pred",
            "element_at(ents, rel.dep + 1) AS dep_ent",
            "element_at(kb_ids, rel.dep + 1) AS dep_kb",
            "element_at(ents, rel.dest + 1) AS dest_ent",
            "element_at(kb_ids, rel.dest + 1) AS dest_kb",
        )
        .selectExpr(
            *id_cols,
            "rel_idx",
            _node_expr("dep_ent.surface", "dep_kb") + " AS subj",
            "pred",
            _node_expr("dest_ent.surface", "dest_kb") + " AS obj",
            "dep_ent.surface AS subj_surface",
            "dest_ent.surface AS obj_surface",
            "dep_ent.label AS subj_label",
            "dest_ent.label AS obj_label",
        )
    )


def edge_support(
    edges: DataFrame,
    doc_col: str = "doc_id",
    total_docs: int | None = None,
) -> DataFrame:
    """Provenance/confidence aggregation per distinct triple: how many
    documents assert (subj, pred, obj), how many individual mention
    pairs, and the support fraction when the corpus size is known — the
    weighting KG-construction pipelines attach before downstream
    consumers rank or threshold edges (an extraction seen in one doc of
    a billion is noise; one seen in thousands is signal).

    ONE triple-keyed aggregate with map-side partials:
    ``n_docs = count(DISTINCT doc)`` and ``n_mentions = count(*)`` in
    the same pass (Spark plans the distinct via a two-phase expand on
    the SAME key shuffle — no second scan). Output is distinct-triple
    scale. ``support`` = n_docs / total_docs rounded to 6 dp when
    ``total_docs`` is given (pass the corpus count the pipeline already
    knows; computing it here would add a scan), NULL otherwise.
    """
    out = edges.groupBy("subj", "pred", "obj").agg(
        F.countDistinct(doc_col).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
    )
    if total_docs is not None:
        if total_docs <= 0:
            raise ValueError("edge_support: total_docs must be positive")
        sup = F.round(F.col("n_docs") / F.lit(float(total_docs)), 6)
    else:
        sup = F.lit(None).cast("double")
    return out.withColumn("support", sup)


def edge_support_append(
    stored: DataFrame,
    new_edges: DataFrame,
    doc_col: str = "doc_id",
    total_docs: int | None = None,
) -> DataFrame:
    """Incremental provenance maintenance for APPEND-ONLY corpora: fold
    a new batch's edges into a stored ``edge_support`` table — the
    daily-ingest shape, same persisted-result/merge family as the dedup
    indexes.

    Correctness contract: batch doc ids must be NEW (append-only
    ingest — the checkpoint anti-join upstream guarantees a doc is
    processed once), so both ``n_docs`` (distinct docs are disjoint
    across batches) and ``n_mentions`` merge ADDITIVELY: aggregate the
    delta alone, then ONE triple-keyed sum over stored ∪ delta —
    triple-scale work, the raw edge history is never re-read. Bit-equal
    to a full recompute under the contract (test-pinned). A corpus that
    re-processes documents breaks the contract; recompute from raw
    edges there. ``support`` is recomputed from the NEW corpus total
    (it changes for every triple when the denominator grows, which is
    why it is derived here rather than merged).
    """
    delta = edge_support(new_edges, doc_col=doc_col)
    merged = (
        stored.select("subj", "pred", "obj", "n_docs", "n_mentions")
        .unionByName(delta.select("subj", "pred", "obj", "n_docs", "n_mentions"))
        .groupBy("subj", "pred", "obj")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_mentions").cast("long").alias("n_mentions"),
        )
    )
    if total_docs is not None:
        if total_docs <= 0:
            raise ValueError("edge_support_append: total_docs must be positive")
        sup = F.round(F.col("n_docs") / F.lit(float(total_docs)), 6)
    else:
        sup = F.lit(None).cast("double")
    return merged.withColumn("support", sup)
