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
