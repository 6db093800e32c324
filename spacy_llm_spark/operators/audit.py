"""KG quality audits as DataFrame ops.

- ``triple_shape_violations``: SHACL-style shape validation of a
  labeled triple table against an ontology of allowed
  (pred, subj_label, obj_label) combinations. Broadcast lookups on the
  ontology, one pass over the edges; output is violation-scale.
- ``induce_ontology``: the inverse, per-predicate domain/range
  discovery from instance data, with functionality statistics. Its
  output is the ``shapes`` input ``triple_shape_violations`` wants.
- ``k_anonymity_violations`` / ``l_diversity_violations``:
  quasi-identifier groups too small, or too uniform in a sensitive
  column, to release. One aggregate each.

Reference analogue: none (spacy_llm has no data-quality surface);
cited for parity accounting only.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triple_shape_violations(
    edges: DataFrame,
    shapes: DataFrame,
    pred: str = "pred",
    subj_label: str = "subj_label",
    obj_label: str = "obj_label",
) -> DataFrame:
    """SHACL-style shape validation of a labeled triple table: the
    ontology ``shapes`` frame lists every ALLOWED
    (pred, subj_label, obj_label) combination, and each non-conforming
    triple comes back with a ``kind`` diagnosing WHY (precedence order):

    - ``unknown_pred`` — the predicate has no shape at all;
    - ``domain``       — the subject class is not allowed for this pred;
    - ``range``        — the object class is not allowed for this pred;
    - ``combination``  — subject and object classes are each allowed,
      but never together (e.g. precedes: OP→TABLE and TABLE→OP declared,
      OP→OP observed).

    Conforming triples are dropped — output is violation-scale. This is
    the KG-construction QA gate: run it before canonical triples are
    published, route violations back to extraction.

    Scale shape: the ontology is vocabulary-scale (|preds| x |classes|),
    so all four lookup frames ride explicit broadcast hints and the scan
    of the edge table is ONE pass with map-side broadcast left joins —
    no shuffle of corpus-scale data, kind as a pure projection.

    Shapes with NULLs raise (a NULL class cannot be matched by the
    null-unsafe equi-joins and would silently allow nothing).
    """
    for c in (pred, subj_label, obj_label):
        if c not in edges.columns:
            raise ValueError(f"edges is missing column {c!r}")
        if c not in shapes.columns:
            raise ValueError(f"shapes is missing column {c!r}")
    shp = shapes.select(pred, subj_label, obj_label).distinct()
    n_null = shp.where(
        F.col(pred).isNull()
        | F.col(subj_label).isNull()
        | F.col(obj_label).isNull()
    ).count()  # bounded: ontology-scale frame
    if n_null:
        raise ValueError(
            f"shapes has {n_null} row(s) with NULLs — a NULL class "
            "never equi-joins, so the shape would silently allow nothing"
        )
    if not shp.take(1):
        raise ValueError("shapes must be non-empty")

    combo = shp.withColumn("_combo", F.lit(1))
    known = shp.select(pred).distinct().withColumn("_known", F.lit(1))
    dom = shp.select(pred, subj_label).distinct().withColumn("_dom", F.lit(1))
    rng = shp.select(pred, obj_label).distinct().withColumn("_rng", F.lit(1))
    out = (
        edges.join(F.broadcast(known), [pred], "left")
        .join(F.broadcast(dom), [pred, subj_label], "left")
        .join(F.broadcast(rng), [pred, obj_label], "left")
        .join(F.broadcast(combo), [pred, subj_label, obj_label], "left")
        .withColumn(
            "kind",
            F.when(F.col("_known").isNull(), F.lit("unknown_pred"))
            .when(F.col("_dom").isNull(), F.lit("domain"))
            .when(F.col("_rng").isNull(), F.lit("range"))
            .when(F.col("_combo").isNull(), F.lit("combination")),
        )
        .where(F.col("kind").isNotNull())
        .drop("_known", "_dom", "_rng", "_combo")
    )
    return out


def induce_ontology(
    edges: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    subj_label: str = "subj_label",
    obj_label: str = "obj_label",
) -> DataFrame:
    """Schema DISCOVERY from instance data — the inverse of
    ``triple_shape_violations`` (which audits against a GIVEN
    ontology): per predicate, induce the dominant domain and range
    class with support fractions, plus the functionality /
    inverse-functionality statistics of PARIS-style ontology alignment
    (Suchanek et al., VLDB 2012: fun(p) = #distinct subjects /
    #distinct (s,o) pairs — 1.0 means each subject has one object).

    One row per predicate: ``n_triples`` (distinct (s,p,o)),
    ``domain`` / ``domain_conf`` (modal subject label and its fraction
    of distinct (subj, label) occurrences), ``range`` / ``range_conf``
    (same over objects), ``functionality``, ``inv_functionality`` —
    fractions rounded 6 dp. Argmax ties break toward the
    lexicographically smallest label (the engine-wide min-struct
    discipline).

    Physical shape: everything reduces BEFORE it joins — two two-level
    label-count aggregates (map-side partials on (pred, label)) and one
    distinct-count aggregate, equi-joined at PREDICATE scale, so no
    table-scale row survives the first exchange. The induced frame is
    the input ``triple_shape_violations`` wants: feed discovery into
    enforcement.

    Reference analogue: none — cited for parity accounting.
    """
    triples = edges.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"),
        F.col(obj).alias("o"), F.col(subj_label).alias("sl"),
        F.col(obj_label).alias("ol"),
    ).distinct()

    def modal(frame: DataFrame, lab: str, out: str, conf: str) -> DataFrame:
        counts = frame.groupBy("p", lab).agg(F.count(F.lit(1)).alias("n"))
        tot = counts.groupBy("p").agg(F.sum("n").alias("tot"))
        top = counts.groupBy("p").agg(
            F.min(
                F.struct((-F.col("n")).alias("neg"), F.col(lab).alias("lab"))
            ).alias("_t")
        )
        return top.join(tot, "p").select(
            "p",
            F.col("_t.lab").alias(out),
            F.round(-F.col("_t.neg") / F.col("tot"), 6).alias(conf),
        )

    dom = modal(triples.select("p", "s", "sl").distinct(), "sl",
                "domain", "domain_conf")
    rng = modal(triples.select("p", "o", "ol").distinct(), "ol",
                "range", "range_conf")
    fun = triples.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("s", "o").alias("_pairs"),
        F.countDistinct("s").alias("_ns"),
        F.countDistinct("o").alias("_no"),
    ).select(
        "p", "n_triples",
        F.round(F.col("_ns") / F.col("_pairs"), 6).alias("functionality"),
        F.round(F.col("_no") / F.col("_pairs"), 6).alias("inv_functionality"),
    )
    return (
        fun.join(dom, "p").join(rng, "p")
        .select(
            F.col("p").alias(pred), "n_triples",
            "domain", "domain_conf", "range", "range_conf",
            "functionality", "inv_functionality",
        )
    )


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Quasi-identifier groups smaller than ``k`` — the k-anonymity
    audit (Sweeney 2002): any combination of quasi-identifier values
    shared by fewer than k rows re-identifies those rows. One
    map-side-combined count aggregate + a filter; output is the
    violating group keys with their sizes.

    Releasing a table this audit flags requires generalizing or
    suppressing the flagged groups; the audit itself is the cheap part
    and belongs next to the PII scrub in the hygiene battery.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k} (k=1 is vacuous)")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .where(F.col("group_size") < k)
    )


def l_diversity_violations(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Quasi-identifier groups whose SENSITIVE attribute takes fewer
    than ``l`` distinct values (Machanavajjhala et al. 2007) — a
    k-anonymous group where everyone shares the same diagnosis still
    leaks it. One aggregate computing group size and distinct-sensitive
    count together (the distinct count shares the shuffle); NULL
    sensitive values count as a value (an attacker learns 'missing'
    too, and silently dropping them would overstate diversity).
    """
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l} (l=1 is vacuous)")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.countDistinct(
                F.coalesce(
                    F.col(sensitive_col).cast("string"), F.lit(" null")
                )
            ).cast("long").alias("n_sensitive_values"),
        )
        .where(F.col("n_sensitive_values") < l)
    )
