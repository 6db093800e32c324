"""Truth discovery: multi-source conflicting-fact fusion.

When the same data item ``(subj, pred)`` arrives with DIFFERENT object
values from different sources — three crawls disagree on a company's
CEO, two extractors disagree on a package's license — majority vote is
wrong as soon as source quality is uneven. The classic fix
(TruthFinder, Yin et al. KDD 2007 / the Sums family, Pasternack &
Roth 2010) iterates two coupled estimates to a mutual fixpoint:

- fact confidence: ``c_f = 1 - Π_{s claims f} (1 - t_s)`` — the
  probabilistic-OR of its supporting sources' trust (independent-error
  model: a fact is false only if EVERY supporter is wrong);
- source trust: ``t_s =`` mean confidence of the facts ``s`` claims.

Determinism discipline (the ``pagerank`` / ``hits`` house rule): every
trust and confidence is quantized to ``quantum`` dp after each
aggregate, so both engines feed bit-identical factors into the next
round and the only float divergence left is the one
aggregation-order ulp the quantization absorbs. The product is a real
``product`` aggregate in both engines — no log/exp round trip, whose
last-ulp implementation differences quantization could NOT absorb.

Scale shape, per round: one claims-scale equi-join carrying one double
each way, one fact-keyed and one source-keyed aggregate, both with
map-side partials; trust (source-scale) is lineage-cut per round. No
driver-side data beyond the round loop itself. The final argmax is the
engine-wide min-struct discipline — ``(max confidence, min obj)``.

Reference analogue: none (spacy-llm has no multi-source surface);
cited for parity accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fs

# Trust cap: keeps 1 - t strictly positive so a unanimous perfect
# source can never drive a fact's probabilistic-OR to exactly 1 and
# freeze every other estimate through it.
_TRUST_CAP = 0.999999


def fuse_facts(
    claims: DataFrame,
    source: str = "source",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    iters: int = 3,
    prior: float = 0.8,
    quantum: int = 10,
) -> DataFrame:
    """Fuse conflicting ``(source, subj, pred, obj)`` claims into one
    ``(subj, pred, obj, confidence, n_sources)`` row per data item
    ``(subj, pred)`` — the trust-weighted winner after ``iters``
    rounds of TruthFinder-style iteration (see module docstring).
    ``confidence`` is the winner's final fact confidence rounded 6 dp;
    ``n_sources`` counts its distinct supporting sources. Ties break
    toward the lexicographically smallest object."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not (0.0 < prior <= _TRUST_CAP):
        raise ValueError(f"prior must be in (0, {_TRUST_CAP}], got {prior}")
    c = fs.cut_lineage(
        claims.select(
            F.col(source).alias("src"), F.col(subj).alias("s"),
            F.col(pred).alias("p"), F.col(obj).alias("o"),
        ).distinct()
    )
    # dictionary-encode data items and sources to longs ONCE (guide
    # §2.3 "narrower types" — the betweenness discipline): every round
    # shuffles claims-scale rows keyed alternately by item and by
    # source, so hashing/moving two longs + one double instead of four
    # strings cuts each round's bytes severalfold. The codes are an
    # internal bijection (monotonically_increasing_id over cut distinct
    # frames); groups, products and averages are unchanged, and the
    # winners decode through the item map once at the end.
    imap = fs.cut_lineage(
        c.select("s", "p", "o").distinct()
        .withColumn("_iid", F.monotonically_increasing_id())
    )
    smap = fs.cut_lineage(
        c.select("src").distinct()
        .withColumn("_sid", F.monotonically_increasing_id())
    )
    c2 = fs.cut_lineage(
        c.join(smap, "src").join(imap, ["s", "p", "o"]).select("_sid", "_iid")
    )
    trust = smap.select("_sid", F.lit(float(prior)).alias("t"))

    def fact_conf(tr: DataFrame) -> DataFrame:
        return (
            c2.join(tr, "_sid")
            .groupBy("_iid")
            .agg(
                F.round(1.0 - F.product(1.0 - F.col("t")), quantum).alias("c")
            )
        )

    conf = None
    for i in range(iters):
        conf = fact_conf(trust)
        if i == iters - 1:
            break  # the final round's trust update would go unread
        trust = fs.cut_lineage(
            c2.join(conf, "_iid")
            .groupBy("_sid")
            .agg(
                F.least(
                    F.round(F.avg("c"), quantum), F.lit(_TRUST_CAP)
                ).alias("t")
            )
        )
    n_src = c2.groupBy("_iid").agg(F.countDistinct("_sid").alias("n"))
    scored = conf.join(n_src, "_iid").join(imap, "_iid")
    top = scored.groupBy("s", "p").agg(
        F.min(
            F.struct(
                (-F.col("c")).alias("negc"), F.col("o").alias("obj"),
                F.col("n").alias("n"),
            )
        ).alias("_t")
    )
    return top.select(
        F.col("s").alias(subj), F.col("p").alias(pred),
        F.col("_t.obj").alias(obj),
        F.round(-F.col("_t.negc"), 6).alias("confidence"),
        F.col("_t.n").alias("n_sources"),
    )
