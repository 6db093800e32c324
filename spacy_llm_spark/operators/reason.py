"""RDFS entailment materialization over the constructed KG.

KG construction does not end at triple extraction: downstream consumers
query the ENTAILED graph — "every dependsOn edge" must surface triples
asserted as ``executes`` when the ontology declares
``executes subPropertyOf dependsOn``, and "every ENTITY-typed node"
must include nodes only typed transitively through the class hierarchy.
Materializing the entailment once (instead of rewriting every query)
is the standard warehouse-side choice and the one that fits Spark:
the closure is computed with the same bounded-depth, schema-broadcast
joins as the rest of the engine and written back next to the raw
triples.

The implemented fragment is minimal RDFS (the ``rhoDF`` fragment of
Munoz, Perez & Gutierrez 2009 — the part of RDFS practical reasoners
agree on), i.e. the rules over
{subClassOf, subPropertyOf, domain, range, type}:

- rdfs5  (p subPropertyOf q), (q subPropertyOf r) -> (p subPropertyOf r)
- rdfs7  (s p o), (p subPropertyOf q)             -> (s q o)
- rdfs2  (s p o), (p domain C)                    -> (s type C)
- rdfs3  (s p o), (p range C)                     -> (o type C)
- rdfs11 (C subClassOf D), (D subClassOf E)       -> (C subClassOf E)
- rdfs9  (s type C), (C subClassOf D)             -> (s type D)

Evaluation is STRATIFIED, which is complete for this fragment when the
instance data does not itself assert schema triples (the usual KG
shape; schema triples arriving in the instance stream would need the
ontology re-derived first — pass them in ``ontology`` instead):

1. close subPropertyOf (rdfs5) — ``graph.transitive_closure`` on the
   schema edges, log-depth path doubling;
2. apply rdfs7 once against the closed property map — one broadcast
   join; no fixpoint needed because the map is already transitive;
3. apply rdfs2/rdfs3 to the rdfs7-closed property triples — two
   broadcast joins producing type triples;
4. close subClassOf (rdfs11) and apply rdfs9 once against the closed
   class map — one broadcast join, same no-fixpoint argument.

Scale shape: the two closures are SCHEMA-scale (classes and
properties, not entities), so they are counted on the driver — the
count is the closures' own fixpoint count, already paid — and
broadcast only while the known size clears the same byte gate
``canonicalize.canonical_vertices`` uses; above it the hint is dropped
and AQE decides from measured sizes. The instance side is touched by
exactly three joins and one union-distinct, all keyed on ``pred`` /
the type object — narrow columns, map-side combine, no self-joins of
the instance set.

Reference analogue: none — spacy_llm stops at extraction
(spacy_llm/tasks/rel/task.py builds ``doc._.rel`` and never expands
it); cited for parity accounting only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import fs
from .graph import transitive_closure

# Driver-side broadcast budget for the two schema closures — same
# 100 B/row estimate and byte gate as canonicalize._BROADCAST_VMAP gate.
_BROADCAST_SCHEMA_BYTES = 256 << 20
_EST_BYTES_PER_ROW = 100


def _closure_map(edges: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    """Transitive closure of a schema edge set as a (sub, super) map,
    with its driver-known row count (the closure loop already counts
    every round, so this count is a cached-frame count, not a rescan).
    """
    clo = transitive_closure(
        edges.select(F.col("subj").alias("sub"), F.col("obj").alias("super")),
        src="sub",
        dst="super",
        max_rounds=max_rounds,
    )
    return clo, clo.count()


def _hint_schema(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-hint a schema-scale frame whose size the driver knows;
    oversized ontologies (pathological closure blowups) fall back to
    AQE's measured-size decision exactly like canonical_edges."""
    if n_rows * _EST_BYTES_PER_ROW <= _BROADCAST_SCHEMA_BYTES:
        return df.hint("broadcast")
    return df


def rdfs_entailment(
    triples: DataFrame,
    ontology: DataFrame,
    type_pred: str = "type",
    subclass_pred: str = "subClassOf",
    subproperty_pred: str = "subPropertyOf",
    domain_pred: str = "domain",
    range_pred: str = "range",
    max_rounds: int = 30,
    assume_distinct: bool = False,
) -> DataFrame:
    """Materialize the rhoDF/RDFS entailment of ``triples`` (columns
    ``subj, pred, obj``) under ``ontology`` (same columns; ``pred``
    restricted to the four schema predicates — anything else raises,
    because a silently ignored schema triple is an incomplete closure).

    ``assume_distinct=True`` is a PHYSICAL hint from a caller that
    guarantees ``triples`` is already a distinct set (the fixpoint loop,
    whose rounds always hand a distinct output to the next pass): it
    skips the input re-distinct — one full instance-scale shuffle —
    and nothing else. The result set is identical either way.

    Returns the DISTINCT instance-level entailed set: every asserted
    triple plus every rdfs2/3/7/9-derived one, with class memberships
    encoded as ``(node, type_pred, class)`` rows. Schema triples are
    NOT echoed into the output (they live in ``ontology``; union them
    back if a self-contained RDF dump is wanted — ``functions.rdf``
    serializes either way).

    Entailment is a closure, hence idempotent: running this over its
    own output (plus new triples) equals the full recompute — which is
    what ``rdfs_entailment_append`` relies on.
    """
    ont = ontology.select("subj", "pred", "obj").distinct()
    known = {subclass_pred, subproperty_pred, domain_pred, range_pred}
    orows = ont.collect()  # schema-scale by contract
    bad = sorted({p for _, p, _ in orows if p not in known})
    if bad:
        raise ValueError(
            f"rdfs_entailment: ontology has non-schema predicates {bad}; "
            f"expected only {sorted(known)}"
        )
    # every super of the subPropertyOf CLOSURE appears as an obj of some
    # schema edge, so this driver-side set bounds the preds rdfs7 can
    # emit — used below to skip the final output distinct when the
    # property side and the type side are provably pred-disjoint
    sp_objs = {o for _, p, o in orows if p == subproperty_pred}

    base = triples.select("subj", "pred", "obj")
    if not assume_distinct:
        base = base.distinct()
    props = base.where(F.col("pred") != type_pred)
    types0 = base.where(F.col("pred") == type_pred).select(
        F.col("subj").alias("node"), F.col("obj").alias("cls")
    )

    # rdfs5 + rdfs7: property triples inherited up the closed hierarchy.
    spc, n_spc = _closure_map(
        ont.where(F.col("pred") == subproperty_pred), max_rounds
    )
    # column names are disjoint across the two sides of every schema
    # join below (sub/super/dpred/rpred vs subj/pred/obj/node/cls), so
    # the conditions use bare names — no frame-qualified refs through
    # the hint wrapper.
    derived = props.unionByName(
        props.join(
            _hint_schema(spc, n_spc), F.col("pred") == F.col("sub")
        ).select("subj", F.col("super").alias("pred"), "obj")
    ).distinct()

    # rdfs2 / rdfs3 over the rdfs7-closed property triples: a domain or
    # range declared on a SUPERproperty types subjects/objects of every
    # subproperty assertion because those already carry the super pred.
    dom = ont.where(F.col("pred") == domain_pred).select(
        F.col("subj").alias("dpred"), F.col("obj").alias("cls")
    )
    rng = ont.where(F.col("pred") == range_pred).select(
        F.col("subj").alias("rpred"), F.col("obj").alias("cls")
    )
    # domain/range maps are raw schema rows — bounded by the ontology
    # the caller already holds; hint with their (cheap, schema-scale)
    # driver counts for symmetry with the closures.
    types_dom = derived.join(
        _hint_schema(dom, dom.count()), F.col("pred") == F.col("dpred")
    ).select(F.col("subj").alias("node"), "cls")
    types_rng = derived.join(
        _hint_schema(rng, rng.count()), F.col("pred") == F.col("rpred")
    ).select(F.col("obj").alias("node"), "cls")
    types1 = types0.unionByName(types_dom).unionByName(types_rng).distinct()

    # rdfs11 + rdfs9: class memberships inherited up the closed class
    # hierarchy.
    scc, n_scc = _closure_map(
        ont.where(F.col("pred") == subclass_pred), max_rounds
    )
    inherited = types1.join(
        _hint_schema(scc, n_scc), F.col("cls") == F.col("sub")
    ).select("node", F.col("super").alias("cls"))
    types = types1.unionByName(inherited).distinct()

    out = derived.unionByName(
        types.select(
            F.col("node").alias("subj"),
            F.lit(type_pred).alias("pred"),
            F.col("cls").alias("obj"),
        )
    )
    if type_pred in sp_objs:
        # rdfs7 can emit pred == type_pred rows, which may collide with
        # the type side — the general (rare) case pays the full distinct
        return out.distinct()
    # pred-disjoint sides, each already distinct: the union IS distinct
    return out


def _rdfs_entailment_delta(
    base: DataFrame,
    ontology: DataFrame,
    delta_preds: list,
    type_pred: str = "type",
    subclass_pred: str = "subClassOf",
    subproperty_pred: str = "subPropertyOf",
    domain_pred: str = "domain",
    range_pred: str = "range",
    max_rounds: int = 30,
):
    """Delta-restricted RDFS pass for :func:`entailment_fixpoint`.

    Precondition (the CALLER's proof obligation): ``base`` is a
    DISTINCT triple set that is already rdfs-closed under ``ontology``
    EXCEPT possibly for rows whose pred is in ``delta_preds`` (which
    must not contain ``type_pred``). This holds for every fixpoint
    round after the first: the round's input is the previous OWL pass's
    output, the previous RDFS pass's output was closed, and the OWL
    pass only ever adds rows under its inverse/symmetric/transitive
    predicates while passing everything else through.

    Soundness of the restriction: every rhoDF instance rule (rdfs7,
    rdfs2, rdfs3, rdfs9) consumes exactly ONE instance triple plus
    schema, so derivations distribute over union — the derivations of
    the already-closed slice are in ``base`` by the precondition, and
    only the ``delta_preds`` slice (a pred-pushed filter, no shuffle)
    needs the rule joins. The schema closures are recomputed (schema-
    scale, trivially cheap).

    Returns None when the delta derives nothing new is POSSIBLE —
    precisely, when the rule joins over the delta slice produce zero
    rows, so ``rdfs(base) == base`` and the caller can skip both the
    union-distinct and the lineage cut; otherwise returns the full
    closure ``distinct(base ∪ new_rows)`` (equal, as a set, to
    ``rdfs_entailment(base)``).
    """
    if not delta_preds:
        return None  # nothing the OWL pass could have added: closed
    ont = ontology.select("subj", "pred", "obj").distinct()
    spc, n_spc = _closure_map(
        ont.where(F.col("pred") == subproperty_pred), max_rounds
    )
    scc, n_scc = _closure_map(
        ont.where(F.col("pred") == subclass_pred), max_rounds
    )
    dom = ont.where(F.col("pred") == domain_pred).select(
        F.col("subj").alias("dpred"), F.col("obj").alias("cls")
    )
    rng = ont.where(F.col("pred") == range_pred).select(
        F.col("subj").alias("rpred"), F.col("obj").alias("cls")
    )
    dslice = base.where(
        F.col("pred").isin(sorted(delta_preds))
        & (F.col("pred") != type_pred)
    )
    new7 = dslice.join(
        _hint_schema(spc, n_spc), F.col("pred") == F.col("sub")
    ).select("subj", F.col("super").alias("pred"), "obj")
    d2 = dslice.unionByName(new7)
    types_dom = d2.join(
        _hint_schema(dom, dom.count()), F.col("pred") == F.col("dpred")
    ).select(F.col("subj").alias("node"), "cls")
    types_rng = d2.join(
        _hint_schema(rng, rng.count()), F.col("pred") == F.col("rpred")
    ).select(F.col("obj").alias("node"), "cls")
    types1 = types_dom.unionByName(types_rng)
    inherited = types1.join(
        _hint_schema(scc, n_scc), F.col("cls") == F.col("sub")
    ).select("node", F.col("super").alias("cls"))
    new_stuff = new7.unionByName(
        types1.unionByName(inherited).select(
            F.col("node").alias("subj"),
            F.lit(type_pred).alias("pred"),
            F.col("cls").alias("obj"),
        )
    )
    if new_stuff.isEmpty():
        return None
    return base.unionByName(new_stuff).distinct()


def owl_entailment(
    triples: DataFrame,
    ontology: DataFrame,
    type_pred: str = "type",
    inverse_pred: str = "inverseOf",
    symmetric_class: str = "SymmetricProperty",
    transitive_class: str = "TransitiveProperty",
    max_rounds: int = 30,
    closed_slice_count: int | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """OWL-Horst-lite property entailment: the three property-algebra
    rules practical reasoners add on top of RDFS —

    - owl:inverseOf      (p inverseOf q), (s p o)  -> (o q s)
    - owl:Symmetric      (p type SymmetricProperty), (s p o) -> (o p s)
    - owl:Transitive     (p type TransitiveProperty), (s p o), (o p v)
                                                    -> (s v) under p

    ``ontology`` rows are ``(p, inverse_pred, q)`` pairs and
    ``(p, type_pred, SymmetricProperty|TransitiveProperty)``
    declarations; anything else raises (the rdfs_entailment guard
    discipline). For the JOINT RDFS+OWL closure use
    :func:`entailment_fixpoint` — the fragments do NOT commute when
    their vocabularies interact (subPropertyOf into a transitive pred
    needs RDFS first; inverseOf into a domain-typed pred needs OWL
    first), so one pass in either order can under-close.

    The schema is SATURATED driver-side before any instance work:
    Symmetric/Transitive declarations propagate across inverse pairs
    (the inverse of a transitive property is transitive, of a symmetric
    one symmetric — without this, a chain asserted under p with only
    inverse(p) declared transitive would under-close; test-pinned
    against the brute-force fixpoint). Inverse CHAINS (a pred in two
    different inverse pairs, or self-inverse) are refused: they make
    preds extensionally equivalent, which is an ontology-design smell
    this fragment does not canonicalize — declare the equivalence away,
    or self-inverse as SymmetricProperty.

    Instance evaluation is then stratified, complete for the saturated
    fragment: inverse pairs applied once (symmetrically read), then
    symmetric preds mirrored once, then each transitive pred's edge set
    closed by ONE shared path-doubling loop keyed on (pred, node) — all
    transitive preds close in the same log-depth rounds, not one loop
    per pred. Ordering argument: closure commutes with mirror/inverse
    (paths reverse term-by-term), and after saturation the mirrored set
    of every transitive pred already contains the inverse/symmetric
    image of its partner's edges, so closing last loses nothing. Type
    triples pass through untouched.

    Scale: the inverse/symmetric maps are schema-scale broadcasts; the
    per-pred closure shuffles only the TRANSITIVE-declared slice of the
    instance set (pred-pushed filter), with the same output-bound
    caveat as ``graph.transitive_closure``.

    ``closed_slice_count`` is the count-certified closure skip used by
    :func:`entailment_fixpoint`: a caller that KNOWS the transitive
    slice it last saw was already transitively CLOSED passes that
    slice's exact row count; this pass counts its own closure input
    (one aggregate over the slice) and, when the counts match, replaces
    the path-doubling loop with the identity — sound because all the
    sets here only grow, so ⊇ plus equal counts means set equality and
    the closure of a closed set is itself. Any mismatch (the mirror or
    an upstream pass added slice rows) runs the closure normally, so a
    WRONG hint can cost time, never correctness... as long as the hint
    really was a closed slice's count — that precondition is the
    caller's proof obligation, which entailment_fixpoint discharges by
    construction (its hint is the previous OWL pass's own closure
    output count).

    ``assume_distinct`` is the same physical hint as on
    :func:`rdfs_entailment` (skip the input re-distinct when the caller
    guarantees a distinct set); the output set is identical either way.
    Output assembly note: the three output slices — non-transitive
    property triples, the closed transitive slice, type triples — are
    pairwise pred-disjoint whenever ``type_pred`` is not itself
    declared transitive (driver-checkable), and each slice is
    internally distinct, so the final union skips its corpus-scale
    distinct in that (overwhelmingly common) case.
    """
    spark = triples.sparkSession
    rows = ontology.select("subj", "pred", "obj").distinct().collect()
    bad, inv_pairs, sym_set, trans_set = [], set(), set(), set()
    for s, p, o in rows:  # schema-scale driver pass
        if p == inverse_pred:
            inv_pairs.add((s, o))
        elif p == type_pred and o == symmetric_class:
            sym_set.add(s)
        elif p == type_pred and o == transitive_class:
            trans_set.add(s)
        else:
            bad.append(f"{s} {p} {o}")
    if bad:
        raise ValueError(
            f"owl_entailment: unsupported ontology rows {sorted(bad)[:5]}; "
            f"expected (p, {inverse_pred}, q) or (p, {type_pred}, "
            f"{symmetric_class}|{transitive_class})"
        )
    # refuse inverse chains / self-inverse (see docstring), then
    # saturate: declarations propagate across inverse pairs.
    partner: dict = {}
    for a, b in inv_pairs:
        if a == b:
            raise ValueError(
                f"owl_entailment: {a} declared inverseOf itself — declare "
                f"it {symmetric_class} instead"
            )
        for x, y in ((a, b), (b, a)):
            if partner.setdefault(x, y) != y:
                raise ValueError(
                    f"owl_entailment: {x} appears in multiple inverseOf "
                    "pairs — equivalent-property chains are not supported"
                )
    for x, y in list(partner.items()):
        if x in sym_set:
            sym_set.add(y)
        if x in trans_set:
            trans_set.add(y)

    base = triples.select("subj", "pred", "obj")
    if not assume_distinct:
        base = base.distinct()
    props = base.where(F.col("pred") != type_pred)
    types = base.where(F.col("pred") == type_pred)

    def _lit(pairs, cols):
        return spark.createDataFrame(sorted(pairs), cols)

    mirrored = props
    if partner:
        inv = _lit(partner.items(), ["ip", "iq"])
        inv_edges = props.join(
            _hint_schema(inv, len(partner)), F.col("pred") == F.col("ip")
        ).select(
            F.col("obj").alias("subj"),
            F.col("iq").alias("pred"),
            F.col("subj").alias("obj"),
        )
        mirrored = props.unionByName(inv_edges)
    if sym_set:
        sym = _lit(((s,) for s in sym_set), ["sp"])
        sym_edges = mirrored.join(
            _hint_schema(sym, len(sym_set)), F.col("pred") == F.col("sp")
        ).select(
            F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
        )
        mirrored = mirrored.unionByName(sym_edges)
    if partner or sym_set:
        # only the mirror/inverse unions can introduce duplicates;
        # props alone is already a distinct set
        mirrored = mirrored.distinct()
    # props preds are != type_pred by the props filter, so the property
    # and type sides are pred-disjoint and each is distinct — the final
    # unions below skip their corpus-scale distinct unless type_pred is
    # itself transitive-declared (then closed overlaps types).
    disjoint_out = type_pred not in trans_set

    # one shared closure over every transitive-declared pred: the pair
    # set is keyed (pred, subj, obj) and the doubling join adds pred to
    # the midpoint key, so unrelated preds never cross.
    if not trans_set:
        out = mirrored.unionByName(types)
        return out if disjoint_out else out.distinct()
    trans = _lit(((t,) for t in trans_set), ["tp"])
    # struct keys (identical field names, so the doubling join's struct
    # equality type-checks) rather than delimited strings — node ids
    # may contain any delimiter ("surface:" forms carry raw text).
    t_edges = mirrored.join(
        _hint_schema(trans, len(trans_set)), F.col("pred") == F.col("tp")
    ).select(
        F.struct(
            F.col("pred").alias("p"), F.col("subj").alias("n")
        ).alias("psubj"),
        F.struct(
            F.col("pred").alias("p"), F.col("obj").alias("n")
        ).alias("pobj"),
    )
    if (
        closed_slice_count is not None
        and t_edges.count() == closed_slice_count
    ):
        # count-certified: the slice IS the previous closure output, so
        # closing again is the identity — skip the doubling loop
        closed = t_edges
    else:
        closed = transitive_closure(
            t_edges, src="psubj", dst="pobj", max_rounds=max_rounds
        )
    closed = closed.select(
        F.col("psubj.n").alias("subj"),
        F.col("psubj.p").alias("pred"),
        F.col("pobj.n").alias("obj"),
    )

    if disjoint_out:
        # the transitive slice of ``mirrored`` is a subset of its own
        # closure, so emit it only once — via ``closed``; the three
        # slices are then pairwise disjoint and individually distinct
        non_trans = mirrored.where(~F.col("pred").isin(sorted(trans_set)))
        return non_trans.unionByName(closed).unionByName(types)
    return mirrored.unionByName(closed).unionByName(types).distinct()


def entailment_fixpoint(
    triples: DataFrame,
    rdfs_ontology: DataFrame,
    owl_ontology: DataFrame,
    max_alternations: int = 10,
    type_pred: str = "type",
) -> DataFrame:
    """The JOINT RDFS + OWL-Horst-lite closure: alternate
    :func:`rdfs_entailment` and :func:`owl_entailment` until the triple
    count stops growing. One pass in a fixed order under-closes when
    the vocabularies interact — ``subPropertyOf(p, q)`` with
    ``transitive(q)`` needs the RDFS pass to surface q-edges BEFORE the
    OWL closure; ``inverseOf(p, p')`` with ``domain(p')`` needs the OWL
    pass to surface p'-edges BEFORE domain typing — so neither order is
    sufficient alone and real OWL-Horst reasoners run a joint fixpoint.

    Both passes only ADD triples and are individually idempotent, so an
    alternation that leaves the count unchanged has reached the joint
    fixpoint (count equality implies set equality on a growing set) —
    the same observed-fixpoint discipline as ``transitive_closure``,
    with the count read from the pass's own distinct. Real ontologies
    converge in 1-2 alternations (each pass closes its whole fragment,
    so a round trips only on cross-vocabulary feedback); lineage is cut
    between rounds and non-convergence raises rather than returning a
    partial closure.

    The dominant cost of the LAST (confirming) alternation — re-closing
    a transitive slice that is already closed, where path doubling's
    midpoint join runs at full closed density just to add nothing — is
    eliminated by a count-certified skip: each round records its OWL
    pass's closure-output slice count and hands it to the next round as
    ``closed_slice_count``; when the next round's closure INPUT matches
    that count, the sets are equal (everything grows monotonically), so
    the input is already closed and the doubling loop is the identity.
    Any growth (the RDFS pass folding new edges into a transitive pred,
    a mirror image appearing) breaks the count match and the closure
    runs normally — the skip can never change the result, only the
    plan. Slice counts use the SATURATED transitive-pred set (the
    inverse of a transitive pred is transitive), mirroring
    owl_entailment's own schema saturation, and ride ``df.observe`` on
    the round's own lineage-cut job — zero extra scans.

    Each alternation runs RDFS FIRST, then OWL. Order does not change
    the fixpoint (both passes are monotone and inflationary, so count
    equality at the end of a round means the set is closed under each
    pass individually, whichever ran last), but it changes which round
    pays the expensive closure: subPropertyOf folding into a
    transitive pred now lands BEFORE the first OWL closure, so the
    common shape — fold then close — pays ONE full-density closure
    (round 1) and count-skips the confirmation (round 2), where
    OWL-first closed a stale slice in round 1, re-closed from scratch
    in round 2, and needed round 3 to confirm.
    """
    # saturated transitive-pred set (schema-scale driver pass — the
    # same saturation owl_entailment applies); the full mutable-pred
    # set (inverse pair members + symmetric + saturated transitive)
    # bounds which preds an OWL pass can ever ADD rows under, which is
    # what certifies the delta-restricted RDFS pass below
    orows = owl_ontology.select("subj", "pred", "obj").distinct().collect()
    inv_pairs, trans, sym = set(), set(), set()
    for s, p, o in orows:
        if p == "inverseOf":
            inv_pairs.add((s, o))
        elif p == type_pred and o == "TransitiveProperty":
            trans.add(s)
        elif p == type_pred and o == "SymmetricProperty":
            sym.add(s)
    for a, b in inv_pairs:
        if a in trans:
            trans.add(b)
        if b in trans:
            trans.add(a)
    trans_preds = sorted(trans)
    mutable = trans | sym | {p for pair in inv_pairs for p in pair}
    # a pathological ontology mutating type_pred itself would break the
    # delta precondition — fall back to the full pass in that case
    use_delta = type_pred not in mutable
    cur = fs.cut_lineage(triples.select("subj", "pred", "obj").distinct())
    n = cur.count()
    hint = None
    for i in range(max_alternations):
        # RDFS first (see docstring); cut so owl_entailment's several
        # references to its input don't re-run the RDFS joins.
        # assume_distinct: cur is distinct by the loop invariant (the
        # initial distinct + every pass emitting a distinct set), so
        # neither pass re-pays the input distinct.
        # From the second round on, cur is the previous OWL output over
        # an rdfs-closed set — closed except the OWL-mutable preds — so
        # the delta pass re-derives only that slice, and the common
        # no-new-derivation case skips the corpus-scale distinct AND
        # the lineage cut entirely (rdfs_out IS cur, already cut).
        if i > 0 and use_delta:
            delta_out = _rdfs_entailment_delta(
                cur, rdfs_ontology, sorted(mutable), type_pred=type_pred
            )
            rdfs_out = cur if delta_out is None else fs.cut_lineage(delta_out)
        else:
            rdfs_out = fs.cut_lineage(
                rdfs_entailment(
                    cur, rdfs_ontology, type_pred=type_pred,
                    assume_distinct=True,
                )
            )
        owl_df = owl_entailment(
            rdfs_out, owl_ontology, type_pred=type_pred,
            closed_slice_count=hint, assume_distinct=True,
        )
        # round count + next round's slice certificate in the SAME
        # materialization job as the lineage cut
        obs = Observation(f"entailment_fixpoint_{i}")
        owl_df = owl_df.observe(
            obs,
            F.count(F.lit(1)).alias("m"),
            F.sum(
                F.col("pred").isin(trans_preds).cast("long")
            ).alias("slice_rows"),
        )
        nxt = fs.cut_lineage(owl_df)
        got = obs.get
        m = got["m"]
        # the OWL output's transitive slice IS its closure output (the
        # mirrored inputs are a subset of the closed pairs) — its count
        # certifies next round's skip
        hint = got["slice_rows"] if trans else None
        if m == n:
            return nxt
        cur, n = nxt, m
    raise RuntimeError(
        f"entailment_fixpoint: not converged within "
        f"max_alternations={max_alternations}"
    )


def entailment_fixpoint_append(
    entailed: DataFrame,
    new_triples: DataFrame,
    rdfs_ontology: DataFrame,
    owl_ontology: DataFrame,
    **kwargs,
) -> DataFrame:
    """Incremental maintenance of the JOINT RDFS+OWL closure under
    FIXED ontologies — the fixpoint twin of
    :func:`rdfs_entailment_append`, same correctness argument lifted
    one level: each pass is monotone and idempotent, so the joint
    closure is a closure operator and ``E(E(T) u D) = E(T u D)``
    (test-pinned bit-equal to the full recompute). Efficiency shape is
    also inherited: the stored set is already jointly closed, so the
    first alternation re-derives only what the delta adds and the
    second observes the fixpoint — history re-shuffles through the
    distincts but is never re-extracted, and the transitive-pred
    doubling loops restart from already-closed edge sets (one round to
    converge). An ontology change invalidates the store exactly as in
    the RDFS-only form.
    """
    return entailment_fixpoint(
        entailed.select("subj", "pred", "obj").unionByName(
            new_triples.select("subj", "pred", "obj")
        ),
        rdfs_ontology,
        owl_ontology,
        **kwargs,
    )


def rdfs_entailment_append(
    entailed: DataFrame,
    new_triples: DataFrame,
    ontology: DataFrame,
    **kwargs,
) -> DataFrame:
    """Incremental entailment maintenance under a FIXED ontology: fold a
    batch of new instance triples into a previously materialized
    entailment — the daily-ingest shape, in the same persisted-result /
    merge family as ``graph.transitive_closure_append``.

    Correctness is closure idempotence: ``E(E(T) u D) = E(T u D)`` for
    a fixed ontology, so re-running the stratified pass over the stored
    entailed set plus the delta is bit-equal to the full recompute
    (test-pinned). Efficiency: the stored set is already closed, so the
    schema joins re-derive only what the delta adds — history is
    re-shuffled through the distincts but never re-extracted, and the
    schema closures re-converge in one doubling round. An ontology
    CHANGE invalidates the stored set (a retracted subclass edge cannot
    be un-derived); recompute from raw triples for that, as every
    materialized-entailment store does.
    """
    return rdfs_entailment(
        entailed.select("subj", "pred", "obj").unionByName(
            new_triples.select("subj", "pred", "obj")
        ),
        ontology,
        **kwargs,
    )


def sameas_canonicalize(
    triples: DataFrame,
    ontology: DataFrame,
    type_pred: str = "type",
    sameas_pred: str = "sameAs",
    functional_class: str = "FunctionalProperty",
    inverse_functional_class: str = "InverseFunctionalProperty",
    max_rounds: int = 10,
    cc_max_iter: int = 25,
    broadcast_threshold: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """owl:sameAs reasoning by CANONICALIZATION — the scalable
    replacement-rule semantics (WebPIE, Urbani et al. 2010): instead of
    materializing every sameAs-replacement triple (quadratic in class
    size), merge each sameAs-equivalence class onto one representative
    and rewrite the instance triples once. This is reasoning-driven
    entity resolution, the step that fuses duplicate KG nodes the
    extractor produced under different ids.

    Rules implemented (the OWL-Horst sameAs fragment):

    - asserted        (x sameAs y)                      -> merge x, y
    - owl:Functional  (p type FunctionalProperty),
                      (x p y), (x p z)                  -> merge y, z
    - owl:InverseFunctional (p type InverseFunctionalProperty),
                      (y p x), (z p x)                  -> merge y, z
    - sameAs symmetry/transitivity: classes are CONNECTED COMPONENTS of
      the pair graph (``canonicalize.connected_components`` — label =
      lexicographic min, so representatives are deterministic);
    - replacement: every instance triple's endpoints rewrite onto their
      representatives (``canonicalize.canonical_edges`` — the same
      size-gated broadcast remap the canonical triple table uses).

    Evaluation is the honest FIXPOINT: merging subjects can create new
    functional collisions (x p a), (y p b) under merged {x,y} derive
    (a sameAs b), so each round re-derives collisions over the
    REWRITTEN triples and stops when none are new. Collision pairs are
    emitted star-shaped — every member pairs with its group's min via
    ONE window aggregate inside the grouping shuffle, never the
    quadratic all-pairs within a group — which is exactly the edge
    shape connected_components contracts fastest. Each round strictly
    merges at least two classes, so the round count is bounded by the
    initial class count; ``max_rounds`` raises rather than returning a
    partial merge (data with no FP/IFP feedback converges in 1 round +
    1 empty-check).

    Returns ``(canonical_triples, mapping)``: the rewritten distinct
    instance triples (sameAs triples consumed, not re-emitted) and the
    (node, rep) map restricted to merged nodes (rep != node) — entity-
    scale, the join side the size gate guards.

    Scale shape per round: CC over pair edges (pair-scale, log-depth
    star rounds above the driver threshold), two groupBy+window passes
    over only the FP/IFP-declared pred slices (pred-pushed isin
    filters), and ONE corpus-scale rewrite pass whose map side is
    broadcast only under the ``canonical_edges`` byte gate. The raw
    triple set is never self-joined.

    Reference analogue: none — spacy_llm's EL (tasks/entity_linker)
    links mentions to KB ids but never fuses KB nodes; cited for parity
    accounting.
    """
    from .canonicalize import (
        _BROADCAST_VMAP_DEFAULT,
        canonical_edges,
        connected_components,
    )
    from pyspark.sql import Window

    if broadcast_threshold is None:
        broadcast_threshold = _BROADCAST_VMAP_DEFAULT
    rows = ontology.select("subj", "pred", "obj").distinct().collect()
    fp, ifp, bad = set(), set(), []
    for s, p, o in rows:  # schema-scale driver pass
        if p == type_pred and o == functional_class:
            fp.add(s)
        elif p == type_pred and o == inverse_functional_class:
            ifp.add(s)
        else:
            bad.append(f"{s} {p} {o}")
    if bad:
        raise ValueError(
            f"sameas_canonicalize: unsupported ontology rows "
            f"{sorted(bad)[:5]}; expected (p, {type_pred}, "
            f"{functional_class}|{inverse_functional_class})"
        )

    base = triples.select("subj", "pred", "obj").distinct()
    inst = base.where(F.col("pred") != sameas_pred)
    pairs = (
        base.where(F.col("pred") == sameas_pred)
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )

    def _star_pairs(df: DataFrame, preds: set, part_col: str,
                    emit_col: str) -> DataFrame:
        """(group-min, member) collision pairs for the declared preds —
        one window aggregate inside the grouping shuffle."""
        w = Window.partitionBy("pred", part_col)
        return (
            df.where(F.col("pred").isin(sorted(preds)))
            .select(
                F.min(emit_col).over(w).alias("src"),
                F.col(emit_col).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
        )

    def _derive(df: DataFrame) -> DataFrame:
        parts = []
        if fp:
            parts.append(_star_pairs(df, fp, "subj", "obj"))
        if ifp:
            parts.append(_star_pairs(df, ifp, "obj", "subj"))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    spark = triples.sparkSession
    empty_map = spark.createDataFrame([], "node string, component string")
    derived = _derive(inst)
    if derived is not None:
        pairs = pairs.unionByName(derived).distinct()
    if pairs.isEmpty():
        return inst.distinct(), empty_map
    for _ in range(max_rounds):
        comp = connected_components(
            pairs.select("src", "dst"), max_iter=cc_max_iter
        )
        mapping = comp.where(F.col("node") != F.col("component"))
        rewritten = canonical_edges(
            inst, mapping, broadcast_threshold=broadcast_threshold
        )
        # post-rewrite collisions with src != dst connect two CURRENT
        # classes (merged groups collapse onto one rep and filter out),
        # so emptiness here IS the fixpoint test
        new = _derive(rewritten)
        if new is None or new.isEmpty():
            return rewritten.distinct(), mapping
        pairs = fs.cut_lineage(pairs.unionByName(new).distinct())
    raise RuntimeError(
        f"sameas_canonicalize: not converged within max_rounds={max_rounds}"
    )
