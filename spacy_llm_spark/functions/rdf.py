"""N-Triples serialization / parsing for the materialized KG.

The interchange step of KG construction: canonical triples leave the
engine as one RDF N-Triples line per row (``<s> <p> <o> .`` /
``<s> <p> "literal" .``) and come back in through the inverse parser —
both pure column expressions (chained JVM-side ``replace`` /
``regexp_extract``), so serialization is a projection inside
whole-stage codegen with no shuffle and no Python in the hot path, and
a 100 TB triple table serializes at scan speed.

Escaping follows the N-Triples grammar for the characters that can
occur in this engine's term values: string literals escape ``\\``
``"`` ``\\n`` ``\\r`` ``\\t`` (ECHAR), IRIs percent-encode ``%`` and
the IRIREF-forbidden ASCII set (space ``< > " { } | ^ ` \\``).
Characters outside those sets pass through unchanged in both
directions, which is what makes parse(serialize(x)) == x exact — the
round trip is pinned by an adversarial corpus test, not assumed.

Reference analogue: none — the reference materializes annotations onto
spaCy ``Doc`` objects and has no graph-interchange layer; cited for
parity accounting only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ECHAR escapes, applied left-to-right (backslash FIRST on escape,
# LAST on unescape — the usual ordering discipline).
_LITERAL_ESCAPES = [
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\n", "\\n"),
    ("\r", "\\r"),
    ("\t", "\\t"),
]

# IRIREF-forbidden ASCII characters, percent-encoded ('%' first).
_IRI_ESCAPES = [
    ("%", "%25"),
    (" ", "%20"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
    ("\\", "%5C"),
]


def _chain_replace(col: Column, table: list) -> Column:
    for old, new in table:
        col = F.replace(col, F.lit(old), F.lit(new))
    return col


def escape_literal(col) -> Column:
    """ECHAR-escape a string for use inside an N-Triples literal."""
    return _chain_replace(F.col(col) if isinstance(col, str) else col, _LITERAL_ESCAPES)


def unescape_literal(col) -> Column:
    """Inverse of :func:`escape_literal` (reverse order, backslash last)."""
    c = F.col(col) if isinstance(col, str) else col
    return _chain_replace(c, [(new, old) for old, new in reversed(_LITERAL_ESCAPES)])


def escape_iri(col) -> Column:
    """Percent-encode the IRIREF-forbidden ASCII set (and ``%`` itself)."""
    return _chain_replace(F.col(col) if isinstance(col, str) else col, _IRI_ESCAPES)


def unescape_iri(col) -> Column:
    """Inverse of :func:`escape_iri` (reverse order, ``%25`` last)."""
    c = F.col(col) if isinstance(col, str) else col
    return _chain_replace(c, [(new, old) for old, new in reversed(_IRI_ESCAPES)])


def to_ntriples(
    df: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    base: str = "http://example.org/kg/",
    obj_is_iri=True,
    out_col: str = "ntriple",
) -> DataFrame:
    """One N-Triples line per row: ``<base+s> <base+p> <base+o> .`` with
    ``obj_is_iri`` (a bool or a per-row boolean Column) choosing between
    an IRI object and an ECHAR-escaped ``"literal"`` object."""
    if isinstance(obj_is_iri, bool):
        obj_is_iri = F.lit(obj_is_iri)
    iri_obj = F.concat(F.lit("<" + base), escape_iri(obj), F.lit(">"))
    lit_obj = F.concat(F.lit('"'), escape_literal(obj), F.lit('"'))
    line = F.concat(
        F.lit("<" + base), escape_iri(subj), F.lit("> "),
        F.lit("<" + base), escape_iri(pred), F.lit("> "),
        F.when(obj_is_iri, iri_obj).otherwise(lit_obj),
        F.lit(" ."),
    )
    return df.select(line.alias(out_col))


# One regex, three term groups: subject IRI, predicate IRI, then either
# an object IRI (group 3) or a quoted literal (group 4). Literal bodies
# may contain anything except an UNESCAPED quote — i.e. any char that
# is not '"' or '\', or a backslash-escaped pair.
_NT_LINE_RE = r'^<([^<>]*)> <([^<>]*)> (?:<([^<>]*)>|"((?:[^"\\]|\\.)*)") \.$'


def parse_ntriples(
    df: DataFrame,
    col: str = "ntriple",
    base: str = "http://example.org/kg/",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Inverse of :func:`to_ntriples`: extract and unescape the three
    terms, strip ``base`` from IRIs that carry it, and flag the object
    kind in ``obj_is_iri``. Lines that do not match the grammar are
    dropped (the standard malformed-line discipline, F7)."""

    def strip_base(c: Column) -> Column:
        return F.when(
            c.startswith(base), F.substring(c, len(base) + 1, 2**31 - 1)
        ).otherwise(c)

    line = F.col(col)
    s = F.regexp_extract(line, _NT_LINE_RE, 1)
    p = F.regexp_extract(line, _NT_LINE_RE, 2)
    o_iri = F.regexp_extract(line, _NT_LINE_RE, 3)
    o_lit = F.regexp_extract(line, _NT_LINE_RE, 4)
    is_iri = line.rlike(r'^<[^<>]*> <[^<>]*> <[^<>]*> \.$')
    return (
        df.where(line.rlike(_NT_LINE_RE))
        .select(
            strip_base(unescape_iri(s)).alias(subj),
            strip_base(unescape_iri(p)).alias(pred),
            F.when(is_iri, strip_base(unescape_iri(o_iri)))
            .otherwise(unescape_literal(o_lit))
            .alias(obj),
            is_iri.alias("obj_is_iri"),
        )
    )


# Conservative PN_LOCAL safety: a term compresses to a prefixed name
# only when it starts with an alphanumeric/underscore, uses only
# [A-Za-z0-9_:.-], and does not END with '.' (the Turtle grammar's one
# trailing restriction). Anything else — spaces, '/', '%', unicode
# punctuation — falls back to a full <IRI> with the shared escape
# chain, so compression never produces an unparseable document.
_PN_SAFE_RE = r"^[A-Za-z0-9_](?:[A-Za-z0-9_:.\-]*[A-Za-z0-9_:\-])?$"


def turtle_header(prefix: str = "kg",
                  base: str = "http://example.org/kg/") -> str:
    """The ``@prefix`` directive for :func:`to_turtle` output — a
    driver-side constant (prepend it to the serialized document)."""
    return f"@prefix {prefix}: <{base}> ."


def _turtle_iri_term(col, prefix: str, base: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.rlike(_PN_SAFE_RE), F.concat(F.lit(prefix + ":"), c)
    ).otherwise(F.concat(F.lit("<" + base), escape_iri(c), F.lit(">")))


def to_turtle(
    df: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    base: str = "http://example.org/kg/",
    prefix: str = "kg",
    obj_is_iri=True,
    grouped: bool = True,
    out_col: str = "turtle",
) -> DataFrame:
    """Turtle serialization of the canonical triple set — the
    human-readable, prefix-compressed RDF interchange form
    (:func:`to_ntriples` is the line-oriented machine form). IRI terms
    compress to ``prefix:local`` when PN_LOCAL-safe (``_PN_SAFE_RE``,
    conservative) and fall back to a full escaped ``<IRI>`` otherwise;
    literal objects ECHAR-escape as in N-Triples. Prepend
    :func:`turtle_header`'s ``@prefix`` line to make a document.

    ``grouped=True`` (the Turtle idiom) emits ONE row per subject:
    predicates joined with ``;``, repeated-predicate objects with
    ``,``, both sorted lexicographically so the document is
    deterministic. Physically that is two hash aggregations keyed on
    the subject — set-collects are degree-bounded (a hub subject's
    block grows with its degree; the 100 TB layout keeps blocks
    readable because real KG out-degrees are power-law bounded far
    below memory, and a pathological hub can always be serialized flat).
    ``grouped=False`` emits one flat ``s p o .`` line per row — the
    same zero-shuffle pure-projection shape as N-Triples, parseable by
    :func:`parse_turtle`.

    Reference analogue: none — cited for parity accounting.
    """
    if isinstance(obj_is_iri, bool):
        obj_is_iri = F.lit(obj_is_iri)
    s_t = _turtle_iri_term(subj, prefix, base)
    p_t = _turtle_iri_term(pred, prefix, base)
    o_t = F.when(
        obj_is_iri, _turtle_iri_term(obj, prefix, base)
    ).otherwise(F.concat(F.lit('"'), escape_literal(obj), F.lit('"')))
    if not grouped:
        return df.select(
            F.concat(s_t, F.lit(" "), p_t, F.lit(" "), o_t, F.lit(" ."))
            .alias(out_col)
        )
    per_pred = (
        df.select(
            F.col(subj).alias("_s"), s_t.alias("_st"),
            p_t.alias("_pt"), o_t.alias("_ot"),
        )
        .groupBy("_s", "_st", "_pt")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("_ot")), ",\n        "
            ).alias("_objs")
        )
    )
    return (
        per_pred.groupBy("_s", "_st")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pt", "_objs"))
                    ),
                    lambda r: F.concat(
                        r["_pt"], F.lit(" "), r["_objs"]
                    ),
                ),
                " ;\n    ",
            ).alias("_preds")
        )
        .select(
            F.col("_s").alias(subj),
            F.concat("_st", F.lit(" "), F.col("_preds"), F.lit(" ."))
            .alias(out_col),
        )
    )


# Flat-Turtle line grammar: each term is a prefixed name, a full IRI,
# or (object position only) a quoted literal.
def _turtle_line_re(prefix: str) -> str:
    pn = rf"{prefix}:[A-Za-z0-9_](?:[A-Za-z0-9_:.\-]*[A-Za-z0-9_:\-])?"
    iri = r"<[^<>]*>"
    lit = r'"(?:[^"\\]|\\.)*"'
    return (
        rf"^({pn}|{iri}) ({pn}|{iri}) ({pn}|{iri}|{lit}) \.$"
    )


def parse_turtle(
    df: DataFrame,
    col: str = "turtle",
    base: str = "http://example.org/kg/",
    prefix: str = "kg",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Inverse of ``to_turtle(grouped=False)`` — the flat-line Turtle
    subset (grouped documents are serialize-only; re-flatten upstream).
    Prefixed names resolve against ``prefix``/``base`` and come back as
    local names; full IRIs carrying ``base`` are stripped like
    :func:`parse_ntriples`; ``@prefix`` header lines and malformed
    lines drop under the F7 discipline."""
    line_re = _turtle_line_re(prefix)
    pfx = prefix + ":"

    def term(c: Column) -> Column:
        return (
            F.when(c.startswith(pfx), F.substring(c, len(pfx) + 1, 2**31 - 1))
            .when(
                c.startswith("<"),
                unescape_iri(
                    F.when(
                        F.substring(c, 2, 2**31 - 1).startswith(base),
                        F.substring(c, len(base) + 2, 2**31 - 1),
                    ).otherwise(F.substring(c, 2, 2**31 - 1))
                ),
            )
            .otherwise(c)
        )

    def strip_close(c: Column) -> Column:
        return F.when(c.endswith(">"), F.substring(c, 1, F.length(c) - 1)
                      ).otherwise(c)

    line = F.col(col)
    s_raw = F.regexp_extract(line, line_re, 1)
    p_raw = F.regexp_extract(line, line_re, 2)
    o_raw = F.regexp_extract(line, line_re, 3)
    is_lit = o_raw.startswith('"')
    return (
        df.where(line.rlike(line_re))
        .select(
            strip_close(term(s_raw)).alias(subj),
            strip_close(term(p_raw)).alias(pred),
            F.when(
                is_lit,
                unescape_literal(
                    F.substring(o_raw, 2, F.length(o_raw) - 2)
                ),
            )
            .otherwise(strip_close(term(o_raw)))
            .alias(obj),
            (~is_lit).alias("obj_is_iri"),
        )
    )
