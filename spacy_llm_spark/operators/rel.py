"""REL relation-extraction stage.

Narrow ``mapInPandas`` over rows that already carry an ``ents`` column:

    preannotate (M3, char splice) -> render REL prompt -> batched model
    -> JSON-line parse + bounds filter (P5/F3) -> rels array column

Pre-annotation semantics from spacy_llm/tasks/rel/task.py:74-136: insert
``[ENT{i}:{label}]`` immediately after each entity. The reference rebuilds
spaCy token/space arrays; we splice by character offsets, which produces
the same annotated text (pinned by tests/tasks/test_rel.py:273-291 —
"Well[ENT0:A] hello[ENT1:B] there[ENT2:C]").

Sharding (reference shards every task, tasks/rel/task.py +
util/sharding.py): each NER shard is prompted with ITS OWN entities
(indices local to the shard) and sub-sharded on span-safe token
boundaries when the REL prompt overflows ``context_length``; parsed
relations are bounds-checked against the unit's entity count (F3) and
shifted back into doc coordinates. (Deliberate divergence: the
reference's REL reducer concatenates relation items without
re-indexing, rel/util.py:79-102; we shift them so every index addresses
the doc-level ents array.) Cross-shard relations are invisible to both
engines — neither prompt contains both entities.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.normalizers import split_labels
from ..functions.response_parsers import parse_rel_response
from ..model import resolve_model
from ..templates import render_rel_prompt
from .ner import IO_TYPE, SHARDS_COL, doc_inputs
from .sharding import estimate_n_tokens, task_units

REL_TYPE = ArrayType(
    StructType(
        [
            StructField("dep", IntegerType()),
            StructField("dest", IntegerType()),
            StructField("relation", StringType()),
        ]
    )
)


def preannotate(text: str, ents: List[Tuple[int, int, str]]) -> str:
    """Insert [ENT{i}:{label}] directly after each entity span (M3).

    Overlapping spans (SpanCat feeding REL in the fused stage) are
    tolerated: the cursor never moves backwards, so a nested span that
    ends before the previous marker gets its marker AT the cursor instead
    of duplicating the already-emitted text slice (same clamping
    discipline as highlight_ents, el.py). Non-overlapping input —
    the reference's only case — is byte-identical to the reference splice
    (pinned by the golden test)."""
    out = []
    cursor = 0
    for i, (start, end, label) in enumerate(ents):
        pos = max(end, cursor)
        out.append(text[cursor:pos])
        out.append(f"[ENT{i}:{label}]")
        cursor = pos
    out.append(text[cursor:])
    return "".join(out)


def rel_unit_prompt(text: str, spans, labels, examples: Optional[list] = None) -> str:
    """The REL prompt of one unit: ``text`` pre-annotated with ``spans``."""
    return render_rel_prompt(preannotate(text, spans), labels, examples=examples)


def rel_unit_count(labels, examples: Optional[list] = None):
    """``count(text, spans)``: the whitespace-token count of
    ``rel_unit_prompt(text, spans, labels, examples)`` without rendering
    it, for ``sharding.regular_spans``. The prompt is the template's fixed
    tokens plus the text's tokens: each ``[ENTi:LABEL]`` marker glues to
    the non-whitespace character it follows, so markers add no token."""
    overhead = estimate_n_tokens(rel_unit_prompt("", [], labels, examples))

    def count(text: str, _spans) -> int:
        return overhead + estimate_n_tokens(text)

    return count


def rel_batch(
    model,
    texts: List[str],
    ents: List[List[Tuple[int, int, str]]],
    bounds: list,
    *,
    labels,
    context_length: Optional[int] = None,
    examples: Optional[list] = None,
) -> Tuple[List[List[dict]], List[dict]]:
    """REL over one batch of docs (``task_units`` per NER shard). Returns,
    per doc, the ``rels`` value and the save_io prompt/response pair."""
    label_list = split_labels(labels)

    def render(text, spans):
        return rel_unit_prompt(text, spans, label_list, examples)

    def parse(_text, spans, response, offset):
        return [
            {"dep": dep + offset, "dest": dest + offset, "relation": relation}
            for dep, dest, relation in parse_rel_response(response, len(spans))
        ]

    count = rel_unit_count(label_list, examples)
    return task_units(model, texts, ents, bounds, context_length, render, count, parse)


def extract_relations(
    df: DataFrame,
    *,
    model_spec: dict,
    labels,
    examples: Optional[list] = None,
    context_length: Optional[int] = None,
    save_io: bool = False,
) -> DataFrame:
    """Append a ``rels`` column of (dep, dest, relation) items whose indices
    reference the ``ents`` array (``rel_batch`` in one narrow mapInPandas).
    """
    has_shards = SHARDS_COL in df.columns
    out_fields = df.schema.fields + [StructField("rels", REL_TYPE)]
    if save_io:
        out_fields.append(StructField("rel_io", IO_TYPE))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_spec)
        for pdf in batches:
            rels, io = rel_batch(
                model,
                *doc_inputs(pdf, has_shards),
                labels=labels,
                context_length=context_length,
                examples=examples,
            )
            out = pdf.copy()
            out["rels"] = rels
            if save_io:
                out["rel_io"] = io
            yield out

    return df.mapInPandas(kernel, schema=StructType(out_fields))
