"""EntityLinker stage.

Narrow ``mapInPandas`` over rows carrying ``ents``:

    candidate lookup against broadcast KB (J3) -> top-n by prior (A4/O1)
    -> auto-NIL pruning (F5) -> highlight mentions (M4) -> render EL prompt
    -> batched model -> '::: <QID>' parse (P6) -> positional re-attach with
    consistency guard (J7/F9) -> kb_ids array column

The KB rides into the kernel as a JSON broadcast (the reference broadcasts
InMemoryLookupKB into its process; here sc.broadcast ships it once per
executor — never a shuffle of the corpus against the KB, R13).

Highlight semantics from tasks/entity_linker/task.py:252-324: wrap each
included mention in ``*...*``; pinned by test_entity_linker.py:671-720
("Alice goes to *Boston* to see the *Boston Celtics* game.").

Sharding follows the REL stage: one prompt unit per NER shard,
sub-sharded when the EL prompt overflows ``context_length``; per-unit
kb_id lists concatenate in entity order.

Auto-NIL semantics (task.py:113-135): a mention whose candidate set is
empty/{NIL} is excluded from the prompt and force-assigned NIL. If the
parsed solution count doesn't match the prompt mention count, that
prompt's links are all NIL (task.py:211-236).
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.response_parsers import attach_el_solutions, parse_el_solutions
from ..kb import NIL, UNAVAILABLE_ENTITY_DESC, KnowledgeBase
from ..model import resolve_model
from ..templates import render_el_prompt
from .ner import IO_TYPE, SHARDS_COL, doc_inputs
from .sharding import estimate_n_tokens, task_units

LINKS_TYPE = ArrayType(StringType())


def highlight_ents(text: str, spans: List[Tuple[int, int]], include: List[bool]) -> str:
    """Wrap included spans in *...* (M4). Spans must be sorted by start;
    overlaps (SpanCat semantics, allow_overlap=True) are tolerated: a span
    fully inside an already-highlighted region is skipped, a partial
    overlap is clamped to the unhighlighted remainder — never a negative
    slice or duplicated text segment.
    """
    out = []
    cursor = 0
    for (start, end), inc in zip(spans, include):
        if not inc:
            continue
        if end <= cursor:  # contained in an already-highlighted region
            continue
        start = max(start, cursor)
        out.append(text[cursor:start])
        out.append(f"*{text[start:end]}*")
        cursor = end
    out.append(text[cursor:])
    return "".join(out)


def unhighlight(text: str) -> str:
    """Inverse of highlight for round-trip checks (task.py:326-383)."""
    return text.replace("*", "")


def build_el_prompt(
    text: str,
    span_tuples: List[Tuple[int, int, str]],
    kb: KnowledgeBase,
    top_n: int,
    auto_nil: bool,
    examples: list,
) -> Tuple[str, List[bool]]:
    """Candidate lookup (J3) -> in-prompt flags (F5) -> highlight (M4) ->
    rendered EL prompt. Returns (prompt, in_prompt). THE single
    implementation of the EL prompt-side semantics (``el_batch`` and the
    benchmark's kernel probes call it)."""
    spans = [(s, e) for s, e, _ in span_tuples]
    surfaces = [text[s:e] for s, e, _ in span_tuples]
    cands = [kb.get_candidates(s, top_n) for s in surfaces]
    in_prompt = [bool(c) or not auto_nil for c in cands]
    mentions = [s for s, ip in zip(surfaces, in_prompt) if ip]
    cand_blocks = [
        [(qid, desc) for qid, _, desc in c]
        if c
        else [(NIL, UNAVAILABLE_ENTITY_DESC)]
        for c, ip in zip(cands, in_prompt)
        if ip
    ]
    highlighted = highlight_ents(text, spans, in_prompt)
    return render_el_prompt(highlighted, mentions, cand_blocks, examples), in_prompt


def el_unit_count(kb: KnowledgeBase, top_n: int, auto_nil: bool, examples: list):
    """``count(text, spans)``: the whitespace-token count of
    ``build_el_prompt(text, spans, kb, top_n, auto_nil, examples)``
    without rendering it, for ``sharding.regular_spans``. The prompt is
    the template's fixed tokens, plus the text's tokens (``*`` highlights
    glue to the span's edge characters), plus for every in-prompt mention
    ``m``: ``*m*`` in the mention list, its ``- For *m*:`` line (2 more
    tokens) and its candidate lines. Mention costs are cached per surface,
    so each surface's candidates are looked up once per count model."""
    overhead = estimate_n_tokens(build_el_prompt("", [], kb, top_n, auto_nil, examples)[0])
    cost: dict = {}

    def mention_tokens(surface: str) -> int:
        cands = kb.get_candidates(surface, top_n)
        if not cands and auto_nil:
            return 0
        lines = [f"{qid}. {desc}" for qid, _, desc in cands] or [
            f"{NIL}. {UNAVAILABLE_ENTITY_DESC}"
        ]
        return 2 * estimate_n_tokens(surface) + 2 + sum(map(estimate_n_tokens, lines))

    def count(text: str, spans) -> int:
        n = overhead + estimate_n_tokens(text)
        for start, end, _ in spans:
            surface = text[start:end]
            if surface not in cost:
                cost[surface] = mention_tokens(surface)
            n += cost[surface]
        return n

    return count


def el_batch(
    model,
    kb: KnowledgeBase,
    texts: List[str],
    ents: List[List[Tuple[int, int, str]]],
    bounds: list,
    *,
    top_n: int = 5,
    auto_nil: bool = True,
    context_length: Optional[int] = None,
    examples: Optional[list] = None,
) -> Tuple[List[List[str]], List[dict]]:
    """EL over one batch of docs (``task_units`` per NER shard, candidates
    recomputed per unit, H4). Returns, per doc, one KB id (or NIL) per ent
    and the save_io prompt/response pair."""
    # render stashes in_prompt per (text, spans) so the prompt task_units
    # keeps is never re-rendered (and the KB candidate lookups never re-run)
    # for accepted units. Scoped to this batch: keys hold shard text.
    flags: dict = {}

    def render(text, spans):
        prompt, flags[(text, tuple(spans))] = build_el_prompt(
            text, spans, kb, top_n, auto_nil, examples or []
        )
        return prompt

    def parse(text, spans, response, _offset):
        # positional re-attach (J7); F9: inconsistent -> all NIL
        in_prompt = flags[(text, tuple(spans))]
        attached = attach_el_solutions(in_prompt, parse_el_solutions(response))
        return attached if attached is not None else [NIL] * len(in_prompt)

    count = el_unit_count(kb, top_n, auto_nil, examples or [])
    return task_units(model, texts, ents, bounds, context_length, render, count, parse)


def link_entities(
    df: DataFrame,
    *,
    kb: KnowledgeBase,
    model_spec: dict,
    top_n: int = 5,
    auto_nil: bool = True,
    examples: list | None = None,
    context_length: Optional[int] = None,
    save_io: bool = False,
) -> DataFrame:
    """Append ``kb_ids``: one KB id (or NIL) per entry of ``ents``
    (``el_batch`` in one narrow mapInPandas, KB broadcast as JSON)."""
    has_shards = SHARDS_COL in df.columns
    kb_bc = df.sparkSession.sparkContext.broadcast(kb.to_json())
    out_fields = df.schema.fields + [StructField("kb_ids", LINKS_TYPE)]
    if save_io:
        out_fields.append(StructField("el_io", IO_TYPE))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_spec)
        local_kb = KnowledgeBase.from_json(kb_bc.value)
        for pdf in batches:
            kb_ids, io = el_batch(
                model,
                local_kb,
                *doc_inputs(pdf, has_shards),
                top_n=top_n,
                auto_nil=auto_nil,
                context_length=context_length,
                examples=examples,
            )
            out = pdf.copy()
            out["kb_ids"] = kb_ids
            if save_io:
                out["el_io"] = io
            yield out

    return df.mapInPandas(kernel, schema=StructType(out_fields))


# ---------------------------------------------------------------------------
# Declarative candidate generation (the broadcast-join + window-top-n path)
# ---------------------------------------------------------------------------


def candidates_df(
    mentions: DataFrame,
    aliases: DataFrame,
    *,
    key_cols: tuple = ("doc_id", "ent_idx"),
    surface_col: str = "surface",
    top_n: int = 5,
) -> DataFrame:
    """J3 + A4 as pure DataFrame ops: broadcast-join mentions to the alias
    table on exact surface form, rank by (prior desc, qid asc), keep top-n.

    Use this when the KB is too large to broadcast as a dict; Catalyst
    turns it into a broadcast hash join (no shuffle of the mention side).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*key_cols).orderBy(F.desc("prior"), F.asc("qid"))
    joined = mentions.join(
        F.broadcast(aliases), mentions[surface_col] == aliases["alias"], "left"
    )
    return (
        joined.withColumn("cand_rank", F.row_number().over(w))
        .where((F.col("cand_rank") <= top_n) | F.col("qid").isNull())
        .drop("alias")
    )
