"""Context-length sharding (H1/H2/H3) — the reference's "spill" mechanism.

Re-derives the greedy binary-search splitter of
spacy_llm/tasks/util/sharding.py:22-103: render the full prompt; if the
whitespace-token estimate (H1, sharding.py:9-19) times ``buffer_frac``
exceeds the context length, split the doc and retry — the first shard
starts at 50% of the doc, every subsequent shard starts at 100% of the
remainder, halving on each failure. A 1-token shard that still doesn't fit
raises (same edge-case contract as the reference).

Differences by design: the reference slices spaCy token arrays; we slice on
whitespace-token boundaries and keep each shard's character offset in the
original text, so downstream span offsets are shifted, never re-tokenized.

This is a pure-Python kernel used *inside* the stage mapInPandas functions:
a doc explodes into shards and is reduced back within the same Arrow batch
(no explode/groupBy shuffle — shard fan-out is strictly local, which is the
idiomatic-Spark replacement for the reference's generator plumbing).

One sharding rule serves both the fused and the staged path: NER shards
the doc (``make_shards``) and reports each shard's (start, end) character
bounds; REL and EL then prompt per NER shard, sub-sharding a shard only
when their longer prompt overflows (``task_units``).

REL/EL fit by counting, not rendering (``fit_for_task``): the fit test is
a whitespace-token count, and for these prompts it is additive — template
overhead + the unit's text tokens (+ per in-prompt EL mention: its list
entry, its ``- For`` line and its candidate lines). Each task puts its
count model next to its renderer (``rel.rel_unit_count``,
``el.el_unit_count``); the search runs on the count, only the accepted
units are rendered, and each rendered prompt must count what the model
said. The render search (``shard_for_task``: a full prompt per probe)
takes over for a unit whose spans are not ``regular_spans`` (sorted,
non-overlapping, non-empty, non-whitespace edges, whitespace-free labels
— e.g. SpanCat overlaps) or whose check fails. Both searches are one loop
(``_search``), so the shards are the same.
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Sequence, Tuple

_WS_TOKEN_RE = re.compile(r"\S+")

Span = Tuple[int, int, str]  # (start, end, label), character offsets


def estimate_n_tokens(value: str) -> int:
    """H1: whitespace token count (spacy.NTokenEstimator.v1)."""
    return len(value.split())


def make_shards(
    text: str,
    context_length: int,
    render: Callable[[str], str],
    buffer_frac: float = 1.1,
) -> List[Tuple[int, str, str]]:
    """Split ``text`` into [(char_offset, shard_text, prompt)] such that
    each rendered prompt fits ``context_length`` (with ``buffer_frac``
    headroom).

    ``render(shard_text) -> prompt``. The ACCEPTED prompt is returned so
    callers never render twice (rendering — examples serialization
    included — is the dominant per-shard cost in the hot kernel). The
    render contract deliberately takes only the text: the reference's
    per-shard prompts carry no shard index, and a hypothetical
    "part i of n" header could never be honestly validated here — the
    final shard count isn't known while the splitter is still searching.
    """
    prompt = render(text)
    if estimate_n_tokens(prompt) * buffer_frac <= context_length:
        return [(0, text, prompt)]

    token_spans = [m.span() for m in _WS_TOKEN_RE.finditer(text)]
    if not token_spans:
        return [(0, text, prompt)]

    shards: List[Tuple[int, str, str]] = []
    start_tok = 0
    fraction = 0.5
    n_tokens = len(token_spans)

    while start_tok < n_tokens:
        remaining = n_tokens - start_tok
        fits = False
        frac = fraction
        while not fits:
            end_tok = start_tok + max(1, int(remaining * frac))
            char_start = token_spans[start_tok][0]
            char_end = token_spans[end_tok - 1][1]
            shard_text = text[char_start:char_end]
            prompt = render(shard_text)
            fits = (
                estimate_n_tokens(prompt) * buffer_frac <= context_length
            )
            if not fits:
                if end_tok - start_tok <= 1:
                    raise ValueError(
                        "Prompt size doesn't allow for the inclusion of a "
                        "shard of length 1. Please review your prompt and "
                        "reduce its size."
                    )
                frac /= 2
        shards.append((token_spans[start_tok][0], shard_text, prompt))
        start_tok = end_tok
        fraction = 1.0

    return shards


def shard_for_task(
    text: str,
    spans: List[Span],
    context_length: int,
    render: Callable[[str, List[Span]], str],
    buffer_frac: float = 1.1,
) -> List[Tuple[int, str, List[Span], str]]:
    """Per-task re-sharding (the reference shards EVERY task, e.g.
    tasks/entity_linker/task.py:137-165): a shard sized for the NER prompt
    can overflow for REL/EL, whose prompts add preannotation markers,
    candidate blocks and different instructions. Given a (shard) text and
    its spans, split into [(char_offset, sub_text, local_spans, prompt)]
    such that each ``prompt = render(sub_text, local_spans)`` fits
    ``context_length``. The accepted prompt is RETURNED so callers don't
    render (and, for EL, run candidate lookups) a second time.

    Cuts land on token boundaries and are moved so no span is severed
    (overlapping SpanCat spans included); if a span makes a cut
    unavoidable the cut extends right past it, and an unfittable
    single-span shard raises — the same contract as make_shards.

    This is the render search: every probe renders a full prompt.
    ``fit_for_task`` gives the same shards from a count model.
    """

    def size(sub_text: str, local: List[Span]) -> Tuple[int, str]:
        prompt = render(sub_text, local)
        return estimate_n_tokens(prompt), prompt

    return _search(text, spans, context_length, size, buffer_frac)


def _search(
    text: str,
    spans: List[Span],
    context_length: int,
    size: Callable[[str, List[Span]], Tuple[int, object]],
    buffer_frac: float,
) -> List[Tuple[int, str, List[Span], object]]:
    """The shard search behind ``shard_for_task`` and ``fit_for_task``.
    ``size(sub_text, local_spans) -> (prompt_tokens, payload)``; returns
    [(char_offset, sub_text, local_spans, payload)] of the accepted
    probes."""
    n, payload = size(text, spans)
    if n * buffer_frac <= context_length:
        return [(0, text, spans, payload)]
    token_spans = [m.span() for m in _WS_TOKEN_RE.finditer(text)]
    if not token_spans:
        return [(0, text, spans, payload)]

    n_tokens = len(token_spans)

    def crosses(end_tok: int) -> bool:
        if end_tok >= n_tokens:
            return False
        cut = token_spans[end_tok - 1][1]
        return any(s < cut < e for s, e, _ in spans)

    shards: List[Tuple[int, str, List[Span], object]] = []
    start_tok = 0
    fraction = 0.5
    while start_tok < n_tokens:
        remaining = n_tokens - start_tok
        fits = False
        frac = fraction
        while not fits:
            end_tok = start_tok + max(1, int(remaining * frac))
            forced = False
            # prefer shrinking left off a span; if pinned at 1 token,
            # extend right so the span stays whole
            while end_tok - start_tok > 1 and crosses(end_tok):
                end_tok -= 1
            if crosses(end_tok):
                while end_tok < n_tokens and crosses(end_tok):
                    end_tok += 1
                forced = True
            cs = token_spans[start_tok][0]
            ce = token_spans[end_tok - 1][1]
            sub_text = text[cs:ce]
            local = [(s - cs, e - cs, l) for s, e, l in spans if s >= cs and e <= ce]
            n, payload = size(sub_text, local)
            fits = n * buffer_frac <= context_length
            if not fits:
                if end_tok - start_tok <= 1 or forced:
                    raise ValueError(
                        "Prompt size doesn't allow for the inclusion of a "
                        "shard of length 1. Please review your prompt and "
                        "reduce its size."
                    )
                frac /= 2
        shards.append((cs, sub_text, local, payload))
        start_tok = end_tok
        fraction = 1.0

    if sum(len(s[2]) for s in shards) != len(spans):
        raise ValueError(
            "per-task sharding lost spans (span outside token bounds?)"
        )
    return shards


def regular_spans(text: str, spans: List[Span]) -> bool:
    """True when the count models of ``fit_for_task`` apply to ``spans``:
    sorted, non-overlapping and non-empty, inside ``text``, with
    non-whitespace first and last characters and whitespace-free labels.
    Then wrapping a span in ``*...*`` or appending an ``[ENTi:LABEL]``
    marker to it changes no token boundary of the text."""
    prev_end = 0
    for start, end, label in spans:
        if not prev_end <= start < end <= len(text):
            return False
        if text[start].isspace() or text[end - 1].isspace():
            return False
        if any(ch.isspace() for ch in label):
            return False
        prev_end = end
    return True


def fit_for_task(
    text: str,
    spans: List[Span],
    context_length: int,
    render: Callable[[str, List[Span]], str],
    count: Callable[[str, List[Span]], int],
    buffer_frac: float = 1.1,
) -> List[Tuple[int, str, List[Span], str]]:
    """``shard_for_task`` with the fit test run on a count model:
    ``count(sub_text, local_spans)`` must equal
    ``estimate_n_tokens(render(sub_text, local_spans))`` without
    rendering. The search is the same, so the shards are the same; only
    the accepted units are rendered, and each rendered prompt's token
    count is checked against the model. A unit whose spans are not
    ``regular_spans``, or whose check fails, takes the render search."""
    if regular_spans(text, spans):

        def size(sub_text: str, local: List[Span]) -> Tuple[int, int]:
            n = count(sub_text, local)
            return n, n

        units = []
        for offset, sub_text, local, n in _search(
            text, spans, context_length, size, buffer_frac
        ):
            prompt = render(sub_text, local)
            if estimate_n_tokens(prompt) != n:
                break
            units.append((offset, sub_text, local, prompt))
        else:
            return units
    return shard_for_task(text, spans, context_length, render, buffer_frac)


def merge_shard_spans(shard_results: List[Tuple[int, List[Span]]]) -> List[Span]:
    """H3/A1: fuse per-shard spans back into doc coordinates by adding each
    shard's character offset (reference fuses docs via Doc.from_docs,
    tasks/ner/util.py:41-48 — additive union in our char-offset model).
    """
    merged: List[Span] = []
    for offset, spans in shard_results:
        merged.extend((s + offset, e + offset, label) for s, e, label in spans)
    return merged


def call_per_doc(model, doc_prompts: List[List[str]]) -> List[List[str]]:
    """One batched model call over every doc's prompts (X1/R3); returns
    the responses regrouped per doc."""
    responses = model([p for prompts in doc_prompts for p in prompts])
    out, r = [], 0
    for prompts in doc_prompts:
        out.append(responses[r : r + len(prompts)])
        r += len(prompts)
    return out


def io_pairs(doc_prompts: List[List[str]], doc_responses: List[List[str]]) -> List[dict]:
    """Per-doc save_io payload: {"prompts": [...], "responses": [...]}."""
    return [
        {"prompts": p, "responses": r} for p, r in zip(doc_prompts, doc_responses)
    ]


def task_units(
    model,
    texts: List[str],
    ents: List[List[Span]],
    bounds: Sequence[Optional[List[Tuple[int, int]]]],
    context_length: Optional[int],
    render: Callable[[str, List[Span]], str],
    count: Callable[[str, List[Span]], int],
    parse: Callable[[str, List[Span], str, int], list],
) -> Tuple[list, List[dict]]:
    """The REL/EL loop over one batch, shared by the fused and staged paths.

    Each doc is split into prompt units: one per NER shard in ``bounds``
    (doc-coordinate (start, end) pairs; ``None`` = the whole doc is one
    shard), holding the ents that start before the next shard does, in
    shard-local offsets. With ``context_length`` set a unit whose prompt
    overflows is sub-sharded by ``fit_for_task``, which sizes prompts with
    ``count`` (the task's prompt-size model). All units' prompts go
    through ONE model call; ``parse(unit_text, unit_spans, response,
    ent_offset)`` then maps each response back into doc coordinates,
    ``ent_offset`` being the doc index of the unit's first ent.

    Returns (per-doc concatenated parse results, per-doc io pairs)."""
    doc_units = []
    for text, doc_ents, doc_bounds in zip(texts, ents, bounds):
        doc_bounds = doc_bounds if doc_bounds is not None else [(0, len(text))]
        units, j = [], 0
        for k, (start, end) in enumerate(doc_bounds):
            nxt = doc_bounds[k + 1][0] if k + 1 < len(doc_bounds) else None
            i = j
            while j < len(doc_ents) and (nxt is None or doc_ents[j][0] < nxt):
                j += 1
            shard_text = text[start:end]
            spans = [(s - start, e - start, l) for s, e, l in doc_ents[i:j]]
            if context_length is None:
                units.append((shard_text, spans, render(shard_text, spans)))
            else:
                units.extend(
                    (st, sp, p)
                    for _, st, sp, p in fit_for_task(
                        shard_text, spans, context_length, render, count
                    )
                )
        doc_units.append(units)
    doc_prompts = [[p for _, _, p in units] for units in doc_units]
    doc_responses = call_per_doc(model, doc_prompts)
    results = []
    for units, responses in zip(doc_units, doc_responses):
        out, offset = [], 0
        for (unit_text, spans, _), response in zip(units, responses):
            out.extend(parse(unit_text, spans, response, offset))
            offset += len(spans)
        results.append(out)
    return results, io_pairs(doc_prompts, doc_responses)
