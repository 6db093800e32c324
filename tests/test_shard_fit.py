"""The count-based shard fit is exact.

``fit_for_task`` runs the ``shard_for_task`` search on a count model
instead of rendering a prompt per probe. These tests pin that the REL and
EL count models equal the rendered prompt's token count on every probe
the render search makes, that irregular span lists (overlapping, empty,
whitespace at an edge, unsorted, whitespace in a label) never reach the
count model, and that shards and prompts equal the render search's.
"""

import random

import pytest

from spacy_llm_spark.kb import KnowledgeBase
from spacy_llm_spark.operators.el import build_el_prompt, el_unit_count
from spacy_llm_spark.operators.rel import rel_unit_count, rel_unit_prompt
from spacy_llm_spark.operators.sharding import (
    estimate_n_tokens,
    fit_for_task,
    regular_spans,
    shard_for_task,
)

CONTEXT_LENGTHS = (512, 128, 64)
LABELS = ["OP", "TABLE", "SYS"]
REL_LABELS = ["uses", "reads from"]
WORDS = (
    ["scan", "join", "sort", "merge", "hash", "Boston", "Celtics"]  # aliases
    + ["sort merge", "Boston Celtics"]  # two-word aliases
    + ["group", "row", "key", "value", "the", "of", "a"]  # unknown surfaces
    + ["scan.", "(join", "x=y", "---", "é"]  # punctuation glued to tokens
)
SPACES = [" ", " ", " ", "  ", "\n", "\t", " \n "]
REL_EXAMPLES = [
    {"text": "scan[ENT0:OP] reads table[ENT1:TABLE]",
     "relations": [{"dep": 0, "dest": 1, "relation": "reads from"}]}
]
EL_EXAMPLES = [
    {"text": "the *scan* of a table", "mentions": ["scan"], "solutions": ["K1"]}
]


def _kb():
    """Multi-word aliases and descriptions, an alias whose entity has no
    description, and one with more candidates than ``top_n``."""
    kb = KnowledgeBase()
    for qid, desc in {
        "K1": "full scan of a table",
        "K2": "join",
        "K3": "sort merge join over two sorted inputs",
        "K4": "NBA team based in Boston",
        "K5": "hash",
        "K6": "city",
    }.items():
        kb.add_entity(qid, desc)
    kb.add_alias("scan", ["K1", "K2"], [0.7, 0.3])
    kb.add_alias("scan.", ["K1"], [1.0])
    kb.add_alias("sort merge", ["K3", "K2", "K1", "K5"], [0.4, 0.3, 0.2, 0.1])
    kb.add_alias("Boston Celtics", ["K4", "K99"], [0.8, 0.2])  # K99: no desc
    kb.add_alias("Boston", ["K6", "K4"], [0.6, 0.4])
    kb.add_alias("hash", ["K5"], [1.0])
    return kb


def _text(rng, n_words):
    parts = [rng.choice(SPACES) if rng.random() < 0.3 else ""]
    for i in range(n_words):
        if i:
            parts.append(rng.choice(SPACES))
        parts.append(rng.choice(WORDS))
    parts.append(rng.choice(SPACES) if rng.random() < 0.3 else "")
    return "".join(parts)


def _token_bounds(text):
    import re

    return [m.span() for m in re.finditer(r"\S+", text)]


def _regular(rng, text):
    """Sorted, non-overlapping spans of one to three whole tokens, or the
    leading part of one token (a span that ends mid-token)."""
    toks = _token_bounds(text)
    spans, i = [], rng.randrange(3) if toks else 0
    while i < len(toks):
        width = rng.choice([1, 1, 1, 2, 3])
        j = min(i + width, len(toks))
        start, end = toks[i][0], toks[j - 1][1]
        if width == 1 and end - start > 1 and rng.random() < 0.2:
            end -= 1
        spans.append((start, end, rng.choice(LABELS)))
        i = j + rng.randrange(4)
    return spans


def _irregular(rng, text):
    """A regular span list broken in one of the ways the count models do
    not cover."""
    spans = _regular(rng, text)
    toks = _token_bounds(text)
    if len(spans) < 2 or len(toks) < 4:
        return None
    k = rng.randrange(len(spans))
    s, e, label = spans[k]
    kind = rng.choice(["overlap", "ws_start", "ws_end", "unsorted", "label", "empty"])
    if kind == "overlap":
        s2, e2, _ = spans[k - 1] if k else spans[k + 1]
        spans.append((min(s, s2), max(e, e2), label))
        spans.sort()
    elif kind == "ws_start" and s > 0 and text[s - 1].isspace():
        spans[k] = (s - 1, e, label)
    elif kind == "ws_end" and e < len(text) and text[e].isspace():
        spans[k] = (s, e + 1, label)
    elif kind == "unsorted":
        spans.reverse()
    elif kind == "label":
        spans[k] = (s, e, "TWO WORDS")
    elif kind == "empty":
        spans[k] = (s, s, label)
    else:
        return None
    assert not regular_spans(text, spans)
    return spans


def _tasks(kb, few_shot):
    """(name, render, count) per task; EL with auto-NIL on and off."""
    rel_ex = REL_EXAMPLES if few_shot else None
    el_ex = EL_EXAMPLES if few_shot else []
    tasks = [
        (
            "rel",
            lambda t, s: rel_unit_prompt(t, s, REL_LABELS, rel_ex),
            rel_unit_count(REL_LABELS, rel_ex),
        )
    ]
    for auto_nil in (True, False):
        tasks.append(
            (
                f"el-auto_nil={auto_nil}",
                lambda t, s, a=auto_nil: build_el_prompt(t, s, kb, 3, a, el_ex)[0],
                el_unit_count(kb, 3, auto_nil, el_ex),
            )
        )
    return tasks


def _shards(fn, *args):
    try:
        return fn(*args)
    except ValueError as exc:
        return ("raises", str(exc))


def _cases(seed, n_cases=25):
    rng = random.Random(seed)
    for _ in range(n_cases):
        text = _text(rng, rng.choice([0, 5, 30, 100, 450]))
        yield text, _regular(rng, text), _irregular(rng, text)


@pytest.mark.parametrize("few_shot", [False, True])
@pytest.mark.parametrize("seed", range(3))
def test_count_equals_render_on_every_probe(seed, few_shot):
    """Regular units: the count model is the rendered token count on every
    probe, and the count fit returns the render search's shards and
    prompts, at every context length."""
    kb = _kb()
    n_probes = 0
    for text, spans, _ in _cases(seed):
        assert regular_spans(text, spans)
        for name, render, count in _tasks(kb, few_shot):
            for ctx in CONTEXT_LENGTHS:
                probes = []

                def recording(t, s, render=render, probes=probes):
                    prompt = render(t, s)
                    probes.append((t, s, prompt))
                    return prompt

                want = _shards(shard_for_task, text, spans, ctx, recording)
                for t, s, prompt in probes:
                    assert count(t, s) == estimate_n_tokens(prompt), (name, t, s)
                n_probes += len(probes)
                got = _shards(fit_for_task, text, spans, ctx, render, count)
                assert got == want, (name, ctx)
    assert n_probes > 1000


@pytest.mark.parametrize("seed", range(2))
def test_irregular_units_take_the_render_path(seed):
    """Irregular units never consult the count model, and still get the
    render search's result."""
    kb = _kb()
    n_checked = 0
    for text, _, spans in _cases(seed):
        if spans is None:
            continue
        for name, render, count in _tasks(kb, few_shot=True):
            calls = []

            def spy(t, s, count=count, calls=calls):
                calls.append(t)
                return count(t, s)

            for ctx in CONTEXT_LENGTHS:
                want = _shards(shard_for_task, text, spans, ctx, render)
                assert _shards(fit_for_task, text, spans, ctx, render, spy) == want
            assert calls == [], name
            n_checked += 1
    assert n_checked > 10


def test_count_mismatch_falls_back_to_render_search():
    """A count model that is wrong for an accepted unit is caught by the
    rendered-prompt check, and the unit takes the render search."""
    kb = _kb()
    text = " ".join(["scan join sort merge hash row"] * 30)
    spans = [(0, 4, "OP"), (5, 9, "OP")]
    render = lambda t, s: build_el_prompt(t, s, kb, 3, True, [])[0]  # noqa: E731
    count = el_unit_count(kb, 3, True, [])
    want = shard_for_task(text, spans, 64, render)
    assert fit_for_task(text, spans, 64, render, lambda t, s: count(t, s) - 1) == want
    assert fit_for_task(text, spans, 64, render, count) == want


def test_unfittable_unit_raises_on_both_paths():
    kb = _kb()
    text = "scan " * 20
    spans = [(0, 4, "OP")]
    render = lambda t, s: build_el_prompt(t, s, kb, 3, True, [])[0]  # noqa: E731
    count = el_unit_count(kb, 3, True, [])
    for fn, args in ((shard_for_task, (render,)), (fit_for_task, (render, count))):
        with pytest.raises(ValueError, match="shard of length 1"):
            fn(text, spans, 30, *args)
