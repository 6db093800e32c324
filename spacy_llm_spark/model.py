"""Executor-local deterministic models (X5 — the NoOp-model analog).

The reference's test stack drives every pipeline through canned models
(``test.NoOpModel.v1``, tests/conftest.py:43-48; ``spacy.NoOp.v1``,
models/rest/noop/model.py:10-41). Our engine is local-only by mandate (no
network), so the same pattern is the *production* model surface: a
registry of batched callables ``list[str] prompts -> list[str] responses``.

Scale notes:
- Models are constructed from a JSON-serializable spec and instantiated
  lazily ONCE PER PYTHON WORKER (module-level cache below), the Spark
  analog of loading an HF model per executor (models/hf/base.py device
  logic, X6). The spec — not the model object — is what's closured into
  the UDF.
- Calls are batch-at-a-time over whole Arrow batches (R3): no per-row
  dispatch.
- A real REST/HF model would plug in here with the same contract; retry
  with exponential backoff belongs inside the callable (X2); we keep a
  hook for it but local models never fail.
"""

from __future__ import annotations

import json
import re
from typing import Callable, Dict, List, Sequence, Tuple

from .templates import extract_doc_from_prompt
from .tokenizer import tokenize

BatchModel = Callable[[Sequence[str]], List[str]]

_MODEL_CACHE: Dict[str, BatchModel] = {}


def resolve_model(spec: dict) -> BatchModel:
    """Executor-side: build (or reuse) the model for a spec. The cache key
    is the spec JSON, so one model instance serves every Arrow batch a
    Python worker processes (executor-local singleton).
    """
    key = json.dumps(spec, sort_keys=True)
    model = _MODEL_CACHE.get(key)
    if model is None:
        model = _build_model(spec)
        _MODEL_CACHE[key] = model
    return model


def _build_model(spec: dict) -> BatchModel:
    name = spec.get("name")
    if name == "noop":
        return make_noop_model(spec.get("output", ""))
    if name == "dict_ner":
        return make_dict_ner_model(spec["dictionary"])
    if name == "dict_ner_v2":
        return make_dict_ner_v2_model(
            spec["dictionary"], phrases=spec.get("phrases", False)
        )
    if name == "dict_spancat":
        return make_dict_spancat_model(
            spec["dictionary"], phrase_label=spec.get("phrase_label", "PHRASE")
        )
    if name == "rule_rel":
        rules = {tuple(k.split("|")): v for k, v in spec["rules"].items()}
        return make_rule_rel_model(rules)
    if name == "top_candidate_el":
        return make_top_candidate_el_model()
    raise ValueError(f"Unknown model spec: {spec!r}")


# ---------------------------------------------------------------------------
# Model implementations
# ---------------------------------------------------------------------------


def with_retry(
    model: BatchModel,
    *,
    max_tries: int = 5,
    base_interval: float = 1.0,
    backoff: float = 2.0,
    retry_on: tuple = (TimeoutError, ConnectionError, OSError),
) -> BatchModel:
    """X2: retry + exponential backoff around a batch model call.

    Defaults mirror the reference's REST policy (5 tries, 1 s base
    interval, x2 backoff — models/rest/base.py:22-25). Local deterministic
    models never raise; this wraps remote/flaky backends. Runs inside the
    executor kernel, so a transient model failure never costs a Spark task
    retry (R6 — task retries re-run the whole partition)."""
    import time as _time

    def call(prompts: Sequence[str]) -> List[str]:
        interval = base_interval
        for attempt in range(1, max_tries + 1):
            try:
                return model(prompts)
            except retry_on:
                if attempt == max_tries:
                    raise
                _time.sleep(interval)
                interval *= backoff
        raise RuntimeError("unreachable")

    return call


def make_noop_model(output: str) -> BatchModel:
    """Fixed response for every prompt (test.NoOpModel.v1 analog)."""

    def call(prompts: Sequence[str]) -> List[str]:
        return [output for _ in prompts]

    return call


def _dict_matches(text: str, lowered: Dict[str, str], max_len: int):
    """Greedy longest-match of dictionary surfaces over token boundaries,
    in text order (multi-token surfaces supported)."""
    spans = tokenize(text)
    lower = text.lower()
    out = []
    if max_len == 1:
        # single-token dictionary: no multi-token window, and a token can
        # never contain whitespace (tokenize splits on it), so the
        # whitespace re-normalization below is the identity — plain dict
        # probes per token
        get = lowered.get
        for s, e in spans:
            label = get(lower[s:e])
            if label is not None:
                out.append((s, e, label))
        return out
    i = 0
    while i < len(spans):
        matched = None
        for j in range(min(i + max_len, len(spans)), i, -1):
            # normalize internal whitespace: dictionary keys are
            # single-spaced, but the raw slice may span newlines/double
            # spaces ("hash\njoin" must still match "hash join")
            candidate = " ".join(lower[spans[i][0] : spans[j - 1][1]].split())
            label = lowered.get(candidate)
            if label is not None:
                matched = (spans[i][0], spans[j - 1][1], label, j - i)
                break
        if matched:
            out.append(matched[:3])
            i += matched[3]
        else:
            i += 1
    return out


def make_dict_ner_model(dictionary: Dict[str, str]) -> BatchModel:
    """Deterministic NER 'LLM': emits a CoT line (P3 grammar) for every
    greedy longest dictionary match (multi-token surfaces supported) in
    the fenced document, in text order. Case-insensitive matching; echoes
    the surface as written.
    """
    lowered = {k.lower(): v for k, v in dictionary.items()}
    max_len = max((len(k.split()) for k in lowered), default=1)

    def call(prompts: Sequence[str]) -> List[str]:
        responses = []
        for prompt in prompts:
            text = extract_doc_from_prompt(prompt)
            lines = []
            for n, (start, end, label) in enumerate(
                _dict_matches(text, lowered, max_len), start=1
            ):
                lines.append(
                    f"{n}. {text[start:end]} | True | {label} | matches dictionary"
                )
            responses.append("\n".join(lines))
        return responses

    return call


def make_dict_ner_v2_model(
    dictionary: Dict[str, str], *, phrases: bool = False
) -> BatchModel:
    """Deterministic NER 'LLM' for the v1/v2 span grammar (P2): one
    ``LABEL: phrase, phrase`` line per label, phrases in text order.

    ``phrases=True`` switches to greedy longest dictionary matching
    (multi-token surfaces like "hash join" emitted whole), driving the P2
    parser's multi-word find_substrings path end-to-end — the regression
    class of reference tests/tasks/test_ner.py:908-974.
    """
    lowered = {k.lower(): v for k, v in dictionary.items()}
    max_len = max((len(k.split()) for k in lowered), default=1)

    def call(prompts: Sequence[str]) -> List[str]:
        responses = []
        for prompt in prompts:
            text = extract_doc_from_prompt(prompt)
            by_label: Dict[str, List[str]] = {}
            if phrases:
                for start, end, label in _dict_matches(text, lowered, max_len):
                    by_label.setdefault(label, []).append(text[start:end])
            else:
                for start, end in tokenize(text):
                    token = text[start:end]
                    label = lowered.get(token.lower())
                    if label is not None:
                        by_label.setdefault(label, []).append(token)
            responses.append(
                "\n".join(
                    f"{label}: {', '.join(phrases_)}"
                    for label, phrases_ in sorted(by_label.items())
                )
            )
        return responses

    return call


def make_dict_spancat_model(
    dictionary: Dict[str, str], *, phrase_label: str = "PHRASE"
) -> BatchModel:
    """Deterministic SpanCat 'LLM' (CoT grammar): emits every dictionary
    token AND an overlapping ``phrase_label`` span for every ADJACENT pair
    of dictionary tokens — overlapping spans are the SpanCat contract
    (reference tasks/spancat/task.py:82-88 writes doc.spans[key] with
    allow_overlap). Lines are ordered uni(i), pair(i,i+1), uni(i+1) so the
    parser's find-after cursor (reset to span START under allow_overlap)
    resolves every occurrence.
    """
    lowered = {k.lower(): v for k, v in dictionary.items()}

    def call(prompts: Sequence[str]) -> List[str]:
        responses = []
        for prompt in prompts:
            text = extract_doc_from_prompt(prompt)
            tok_hits = [
                (s, e, text[s:e], lowered.get(text[s:e].lower()))
                for s, e in tokenize(text)
            ]
            lines: List[str] = []
            n = 1
            for i, (s, e, tok, label) in enumerate(tok_hits):
                if label is None:
                    continue
                lines.append(f"{n}. {tok} | True | {label} | dictionary token")
                n += 1
                if i + 1 < len(tok_hits):
                    s2, e2, tok2, label2 = tok_hits[i + 1]
                    if label2 is not None:
                        lines.append(
                            f"{n}. {text[s:e2]} | True | {phrase_label} "
                            f"| adjacent dictionary pair"
                        )
                        n += 1
            responses.append("\n".join(lines))
        return responses

    return call


_ENT_MARKER_RE = re.compile(r"\[ENT(\d+):([^\]]+)\]")


def make_rule_rel_model(rules: Dict[Tuple[str, str], str]) -> BatchModel:
    """Deterministic REL 'LLM': reads [ENTi:LABEL] markers from the
    pre-annotated fenced text (M3) and emits one JSON line (P5 grammar) for
    each *consecutive* entity pair whose (label_i, label_{i+1}) has a rule.
    """

    # json.dumps per relation VALUE, once: a relation containing quotes or
    # backslashes must still produce a parseable P5 line, but dep/dest are
    # plain ints — serializing only the precomputed tail keeps the hot loop
    # at two int formats (byte-identical to json.dumps of the full dict,
    # whose default separators are ', ' / ': ' in insertion order)
    tails = {
        pair: f', "relation": {json.dumps(relation)}}}'
        for pair, relation in rules.items()
    }

    def call(prompts: Sequence[str]) -> List[str]:
        responses = []
        for prompt in prompts:
            text = extract_doc_from_prompt(prompt)
            ents = [(int(m.group(1)), m.group(2)) for m in _ENT_MARKER_RE.finditer(text)]
            lines = []
            for (i, label_a), (j, label_b) in zip(ents, ents[1:]):
                tail = tails.get((label_a, label_b))
                if tail is not None:
                    lines.append(f'{{"dep": {i}, "dest": {j}{tail}')
            responses.append("\n".join(lines))
        return responses

    return call


_EL_BLOCK_RE = re.compile(r"- For \*(.*?)\*:\n((?:    .*\n?)*)")
_EL_CAND_RE = re.compile(r"^    (\S+)\. ", re.MULTILINE)


def make_top_candidate_el_model() -> BatchModel:
    """Deterministic EL 'LLM': for each mention's candidate block in the
    prompt, answers with the first listed candidate (blocks are rendered in
    prior-desc order, so first = highest prior — matching the reference's
    ranking, candidate_selector.py:44-55).
    """

    def call(prompts: Sequence[str]) -> List[str]:
        responses = []
        for prompt in prompts:
            # Only the final Candidates: section (after the last fence) is
            # the real query; examples precede it.
            tail = prompt[prompt.rfind("Candidates:") :]
            lines = []
            for m in _EL_BLOCK_RE.finditer(tail):
                mention, block = m.group(1), m.group(2)
                cands = _EL_CAND_RE.findall(block)
                qid = cands[0] if cands else "NIL"
                lines.append(f"*{mention}* ::: <{qid}>")
            responses.append("\n".join(lines))
        return responses

    return call
