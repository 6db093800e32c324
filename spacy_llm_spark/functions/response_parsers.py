"""Response-parser kernels: free text -> typed rows.

Pure ``str -> rows`` functions mirroring the reference's parser family
(SURVEY.md §2.8). Each is exercised inside Arrow-batched pandas UDFs by the
operators; keeping them pure makes the reference's tier-1 golden tests
directly portable.

Reference semantics re-derived from:
- find_substrings            spacy_llm/tasks/util/parsing.py:15-45
- span response v1/v2        spacy_llm/tasks/span/parser.py:10-71
- span CoT v3                spacy_llm/tasks/span/parser.py:74-179 and
                             tasks/span/examples.py:25-58 (SpanReason line grammar)
- REL JSON lines             spacy_llm/tasks/rel/parser.py:11-40, items.py:4-14
- EL ::: <QID> solutions     spacy_llm/tasks/entity_linker/parser.py:10-54
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Callable, Dict, Iterable, List, Optional, Tuple

from ..tokenizer import TokenIndex
from .normalizers import lowercase_normalizer

# --------------------------------------------------------------------------
# P1: find_substrings
# --------------------------------------------------------------------------


def find_substrings(
    text: str,
    substrings: Iterable[str],
    *,
    case_sensitive: bool = False,
    single_match: bool = False,
    find_after: int = 0,
) -> List[Tuple[int, int]]:
    """Locate character offsets of each (unique, non-empty) substring.

    Semantics pinned by tests/tasks/test_ner.py:296-328: preserves substring
    order (not text order), finds all non-overlapping occurrences
    left-to-right unless ``single_match``, optional case folding, and a
    ``find_after`` cursor used by the CoT parser.
    """
    subs = [s for s in substrings if s]
    if not case_sensitive:
        text = text.lower()
        subs = [s.lower() for s in subs]
    seen = set()
    uniq = []
    for s in subs:
        if s not in seen:
            uniq.append(s)
            seen.add(s)
    offsets: List[Tuple[int, int]] = []
    for substring in uniq:
        search_from = find_after
        while True:
            start = text.find(substring, search_from)
            if start == -1:
                break
            end = start + len(substring)
            offsets.append((start, end))
            if single_match:
                break
            search_from = end
    return offsets


# --------------------------------------------------------------------------
# P2: span response parse v1/v2  ("LABEL: phrase, phrase" lines)
# --------------------------------------------------------------------------


def format_span_response(
    response: str,
    label_dict: Dict[str, str],
    normalizer: Callable[[str], str] | None = None,
) -> List[Tuple[str, List[str]]]:
    """Parse ``<label>: p1, p2`` lines; drop unknown labels (F2)."""
    norm = normalizer or lowercase_normalizer
    output: List[Tuple[str, List[str]]] = []
    for line in response.strip().split("\n"):
        if line and ":" in line:
            label, phrases = line.split(":", 1)
            norm_label = norm(label)
            if norm_label in label_dict and phrases.strip():
                output.append(
                    (label_dict[norm_label], [p.strip() for p in phrases.strip().split(",")])
                )
    return output


def parse_span_response_v2(
    text: str,
    response: str,
    label_dict: Dict[str, str],
    *,
    normalizer: Callable[[str], str] | None = None,
    case_sensitive: bool = False,
    single_match: bool = False,
    alignment_mode: str = "contract",
) -> List[Tuple[int, int, str]]:
    """v1/v2 span parse: label lines -> offsets -> aligned (start, end, label)."""
    index = TokenIndex(text)
    spans: List[Tuple[int, int, str]] = []
    for label, phrases in format_span_response(response, label_dict, normalizer):
        for start, end in find_substrings(
            text, phrases, case_sensitive=case_sensitive, single_match=single_match
        ):
            aligned = index.align(start, end, alignment_mode)
            if aligned is not None:
                spans.append((aligned[0], aligned[1], label))
    return spans


# --------------------------------------------------------------------------
# P3: span CoT v3  ("N. text | True | LABEL | reason" lines)
# --------------------------------------------------------------------------


@dataclass(slots=True)
class SpanReason:
    text: str
    is_entity: bool
    label: str
    reason: str

    @classmethod
    def from_str(cls, line: str, sep: str = "|") -> "SpanReason":
        clean = line.strip()
        if "." in clean:
            clean = clean.split(".", maxsplit=1)[1]
        parts = [c.strip() for c in clean.split(sep)]
        if len(parts) != 4:
            raise ValueError(f"Unable to parse line into a SpanReason: {line!r}")
        return cls(
            text=parts[0],
            is_entity=parts[1].lower() == "true",
            label=parts[2],
            reason=parts[3],
        )


def extract_span_reasons_cot(
    response: str,
    label_dict: Dict[str, str],
    normalizer: Callable[[str], str] | None = None,
) -> List[SpanReason]:
    """Keep well-formed, is_entity=True, known-label reasons (F2 + F7).

    Inline parse of the ``SpanReason.from_str`` grammar (same accepted
    language, pinned by the parser goldens): the per-doc NER hot loop
    calls this once per response line, so the dataclass round-trip and
    the strip-all-parts-then-reject flow were ~20% of the fused kernel's
    profile. Rejection tests (field count, is_entity, label membership)
    now run before any per-part stripping of accepted fields.
    """
    norm = normalizer or lowercase_normalizer
    out: List[SpanReason] = []
    for line in response.strip().split("\n"):
        clean = line.strip()
        dot = clean.find(".")
        if dot != -1:
            clean = clean[dot + 1:]
        parts = clean.split("|")
        if len(parts) != 4:
            continue
        if parts[1].strip().lower() != "true":
            continue
        norm_label = norm(parts[2].strip())
        if norm_label not in label_dict:
            continue
        out.append(SpanReason(
            text=parts[0].strip(),
            is_entity=True,
            label=label_dict[norm_label],
            reason=parts[3].strip(),
        ))
    return out


def find_spans_cot(
    text: str,
    span_reasons: List[SpanReason],
    *,
    case_sensitive: bool = False,
    alignment_mode: str = "contract",
    allow_overlap: bool = False,
    overlap_mode: str = "per_surface",
) -> List[Tuple[int, int, str]]:
    """Incremental left-to-right span resolution with a find_after cursor.

    Mirrors _find_spans_cot (span/parser.py:100-160): repeated identical
    spans advance the cursor; result is sorted + deduped. Regression cases
    pinned by tests/tasks/test_ner.py:908-974 (repeated "Paris", commas).

    ``allow_overlap=True`` (SpanCat) has two cursor disciplines:

    - ``overlap_mode='per_surface'`` (default — an INTENTIONAL divergence
      from the reference, excluded from the parity matrix): the k-th
      response line carrying surface X resolves to the k-th occurrence of
      X, regardless of interleaved lines for other (possibly overlapping)
      surfaces. A single global cursor cannot express dense overlapping
      repeats ("join join join" with pair spans), and it silently drops
      spans when the LLM emits lines out of text order.
    - ``overlap_mode='reference'``: byte-parity with the reference's
      global cursor, which on append rewinds only to ``span.start_char``
      (span/parser.py:152, ``find_after = span.start_char if
      task.allow_overlap else span.end_char``). Out-of-order responses
      (e.g. lines ['c', 'a'] over text 'a b c') drop the earlier span,
      exactly as the reference does.
    """
    if alignment_mode not in ("strict", "contract", "expand"):
        raise ValueError(f"Unsupported alignment mode '{alignment_mode}'.")
    if overlap_mode not in ("per_surface", "reference"):
        raise ValueError(f"Unsupported overlap mode '{overlap_mode}'.")
    index = TokenIndex(text)
    # case-fold once (find_substrings folds per call; this loop calls it
    # once per mention, which dominated the kernel profile)
    haystack = text if case_sensitive else text.lower()

    if allow_overlap and overlap_mode == "per_surface":
        # keyed by (surface, label): the k-th line with surface X and
        # label L is X's k-th occurrence — so the SAME occurrence may
        # legitimately carry several labels (SpanCat doc.spans semantics)
        cursors: Dict[Tuple[str, str], int] = {}
        overlap_spans: List[Tuple[int, int, str]] = []
        for sr in span_reasons:
            needle = sr.text if case_sensitive else sr.text.lower()
            if not needle:
                continue
            key = (needle, sr.label)
            start = haystack.find(needle, cursors.get(key, 0))
            if start == -1:
                continue
            cursors[key] = start + 1
            aligned = index.align(start, start + len(needle), alignment_mode)
            if aligned is None:
                continue
            overlap_spans.append((aligned[0], aligned[1], sr.label))
        return sorted(set(overlap_spans))

    find_after = 0
    spans: List[Tuple[int, int, str]] = []
    prev_span: Optional[Tuple[int, int, str]] = None
    idx = 0
    n = len(span_reasons)
    while idx < n:
        sr = span_reasons[idx]
        needle = sr.text if case_sensitive else sr.text.lower()
        if not needle:
            idx += 1
            continue
        start = haystack.find(needle, find_after)
        if start == -1:
            idx += 1
            continue
        end = start + len(needle)
        aligned = index.align(start, end, alignment_mode)
        if aligned is None:
            idx += 1
            continue
        span = (aligned[0], aligned[1], sr.label)
        if span == prev_span:
            find_after = span[1]
            continue
        spans.append(span)
        # reference overlap semantics rewind the cursor to the span START
        # so the next line may overlap this one (span/parser.py:152)
        find_after = span[0] if allow_overlap else span[1]
        prev_span = span
        idx += 1
    return sorted(set(spans))


def parse_ner_v3(
    text: str,
    response: str,
    label_dict: Dict[str, str],
    *,
    normalizer: Callable[[str], str] | None = None,
    case_sensitive_matching: bool = False,
    alignment_mode: str = "contract",
    allow_overlap: bool = False,
    overlap_mode: str = "per_surface",
) -> List[Tuple[int, int, str]]:
    """Full NER v3 parse: CoT extract -> incremental find -> aligned spans."""
    reasons = extract_span_reasons_cot(response, label_dict, normalizer)
    return find_spans_cot(
        text,
        reasons,
        case_sensitive=case_sensitive_matching,
        alignment_mode=alignment_mode,
        allow_overlap=allow_overlap,
        overlap_mode=overlap_mode,
    )


# --------------------------------------------------------------------------
# P5: REL parse (one JSON object per line) + bounds filter (F3)
# --------------------------------------------------------------------------


def _clean_ent_index(value) -> Optional[int]:
    """items.py:9-14 — strip 'ENT' prefix before int cast."""
    if isinstance(value, str):
        value = value.strip("ENT")
    try:
        return int(value)
    except (TypeError, ValueError):
        return None


_REL_LINE_RE = re.compile(
    r'^\{"dep": (\d+), "dest": (\d+), "relation": "([^"\\]*)"\}$'
)


def parse_rel_response(response: str, n_ents: int) -> List[Tuple[int, int, str]]:
    """JSON-lines -> (dep, dest, relation), keeping only in-bounds indices
    (0 <= dep, dest < n_ents; tests/tasks/test_rel.py:239-270).

    Canonical-form lines take a regex fast path; anything else falls back
    to a full JSON parse (same accepted language either way).
    """
    relations: List[Tuple[int, int, str]] = []
    for line in response.strip().split("\n"):
        line = line.strip()
        if not line:
            continue
        m = _REL_LINE_RE.match(line)
        if m:
            dep, dest = int(m.group(1)), int(m.group(2))
            if 0 <= dep < n_ents and 0 <= dest < n_ents:
                relations.append((dep, dest, m.group(3)))
            continue
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if not isinstance(obj, dict):
            continue
        dep = _clean_ent_index(obj.get("dep"))
        dest = _clean_ent_index(obj.get("dest"))
        relation = obj.get("relation")
        if dep is None or dest is None or not isinstance(relation, str):
            continue
        if 0 <= dep < n_ents and 0 <= dest < n_ents:
            relations.append((dep, dest, relation))
    return relations


# --------------------------------------------------------------------------
# P6: EL parse ("::: <QID>" solution lines)
# --------------------------------------------------------------------------

NIL = "NIL"
_EL_SOLUTION_RE = re.compile(r"::: <.*>")


def parse_el_solutions(response: str) -> List[str]:
    """Extract QID solutions in order (entity_linker/parser.py:27-33).
    ``<NIL>`` maps to the NIL sentinel.
    """
    solutions = [
        sol.replace("::: ", "")[1:-1] for sol in _EL_SOLUTION_RE.findall(response)
    ]
    return [sol if sol != "NIL" else NIL for sol in solutions]


def attach_el_solutions(
    ent_in_prompt: List[bool], solutions: List[str]
) -> Optional[List[str]]:
    """Positional re-attach of solutions to the full entity list (J7 + F9).

    ``ent_in_prompt[i]`` is True iff entity i had KB candidates and was shown
    to the model; auto-niled entities (F5) receive NIL. If counts don't line
    up, the whole doc's links are invalid -> None (caller assigns all-NIL,
    entity_linker/task.py:211-236).
    """
    n_in_prompt = sum(ent_in_prompt)
    if len(solutions) != n_in_prompt:
        return None
    it = iter(solutions)
    return [next(it) if in_prompt else NIL for in_prompt in ent_in_prompt]
