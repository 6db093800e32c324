"""Deterministic tokenizer + char-span alignment.

The reference relies on spaCy's tokenizer for (a) snapping character spans
to token boundaries (``doc.char_span(..., alignment_mode=...)`` used by the
span parsers, spacy_llm/tasks/span/parser.py:62-67,132-137) and (b) token
surgery for REL pre-annotation (spacy_llm/tasks/rel/task.py:74-136).

spaCy is not available here (and a port is not wanted); we define a
deterministic regex tokenizer whose behavior is pinned by the reference's
own literal alignment test cases (tests/tasks/test_ner.py:403-507) and the
REL example punct pattern (spacy_llm/tasks/rel/util.py:42-50). All engine
logic works in character offsets; token boundaries only matter at span
edges, which keeps parity risk localized (SURVEY.md §7).

Everything here is pure Python operating on single strings — it is executed
inside Arrow-batched pandas UDFs, never per-row via the driver.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from typing import List, Optional, Tuple

# Word chars cluster; any other non-space char is its own token. This pins
# the same boundaries as spaCy's default English tokenizer for every golden
# alignment case in the reference test suite (see module docstring).
_TOKEN_RE = re.compile(r"\w+|[^\w\s]", re.UNICODE)

Span = Tuple[int, int]  # (start_char, end_char)


def tokenize(text: str) -> List[Span]:
    """Token boundaries as (start_char, end_char) pairs, in order."""
    return [m.span() for m in _TOKEN_RE.finditer(text)]


def align_char_span(
    tokens: List[Span],
    start: int,
    end: int,
    alignment_mode: str = "strict",
) -> Optional[Span]:
    """Snap a character span to token boundaries, spaCy ``char_span`` style.

    - ``strict``: both offsets must coincide with token boundaries, else None.
    - ``contract``: shrink to the tokens fully inside [start, end); None if
      no token is fully contained.
    - ``expand``: grow to cover every token overlapping [start, end).

    Golden behavior pinned by tests/tasks/test_ner.py:403-456 (e.g. "Jacq" +
    expand -> "Jacques"; "Jean J" + contract -> "Jean"; "Jacq" + strict -> None).
    """
    if alignment_mode not in ("strict", "contract", "expand"):
        raise ValueError(f"Unsupported alignment mode '{alignment_mode}'.")
    if start >= end or not tokens:
        return None

    if alignment_mode == "strict":
        starts_ok = any(t[0] == start for t in tokens)
        ends_ok = any(t[1] == end for t in tokens)
        return (start, end) if starts_ok and ends_ok else None

    if alignment_mode == "contract":
        inside = [t for t in tokens if t[0] >= start and t[1] <= end]
        if not inside:
            return None
        return (inside[0][0], inside[-1][1])

    # expand
    overlapping = [t for t in tokens if t[1] > start and t[0] < end]
    if not overlapping:
        return None
    return (overlapping[0][0], overlapping[-1][1])


def filter_spans(spans: List[Tuple[int, int, str]]) -> List[Tuple[int, int, str]]:
    """Greedy de-overlap, longest-then-earliest first (spaCy util semantics
    used by the NER task via ``doc.set_ents(filter_spans(spans))``,
    spacy_llm/tasks/ner/task.py:94-100). Returns spans sorted by start.

    Overlap is tested against byte maps of the kept cover instead of the
    O(kept) pairwise scan (this ran inside the per-doc NER hot loop). Two
    maps give the exact pairwise semantics: a positive-length candidate
    conflicts with any kept cover byte in [s0, s1); a zero-length
    candidate conflicts only with a kept span's strict interior (s0, s1)
    — and the sort order guarantees every positive span is decided before
    any zero-length one, while two zero-length spans never conflict.
    """
    if not spans:
        return []
    sorted_spans = sorted(spans, key=lambda s: (s[0] - s[1], s[0]))
    hi = max(s[1] for s in spans)
    claimed = bytearray(hi)  # kept cover: [s0, s1)
    interior = bytearray(hi)  # kept strict interior: (s0, s1)
    kept: List[Tuple[int, int, str]] = []
    for span in sorted_spans:
        s0, s1 = span[0], span[1]
        if s1 > s0:
            if any(claimed[s0:s1]):
                continue
            n = s1 - s0
            claimed[s0:s1] = b"\x01" * n
            if n > 1:
                interior[s0 + 1 : s1] = b"\x01" * (n - 1)
        elif s0 < hi and interior[s0]:
            continue
        kept.append(span)
    kept.sort(key=lambda s: (s[0], s[1]))
    return kept


class TokenIndex:
    """Reusable alignment helper when many spans hit the same text.
    All three modes are O(log n) bisects over the sorted boundary arrays.
    """

    __slots__ = ("tokens", "_starts", "_ends")

    def __init__(self, text: str):
        self.tokens = tokenize(text)
        self._starts = [t[0] for t in self.tokens]
        self._ends = [t[1] for t in self.tokens]

    def align(self, start: int, end: int, alignment_mode: str) -> Optional[Span]:
        if alignment_mode not in ("strict", "contract", "expand"):
            raise ValueError(f"Unsupported alignment mode '{alignment_mode}'.")
        starts, ends = self._starts, self._ends
        n = len(starts)
        if start >= end or not n:
            return None
        if alignment_mode == "strict":
            i = bisect_right(starts, start) - 1
            j = bisect_right(ends, end) - 1
            ok_start = i >= 0 and starts[i] == start
            ok_end = j >= 0 and ends[j] == end
            return (start, end) if ok_start and ok_end else None
        if alignment_mode == "contract":
            # first token with start >= span start
            i = bisect_right(starts, start - 1)
            while i < n and starts[i] < start:
                i += 1
            # last token with end <= span end
            j = bisect_right(ends, end) - 1
            if i >= n or j < 0 or i > j:
                return None
            if starts[i] >= end or ends[j] < start:
                return None
            return (starts[i], ends[j])
        # expand: tokens overlapping [start, end)
        # first token whose end > start
        i = bisect_right(ends, start)
        # last token whose start < end
        j = bisect_right(starts, end - 1) - 1
        if i >= n or j < 0 or i > j:
            return None
        return (starts[i], ends[j])
