"""Tier-1 golden tests ported from the reference's literal expectations.

Sources (expected values copied as data, logic re-derived):
- find_substrings offsets:   tests/tasks/test_ner.py:296-328
- NER label/normalizer matrix: test_ner.py:331-400
- alignment-mode matrix:     test_ner.py:403-456
- case-sensitivity matrix:   test_ner.py:465-507
- CoT repeated-surface regression: test_ner.py:908-946
- comma-in-entity regression: test_ner.py:949-974
- REL bounds filter:         tests/tasks/test_rel.py:239-270
"""

import pytest

from spacy_llm_spark.functions.normalizers import (
    build_label_dict,
    lowercase_normalizer,
    split_labels,
    strip_normalizer,
)
from spacy_llm_spark.functions.response_parsers import (
    attach_el_solutions,
    extract_span_reasons_cot,
    find_substrings,
    parse_el_solutions,
    parse_ner_v3,
    parse_rel_response,
)
from spacy_llm_spark.tokenizer import filter_spans


@pytest.mark.parametrize(
    "text,input_strings,result_strings,result_offsets",
    [
        (
            "Felipe and Jaime went to the library.",
            ["Felipe", "Jaime", "library"],
            ["Felipe", "Jaime", "library"],
            [(0, 6), (11, 16), (29, 36)],
        ),
        (
            "The Manila Observatory was founded in 1865 in Manila.",
            ["Manila", "The Manila Observatory"],
            ["Manila", "Manila", "The Manila Observatory"],
            [(4, 10), (46, 52), (0, 22)],
        ),
        (
            "Take the road from downtown and turn left at the public market.",
            ["public market", "downtown"],
            ["public market", "downtown"],
            [(49, 62), (19, 27)],
        ),
    ],
)
def test_find_substrings_offsets(text, input_strings, result_strings, result_offsets):
    offsets = find_substrings(text, input_strings)
    assert offsets == result_offsets
    assert [text[s:e] for s, e in offsets] == result_strings


NER_TEXT = "Jean Jacques and Jaime went to the library."
NER_LABELS = split_labels("PER,ORG,LOC")


def _ents(text, response, normalizer=None, **kwargs):
    label_dict = build_label_dict(NER_LABELS, normalizer)
    spans = parse_ner_v3(text, response, label_dict, normalizer=normalizer, **kwargs)
    spans = filter_spans(spans)
    return [(text[s:e], label) for s, e, label in spans]


@pytest.mark.parametrize(
    "response,normalizer,gold",
    [
        (
            "1. Jean Jacques | True | PER | is a person's name\n"
            "2. Jaime | True | PER | is a person's name\n",
            None,
            [("Jean Jacques", "PER"), ("Jaime", "PER")],
        ),
        (
            "1. Jean Jacques | True | PER | is a person's name\n"
            "2. Jaime | True | PER | is a person's name\n",
            strip_normalizer,
            [("Jean Jacques", "PER"), ("Jaime", "PER")],
        ),
        (
            "1. Jean Jacques | True | per | is a person's name\n"
            "2. Jaime | True | per | is a person's name\n",
            strip_normalizer,
            [],
        ),
        (
            "1. Jean Jacques | True | per | is a person's name\n"
            "2. Jaime | True | per | is a person's name\n",
            None,
            [("Jean Jacques", "PER"), ("Jaime", "PER")],
        ),
        (
            "1. Jean Jacques | True | per | is a person's name\n"
            "2. Jaime | True | per | is a person's name\n"
            "3. library | True | Org | is a organization\n",
            lowercase_normalizer,
            [("Jean Jacques", "PER"), ("Jaime", "PER"), ("library", "ORG")],
        ),
        (
            "1. Jean Jacques | True | per | is a person's name\n"
            "2. Jaime | True | per | is a person's name\n"
            "3. Jaime | True | RANDOM | is an entity\n",
            lowercase_normalizer,
            [("Jean Jacques", "PER"), ("Jaime", "PER")],
        ),
    ],
)
def test_ner_labels(response, normalizer, gold):
    assert _ents(NER_TEXT, response, normalizer) == gold


@pytest.mark.parametrize(
    "response,alignment_mode,gold",
    [
        ("1. Jacq | True | PER | is a person's name", "strict", []),
        ("1. Jacq | True | PER | is a person's name", "contract", []),
        ("1. Jacq | True | PER | is a person's name", "expand", [("Jacques", "PER")]),
        ("1. Jean J | True | PER | is a person's name", "contract", [("Jean", "PER")]),
        (
            "1. Jean Jacques | True | PER | is a person's name",
            "strict",
            [("Jean Jacques", "PER")],
        ),
        ("1. random | True | PER | is a person's name", "expand", []),
    ],
)
def test_ner_alignment(response, alignment_mode, gold):
    assert _ents(NER_TEXT, response, alignment_mode=alignment_mode) == gold


def test_invalid_alignment_mode():
    with pytest.raises(ValueError, match="Unsupported alignment mode 'invalid"):
        _ents(NER_TEXT, "1. x | True | PER | y", alignment_mode="invalid")


@pytest.mark.parametrize(
    "response,case_sensitive,gold",
    [
        ("1. Jean | True | PER | is a person's name", False, [("jean", "PER")]),
        ("1. Jean | True | PER | is a person's name", True, [("Jean", "PER")]),
        (
            "1. jean | True | PER | is a person's name\n"
            "2. Jean | True | PER | is a person's name\n"
            "3. Jean Foundation | True | ORG | is the name of an Organization name",
            False,
            [("jean", "PER"), ("Jean", "PER"), ("Jean Foundation", "ORG")],
        ),
    ],
)
def test_ner_matching(response, case_sensitive, gold):
    text = "This guy jean (or Jean) is the president of the Jean Foundation."
    assert _ents(text, response, case_sensitive_matching=case_sensitive) == gold


@pytest.mark.parametrize(
    "text,response,gold",
    [
        (
            "The woman Paris was walking around in Paris, talking to her friend Paris",
            "1. Paris | True | PER | is the name of the woman\n"
            "2. Paris | True | LOC | is a city in France\n"
            "3. Paris | True | PER | is the name of the woman\n",
            [("Paris", "PER"), ("Paris", "LOC"), ("Paris", "PER")],
        ),
        (
            "Walking around Paris as a woman named Paris is quite a trip.",
            "1. Paris | True | LOC | is a city in France\n"
            "2. Paris | True | PER | is the name of the woman\n",
            [("Paris", "LOC"), ("Paris", "PER")],
        ),
    ],
)
def test_regression_repeated_surface(text, response, gold):
    label_dict = build_label_dict(["PER", "LOC"])
    reasons = extract_span_reasons_cot(response, label_dict)
    assert len(reasons) == len(gold)
    assert _ents(text, response) == gold


def test_regression_comma_in_entity():
    text = "FooBar, Inc. is a large organization in the U.S."
    response = (
        "1. FooBar, Inc. | True | ORG | is the name of an organization\n"
        "2. U.S. | True | LOC | is a country\n"
    )
    label_dict = build_label_dict(["ORG", "LOC"])
    spans = parse_ner_v3(text, response, label_dict)
    got = [(text[s:e], label) for s, e, label in filter_spans(spans)]
    assert got == [("FooBar, Inc.", "ORG"), ("U.S.", "LOC")]


# -- REL ---------------------------------------------------------------------


def test_rel_bounds_filter():
    # doc with 1 entity: dest index 0 kept, dest index 1 dropped
    assert parse_rel_response('{"dep": 0, "dest": 0, "relation": "LivesIn"}', 1) == [
        (0, 0, "LivesIn")
    ]
    assert parse_rel_response('{"dep": 0, "dest": 1, "relation": "LivesIn"}', 1) == []


def test_rel_ent_prefix_and_malformed():
    resp = '{"dep": "ENT0", "dest": "ENT1", "relation": "Visits"}\nnot json\n'
    assert parse_rel_response(resp, 2) == [(0, 1, "Visits")]


# -- EL ----------------------------------------------------------------------


def test_el_solution_parse():
    resp = "REASONING: blah\nSOLUTION:\n*Boston* ::: <Q100>\n*Boston Celtics* ::: <Q131371>\n*Foo* ::: <NIL>"
    assert parse_el_solutions(resp) == ["Q100", "Q131371", "NIL"]


def test_el_attach_with_auto_nil():
    # 3 ents, middle one auto-niled (not in prompt)
    assert attach_el_solutions([True, False, True], ["Q1", "Q2"]) == ["Q1", "NIL", "Q2"]
    # count mismatch -> None (doc invalid, F9)
    assert attach_el_solutions([True, True], ["Q1"]) is None


def test_allow_overlap_same_occurrence_multiple_labels():
    """SpanCat doc.spans may assign several labels to ONE occurrence; the
    per-(surface, label) cursor resolves both to the same span position."""
    from spacy_llm_spark.functions.response_parsers import SpanReason, find_spans_cot

    text = "use the wok now"
    reasons = [
        SpanReason(text="wok", is_entity=True, label="TOOL", reason="r"),
        SpanReason(text="wok", is_entity=True, label="EQUIPMENT", reason="r"),
    ]
    spans = find_spans_cot(text, reasons, allow_overlap=True)
    assert (8, 11, "TOOL") in spans
    assert (8, 11, "EQUIPMENT") in spans


# --------------------------------------------------------------------------
# SpanCat overlap cursor disciplines (ADVICE r2: reference-parity mode)
# --------------------------------------------------------------------------


def _reasons(lines, label="X"):
    from spacy_llm_spark.functions.response_parsers import SpanReason

    return [SpanReason(text=t, is_entity=True, label=label, reason="r") for t in lines]


def test_overlap_reference_mode_matches_reference_cursor():
    """Reference semantics (span/parser.py:152): after appending a span the
    cursor rewinds to span.start_char, so overlapping in-order lines all
    resolve, but an out-of-order earlier span is dropped."""
    from spacy_llm_spark.functions.response_parsers import find_spans_cot

    text = "a b c"
    # out-of-order: 'c' first, then 'a' -> reference drops 'a'
    got = find_spans_cot(
        text, _reasons(["c", "a"]), allow_overlap=True, overlap_mode="reference"
    )
    assert got == [(4, 5, "X")]
    # per-surface keeps both (intentional divergence)
    got = find_spans_cot(
        text, _reasons(["c", "a"]), allow_overlap=True, overlap_mode="per_surface"
    )
    assert got == [(0, 1, "X"), (4, 5, "X")]


def test_overlap_reference_mode_resolves_nested_in_order():
    from spacy_llm_spark.functions.response_parsers import find_spans_cot

    text = "new york city hall"
    reasons = _reasons(["new york city hall", "new york city", "new york"])
    got = find_spans_cot(
        text, reasons, allow_overlap=True, overlap_mode="reference"
    )
    # cursor rewinds to start each time -> all nested spans found
    assert got == [(0, 8, "X"), (0, 13, "X"), (0, 18, "X")]


def test_overlap_mode_validation():
    import pytest

    from spacy_llm_spark.functions.response_parsers import find_spans_cot

    with pytest.raises(ValueError, match="overlap mode"):
        find_spans_cot("a", [], allow_overlap=True, overlap_mode="bogus")
