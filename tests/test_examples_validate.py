"""Plan validation (X7) and SpanCat overlap semantics."""

import pytest

from spacy_llm_spark.functions.response_parsers import find_spans_cot, SpanReason
from spacy_llm_spark.plans.validate import (
    PlanValidationError,
    require_columns,
    require_ents_schema,
    validate_stage_chain,
)


# -- X7 validation ------------------------------------------------------------


def test_require_columns(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, content string")
    require_columns(df, "ner")
    with pytest.raises(PlanValidationError, match="missing"):
        require_columns(df, "rel")


def test_validate_stage_chain(spark):
    bad = spark.createDataFrame([(1, "x")], "doc_id long, content string")
    with pytest.raises(PlanValidationError, match="content_sha256"):
        validate_stage_chain(bad)


def test_require_ents_schema(spark):
    good = spark.createDataFrame(
        [(1, [])],
        "doc_id long, ents array<struct<start:int,end:int,label:string,surface:string>>",
    )
    require_ents_schema(good)
    bad = spark.createDataFrame([(1, ["a"])], "doc_id long, ents array<string>")
    with pytest.raises(PlanValidationError):
        require_ents_schema(bad)


# -- SpanCat: allow_overlap keeps overlapping spans ---------------------------


def test_allow_overlap_spancat_semantics():
    text = "New York City"
    reasons = [
        SpanReason("New York", True, "GPE", "r"),
        SpanReason("York City", True, "GPE", "r"),
    ]
    overlapping = find_spans_cot(text, reasons, allow_overlap=True)
    assert overlapping == [(0, 8, "GPE"), (4, 13, "GPE")]
    exclusive = find_spans_cot(text, reasons, allow_overlap=False)
    assert exclusive == [(0, 8, "GPE")]
