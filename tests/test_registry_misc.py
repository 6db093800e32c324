"""Retry policy, annotation merge, config serde and multi-token
dictionary NER."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from spacy_llm_spark.model import resolve_model, with_retry
from spacy_llm_spark.operators.materialize import merge_annotations
from spacy_llm_spark.pipeline import KGConfig


def test_with_retry_recovers_and_exhausts():
    calls = {"n": 0}

    def flaky(prompts):
        calls["n"] += 1
        if calls["n"] < 3:
            raise TimeoutError("transient")
        return ["ok"] * len(prompts)

    wrapped = with_retry(flaky, max_tries=5, base_interval=0.001)
    assert wrapped(["p"]) == ["ok"]
    assert calls["n"] == 3

    def always_fails(prompts):
        raise ConnectionError("down")

    wrapped2 = with_retry(always_fails, max_tries=2, base_interval=0.001)
    with pytest.raises(ConnectionError):
        wrapped2(["p"])


def test_merge_annotations(spark):
    schema = (
        "content_sha256 string, ents array<struct<start:int,end:int,label:string,surface:string>>, "
        "rels array<struct<dep:int,dest:int,relation:string>>"
    )
    old = spark.createDataFrame(
        [("a", [{"start": 0, "end": 1, "label": "X", "surface": "x"}], None)], schema
    )
    new = spark.createDataFrame(
        [("a", None, [{"dep": 0, "dest": 0, "relation": "R"}]), ("b", [], [])], schema
    )
    merged = {r.content_sha256: r for r in merge_annotations(new, old, annotation_cols=("ents", "rels")).collect()}
    # null new ents -> old preserved (M8); new rels win
    assert merged["a"].ents[0].label == "X"
    assert merged["a"].rels[0].relation == "R"
    assert merged["b"].ents == []


def test_kgconfig_json_round_trip():
    cfg = KGConfig(top_n_candidates=2, span_format="v2", context_length=128)
    back = KGConfig.from_json(cfg.to_json())
    assert back == cfg
    # every field set away from its default survives the round trip
    full = KGConfig(
        labels=("OP",),
        rel_labels=("executes",),
        ner_dictionary={"join": "OP"},
        rel_rules={"SYS|OP": "executes"},
        top_n_candidates=3,
        auto_nil=False,
        context_length=256,
        checkpoint_dir="/tmp/ck",
        fused=False,
        span_format="v2",
        allow_overlap=True,
        micro_batches=4,
        save_io=True,
        ner_examples=[{"text": "a join", "spans": []}],
        rel_examples=[{"text": "a join", "relations": []}],
        el_examples=[{"text": "a *join*", "mentions": [], "solutions": []}],
        label_definitions={"OP": "an operator"},
    )
    defaults = KGConfig()
    assert all(
        getattr(full, f.name) != getattr(defaults, f.name)
        for f in dataclasses.fields(KGConfig)
    )
    assert KGConfig.from_json(full.to_json()) == full


def test_multi_token_dictionary_ner():
    model = resolve_model(
        {"name": "dict_ner", "dictionary": {"Boston": "LOC", "Boston Celtics": "ORG"}}
    )
    from spacy_llm_spark.templates import render_ner_prompt

    text = "Alice goes to Boston to see the Boston Celtics game."
    (resp,) = model([render_ner_prompt(text, ["LOC", "ORG"])])
    assert resp.splitlines() == [
        "1. Boston | True | LOC | matches dictionary",
        "2. Boston Celtics | True | ORG | matches dictionary",
    ]
    # full parse path resolves both spans at the right offsets
    from spacy_llm_spark.functions.normalizers import build_label_dict
    from spacy_llm_spark.functions.response_parsers import parse_ner_v3

    spans = parse_ner_v3(text, resp, build_label_dict(["LOC", "ORG"]))
    assert [(text[s:e], l) for s, e, l in spans] == [
        ("Boston", "LOC"),
        ("Boston Celtics", "ORG"),
    ]
    assert spans == [(14, 20, "LOC"), (32, 46, "ORG")]
