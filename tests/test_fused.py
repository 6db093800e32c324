"""Fused stage must be row-identical to the chained ner/rel/el stages."""

import pytest

from spacy_llm_spark.corpus import corpus_from_documents
from spacy_llm_spark.kb import build_code_kb
from spacy_llm_spark.pipeline import KGConfig, annotate_corpus


def _long_docs(spark, sf_dir, n_docs=6, per_doc=8):
    """Long docs: each the concatenation of ``per_doc`` sf documents."""
    import os

    import pyspark.sql.functions as F

    texts = [
        r.text
        for r in spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .orderBy("doc_id")
        .limit(n_docs * per_doc)
        .collect()
    ]
    rows = [
        (i, " ".join(texts[i * per_doc : (i + 1) * per_doc])) for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )


def _fused_and_staged(corpus, cfg, kb):
    """doc_id -> row, for the fused and the staged path."""
    return [
        {r.doc_id: r for r in annotate_corpus(corpus, cfg, kb, fused=f).collect()}
        for f in (True, False)
    ]


def _assert_same_prompts(fused, staged):
    for doc_id, f in fused.items():
        s = staged[doc_id]
        for task in ("ner", "rel", "el"):
            io = getattr(s, f"{task}_io")
            assert f.llm_io[task].prompts == io.prompts, (doc_id, task)
            assert f.llm_io[task].responses == io.responses, (doc_id, task)


@pytest.mark.parametrize("context_length", [None, 80])
def test_fused_matches_unfused(spark, sf_dir, context_length):
    """Both paths run the same kernels and sharding rule: identical
    ents/rels/kb_ids and identical per-task prompts, sharded or not."""
    corpus = _long_docs(spark, sf_dir).cache()
    cfg = KGConfig(context_length=context_length, save_io=True)
    fused, staged = _fused_and_staged(corpus, cfg, build_code_kb())
    assert fused.keys() == staged.keys()
    for doc_id, f in fused.items():
        s = staged[doc_id]
        assert f.ents and f.ents == s.ents
        assert f.rels == s.rels
        assert f.kb_ids == s.kb_ids
    _assert_same_prompts(fused, staged)
    if context_length is not None:
        assert all(len(f.llm_io["ner"].prompts) > 1 for f in fused.values())


def test_staged_prompts_carry_examples_and_definitions(spark, sf_dir):
    """Every prompt input on KGConfig reaches both paths: the staged and
    fused save_io prompts are byte-identical and contain the examples and
    label definitions."""
    corpus = _long_docs(spark, sf_dir, n_docs=3, per_doc=2).cache()
    cfg = KGConfig(
        save_io=True,
        ner_examples=[
            {
                "text": "use join here",
                "spans": [
                    {"text": "join", "is_entity": True, "label": "OP", "reason": "op"}
                ],
            }
        ],
        rel_examples=[
            {
                "text": "spark[ENT0:SYS] join[ENT1:OP]",
                "relations": [{"dep": 0, "dest": 1, "relation": "executes"}],
            }
        ],
        el_examples=[
            {"text": "a *join* b", "mentions": ["join"], "solutions": ["OP_JOIN"]}
        ],
        label_definitions={"OP": "a relational operator"},
    )
    fused, staged = _fused_and_staged(corpus, cfg, build_code_kb())
    _assert_same_prompts(fused, staged)
    for s in staged.values():
        assert "use join here" in s.ner_io.prompts[0]
        assert "OP: a relational operator" in s.ner_io.prompts[0]
        assert "spark[ENT0:SYS] join[ENT1:OP]" in s.rel_io.prompts[0]
        assert "a *join* b" in s.el_io.prompts[0]


def test_fused_with_sharding(spark, sf_dir):
    """Sharded run must find the same mentions and links; relations are
    those whose entity pair lies within one shard (neither engine can see
    cross-shard pairs — reference H3 semantics)."""
    corpus = corpus_from_documents(spark, sf_dir).limit(20).cache()
    kb = build_code_kb()
    # 80 forces NER sharding AND REL/EL sub-sharding (their prompts are
    # longer per shard), while the EL fixed overhead (~50 tokens) still
    # fits a small sub-shard; below ~65 EL legitimately raises — the
    # reference's contract for a prompt that can't fit a 1-token shard
    sharded = {
        r.doc_id: r
        for r in annotate_corpus(corpus, KGConfig(context_length=80), kb).collect()
    }
    plain = {
        r.doc_id: r for r in annotate_corpus(corpus, KGConfig(), kb).collect()
    }
    for doc_id, p in plain.items():
        s = sharded[doc_id]
        assert [e.start for e in s.ents] == [e.start for e in p.ents]
        assert s.kb_ids == p.kb_ids
        s_rels = {(r.dep, r.dest, r.relation) for r in s.rels}
        p_rels = {(r.dep, r.dest, r.relation) for r in p.rels}
        assert s_rels <= p_rels
        # every missing relation straddles a shard boundary: consecutive
        # pair (i, i+1) missing only if i+1 starts a new shard
        missing = p_rels - s_rels
        if missing:
            assert all(dest == dep + 1 for dep, dest, _ in missing)


def test_fused_span_format_v2(spark, sf_dir):
    """v2 span grammar ('LABEL: phrase, phrase') yields the same mentions
    as the CoT grammar for the dictionary corpus."""
    corpus = corpus_from_documents(spark, sf_dir).limit(20).cache()
    kb = build_code_kb()
    v2, cot = (
        {
            r.doc_id: ([tuple(e) for e in r.ents], r.kb_ids)
            for r in annotate_corpus(corpus, KGConfig(span_format=fmt), kb).collect()
        }
        for fmt in ("v2", "cot")
    )
    assert v2 == cot


def test_unfused_with_sharding(spark, sf_dir):
    """The standalone REL/EL stages honor context_length too (per-task
    sub-sharding): mentions and links identical to the unsharded run,
    relations lose only shard-straddling adjacent pairs."""
    corpus = corpus_from_documents(spark, sf_dir).limit(20).cache()
    kb = build_code_kb()
    sharded = {
        r.doc_id: r
        for r in annotate_corpus(
            corpus, KGConfig(context_length=80), kb, fused=False
        ).collect()
    }
    plain = {
        r.doc_id: r
        for r in annotate_corpus(corpus, KGConfig(), kb, fused=False).collect()
    }
    for doc_id, p in plain.items():
        s = sharded[doc_id]
        assert s.ents == p.ents
        assert s.kb_ids == p.kb_ids
        s_rels = {(r.dep, r.dest, r.relation) for r in s.rels}
        p_rels = {(r.dep, r.dest, r.relation) for r in p.rels}
        assert s_rels <= p_rels
        assert all(dest == dep + 1 for dep, dest, _ in p_rels - s_rels)


def test_spancat_stage_overlapping_spans(spark):
    """SpanCat first-class output: overlapping spans survive (doc.spans
    semantics, reference tasks/spancat/task.py:82-88) — the PHRASE span
    overlaps both unigram spans it covers, including repeated tokens."""
    from spacy_llm_spark.operators import spancat

    rows = [(1, "join filter join join end")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = spancat.extract_spans(
        df,
        model_spec={"name": "dict_spancat", "dictionary": {"join": "OP", "filter": "OP"}},
        labels=("OP", "PHRASE"),
    )
    spans = [tuple(s) for s in out.collect()[0].spans]
    assert (0, 4, "OP", "join") in spans
    assert (5, 11, "OP", "filter") in spans
    assert (12, 16, "OP", "join") in spans  # repeated token, 2nd occurrence
    assert (17, 21, "OP", "join") in spans  # repeated token, 3rd occurrence
    assert (0, 11, "PHRASE", "join filter") in spans
    assert (5, 16, "PHRASE", "filter join") in spans
    assert (12, 21, "PHRASE", "join join") in spans  # overlapping repeats
    table = spancat.spans_table(out, ("doc_id",))
    assert table.count() == len(spans)


def test_dict_ner_v2_multi_token_phrases(spark):
    """v2 grammar with multi-token phrases: the P2 parser's multi-word
    find_substrings path driven end-to-end (reference regression class
    tests/tasks/test_ner.py:908-974)."""
    from spacy_llm_spark.operators import ner

    rows = [(1, "use hash join then sort the table")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = ner.extract_mentions(
        df,
        model_spec={
            "name": "dict_ner_v2",
            "dictionary": {"hash join": "OP", "sort": "OP", "table": "TABLE"},
            "phrases": True,
        },
        labels=("OP", "TABLE"),
        span_format="v2",
    )
    ents = [tuple(e) for e in out.collect()[0].ents]
    assert (4, 13, "OP", "hash join") in ents  # multi-token surface, whole
    assert (19, 23, "OP", "sort") in ents
    assert (28, 33, "TABLE", "table") in ents


def test_fused_fewshot_examples_injected_per_partition(spark, sf_dir):
    """north_star: 'few-shot example injection per partition' — examples
    configured on KGConfig must appear in every rendered prompt inside the
    executor kernels (they ride the closure into each partition), and the
    deterministic extraction results stay identical."""
    corpus = corpus_from_documents(spark, sf_dir).limit(10).cache()
    kb = build_code_kb()
    examples = [
        {
            "text": "use join here",
            "spans": [
                {"text": "join", "is_entity": True, "label": "OP", "reason": "op"}
            ],
        }
    ]
    with_ex = annotate_corpus(
        corpus, KGConfig(ner_examples=examples), kb
    ).collect()
    without = annotate_corpus(corpus, KGConfig(), kb).collect()
    assert {r.doc_id: r.ents for r in with_ex} == {
        r.doc_id: r.ents for r in without
    }
    # the example block really reaches the prompt: render path check
    from spacy_llm_spark.templates import render_ner_prompt

    prompt = render_ner_prompt("t", ["OP"], None, examples)
    assert "use join here" in prompt and "1. join | True | OP | op" in prompt


def test_v2_with_overlap_raises(spark):
    """span_format='v2' cannot express overlapping spans — configuring both
    must fail loudly, not silently drop SpanCat semantics."""
    import pytest

    from spacy_llm_spark.operators import ner

    df = spark.createDataFrame([(1, "x")], "doc_id long, content string")
    with pytest.raises(ValueError, match="allow_overlap"):
        ner.extract_mentions(
            df,
            model_spec={"name": "dict_ner_v2", "dictionary": {}},
            labels=("OP",),
            span_format="v2",
            allow_overlap=True,
        )
