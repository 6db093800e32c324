"""NER mention-detection stage (SURVEY.md §3.1 translated to Spark).

``ner_batch`` is the NER kernel — plain lists in, plain lists out, no
Spark — fusing the reference's generate_prompts -> model ->
parse_responses trio (pipeline/llm.py:209-319) per Arrow batch:

    doc -> [shard] -> render prompt -> batched model call
        -> CoT parse (P3) -> align (P4) -> filter_spans (O4) per shard
        -> shift into doc coordinates (A1/H3) -> ents + shard bounds

``extract_mentions`` wraps it in one narrow ``mapInPandas`` (the staged
path); the fused stage chains it with the REL and EL kernels.

Scale properties:
- Narrow: no shuffle anywhere in the stage; partitioning of the corpus is
  preserved, so a 1000-executor scan stays embarrassingly parallel.
- Batched: the model is called once per Arrow batch with every shard
  prompt in it (reference batches 128 docs/request, R3); the model object
  is an executor-local singleton resolved from a JSON spec (X6 pattern).
- Columnar in/out: only ``content`` is read by the kernel; Catalyst prunes
  everything else at the parquet scan.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.normalizers import NORMALIZERS, build_label_dict, split_labels
from ..functions.response_parsers import (
    extract_span_reasons_cot,
    find_spans_cot,
    parse_span_response_v2,
)
from ..model import resolve_model
from ..templates import render_ner_prompt
from ..tokenizer import filter_spans
from .sharding import call_per_doc, io_pairs, make_shards, merge_shard_spans

ENT_TYPE = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("label", StringType()),
            StructField("surface", StringType()),
        ]
    )
)

# save_io payload (reference pipeline/llm.py:295-314: user_data["llm_io"]
# holds per-shard prompt/response string lists per component)
IO_TYPE = StructType(
    [
        StructField("prompts", ArrayType(StringType())),
        StructField("responses", ArrayType(StringType())),
    ]
)

# Staged path only: each doc's NER shard bounds, [[start, end], ...], so the
# REL/EL stages prompt per NER shard exactly as the fused stage does. The
# pipeline drops the column after the EL stage.
SHARDS_COL = "_ner_shards"
SHARDS_TYPE = ArrayType(ArrayType(IntegerType()))

Span = Tuple[int, int, str]


def check_span_format(span_format: str, allow_overlap: bool) -> None:
    """Driver-side argument check shared by the staged and fused NER."""
    if span_format not in ("cot", "v2"):
        raise ValueError(f"Unknown span_format {span_format!r}")
    if span_format == "v2" and allow_overlap:
        raise ValueError(
            "span_format='v2' cannot honor allow_overlap=True: the v2 "
            "grammar resolves phrases with a global non-overlapping cursor "
            "(reference find_substrings semantics). Use the CoT grammar "
            "for SpanCat."
        )


def ner_batch(
    model,
    texts: List[str],
    *,
    labels,
    span_format: str = "cot",
    allow_overlap: bool = False,
    context_length: Optional[int] = None,
    definitions: Optional[dict] = None,
    examples: Optional[list] = None,
) -> Tuple[List[List[Span]], List[List[Tuple[int, int]]], List[dict]]:
    """NER over one batch of docs. Returns, per doc: the ents as
    (start, end, label) in doc coordinates, sorted; the NER shard bounds
    (start, end); and the save_io prompt/response pair.

    ``span_format``: 'cot' parses NER v3 chain-of-thought lines (P3);
    'v2' parses ``LABEL: phrase, phrase`` lines (P2). Spans are
    de-overlapped per shard (``filter_spans``), or only deduplicated
    with ``allow_overlap`` (SpanCat semantics)."""
    label_list = split_labels(labels)
    norm = NORMALIZERS["lowercase"]
    label_dict = build_label_dict(label_list, norm)

    def render(shard_text: str) -> str:
        return render_ner_prompt(shard_text, label_list, definitions, examples)

    def parse(shard_text: str, response: str) -> List[Span]:
        if span_format == "cot":
            reasons = extract_span_reasons_cot(response, label_dict, norm)
            spans = find_spans_cot(shard_text, reasons, allow_overlap=allow_overlap)
        else:
            spans = parse_span_response_v2(
                shard_text, response, label_dict, normalizer=norm
            )
        return sorted(set(spans)) if allow_overlap else filter_spans(spans)

    doc_shards = [
        make_shards(text, context_length, render)
        if context_length is not None
        else [(0, text, render(text))]
        for text in texts
    ]
    doc_prompts = [[p for _, _, p in shards] for shards in doc_shards]
    doc_responses = call_per_doc(model, doc_prompts)
    ents = [
        merge_shard_spans(
            [(off, parse(st, r)) for (off, st, _), r in zip(shards, responses)]
        )
        for shards, responses in zip(doc_shards, doc_responses)
    ]
    bounds = [[(off, off + len(st)) for off, st, _ in shards] for shards in doc_shards]
    return ents, bounds, io_pairs(doc_prompts, doc_responses)


def ent_rows(texts: List[str], ents: List[List[Span]]) -> List[List[dict]]:
    """Kernel ents -> the ``ents`` column value (surface text attached)."""
    return [
        [{"start": s, "end": e, "label": l, "surface": t[s:e]} for s, e, l in doc]
        for t, doc in zip(texts, ents)
    ]


def doc_inputs(pdf: pd.DataFrame, has_shards: bool):
    """(texts, ents, shard bounds) of an Arrow batch for the REL/EL
    kernels. Without the shard column each doc is one unit."""
    texts = [t or "" for t in pdf["content"]]
    ents = [[(e["start"], e["end"], e["label"]) for e in doc] for doc in pdf["ents"]]
    bounds = (
        [[(int(s), int(e)) for s, e in b] for b in pdf[SHARDS_COL]]
        if has_shards
        else [None] * len(texts)
    )
    return texts, ents, bounds


def extract_mentions(
    df: DataFrame,
    *,
    model_spec: dict,
    labels,
    span_format: str = "cot",
    allow_overlap: bool = False,
    context_length: Optional[int] = None,
    definitions: Optional[dict] = None,
    examples: Optional[list] = None,
    out_col: str = "ents",
    save_io: bool = False,
) -> DataFrame:
    """Append an ``ents`` column of aligned, de-overlapped entity spans
    (``ner_batch`` in one narrow mapInPandas) plus the internal
    ``SHARDS_COL`` the staged REL/EL stages read.

    ``save_io=True`` additionally appends ``ner_io`` — the raw per-shard
    prompt/response strings (the reference's save_io option,
    pipeline/llm.py:295-314) for production debugging; off by default
    because the strings dominate the output payload."""
    check_span_format(span_format, allow_overlap)
    task = dict(
        labels=labels,
        span_format=span_format,
        allow_overlap=allow_overlap,
        context_length=context_length,
        definitions=definitions,
        examples=examples,
    )
    out_fields = df.schema.fields + [
        StructField(out_col, ENT_TYPE),
        StructField(SHARDS_COL, SHARDS_TYPE),
    ]
    if save_io:
        out_fields.append(StructField("ner_io", IO_TYPE))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_spec)
        for pdf in batches:
            texts = [t or "" for t in pdf["content"]]
            ents, bounds, io = ner_batch(model, texts, **task)
            out = pdf.copy()
            out[out_col] = ent_rows(texts, ents)
            out[SHARDS_COL] = bounds
            if save_io:
                out["ner_io"] = io
            yield out

    return df.mapInPandas(kernel, schema=StructType(out_fields))
