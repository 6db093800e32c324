"""Driver-side kernel sampler: the per-document work of the fused
extraction kernel, timed one kernel at a time on one core.

It calls the package's public functions directly, on a fixed sample of
the workload's documents, task by task as ``operators.fused`` does (NER,
then REL over the NER spans, then EL), but one kernel layer at a time so
each layer is timed alone. Counting goes through wrappers passed in as
arguments (the ``render`` callables given to the splitters, a KB proxy);
the package is not patched.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from typing import Callable, Dict, List

from spacy_llm_spark.functions.normalizers import NORMALIZERS, build_label_dict, split_labels
from spacy_llm_spark.functions.response_parsers import (
    attach_el_solutions,
    extract_span_reasons_cot,
    find_spans_cot,
    parse_el_solutions,
    parse_rel_response,
)
from spacy_llm_spark.kb import NIL, KnowledgeBase, build_code_kb
from spacy_llm_spark.model import resolve_model
from spacy_llm_spark.operators.el import build_el_prompt
from spacy_llm_spark.operators.rel import preannotate
from spacy_llm_spark.operators.sharding import make_shards, shard_for_task
from spacy_llm_spark.pipeline import KGConfig
from spacy_llm_spark.templates import render_ner_prompt, render_rel_prompt
from spacy_llm_spark.tokenizer import filter_spans

MIN_SAMPLE_S = 0.5  # repeat the sample until this much time was measured
MAX_PASSES = 25


class Clock:
    """Accumulated seconds per kernel name."""

    def __init__(self):
        self.seconds: Dict[str, float] = {}

    def wrap(self, name: str, fn: Callable) -> Callable:
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, time.perf_counter() - t0)

        return timed

    def add(self, name: str, value: float) -> None:
        self.seconds[name] = self.seconds.get(name, 0.0) + value


@contextmanager
def _no_span(_name):
    yield


class TimedKB:
    """KnowledgeBase proxy that times and counts candidate lookups."""

    def __init__(self, kb: KnowledgeBase, clock: Clock):
        self._get = clock.wrap("kb.candidates", kb.get_candidates)
        self.candidates = 0

    def get_candidates(self, mention: str, top_n: int = 5):
        out = self._get(mention, top_n)
        self.candidates += len(out)
        return out


def _one_pass(texts: List[str], cfg: KGConfig, kb_json: str, span) -> Dict[str, float]:
    """One pass over the sample, one kernel layer at a time per task:
    split (``operators.sharding``, only with a context length), render
    the accepted prompts (``templates``), one batched model call
    (``model``), parse (``functions.response_parsers``); EL first looks
    up every mention's candidates (``kb``)."""
    clock = Clock()
    ctx = cfg.context_length
    labels = split_labels(list(cfg.labels))
    rel_labels = split_labels(list(cfg.rel_labels))
    norm = NORMALIZERS["lowercase"]
    label_dict = build_label_dict(labels, norm)
    # fresh models and KB per pass: the executor kernel builds them per task
    models = {
        "ner": resolve_model(cfg.ner_model_spec()),
        "rel": resolve_model(cfg.rel_model_spec()),
        "el": resolve_model(cfg.el_model_spec()),
    }
    kb = KnowledgeBase.from_json(kb_json)
    el_flags: dict = {}

    def ner_prompt(t, _spans=None):
        return render_ner_prompt(t, labels, cfg.label_definitions, cfg.ner_examples)

    def rel_prompt(t, sp):
        return render_rel_prompt(preannotate(t, sp), rel_labels, examples=cfg.rel_examples)

    def el_prompt(t, sp):
        prompt, in_prompt = build_el_prompt(
            t, sp, kb, cfg.top_n_candidates, cfg.auto_nil, cfg.el_examples or []
        )
        el_flags[(t, tuple(sp))] = in_prompt
        return prompt

    attempts = {"n": 0}

    def counting(render):
        def wrapped(*args):
            attempts["n"] += 1
            return render(*args)

        return wrapped

    def make_doc_shards(t, _spans, render):
        return [(st, None) for _, st, _ in make_shards(t, ctx, render)]

    def make_task_shards(t, sp, render):
        return [(st, lsp) for _, st, lsp, _ in shard_for_task(t, sp, ctx, render)]

    def run_task(task, units, render, split, split_name):
        """units: [(text, spans)] -> [(text, spans, response)]"""
        if ctx is None:
            parts = units
        else:
            with span("operators.sharding"):
                parts = clock.wrap(f"sharding.{split_name}", lambda: [
                    part for t, sp in units for part in split(t, sp, counting(render))
                ])()
        with span("templates"):
            prompts = clock.wrap(f"templates.{task}", lambda: [render(t, sp) for t, sp in parts])()
        with span("model"):
            responses = clock.wrap(f"model.{task}", models[task])(prompts)
        return [(t, sp, r) for (t, sp), r in zip(parts, responses)]

    ner = run_task("ner", [(t, None) for t in texts], ner_prompt, make_doc_shards, "make_shards")
    with span("functions.response_parsers"):
        t0 = time.perf_counter()
        shards = [
            (st, filter_spans(find_spans_cot(st, extract_span_reasons_cot(r, label_dict, norm))))
            for st, _, r in ner
        ]
        clock.add("response_parsers.ner", time.perf_counter() - t0)
    accepted = len(ner) if ctx is not None else 0

    rel = run_task("rel", shards, rel_prompt, make_task_shards, "shard_for_task")
    with span("functions.response_parsers"):
        t0 = time.perf_counter()
        n_rels = sum(len(parse_rel_response(r, len(sp))) for _, sp, r in rel)
        clock.add("response_parsers.rel", time.perf_counter() - t0)

    # candidate lookups alone, on a fresh KB (EL rendering repeats them
    # against its own KB, as the kernel does)
    lookups = TimedKB(KnowledgeBase.from_json(kb_json), clock)
    with span("kb"):
        for st, sp in shards:
            for s, e, _ in sp:
                lookups.get_candidates(st[s:e], cfg.top_n_candidates)
    el = run_task("el", shards, el_prompt, make_task_shards, "shard_for_task")
    with span("functions.response_parsers"):
        t0 = time.perf_counter()
        n_links = 0
        for t, sp, r in el:
            attached = attach_el_solutions(el_flags[(t, tuple(sp))], parse_el_solutions(r))
            n_links += sum(1 for k in (attached or []) if k != NIL)
        clock.add("response_parsers.el", time.perf_counter() - t0)
    if ctx is not None:
        accepted += len(rel) + len(el)

    n = len(texts)
    us = {name: 1e6 * s / n for name, s in clock.seconds.items()}
    return {
        "templates.ner_render_us": us["templates.ner"],
        "templates.rel_render_us": us["templates.rel"],
        "templates.el_render_us": us["templates.el"],
        "model.ner_call_us": us["model.ner"],
        "model.rel_call_us": us["model.rel"],
        "model.el_call_us": us["model.el"],
        "response_parsers.ner_parse_us": us["response_parsers.ner"],
        "response_parsers.rel_parse_us": us["response_parsers.rel"],
        "response_parsers.el_parse_us": us["response_parsers.el"],
        "kb.candidates_us": us.get("kb.candidates", 0.0),
        "kb.candidates_per_doc": lookups.candidates / n,
        "sharding.make_shards_us": us.get("sharding.make_shards", 0.0),
        "sharding.shard_for_task_us": us.get("sharding.shard_for_task", 0.0),
        "sharding.shards_per_doc": (len(ner) / n) if ctx is not None else 0.0,
        "sharding.renders_per_shard": (attempts["n"] / accepted) if accepted else 0.0,
        "sharding.accept_ratio": (accepted / attempts["n"]) if accepted else 0.0,
        "fused.ner_prompts_per_doc": len(ner) / n,
        "fused.rel_prompts_per_doc": len(rel) / n,
        "fused.el_prompts_per_doc": len(el) / n,
        # output checksums: every pass must agree
        "_rels": n_rels,
        "_links": n_links,
    }


def sample_kernels(texts: List[str], cfg: KGConfig, tracer=None) -> Dict[str, float]:
    """Median over repeated passes of per-document kernel costs (µs per
    document) and counts, on ``texts``."""
    kb_json = build_code_kb().to_json()
    span = tracer.span if tracer is not None else _no_span
    passes: List[Dict[str, float]] = []
    spent = 0.0
    while (spent < MIN_SAMPLE_S or len(passes) < 3) and len(passes) < MAX_PASSES:
        t0 = time.perf_counter()
        with span("kernels"):
            passes.append(_one_pass(texts, cfg, kb_json, span))
        spent += time.perf_counter() - t0
    for key in ("_rels", "_links"):
        if len({p[key] for p in passes}) != 1:
            raise RuntimeError(f"kernel sampler passes disagree on {key}")
    return {
        key: statistics.median(p[key] for p in passes)
        for key in passes[0]
        if not key.startswith("_")
    }
