"""End-to-end KG-construction pipeline (the `assemble(config)` analog, S9).

    corpus (repo, path, commit, lang, content, content_sha256)
      -> [checkpoint anti-join] extraction: NER -> REL -> EL in ONE narrow
         mapInPandas pass (default), or three staged passes (fused=False)
      -> mentions / relations / links / edges tables (native explodes)
      -> canonicalize (salted groupBy + connected components)
      -> vertices / canonical edges + metrics

Extraction is narrow: the corpus is read once, partitioning is preserved
end-to-end, and the only shuffles in the whole job are (a) the optional
checkpoint anti-join and dedup (one content-keyed checkpoint for the fused
pass, one per stage when staged; the dedup spreads the work over
``defaultParallelism`` partitions), (b) the explodes' downstream
aggregations, and (c) canonicalization. ``_task_args`` is the one place
per-task arguments are built from ``KGConfig``; both paths use it.

The annotated frame is materialized once (``cut_lineage``) with or
without a checkpoint — with one, that is the checkpoint read-back (store
read, dedup, key join) — so the output tables do not re-run it, and the
triple count is an observation on that cut (no job of its own).
"""

from __future__ import annotations

import dataclasses
import json
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .kb import CODE_NER_DICT, CODE_REL_RULES, KnowledgeBase, build_code_kb
from .operators import canonicalize as canon
from .operators import el as el_op
from .operators import materialize as mat
from .operators import ner as ner_op
from .operators import rel as rel_op
from .fs import cut_lineage
from .operators.checkpoint import CheckpointManager, observed_rows


@dataclass
class KGConfig:
    """Job config (JSON-serializable; the config-file analog of S8/S9)."""

    labels: tuple = ("OP", "TABLE", "SYS")
    rel_labels: tuple = tuple(sorted(set(CODE_REL_RULES.values())))
    ner_dictionary: dict = field(default_factory=lambda: dict(CODE_NER_DICT))
    rel_rules: dict = field(
        default_factory=lambda: {f"{a}|{b}": p for (a, b), p in CODE_REL_RULES.items()}
    )
    top_n_candidates: int = 5
    auto_nil: bool = True
    context_length: Optional[int] = None
    checkpoint_dir: Optional[str] = None
    # True = one NER->REL->EL pass with one checkpoint; False = three staged
    # passes with INDEPENDENT checkpoints. Same kernels, same output columns
    # ents/rels/kb_ids (staged keeps content and names io ner_io/rel_io/el_io)
    fused: bool = True
    span_format: str = "cot"  # 'cot' (NER v3) | 'v2' (LABEL: phrase lines)
    allow_overlap: bool = False  # True = SpanCat semantics (overlapping spans)
    micro_batches: Optional[int] = None  # per-partition checkpoint granularity
    save_io: bool = False  # retain raw prompt/response columns (llm_io)
    # few-shot prompt examples (driver-side constants, broadcast into the
    # render kernels; load with sources.readers.fewshot_reader)
    ner_examples: Optional[list] = None
    rel_examples: Optional[list] = None
    el_examples: Optional[list] = None
    label_definitions: Optional[dict] = None

    def ner_model_spec(self) -> dict:
        name = "dict_ner_v2" if self.span_format == "v2" else "dict_ner"
        return {"name": name, "dictionary": self.ner_dictionary}

    def rel_model_spec(self) -> dict:
        return {"name": "rule_rel", "rules": self.rel_rules}

    def el_model_spec(self) -> dict:
        return {"name": "top_candidate_el"}

    def to_json(self) -> str:
        """S8 serde: every field as JSON (round-trips via from_json)."""
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, payload: str) -> "KGConfig":
        data = json.loads(payload)
        data["labels"] = tuple(data["labels"])
        data["rel_labels"] = tuple(data["rel_labels"])
        return cls(**data)

    def fingerprint_config(self) -> dict:
        """Checkpoint identity: every field that shapes a prompt, a parse
        or the persisted annotation schema."""
        return {
            "labels": list(self.labels),
            "rel_labels": list(self.rel_labels),
            "ner_dictionary": self.ner_dictionary,
            "rel_rules": self.rel_rules,
            "top_n": self.top_n_candidates,
            "auto_nil": self.auto_nil,
            "context_length": self.context_length,
            "span_format": self.span_format,
            "allow_overlap": self.allow_overlap,
            # save_io changes the persisted annotation schema, so it is
            # part of the checkpoint identity
            "save_io": self.save_io,
            "ner_examples": self.ner_examples,
            "rel_examples": self.rel_examples,
            "el_examples": self.el_examples,
            "label_definitions": self.label_definitions,
        }


@dataclass
class KGResult:
    annotated: DataFrame
    mentions: DataFrame
    relations: DataFrame
    links: DataFrame
    edges: DataFrame
    vertices: DataFrame
    canonical_edges: DataFrame
    n_triples: int = -1
    wall_secs: float = -1.0
    metrics: Optional[DataFrame] = None


def _task_args(cfg: KGConfig, kb: KnowledgeBase) -> dict:
    """Task name -> keyword arguments of its staged operator, from ``cfg``:
    the one place the fused, staged and staged-checkpoint paths take the
    per-task arguments from."""
    shared = {"context_length": cfg.context_length}
    return {
        "ner": dict(
            model_spec=cfg.ner_model_spec(),
            labels=list(cfg.labels),
            span_format=cfg.span_format,
            allow_overlap=cfg.allow_overlap,
            definitions=cfg.label_definitions,
            examples=cfg.ner_examples,
            **shared,
        ),
        "rel": dict(
            model_spec=cfg.rel_model_spec(),
            labels=list(cfg.rel_labels),
            examples=cfg.rel_examples,
            **shared,
        ),
        "el": dict(
            model_spec=cfg.el_model_spec(),
            kb=kb,
            top_n=cfg.top_n_candidates,
            auto_nil=cfg.auto_nil,
            examples=cfg.el_examples,
            **shared,
        ),
    }


_STAGES = (
    ("ner", ner_op.extract_mentions),
    ("rel", rel_op.extract_relations),
    ("el", el_op.link_entities),
)


def _annotate_staged(corpus, cfg, kb, run=lambda name, df, fn: fn(df)) -> DataFrame:
    """Chain the staged operators; ``run(name, df, fn)`` applies each stage
    (the checkpoint path wraps it in ``CheckpointManager.run_stage``)."""
    args = _task_args(cfg, kb)
    df = corpus
    for name, op in _STAGES:
        df = run(name, df, lambda d, op=op, kw=args[name]: op(d, save_io=cfg.save_io, **kw))
    return df.drop(ner_op.SHARDS_COL)


def annotate_corpus(
    corpus: DataFrame,
    cfg: KGConfig,
    kb: Optional[KnowledgeBase] = None,
    fused: bool = True,
) -> DataFrame:
    """Run the three extraction stages, returning the corpus with
    ents/rels/kb_ids annotation columns attached (all narrow).

    ``fused=True`` (default) runs NER+REL+EL in ONE mapInPandas pass —
    one Arrow boundary crossing instead of three (R4 pipelining).
    ``fused=False`` chains the standalone stage operators (independent
    checkpoints / resources per stage). Both run the same per-task kernels
    on the same arguments."""
    kb = kb or build_code_kb()
    if fused:
        from .operators.fused import annotate_fused

        return annotate_fused(corpus, save_io=cfg.save_io, **_task_args(cfg, kb))
    return _annotate_staged(corpus, cfg, kb)


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: Optional[KGConfig] = None,
    kb: Optional[KnowledgeBase] = None,
    materialize_canonical: bool = True,
) -> KGResult:
    cfg = cfg or KGConfig()
    kb = kb or build_code_kb()
    t0 = time.time()

    from .plans.validate import validate_stage_chain

    validate_stage_chain(corpus)

    if cfg.checkpoint_dir:
        # Fused: one content-keyed checkpoint for the whole pass. Staged:
        # each task stage owns an INDEPENDENT checkpoint (the reference
        # caches per pipeline component) — a kill between stages resumes
        # with the completed stages as pure cache hits, and stages can be
        # re-run with different cluster resources without invalidating
        # one another.
        ckpt = CheckpointManager(cfg.checkpoint_dir)
        fp = cfg.fingerprint_config()

        def run(name, df, fn):
            config = fp if cfg.fused else {**fp, "stage": name}
            return ckpt.run_stage(
                spark, name, df, fn, config=config, micro_batches=cfg.micro_batches
            )

        if cfg.fused:
            annotated = run("annotate", corpus, lambda df: annotate_corpus(df, cfg, kb))
        else:
            annotated = _annotate_staged(corpus, cfg, kb, run)
    else:
        ckpt = None
        annotated = annotate_corpus(corpus, cfg, kb, fused=cfg.fused)
    # Materialize the annotated frame once — the (narrow, expensive)
    # annotation pass, or with a checkpoint its read-back (store read,
    # dedup, key join); the output tables all re-read it. Row-serialized
    # blocks (localCheckpoint), NOT the columnar cache — InMemoryRelation
    # scans of nested array<struct> columns are several times slower than
    # recomputing (measured). The triple count (one edge per rels element)
    # is observed on the cut itself, so it costs no job of its own.
    obs_triples = Observation()
    annotated = cut_lineage(
        annotated.observe(
            obs_triples, F.expr("coalesce(sum(size(coalesce(rels, array()))), 0)").alias("rows")
        )
    )

    id_cols = ("doc_id", "content_sha256") if "doc_id" in corpus.columns else (
        "content_sha256",
    )
    mentions = mat.mentions_table(annotated, id_cols)
    relations = mat.relations_table(annotated, id_cols)
    links = mat.links_table(annotated, id_cols)
    edges = mat.edges_table(annotated, id_cols)

    if materialize_canonical:
        vertices = canon.canonical_vertices(links)
        canonical_edges = canon.canonical_edges(edges, vertices)
    else:
        vertices = None
        canonical_edges = edges

    n_triples = observed_rows(obs_triples)
    if n_triples is None:
        n_triples = edges.count()
    wall = time.time() - t0
    metrics = ckpt.metrics_df(spark) if ckpt else None
    return KGResult(
        annotated=annotated,
        mentions=mentions,
        relations=relations,
        links=links,
        edges=edges,
        vertices=vertices,
        canonical_edges=canonical_edges,
        n_triples=n_triples,
        wall_secs=wall,
        metrics=metrics,
    )
