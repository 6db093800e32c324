"""Fused NER -> REL -> EL extraction stage.

The reference pipelines generate -> model -> parse per task through lazy
generators with zero materialization between steps (R4,
pipeline/llm.py:235-271). The Spark analog of that pipelining is fusing
the three task stages into ONE ``mapInPandas`` pass: the corpus crosses
the JVM<->Python Arrow boundary once instead of three times, and each
Arrow batch runs all three deterministic models locally.

The pass is the composition of the per-task kernels ``ner_batch``,
``rel_batch`` and ``el_batch`` — the same functions the staged operators
wrap — so the fused and staged paths share one sharding rule (REL/EL
prompt per NER shard, H2-H4) and produce identical ents/rels/kb_ids and
save_io prompts, with or without ``context_length`` (tested). Use the
staged operators when stages need independent checkpoints or different
cluster resources.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import MapType, StringType, StructField, StructType

from ..kb import KnowledgeBase
from ..model import resolve_model
from .el import LINKS_TYPE, el_batch
from .ner import ENT_TYPE, IO_TYPE, check_span_format, ent_rows, ner_batch
from .rel import REL_TYPE, rel_batch


def annotate_fused(
    df: DataFrame, *, ner: dict, rel: dict, el: dict, save_io: bool = False
) -> DataFrame:
    """Append ents + rels + kb_ids in a single narrow pass.

    ``ner``, ``rel`` and ``el`` are the keyword arguments of
    ``extract_mentions``, ``extract_relations`` and ``link_entities``
    (``save_io`` and ``out_col`` aside).

    The ``content`` column is the kernel's input and is dropped from the
    OUTPUT: the text dominates the Arrow return payload and the downstream
    tables never read it — they carry content_sha256 for parity/joins.

    ``save_io=True`` appends ``llm_io``: map task-name -> per-(sub-)shard
    raw prompt/response string lists, the Spark shape of the reference's
    ``doc.user_data["llm_io"][component]`` retention option
    (pipeline/llm.py:295-314). Off by default — the strings dominate the
    payload and exist only for production debugging/audit.
    """
    ner, rel, el = dict(ner), dict(rel), dict(el)
    specs = [args.pop("model_spec") for args in (ner, rel, el)]
    kb_bc = df.sparkSession.sparkContext.broadcast(el.pop("kb").to_json())
    check_span_format(ner.get("span_format", "cot"), ner.get("allow_overlap", False))
    out_fields = [f for f in df.schema.fields if f.name != "content"] + [
        StructField("ents", ENT_TYPE),
        StructField("rels", REL_TYPE),
        StructField("kb_ids", LINKS_TYPE),
    ]
    if save_io:
        out_fields.append(StructField("llm_io", MapType(StringType(), IO_TYPE)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ner_model, rel_model, el_model = (resolve_model(s) for s in specs)
        local_kb = KnowledgeBase.from_json(kb_bc.value)
        for pdf in batches:
            texts = [t or "" for t in pdf["content"]]
            ents, bounds, ner_io = ner_batch(ner_model, texts, **ner)
            rels, rel_io = rel_batch(rel_model, texts, ents, bounds, **rel)
            kb_ids, el_io = el_batch(el_model, local_kb, texts, ents, bounds, **el)
            out = pdf.drop(columns=["content"])
            out["ents"] = ent_rows(texts, ents)
            out["rels"] = rels
            out["kb_ids"] = kb_ids
            if save_io:
                out["llm_io"] = [
                    {"ner": n, "rel": r, "el": e}
                    for n, r, e in zip(ner_io, rel_io, el_io)
                ]
            yield out

    return df.mapInPandas(kernel, schema=StructType(out_fields))
