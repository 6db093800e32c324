"""spacy_llm_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the query/data-processing capabilities of explosion/spacy-llm
(v0.7.4) as Spark DataFrame plans with Arrow-batched pandas UDF kernels.
This is a from-scratch Spark-first design, not a port: the reference's
lazy generator pipeline becomes narrow mapInPandas stages, its
broadcast-dict lookups become broadcast joins, its batch cache becomes
checkpoint tables probed with anti-joins.

Layout
------
- ``pipeline``            the KG job: KGConfig, annotate_corpus, run_pipeline
- ``operators.fused`` / ``ner`` / ``rel`` / ``el``
                          per-task batch kernels and the fused extraction pass
- ``operators.sharding``  context-length sharding of prompts
- ``operators.checkpoint`` content-addressed per-stage checkpoint
- ``operators.materialize`` / ``canonicalize``
                          mentions/links/edges tables, vertices, canonical edges
- ``operators.*``         graph / reason / dedup / similarity / audit /
                          fusion / temporal / kgembed / scoring / spancat
                          (legacy driver queries)
- ``functions.response_parsers``   response-parser kernels (NER, REL, EL)
- ``functions.normalizers`` label normalizers
- ``functions.text`` / ``functions.rdf``  text analysis, RDF serialization
- ``tokenizer``           deterministic tokenizer + char-span alignment
- ``kb``                  broadcast knowledge base + candidate selection
- ``model``               executor-local deterministic model registry
- ``templates``           prompt renderers (vectorized)
- ``corpus``              deterministic source-code corpus generator
- ``sources``             corpus readers, table sinks, bucketed tables
- ``fs``                  Hadoop-FS metadata I/O + lineage-cut policy
                          (``configure_lineage`` for fault-tolerant
                          checkpoints on real clusters)
"""

__version__ = "0.1.0"

from . import fs  # noqa: F401
from .fs import configure_lineage, cut_lineage  # noqa: F401
from .session import get_spark  # noqa: F401
