"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (and to behave well on
local[N] test runs):

- AQE on (runtime coalescing, skew-join splitting) — the reference handles
  no skew at all (single machine); we rely on AQE per BASELINE.json
  north_rule.
- Arrow enabled with a bounded batch size: every expensive kernel is an
  Arrow-batched pandas UDF (the reference's minibatch=128 analog,
  spacy_llm/pipeline/llm.py:195).
- shuffle partitions sized for local runs; cluster deployments override
  via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spacy-llm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Annotation tables explode ~30-40 rows per input row: bytes-on-disk
        # understate downstream work by that factor, so a default 128 MB
        # split turns a 100 MB checkpoint into ONE task. 16 MB keeps
        # post-explode partitions core-sized (measured: the canonical-edge
        # write went from serial to partition-parallel).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str):
    """A small driver-built table as a DataFrame over an Arrow
    ``LocalRelation``: reading it runs no Spark job, and Catalyst knows
    its size (so plan-time broadcast gates see it as small).
    ``createDataFrame(list_of_tuples, schema)`` would instead build a
    Python RDD that every read re-runs as a job. ``rows`` are tuples in
    ``schema`` order (a DDL string)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    columns = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [list(c) for c in columns], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, schema=struct)
