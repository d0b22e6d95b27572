"""SparkSession factory tuned for this engine.

Local-mode defaults sized by env (SPARK_GRAFT_CPUS, else the host's core
count); on a real cluster the same configs apply per-executor. Design
choices for the 100 TB posture:

  * AQE on (runtime coalesce, skew-join splitting) — at scale the static
    shuffle-partition count is always wrong somewhere.
  * shuffle.partitions matched to parallelism locally; on a cluster this is
    superseded by AQE's coalescing from a high initial number.
  * UTC session timezone — the reference pipeline stamps naive-UTC audit
    times (reference: lambda/ingestion_to_raw.py:25); also keeps timestamp
    semantics identical to the DuckDB oracle.
  * Arrow enabled for any pandas boundary (toPandas / pandas UDFs).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "energy-datalake-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    warehouse = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", os.path.join(tempfile.gettempdir(), "engine-warehouse")
    )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.warehouse.dir", warehouse)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-provided session.

    The driver hands us its own SparkSession; these are the confs that are
    safe to set post-start and that correctness depends on (timezone) or
    performance benefits from (AQE).
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        # events.parquet carries TIMESTAMP(NANOS) which Spark's TimestampType
        # (micros) rejects outright; read nanos as int64 and convert in the
        # events loader (operators/events.py).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — proceed with its value
    return spark
