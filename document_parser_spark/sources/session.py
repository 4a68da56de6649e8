"""SparkSession factory tuned for the engine.

Local mode is the test harness; the same configs are what we'd submit to a
real cluster (spark-submit --py-files, see jobs/extract_job.py).  AQE handles
runtime skew-join/coalesce; Arrow batch size is capped so one pathological
multi-MB document can't blow up a single Arrow batch (SURVEY.md §4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Rows per Arrow batch entering the parse UDF.  Measured: 256 serializes the
#: pipeline on IPC round-trips at high core counts; 2048 amortizes them while
#: expected batch bytes stay ~MBs (oversize docs are routed to segmentation
#: before they can blow a batch up).
ARROW_BATCH_ROWS = 2048


def get_spark(
    app_name: str = "document_parser_spark",
    cpus: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # ~2× cores: enough slots for AQE to coalesce, not enough to drown
    # tiny local runs in task overhead.
    shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def sf_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def load_table(spark: SparkSession, sf_dir: str, table: str):
    return spark.read.parquet(sf_path(sf_dir, table))
