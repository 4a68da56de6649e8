"""Checkpoint-resume + lineage metrics (north_rule; SURVEY.md §4.3).

Batch-level idempotency without Structured Streaming:

  * every document gets a STABLE bucket: ``pmod(xxhash64(doc_id), B)`` —
    input-derived, so identical across runs and cluster sizes (never
    ``spark_partition_id``, which is placement-dependent);
  * outputs are written ``partitionBy(bucket)`` with dynamic partition
    overwrite — re-processing a bucket REPLACES it (the local-parquet
    stand-in for Iceberg ``overwritePartitions``; swap the writer for
    ``.format("iceberg")`` when the runtime has the jar);
  * one metrics/lineage row per (run_id, bucket) is written under a
    ``run_id=…/partition_key=…`` directory — overwrite-by-partition means
    retries can never duplicate a row (MERGE-like exactly-once);
  * on restart, buckets already present in the metrics table for this
    run_id are anti-joined away: only unfinished work re-runs.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def with_bucket(df: DataFrame, num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, metrics_dir: str, run_id: str) -> set[int]:
    """Buckets whose lineage row exists for this run — the resume manifest."""
    try:
        m = spark.read.parquet(metrics_dir)
    except Exception:
        return set()
    rows = (
        m.filter(F.col("run_id") == run_id)
        .select("partition_key")
        .distinct()
        .collect()
    )
    return {r["partition_key"] for r in rows}


def select_unfinished(
    spark: SparkSession,
    metrics_dir: str,
    run_id: str,
    buckets: DataFrame,
    max_buckets_this_run: int | None,
) -> tuple[set[int], Column]:
    """The resume manifest's work selection, shared by every bucketed job:
    the buckets this run already finished, and a predicate on ``bucket``
    that keeps the unfinished ones.  ``max_buckets_this_run`` (crash
    simulation for resume tests) narrows it to the first N unfinished
    buckets in order; only then is ``buckets`` — any frame with a
    ``bucket`` column — collected."""
    done = completed_buckets(spark, metrics_dir, run_id)
    keep = ~F.col("bucket").isin(sorted(done)) if done else F.lit(True)
    if max_buckets_this_run is not None:
        remaining = sorted(
            r["bucket"] for r in buckets.filter(keep).select("bucket").distinct().collect()
        )[:max_buckets_this_run]
        keep = F.col("bucket").isin(remaining)
    return done, keep


def lineage_metrics(parsed: DataFrame, run_id: str, wall_ms: int) -> DataFrame:
    """One row per bucket: doc/span/table/error counts + doc_id range
    (SURVEY.md §2.6 A7).  Pure aggregation over the parse output — partial
    aggregation map-side, one shuffle on the small bucket key."""
    return parsed.groupBy("bucket").agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("doc_count"),
        F.sum(F.size("spans")).cast("long").alias("span_count"),
        F.sum(F.size("tables")).cast("long").alias("table_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).cast("long").alias("error_count"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.lit(wall_ms).cast("long").alias("wall_ms"),
    ).withColumnRenamed("bucket", "partition_key")


def write_partitioned(df: DataFrame, path: str) -> None:
    """Dynamic partition overwrite by ``bucket``: only the partitions present
    in ``df`` are replaced — idempotent under retry.

    Repartition on the partition column FIRST: from the salted (bucket-
    uncorrelated) task layout, every write task would otherwise hold one
    open columnar writer per bucket value it encounters — up to num_buckets
    writer buffers × num_cores tasks, the classic dynamic-partition-write
    memory blowup (measured: the 1M-doc job's OOM at 16 GiB local[32] was
    this write stage, not the parse).  Clustering by bucket gives each task
    ONE open writer and, on a real cluster, one output file per partition
    instead of cores× fragments."""
    (
        df.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def write_metrics(metrics: DataFrame, metrics_dir: str) -> None:
    (
        metrics.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "partition_key")
        .parquet(metrics_dir)
    )


def run_extraction_checkpointed(
    spark: SparkSession,
    df_input: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = DEFAULT_BUCKETS,
    max_buckets_this_run: int | None = None,
    segment_threshold_chars: int | None = None,
) -> dict:
    """The resumable extraction job.

    ``max_buckets_this_run`` exists for crash-simulation tests: process only
    the first N unfinished buckets, as if the job died mid-run.
    ``segment_threshold_chars`` routes documents above that size through the
    segment-parallel parse (plans/segmentation.py) — identical output,
    bounded task times.  Returns counters for observability.
    """
    from ..operators.extract import assemble_document_text, parse_documents
    from .partitioning import salted_repartition

    spans_dir = os.path.join(out_dir, "document_spans")
    tables_dir = os.path.join(out_dir, "tables")
    metrics_dir = os.path.join(out_dir, "metrics")

    t0 = time.monotonic()
    docs = with_bucket(assemble_document_text(df_input), num_buckets)

    done, keep = select_unfinished(spark, metrics_dir, run_id, docs, max_buckets_this_run)
    todo = docs.filter(keep)

    parallelism = spark.sparkContext.defaultParallelism
    repartitioned = salted_repartition(todo, max(parallelism * 2, 8))
    if segment_threshold_chars is not None:
        from .segmentation import parse_documents_segmented

        parsed = parse_documents_segmented(
            repartitioned, threshold_chars=segment_threshold_chars
        )
        # segmented output carries (doc_id, spans, tables, error); the bucket
        # key is doc_id-derived and therefore recomputable exactly
        parsed = with_bucket(parsed, num_buckets).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        parsed = parse_documents(repartitioned).persist(StorageLevel.MEMORY_AND_DISK)
    # serialized MEMORY_AND_DISK, not the DataFrame default (deserialized):
    # parsed rows are nested span/table arrays whose on-heap object form is
    # several× their serialized size — at 10^6 docs the deserialized cache
    # OOM'd a 16 GiB local[32] heap that the serialized form fits easily

    write_partitioned(parsed.select("doc_id", "bucket", "spans"), spans_dir)

    from ..operators.extract import tables_output

    tables = tables_output(parsed.select("doc_id", "spans", "tables")).join(
        parsed.select("doc_id", "bucket"), on="doc_id"
    )
    write_partitioned(tables, tables_dir)

    wall_ms = int((time.monotonic() - t0) * 1000)
    metrics = lineage_metrics(parsed, run_id, wall_ms)
    write_metrics(metrics, metrics_dir)

    stats = {
        "run_id": run_id,
        "buckets_done_before": len(done),
        "docs_processed": parsed.count(),
        "wall_ms": wall_ms,
    }
    parsed.unpersist()
    return stats
