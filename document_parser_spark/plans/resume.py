"""The resume manifest — checkpoint-resume + lineage metrics (north_rule;
SURVEY.md §4.3).  This module is the ONLY owner of the manifest format:
the extraction builder below, the curation builder (plans/curate.py) and
the ANN-index builder (plans/ann_index.py) hand it per-bucket counts and
read their totals back through it, never through the table itself.

Batch-level idempotency without Structured Streaming:

  * every input row gets a STABLE bucket, ``with_bucket``:
    ``pmod(xxhash64(key), B)`` over an input-derived key (doc_id, md5 of
    the text, vec_id) — identical across runs and cluster sizes (never
    ``spark_partition_id``, which is placement-dependent);
  * outputs are written ``partitionBy(bucket)`` with dynamic partition
    overwrite — re-processing a bucket REPLACES it (the local-parquet
    stand-in for Iceberg ``overwritePartitions``; swap the writer for
    ``.format("iceberg")`` when the runtime has the jar);
  * ``write_manifest`` stores one lineage row per (run_id, bucket) under a
    ``run_id=…/partition_key=…`` directory — overwrite-by-partition means
    retries can never duplicate a row (MERGE-like exactly-once);
  * on restart, ``select_unfinished`` anti-joins away the buckets already
    in the manifest for this run_id: only unfinished work re-runs, and a
    finished build returns before building any pipeline;
    ``manifest_totals`` reads this run's counters back in one aggregate.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def with_bucket(df: DataFrame, key: str | Column, num_buckets: int) -> DataFrame:
    """``df`` plus its resume ``bucket``: ``pmod(xxhash64(key), num_buckets)``."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("int")
    )


def read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when there is no state yet:
    the path is absent, or it is a directory with no data files.  Any other
    read failure (corrupt footer, permissions, schema drift) raises —
    degrading it to "no state" would let an index build recompute a
    quantizer that indexed buckets still use, or an incremental dedup emit
    only intra-shard pairs and permanently miss shard-vs-corpus near-dups."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def _this_run(spark: SparkSession, metrics_dir: str, run_id: str) -> DataFrame | None:
    """This run's manifest rows, with ``partition_key`` read back as
    ``bucket``."""
    m = read_state(spark, metrics_dir)
    if m is None:
        return None
    return m.filter(F.col("run_id") == run_id).withColumnRenamed("partition_key", "bucket")


def select_unfinished(
    spark: SparkSession,
    metrics_dir: str,
    run_id: str,
    buckets: DataFrame,
    max_buckets_this_run: int | None,
) -> tuple[set[int], Column, bool]:
    """The resume manifest's work selection, shared by every bucketed job:
    the buckets this run already finished, a predicate on ``bucket`` that
    keeps the unfinished ones, and whether that selection is empty — a
    resumed run of a finished build then returns early instead of running
    its whole pipeline over zero rows.  Only a resumed run probes for that
    (one ``isEmpty`` on ``buckets`` — any frame with a ``bucket`` column —
    which stops at the first unfinished row).  ``max_buckets_this_run``
    (crash simulation for resume tests) narrows the selection to the first
    N unfinished buckets in order; only then is ``buckets`` collected."""
    m = _this_run(spark, metrics_dir, run_id)
    done = (
        set() if m is None
        else {r["bucket"] for r in m.select("bucket").distinct().collect()}
    )
    keep = ~F.col("bucket").isin(sorted(done)) if done else F.lit(True)
    if max_buckets_this_run is not None:
        remaining = sorted(
            r["bucket"] for r in buckets.filter(keep).select("bucket").distinct().collect()
        )[:max_buckets_this_run]
        return done, F.col("bucket").isin(remaining), bool(done) and not remaining
    return done, keep, bool(done) and buckets.filter(keep).isEmpty()


def elapsed_ms(t0: float) -> int:
    """Milliseconds since ``t0``, a ``time.monotonic()`` reading."""
    return int((time.monotonic() - t0) * 1000)


def write_manifest(counts: DataFrame, metrics_dir: str, run_id: str, t0: float) -> int:
    """Record the buckets in ``counts`` — a ``(bucket, counts…)`` frame, one
    row per bucket this invocation finished — as done for ``run_id``: each
    row is stored with its ``partition_key``, ``run_id`` and the run's
    ``wall_ms`` so far (since ``t0``, a ``time.monotonic()`` reading),
    which is returned."""
    wall_ms = elapsed_ms(t0)
    (
        counts.select(
            F.col("bucket").alias("partition_key"),
            F.lit(run_id).alias("run_id"),
            *[c for c in counts.columns if c != "bucket"],
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "partition_key")
        .parquet(metrics_dir)
    )
    return wall_ms


def manifest_totals(
    spark: SparkSession, metrics_dir: str, run_id: str, sums: dict[str, str]
) -> tuple[int, dict[str, int]]:
    """This run's manifest read back in ONE aggregate — the durable truth
    for a builder's counters, never its live frames (aggregating those
    would re-execute the pipeline).  Returns the number of finished buckets
    (a plain row count: overwrite-by-partition keeps one row per bucket)
    and ``{key: sum(column)}`` for each entry of ``sums``."""
    m = _this_run(spark, metrics_dir, run_id)
    if m is None:
        return 0, {key: 0 for key in sums}
    row = m.agg(
        F.count("*").alias("_buckets"),
        *[F.sum(col).alias(key) for key, col in sums.items()],
    ).collect()[0]
    return row["_buckets"], {key: int(row[key] or 0) for key in sums}


def lineage_metrics(parsed: DataFrame) -> DataFrame:
    """One row per bucket: doc/span/table/error counts + doc_id range
    (SURVEY.md §2.6 A7).  Pure aggregation over the parse output — partial
    aggregation map-side, one shuffle on the small bucket key."""
    return parsed.groupBy("bucket").agg(
        F.count("*").alias("doc_count"),
        F.sum(F.size("spans")).cast("long").alias("span_count"),
        F.sum(F.size("tables")).cast("long").alias("table_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).cast("long").alias("error_count"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


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
    docs = with_bucket(assemble_document_text(df_input), "doc_id", num_buckets)

    done, keep, idle = select_unfinished(spark, metrics_dir, run_id, docs, max_buckets_this_run)
    if idle:
        return {
            "run_id": run_id,
            "buckets_done_before": len(done),
            "docs_processed": 0,
            "wall_ms": elapsed_ms(t0),
        }
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
        parsed = with_bucket(parsed, "doc_id", num_buckets).persist(StorageLevel.MEMORY_AND_DISK)
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

    wall_ms = write_manifest(lineage_metrics(parsed), metrics_dir, run_id, t0)
    stats = {
        "run_id": run_id,
        "buckets_done_before": len(done),
        "docs_processed": parsed.count(),
        "wall_ms": wall_ms,
    }
    parsed.unpersist()
    return stats
