"""Checkpoint-resume invariants (SURVEY.md §5.2 item 6): a run killed
mid-way and resumed produces exactly the same output table as a fresh
uninterrupted run, with no duplicate lineage rows."""

import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from conftest import TMP, run_counting_jobs
from document_parser_spark.corpus import synthesize_corpus, to_input_rows
from document_parser_spark.plans.resume import (
    manifest_totals,
    overwrite_partitions,
    read_state,
    run_extraction_checkpointed,
    select_unfinished,
    write_manifest,
)
from document_parser_spark.schemas import DOCUMENTS_INPUT


@pytest.fixture()
def workdir():
    path = f"{TMP}/resume-{uuid.uuid4().hex[:8]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _input(spark, n=150):
    rows = to_input_rows(synthesize_corpus(n, seed=7))
    return spark.createDataFrame(rows, DOCUMENTS_INPUT)


def _spans_rows(spark, path):
    df = spark.read.parquet(f"{path}/document_spans")
    return sorted(
        (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]))
        for r in df.select("doc_id", "spans").collect()
    )


def test_crash_resume_equals_fresh_run(spark, workdir):
    df = _input(spark)

    # Fresh uninterrupted run.
    fresh_dir = f"{workdir}/fresh"
    run_extraction_checkpointed(spark, df, fresh_dir, run_id="r-fresh", num_buckets=8)

    # Crashing run: only 3 buckets complete, then "the job dies".
    crash_dir = f"{workdir}/crash"
    s1 = run_extraction_checkpointed(
        spark, df, crash_dir, run_id="r-crash", num_buckets=8, max_buckets_this_run=3
    )
    assert s1["buckets_done_before"] == 0

    # Resume: picks up ONLY the unfinished buckets.
    s2 = run_extraction_checkpointed(spark, df, crash_dir, run_id="r-crash", num_buckets=8)
    assert s2["buckets_done_before"] == 3
    assert s2["docs_processed"] < s1["docs_processed"] + s2["docs_processed"]

    assert _spans_rows(spark, crash_dir) == _spans_rows(spark, fresh_dir)

    # Lineage: exactly one metrics row per (run_id, partition_key).
    m = spark.read.parquet(f"{crash_dir}/metrics")
    dupes = (
        m.groupBy("run_id", "partition_key").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    assert m.select("partition_key").distinct().count() == 8

    # Error lineage: synthetic corpus parses clean.
    assert m.agg(F.sum("error_count")).first()[0] == 0


def test_segmented_job_output_identical(spark, workdir):
    """The segment-parallel job writes EXACTLY what the plain job writes."""
    df = _input(spark, n=80)
    plain_dir, seg_dir = f"{workdir}/plain", f"{workdir}/seg"
    run_extraction_checkpointed(spark, df, plain_dir, run_id="r-p", num_buckets=4)
    run_extraction_checkpointed(
        spark, df, seg_dir, run_id="r-s", num_buckets=4,
        segment_threshold_chars=2_000,  # force most docs through segmentation
    )
    assert _spans_rows(spark, seg_dir) == _spans_rows(spark, plain_dir)


def test_rerun_completed_is_noop(spark, workdir):
    df = _input(spark, n=60)
    out = f"{workdir}/noop"
    run_extraction_checkpointed(spark, df, out, run_id="r1", num_buckets=4)
    before = _spans_rows(spark, out)
    stats, jobs = run_counting_jobs(
        spark, lambda: run_extraction_checkpointed(spark, df, out, run_id="r1", num_buckets=4)
    )
    assert stats["buckets_done_before"] == 4
    assert stats["docs_processed"] == 0
    # the finished build returns after its manifest lookup, and the manifest
    # holds all 4 buckets, so the input is never probed: 2 bookkeeping jobs,
    # where the probe made 3 and parse + writes over zero rows ran 9
    assert jobs <= 2, jobs
    assert _spans_rows(spark, out) == before


def test_read_state_absent_or_empty_is_no_state_corrupt_raises(spark, workdir):
    """Only a missing table means "no state yet": an absent path and a
    directory without data files read as None, while a present but
    unreadable file raises instead of silently reading as no state."""
    import os

    assert read_state(spark, f"{workdir}/absent") is None
    os.makedirs(f"{workdir}/empty")
    assert read_state(spark, f"{workdir}/empty") is None

    spark.createDataFrame([(1,)], "x int").write.parquet(f"{workdir}/table")
    assert [tuple(r) for r in read_state(spark, f"{workdir}/table").collect()] == [(1,)]
    os.makedirs(f"{workdir}/corrupt")
    with open(f"{workdir}/corrupt/part-0.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="parquet"):
        read_state(spark, f"{workdir}/corrupt").collect()


def test_overwrite_partitions_is_selective(spark, workdir):
    """Only the partitions present in the written frame are replaced."""
    path = f"{workdir}/t"
    schema = "id int, bucket int, v string"
    overwrite_partitions(
        spark.createDataFrame([(1, 0, "a"), (2, 1, "b"), (3, 0, "c")], schema), path, "bucket"
    )
    overwrite_partitions(spark.createDataFrame([(9, 0, "z")], schema), path, "bucket")
    rows = {tuple(r) for r in spark.read.parquet(path).select("id", "bucket", "v").collect()}
    assert rows == {(9, 0, "z"), (2, 1, "b")}


def _record(spark, metrics_dir, run_id, buckets):
    counts = spark.createDataFrame([(b, 1) for b in buckets], "bucket int, docs long")
    write_manifest(counts, metrics_dir, run_id, time.monotonic())


def _selection(spark, metrics_dir, run_id):
    buckets = spark.createDataFrame([(0,), (1,)], "bucket int")
    done, keep, idle = select_unfinished(spark, metrics_dir, run_id, buckets, [0, 1], None)
    todo = sorted(r["bucket"] for r in buckets.filter(keep).collect())
    return done, todo, idle, manifest_totals(spark, metrics_dir, run_id, {"docs": "docs"})


def test_numeric_then_named_run_ids_share_one_manifest(spark, workdir):
    """Run ids are partition directories read back as the strings written:
    after a run named ``20261019``, a run named ``nightly-01`` in the same
    manifest is a fresh run and resumes from its own rows only."""
    metrics = f"{workdir}/metrics"
    _record(spark, metrics, "20261019", [0, 1])
    assert _selection(spark, metrics, "nightly-01") == (set(), [0, 1], False, (0, {"docs": 0}))
    _record(spark, metrics, "nightly-01", [0])
    assert _selection(spark, metrics, "nightly-01") == ({"0"}, [1], False, (1, {"docs": 1}))
    assert _selection(spark, metrics, "20261019") == ({"0", "1"}, [], True, (2, {"docs": 2}))


def test_run_id_with_a_leading_zero_is_another_run(spark, workdir):
    """``020261019`` is not ``20261019``: it finds no finished buckets and
    none of the other run's totals."""
    metrics = f"{workdir}/metrics"
    _record(spark, metrics, "20261019", [0, 1])
    assert _selection(spark, metrics, "020261019") == (set(), [0, 1], False, (0, {"docs": 0}))
