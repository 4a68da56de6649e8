"""Checkpoint-resume invariants (SURVEY.md §5.2 item 6): a run killed
mid-way and resumed produces exactly the same output table as a fresh
uninterrupted run, with no duplicate lineage rows."""

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from conftest import TMP, run_counting_jobs
from document_parser_spark.corpus import synthesize_corpus, to_input_rows
from document_parser_spark.plans.resume import read_state, run_extraction_checkpointed
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
    # the finished build returns after its manifest lookup: 4 bookkeeping
    # jobs, where parse + writes over zero rows ran 9
    assert jobs <= 4, jobs
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
