"""Streaming dedup: exact dedup keeps the first occurrence per content hash
within the watermark (bounded state); the streaming simhash fingerprints are
byte-identical to the batch path."""

import shutil
import uuid
from datetime import datetime

from pyspark.sql import functions as F

from conftest import TMP
import twins
from document_parser_spark.operators.dedup import simhash_arrow
from document_parser_spark.streaming.dedup_stream import stream_exact_dedup

_SCHEMA = "doc_id long, ingest_ts timestamp, text string"


def _t(m):
    return datetime(2024, 6, 1, 12, m, 0)


def test_stream_exact_dedup_first_wins(spark):
    workdir = f"{TMP}/sdedup-{uuid.uuid4().hex[:8]}"
    name = f"sdedup_{uuid.uuid4().hex[:6]}"
    try:
        # batch 1: two distinct texts; batch 2: a duplicate of text A within
        # the watermark plus one new text — the duplicate must NOT re-emit
        spark.createDataFrame(
            [(1, _t(0), "alpha beta gamma"), (2, _t(0), "delta epsilon")],
            _SCHEMA,
        ).coalesce(1).write.mode("append").parquet(f"{workdir}/in")
        spark.createDataFrame(
            [(3, _t(1), "alpha beta gamma"), (4, _t(1), "zeta eta")],
            _SCHEMA,
        ).coalesce(1).write.mode("append").parquet(f"{workdir}/in")

        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        q = (
            stream_exact_dedup(stream, watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        q.processAllAvailable()
        rows = spark.sql(f"SELECT doc_id, text FROM {name}").collect()
        got = {r["doc_id"]: r["text"] for r in rows}
        # doc 3 (duplicate content of doc 1, inside the watermark) dropped
        assert set(got) == {1, 2, 4}
        assert got[1] == "alpha beta gamma"
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)


def test_stream_simhash_equals_batch(spark):
    workdir = f"{TMP}/ssim-{uuid.uuid4().hex[:8]}"
    name = f"ssim_{uuid.uuid4().hex[:6]}"
    docs = [
        (1, _t(0), "the quick brown fox jumps over the lazy dog"),
        (2, _t(0), "pack my box with five dozen liquor jugs"),
        (3, _t(1), "   "),  # wordless: dropped by batch AND stream paths
        (4, _t(1), "sphinx of black quartz judge my vow"),
    ]
    try:
        spark.createDataFrame(docs, _SCHEMA).coalesce(1).write.mode("append").parquet(
            f"{workdir}/in"
        )
        stream = spark.readStream.schema(_SCHEMA).parquet(f"{workdir}/in")
        q = (
            simhash_arrow(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        streamed = {
            r["doc_id"]: r["simhash"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        batch_df = spark.createDataFrame(docs, _SCHEMA).select("doc_id", "text")
        batch = {r["doc_id"]: r["simhash"] for r in twins.simhash(batch_df).collect()}
        assert streamed == batch
        assert 3 not in streamed
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)
