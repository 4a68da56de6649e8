"""Watermarked windowed aggregation (span_rate_monitor): late data beyond
the watermark is dropped; in-window events aggregate per event-time window."""

import shutil
import uuid
from datetime import datetime

import pyspark.sql.types as T

from conftest import TMP
from document_parser_spark.schemas import PARSE_RESULT
from document_parser_spark.streaming.extract_stream import span_rate_monitor


_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ingest_ts", T.TimestampType(), False),
        PARSE_RESULT["spans"],
        PARSE_RESULT["tables"],
        PARSE_RESULT["error"],
    ]
)


def _row(doc_id, ts, n_spans, err=None):
    spans = [
        {"kind": "text", "text": f"s{i}", "media_ref": None, "offset": i}
        for i in range(n_spans)
    ]
    return (doc_id, ts, spans, [], err)


def test_windowed_monitor_with_watermark(spark):
    workdir = f"{TMP}/mon-{uuid.uuid4().hex[:8]}"
    name = f"mon_{uuid.uuid4().hex[:6]}"
    t = lambda m: datetime(2024, 6, 1, 12, m, 0)
    try:
        batch1 = [
            _row("d1", t(0), 3),
            _row("d2", t(0), 2, err="ValueError: x"),
            _row("d3", t(1), 5),
        ]
        spark.createDataFrame(batch1, _SCHEMA).coalesce(1).write.mode("append").parquet(
            f"{workdir}/in"
        )
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        q = (
            span_rate_monitor(stream, window="1 minute", watermark="2 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        # append mode emits nothing until the watermark passes the window
        spark.createDataFrame(
            [_row("d4", t(30), 1)], _SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{workdir}/in")
        q.processAllAvailable()

        rows = {
            r["window"]["start"].minute: (r["docs"], r["spans"], r["errors"])
            for r in spark.table(name).collect()
        }
        assert rows[0] == (2, 5, 1)  # d1 + d2 in the 12:00 window, one error
        assert rows[1] == (1, 5, 0)  # d3 in the 12:01 window

        # an event older than watermark (12:00 when watermark ≈ 12:28) drops
        spark.createDataFrame(
            [_row("late", t(0), 9), _row("d5", t(31), 1)], _SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{workdir}/in")
        q.processAllAvailable()
        final = {
            r["window"]["start"].minute: (r["docs"], r["spans"], r["errors"])
            for r in spark.table(name).collect()
        }
        assert final.get(0) == (2, 5, 1)  # unchanged: late row was dropped
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)
