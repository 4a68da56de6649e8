"""Streaming ingest mode: the IDENTICAL extraction UDF dropped into
Structured Streaming (SURVEY.md §2.13 — the reference is batch-only; the
batch pipeline's per-document purity is what makes this a one-liner).

The batch path remains the primary mode (north_rule asks for batch with
checkpoint resume); this module exists so a Kafka/file-drop ingest can reuse
the engine unchanged:

    stream = readStream.schema(DOCUMENTS_INPUT).parquet(in_dir)
    q = (stream_extract(stream)
         .writeStream.format("parquet")
         .option("checkpointLocation", ckpt)
         .start(out_dir))

plus a windowed span-rate monitor with watermarked late-data handling over an
event-time column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import assemble_document_text, parse_documents


def stream_extract(stream_df: DataFrame) -> DataFrame:
    """(doc_id, spans) stream → parsed (doc_id, spans, tables, error) stream.
    Stateless per document, so any output mode/trigger works."""
    assembled = assemble_document_text(stream_df)
    return parse_documents(assembled).select("doc_id", "spans", "tables", "error")


def span_rate_monitor(
    parsed_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Windowed operational metrics with late-data watermarking: docs, spans,
    tables, errors per ``ingest_ts`` event-time window."""
    return (
        parsed_stream.withWatermark("ingest_ts", watermark)
        .groupBy(F.window(F.col("ingest_ts"), window))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum(F.size("tables")).alias("tables"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
    )
