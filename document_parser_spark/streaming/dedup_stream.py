"""Streaming deduplication: the training-data pipeline's dedup gates in
Structured Streaming form (SURVEY.md §2.13 extension; the reference is
batch-only — cited seam `main.py:375-386` processes one file per run).

Two operators, both state-bounded:

* ``stream_exact_dedup`` — first-occurrence-wins exact content dedup keyed
  on md5(text) (the SAME content key as the batch ``exact_duplicates``),
  via ``dropDuplicatesWithinWatermark``: state for a content hash is
  dropped once the watermark passes it, so state size is bounded by the
  dedup horizon, not the stream's lifetime — the only formulation that
  survives an unbounded corpus ingest.

* ``stream_simhash`` — the zero-shuffle Arrow fingerprint
  (``dedup.simhash_arrow``) applied to a stream unchanged: it is a
  stateless per-row select+filter, so any output mode/trigger works and
  the fingerprints are byte-identical to the batch path (equality-gated in
  tests/test_streaming_dedup.py).  Downstream near-dup candidate joins
  stay batch jobs over the fingerprint sink: the chunk-bucket self-join
  needs the corpus, not the micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import simhash_arrow


def stream_exact_dedup(stream_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Emit only the FIRST document seen for each exact text content within
    the watermark horizon on ``ingest_ts``.  Duplicates arriving later than
    ``watermark`` after the original are re-admitted by design — that is the
    bounded-state contract (a later batch-mode ``exact_duplicates`` pass over the sink
    catches cross-horizon repeats)."""
    keyed = stream_df.withColumn("text_md5", F.md5(F.col("text")))
    return keyed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["text_md5"]
    )


def stream_simhash(stream_df: DataFrame) -> DataFrame:
    """(doc_id, simhash) fingerprint stream — stateless map-only pass,
    byte-identical to the batch ``simhash``/``simhash_arrow``."""
    return simhash_arrow(stream_df)
