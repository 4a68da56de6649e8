"""Streaming curation: the exact-dedup → quality/language gate →
context-window chunking pass of the batch curation pipeline
(plans/curate.py), applied to an unbounded document stream (SURVEY.md §2.13
extension; the reference is batch-only — cited seam `main.py:375-386`
processes one file per run).

At 100 TB the corpus ARRIVES incrementally, so the curation gate wants a
streaming form.  The composition is legal in Structured Streaming because
every stage is either bounded-state or stateless:

* exact dedup — ``dropDuplicatesWithinWatermark`` on md5(text) (the SAME
  content key as the batch canonical election; state bounded by the
  watermark horizon).  Inside the horizon first-arrival-wins replaces the
  batch min-doc_id election — identical survivor SETS whenever arrival
  order follows doc_id order; cross-horizon repeats are the batch
  re-pass's job, exactly as in dedup_stream.
* the gate — ``curation.quality_language_gate``: pure projections +
  filters, no joins/windows, so the streaming plan is the batch plan and
  outputs are byte-identical (equality-gated in
  tests/test_streaming_curate.py).
* chunking — ``curation.chunk_documents``: one Arrow pass + explode per
  row, stateless.

Downstream, the chunk stream lands in a partitioned sink and the
NEAR-dup/cross-horizon passes run as batch jobs over it (they need the
corpus, not the micro-batch) — the same division of labor as
dedup_stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.curation import chunk_documents, quality_language_gate
from .dedup_stream import stream_exact_dedup


def stream_curate(
    stream_df: DataFrame, max_words: int = 512, stride: int | None = None
) -> DataFrame:
    """(doc_id, chunk_id, first_word, n_words, chunk_text) stream of curated
    training chunks — the streaming twin of ``plans.curate``'s
    dedup→gate→chunk stages (bucketed lineage/resume stays batch-side: a
    streaming sink's exactly-once story is its checkpoint, not a manifest)."""
    gated = quality_language_gate(stream_exact_dedup(stream_df))
    return chunk_documents(gated, max_words=max_words, stride=stride)
