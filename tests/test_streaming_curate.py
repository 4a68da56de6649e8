"""Streaming curation twin: dedup→gate→chunk over a file stream emits
byte-identical chunk rows to the batch gate+chunk pass over the deduped
corpus, and the planted duplicate/low-quality/wrong-language docs drop."""

import shutil
import uuid
from datetime import datetime

from conftest import TMP
from document_parser_spark.operators.curation import (
    chunk_documents,
    quality_language_gate,
)
from document_parser_spark.streaming.curate_stream import stream_curate

_SCHEMA = "doc_id long, ingest_ts timestamp, text string"


def _t(m):
    return datetime(2024, 6, 1, 12, m, 0)


_GOOD = (
    "the quick brown fox jumps over the lazy dog and then the dog sleeps "
    "in the warm sun for a long time with all of the other animals nearby "
)


def _docs():
    return [
        # batch file 1
        [
            (1, _t(0), _GOOD + "one"),
            (2, _t(0), _GOOD + "two " + _GOOD),
            (3, _t(0), "tiny"),  # < 5 words: gate drops
        ],
        # batch file 2: dup of doc 1 (must drop), a punct bomb, a keeper
        [
            (4, _t(1), _GOOD + "one"),
            (5, _t(1), "!!! ??? ;;; ::: !!! ??? ;;; ::: !!! ???"),
            (6, _t(1), _GOOD + "six"),
        ],
    ]


def test_stream_curate_matches_batch_gate_chunk(spark):
    workdir = f"{TMP}/scur-{uuid.uuid4().hex[:8]}"
    name = f"scur_{uuid.uuid4().hex[:6]}"
    q = None
    try:
        for batch in _docs():
            spark.createDataFrame(batch, _SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(f"{workdir}/in")
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        q = (
            stream_curate(stream, max_words=20, stride=15)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        q.processAllAvailable()
        streamed = sorted(
            (r["doc_id"], r["chunk_id"], r["first_word"], r["n_words"], r["chunk_text"])
            for r in spark.sql(
                f"SELECT doc_id, chunk_id, first_word, n_words, chunk_text FROM {name}"
            ).collect()
        )
        # batch twin over the deduped survivor set (first-wins == min doc_id
        # here because arrivals follow doc_id order)
        flat = [r for b in _docs() for r in b if r[0] != 4]
        batch_df = spark.createDataFrame(flat, _SCHEMA).select("doc_id", "text")
        batch = sorted(
            tuple(r)
            for r in chunk_documents(
                quality_language_gate(batch_df), max_words=20, stride=15
            )
            .select("doc_id", "chunk_id", "first_word", "n_words", "chunk_text")
            .collect()
        )
        assert streamed == batch
        kept = {r[0] for r in streamed}
        assert kept == {1, 2, 6}  # dup 4, short 3, punct-bomb 5 all dropped
        assert len(streamed) > len(kept)  # doc 2 actually chunks into >1 row
    finally:
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass
        shutil.rmtree(workdir, ignore_errors=True)
