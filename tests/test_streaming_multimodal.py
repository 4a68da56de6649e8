"""Streaming mode (same UDF, memory sink) and multimodal plumbing tests."""

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from conftest import TMP
from document_parser_spark import kernel
from document_parser_spark.corpus import fixture_documents
from document_parser_spark.operators.extract import resolve_media
from document_parser_spark.operators.multimodal import (
    extract_media_features,
    synthetic_media_for,
)
from document_parser_spark.schemas import DOCUMENTS_INPUT
from document_parser_spark.sources.data import fixture_input_df
from document_parser_spark.streaming.extract_stream import stream_extract


def test_stream_extract_matches_batch_oracle(spark):
    """Drive the extraction UDF through readStream → memory sink; spans must
    equal the kernel oracle per doc."""
    workdir = f"{TMP}/stream-{uuid.uuid4().hex[:8]}"
    try:
        fixture_input_df(spark).write.mode("overwrite").parquet(f"{workdir}/in")
        stream = (
            spark.readStream.schema(DOCUMENTS_INPUT)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        name = f"out_{uuid.uuid4().hex[:6]}"
        q = (
            stream_extract(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        rows = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        docs = fixture_documents()
        assert set(rows) == {d["doc_id"] for d in docs}
        for d in docs:
            oracle = kernel.parse_document(d["text"])["spans"]
            assert rows[d["doc_id"]]["spans"] == oracle, d["doc_id"]
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)


def test_media_feature_extraction(spark):
    inp = fixture_input_df(spark)
    media = synthetic_media_for(inp)
    feats = extract_media_features(media).collect()
    assert len(feats) >= 2  # fig_1.png, fig_2.jpeg at minimum
    by_ref = {(r["doc_id"], r["media_ref"]): r for r in feats}
    img = by_ref[("fx-md-media-interleaved", "fig_1.png")]
    assert img["media_kind"] == "image"
    assert img["n_bytes"] > 0 and len(img["sha256"]) == 64
    assert img["width"] and img["height"] and img["n_frames"] == 1
    assert len(img["features"]) == 8 and all(0 <= v <= 255 for v in img["features"])
    # determinism
    again = {(r["doc_id"], r["media_ref"]): r for r in extract_media_features(media).collect()}
    assert again[("fx-md-media-interleaved", "fig_1.png")]["features"] == img["features"]


def test_media_resolution_join(spark):
    """J4: spans ⟕ media on (doc_id, media_ref) — media spans resolve, text
    spans carry nulls, order/count preserved."""
    from document_parser_spark.operators.extract import assemble_document_text, parse_documents

    inp = fixture_input_df(spark)
    parsed = parse_documents(assemble_document_text(inp)).select("doc_id", "spans")
    media = extract_media_features(synthetic_media_for(inp))
    resolved = resolve_media(parsed, media.select("doc_id", "media_ref", "sha256", "media_kind"))
    rows = resolved.filter(F.col("doc_id") == "fx-md-media-interleaved").collect()
    media_rows = [r for r in rows if r["span"]["kind"] == "media"]
    assert len(media_rows) == 2
    assert all(r["sha256"] is not None for r in media_rows)
    text_rows = [r for r in rows if r["span"]["kind"] != "media"]
    assert all(r["sha256"] is None for r in text_rows)
    total_spans = parsed.filter(F.col("doc_id") == "fx-md-media-interleaved").select(
        F.size("spans")
    ).first()[0]
    assert len(rows) == total_spans


def test_resize_media_plumbing(spark):
    from document_parser_spark.operators.multimodal import resize_media

    inp = fixture_input_df(spark)
    media = synthetic_media_for(inp)
    out = resize_media(media, max_px=100).collect()
    assert out and all(r["media_kind"] == "image" for r in out)
    for r in out:
        assert 1 <= r["width"] <= 100 and 1 <= r["height"] <= 100
        assert r["src_width"] >= r["width"] and r["src_height"] >= r["height"]
        # aspect preserved within integer truncation
        assert abs(r["width"] / r["src_width"] - r["height"] / r["src_height"]) < 0.05
        assert r["data"] is not None


def test_sample_frames_plumbing(spark):
    import pyspark.sql.types as T
    from document_parser_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames

    rows = [
        ("d1", "clip.mp4", "video", b"\x01" * 37),   # 1 + 37 % 32 = 6 frames
        ("d1", "talk.mp3", "audio", b"\x02" * 3),    # 4 frames
        ("d1", "pic.png", "image", b"\x03"),         # filtered out
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(media, every_ms=500).collect()
    by_ref = {}
    for r in out:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert set(by_ref) == {"clip.mp4", "talk.mp3"}
    assert len(by_ref["clip.mp4"]) == 6 and len(by_ref["talk.mp3"]) == 4
    clip = sorted(by_ref["clip.mp4"], key=lambda r: r["frame_idx"])
    assert [r["frame_ts_ms"] for r in clip] == [0, 500, 1000, 1500, 2000, 2500]
    assert len({bytes(r["frame_data"]) for r in clip}) == 6  # distinct frames
