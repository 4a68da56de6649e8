"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with Spark-real plumbing (schema, partitioning, Arrow batch shape)
and STUBBED codecs.

The container has no image/audio libraries, so the decode step is a
deterministic fake behind ``try: import`` — the engine-side contract
(``mapInPandas`` batch iterator over binary columns, metadata structs,
per-kind dispatch) is real and tested; swapping in PIL/librosa is a
function-body change only.

Media model (SURVEY.md §1.3: reference's images dict at
use_marker_converter.py:614-623):
    media(doc_id, media_ref, media_kind, data: binary)
joined back to media spans by (doc_id, media_ref) — operators.extract.resolve_media.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the one media-kind rule, read by ``media_kind_for``, the Column form
#: ``media_kind`` and the oracle SQL ``media_kind_sql``: (kind, suffix regex
#: valid in Python, Java and RE2) in match order; any other ref is a video.
MEDIA_EXTENSIONS = (
    ("image", r"(?i)\.(png|jpe?g|gif|bmp|webp|tiff?)$"),
    ("audio", r"(?i)\.(wav|mp3|flac|ogg|m4a)$"),
)


def media_kind_for(media_ref: str) -> str:
    return next((k for k, rx in MEDIA_EXTENSIONS if re.search(rx, media_ref)), "video")


def media_kind(media_ref: Column) -> Column:
    kind = F.lit("video")
    for name, rx in reversed(MEDIA_EXTENSIONS):
        kind = F.when(media_ref.rlike(rx), name).otherwise(kind)
    return kind


def media_kind_sql(media_ref: str) -> str:
    """DuckDB ``CASE`` over the SQL expression ``media_ref``."""
    whens = " ".join(f"WHEN regexp_matches({media_ref}, '{rx}') THEN '{k}'" for k, rx in MEDIA_EXTENSIONS)
    return f"CASE {whens} ELSE 'video' END"


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), True),
    ]
)

FEATURE_SCHEMA = (
    "doc_id string, media_ref string, media_kind string, n_bytes long, "
    "sha256 string, width int, height int, n_frames int, features array<int>"
)


def _decode_image(data: bytes):
    """Image decode seam.  Real implementation would be PIL; here a
    deterministic fake (dims derived from content hash) keeps the pipeline
    shape testable without the library."""
    try:  # pragma: no cover - not present in this container
        from PIL import Image  # noqa: F401
        import io

        img = Image.open(io.BytesIO(data))
        return img.width, img.height, 1
    except ImportError:
        digest = hashlib.sha256(data or b"").digest()
        return 64 + digest[0] % 192, 64 + digest[1] % 192, 1


def _frame_sample(data: bytes, media_kind: str) -> int:
    """Video/audio frame- or window-count stub (deterministic)."""
    if media_kind == "image":
        return 1
    return 1 + (len(data or b"") % 32)


def _feature_vector(data: bytes, dim: int = 8) -> list[int]:
    """Deterministic per-blob feature stub: the first ``dim`` sha256 digest
    bytes as ints.  The real extractor (CNN/mel-spectrogram) slots in here;
    the Arrow plumbing — array column, batch shape — is what's
    engine-relevant.  Integer features make the whole operator expressible
    as an exact DuckDB oracle (float JSON rendering differs across engines;
    int rendering doesn't)."""
    digest = hashlib.sha256(data or b"").digest()
    return [digest[i] for i in range(dim)]


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas over binary blobs → typed metadata + feature vector.

    The binary column never leaves the executor (no collect); Arrow moves
    bytes in batches; partitioning by doc_id is inherited from the media
    table so the later span join co-locates."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                data = bytes(r.data) if r.data is not None else b""
                width, height, _ = _decode_image(data)
                rows.append(
                    {
                        "doc_id": r.doc_id,
                        "media_ref": r.media_ref,
                        "media_kind": r.media_kind,
                        "n_bytes": len(data),
                        "sha256": hashlib.sha256(data).hexdigest(),
                        "width": width if r.media_kind == "image" else None,
                        "height": height if r.media_kind == "image" else None,
                        "n_frames": _frame_sample(data, r.media_kind),
                        "features": _feature_vector(data),
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id string, media_ref string, media_kind string, "
    "src_width int, src_height int, width int, height int, data binary"
)

FRAME_SCHEMA = (
    "doc_id string, media_ref string, media_kind string, "
    "frame_idx int, frame_ts_ms long, frame_data binary"
)


def resize_media(media: DataFrame, max_px: int = 128) -> DataFrame:
    """Image resize over the binary column: dims shrink to fit ``max_px``
    preserving aspect ratio.  Real implementation is PIL ``thumbnail`` at
    the marked seam; without the codec the ORIGINAL bytes pass through with
    the recomputed dims (deterministic stub) — the Spark-side contract
    (mapInPandas batch shape, binary in/out, typed dims) is the real part."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                data = bytes(r.data) if r.data is not None else b""
                sw, sh, _ = _decode_image(data)
                scale = min(max_px / sw, max_px / sh, 1.0)
                out_w, out_h = max(int(sw * scale), 1), max(int(sh * scale), 1)
                try:  # pragma: no cover - PIL absent in this container
                    import io

                    from PIL import Image

                    img = Image.open(io.BytesIO(data))
                    img.thumbnail((max_px, max_px))
                    buf = io.BytesIO()
                    img.save(buf, format=img.format or "PNG")
                    out_bytes = buf.getvalue()
                except Exception:
                    # ImportError (no PIL) or any decode failure
                    # (UnidentifiedImageError/OSError on non-image bytes) —
                    # fall back to pass-through rather than killing the task
                    out_bytes = data  # stub: metadata real, pixels untouched
                rows.append(
                    {
                        "doc_id": r.doc_id,
                        "media_ref": r.media_ref,
                        "media_kind": r.media_kind,
                        "src_width": sw,
                        "src_height": sh,
                        "width": out_w,
                        "height": out_h,
                        "data": out_bytes,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "media_kind", "src_width",
                         "src_height", "width", "height", "data"],
            )

    return media.filter(F.col("media_kind") == "image").mapInPandas(
        op, schema=RESIZE_SCHEMA
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video/audio frame sampling: one output row per sampled frame/window
    (mapInPandas row-expansion — the batch can GROW, which is the plumbing
    a real ffmpeg-backed sampler needs).  Frame count and bytes are
    deterministic stubs behind the same codec seam; timestamps are exact
    ``frame_idx · every_ms``."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                data = bytes(r.data) if r.data is not None else b""
                n = _frame_sample(data, r.media_kind)
                for i in range(n):
                    digest = hashlib.sha256(data + i.to_bytes(4, "big")).digest()
                    rows.append(
                        {
                            "doc_id": r.doc_id,
                            "media_ref": r.media_ref,
                            "media_kind": r.media_kind,
                            "frame_idx": i,
                            "frame_ts_ms": i * every_ms,
                            "frame_data": digest,  # stub: real path decodes
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "media_kind", "frame_idx",
                         "frame_ts_ms", "frame_data"],
            )

    return media.filter(F.col("media_kind") != "image").mapInPandas(
        op, schema=FRAME_SCHEMA
    )


def synthetic_media_for(spans_input: DataFrame) -> DataFrame:
    """Deterministic media side-table for every media span in an input table
    — bytes derived from (doc_id, media_ref), so tests need no real files."""
    refs = spans_input.select(
        "doc_id",
        F.explode(
            F.filter("spans", lambda s: s.kind == F.lit("media"))
        ).alias("span"),
    ).select("doc_id", F.col("span.media_ref").alias("media_ref"))
    return refs.withColumn("media_kind", media_kind(F.col("media_ref"))).withColumn(
        "data",
        F.sha2(F.concat_ws("|", "doc_id", "media_ref"), 256).cast("binary"),
    )
