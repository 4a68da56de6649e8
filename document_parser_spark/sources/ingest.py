"""S1–S4 ingestion seam: adapt external PDF-renderer output to the engine's
input tables.

The reference's front door is marker / docling / camelot — external ML
renderers (main.py:113-117, 186-190, 310-316, 375-386 in /root/reference).
Those libraries (and their torch stack) are deliberately OUT of the engine:
the engine ingests the post-render interleaved representation per
BASELINE.json input_hint.  This module is the documented SEAM — the exact
shape a converter must produce and a validated adapter from the common
render shape (markdown string + name→bytes image dict) to it:

    documents(doc_id: string,
              spans: array<struct<kind,text,media_ref,offset>>)
    media(doc_id, media_ref, media_kind, data: binary)

See docs/ingest.md for the end-to-end recipe and jobs/ingest_example.py for
a runnable skeleton with the marker call site marked.
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..corpus import media_refs
from ..operators.multimodal import MEDIA_SCHEMA, media_kind_for
from ..schemas import DOCUMENTS_INPUT


def adapt_rendered(
    doc_id: str,
    markdown: str,
    images: Optional[Dict[str, bytes]] = None,
) -> Tuple[Dict[str, Any], List[Dict[str, Any]]]:
    """One rendered document → (input row, media side-table rows).

    ``markdown`` is the renderer's interleaved stream (marker's
    ``rendered.markdown``); ``images`` is its name→bytes sidecar
    (``rendered.images``, use_marker_converter.py:614-623).  The input row
    carries the whole stream as one raw ``text`` span at offset 0 plus one
    ``media`` span per ``corpus.media_refs`` entry (markdown ``![](ref)``
    then HTML ``<img src>``) — identical to corpus.to_input_rows, so adapted
    documents flow through the same parse, golden oracle, and search surface
    as every other source.

    Raises ValueError on shape violations (the schema is enforced again at
    DataFrame creation)."""
    if not isinstance(doc_id, str) or not doc_id:
        raise ValueError("doc_id must be a non-empty string")
    if not isinstance(markdown, str):
        raise ValueError(f"markdown must be str, got {type(markdown).__name__}")
    images = images or {}

    spans: List[Dict[str, Any]] = [
        {"kind": "text", "text": markdown, "media_ref": None, "offset": 0}
    ]
    refs = media_refs(markdown)
    for k, ref in enumerate(refs):
        spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": k + 1})

    media_rows = []
    for ref in refs:
        data = images.get(ref)
        if data is not None and not isinstance(data, (bytes, bytearray)):
            raise ValueError(f"media bytes for {ref!r} must be bytes, got {type(data).__name__}")
        media_rows.append(
            {
                "doc_id": doc_id,
                "media_ref": ref,
                "media_kind": media_kind_for(ref),
                "data": bytes(data) if data is not None else None,
            }
        )
    # Renderer images not referenced from the stream still belong to the doc
    # (marker can emit figures the markdown never links).
    for ref, data in images.items():
        if ref not in refs:
            media_rows.append(
                {
                    "doc_id": doc_id,
                    "media_ref": ref,
                    "media_kind": media_kind_for(ref),
                    "data": bytes(data),
                }
            )
    return {"doc_id": doc_id, "spans": spans}, media_rows


def ingest_rendered(
    spark: SparkSession,
    rendered: Iterable[Tuple[str, str, Optional[Dict[str, bytes]]]],
) -> Tuple[DataFrame, DataFrame]:
    """(doc_id, markdown, images) triples → (documents_df, media_df), both
    schema-enforced.  Suitable for driver-side ingestion of a render batch;
    at cluster scale run the renderer inside mapInPandas upstream and write
    the same two tables directly."""
    doc_rows, media_rows = [], []
    for doc_id, markdown, images in rendered:
        row, media = adapt_rendered(doc_id, markdown, images)
        doc_rows.append(row)
        media_rows.extend(media)
    docs_df = spark.createDataFrame(doc_rows, DOCUMENTS_INPUT)
    media_df = spark.createDataFrame(media_rows, MEDIA_SCHEMA)
    return docs_df, media_df
