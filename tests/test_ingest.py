"""S1–S4 ingestion seam (docs/ingest.md): the adapter produces the exact
input_hint shape, media rows resolve, and adapted documents flow through the
SAME extraction pipeline as every other source."""

import pytest

from document_parser_spark.corpus import to_input_rows
from document_parser_spark.operators.extract import (
    assemble_document_text,
    parse_documents,
    tables_output,
)
from document_parser_spark.schemas import DOCUMENTS_INPUT
from document_parser_spark.sources.ingest import adapt_rendered, ingest_rendered

_MD = """\
# Report

prose before

![](fig_a.png)

| Key | Value |
|---|---|
| Pathology | Dr. Chen |

![alt](clip.mp3)
"""


def test_adapter_shape():
    row, media = adapt_rendered("d1", _MD, {"fig_a.png": b"\x01\x02", "extra.png": b"\x03"})
    assert row["doc_id"] == "d1"
    assert row["spans"][0] == {"kind": "text", "text": _MD, "media_ref": None, "offset": 0}
    refs = [(s["media_ref"], s["offset"]) for s in row["spans"][1:]]
    assert refs == [("fig_a.png", 1), ("clip.mp3", 2)]
    by_ref = {m["media_ref"]: m for m in media}
    assert by_ref["fig_a.png"]["media_kind"] == "image"
    assert by_ref["fig_a.png"]["data"] == b"\x01\x02"
    assert by_ref["clip.mp3"]["media_kind"] == "audio"
    assert by_ref["clip.mp3"]["data"] is None  # referenced but no sidecar
    assert by_ref["extra.png"]["data"] == b"\x03"  # unreferenced sidecar kept


def test_adapter_emits_the_same_spans_as_to_input_rows():
    """One media-ref rule: an HTML ``<img src>`` after a markdown image is a
    media span in both the adapter and the corpus row shaper."""
    text = '<p><img src="fig.png"></p>\n\n![](a.png)\n'
    row, media = adapt_rendered("d1", text)
    assert row == to_input_rows([{"doc_id": "d1", "text": text}])[0]
    assert [m["media_ref"] for m in media] == ["a.png", "fig.png"]


def test_adapter_validates():
    with pytest.raises(ValueError):
        adapt_rendered("", _MD)
    with pytest.raises(ValueError):
        adapt_rendered("d1", None)  # type: ignore[arg-type]
    with pytest.raises(ValueError):
        adapt_rendered("d1", _MD, {"fig_a.png": "not-bytes"})  # type: ignore[dict-item]


def test_ingested_docs_flow_through_engine(spark):
    docs_df, media_df = ingest_rendered(
        spark, [("d1", _MD, {"fig_a.png": b"\x01"}), ("d2", "plain prose only", None)]
    )
    assert docs_df.schema["spans"].dataType.elementType["offset"].dataType.typeName() == "integer"
    assert media_df.count() == 2

    parsed = parse_documents(assemble_document_text(docs_df))
    tables = tables_output(parsed)
    assert tables.filter("doc_id = 'd1'").count() == 1
    t = tables.filter("doc_id = 'd1'").first()
    assert t["table_type"] == "vertical"  # key-value table per H1
    spans = {r["doc_id"]: r["spans"] for r in parsed.select("doc_id", "spans").collect()}
    kinds = [s["kind"] for s in spans["d1"]]
    assert "table" in kinds and "media" in kinds and "heading" in kinds


def test_media_kind_is_one_rule(spark):
    """Ingest, the media operator and the oracle SQL classify a ref alike:
    ``.webp`` is an image and ``.ogg`` audio on every path."""
    import duckdb

    from document_parser_spark.operators.multimodal import media_kind_sql, synthetic_media_for

    refs = ["a.webp", "b.ogg", "c.JPEG", "d.m4a", "e.mp4"]
    md = "\n\n".join(f"![]({r})" for r in refs)
    row, media = adapt_rendered("d1", md)
    at_ingest = {m["media_ref"]: m["media_kind"] for m in media}
    docs = spark.createDataFrame([row], DOCUMENTS_INPUT)
    in_operator = {
        r["media_ref"]: r["media_kind"] for r in synthetic_media_for(docs).collect()
    }
    in_sql = {
        r: duckdb.sql(f"SELECT {media_kind_sql(repr(r))}").fetchone()[0] for r in refs
    }
    expected = {"a.webp": "image", "b.ogg": "audio", "c.JPEG": "image",
                "d.m4a": "audio", "e.mp4": "video"}
    assert at_ingest == in_operator == in_sql == expected
