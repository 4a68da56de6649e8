"""Build the golden-parquet oracle tables for the parse/search contract
queries (VERDICT.md round-1 item 2).

The pure-Python kernel (document_parser_spark.kernel) is the reference-
faithful oracle; this script runs it over EXACTLY the extraction corpus the
contract queries use (fixture docs ∪ the driver's documents.parquet lifted
to input shape) and writes the parsed spans / tables / cells / merged-span
tables to ``golden/sf{tag}/*.parquet``.  The DuckDB oracle SQL in
``__spark_entry__.py`` then expresses each query's RELATIONAL logic
(filters, joins, windows, top-k) over these tables — so the Spark query
operators are checked against an independent SQL implementation, with only
the markdown parse itself shared via the kernel.

Deterministic: same corpus + same kernel ⇒ identical bytes.  Re-run after
any kernel change; tests/test_golden_oracle.py fails if the files go stale.

Usage: python scripts/build_golden.py [sf_dirs...]   (default: sf0.001 sf0.01)
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from document_parser_spark.corpus import (  # noqa: E402
    fixture_documents,
    html_corpus,
    media_refs,
)
from document_parser_spark.kernel import (  # noqa: E402
    parse_document,
    parse_table_sink_dialect,
)

GOLDEN_ROOT = os.path.join(REPO, "golden")

SPANS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("seq", pa.int64()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int64()),
        ("text_len", pa.int64()),
    ]
)

TABLES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("table_index", pa.int64()),
        ("source", pa.string()),
        ("title", pa.string()),
        ("table_type", pa.string()),
        ("num_columns", pa.int64()),
        ("num_rows", pa.int64()),
        ("header_row_count", pa.int64()),
    ]
)

CELLS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("table_index", pa.int64()),
        ("table_source", pa.string()),
        ("table_title", pa.string()),
        ("table_type", pa.string()),
        ("row", pa.int64()),
        ("col", pa.int64()),
        ("header", pa.string()),
        ("header_levels", pa.list_(pa.string())),
        ("text", pa.string()),
        ("is_numeric", pa.bool_()),
    ]
)

MEDIA_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("media_ref", pa.string()),
    ]
)

MERGED_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("offset", pa.int64()),
        ("owner_row", pa.int64()),
        ("owner_col", pa.int64()),
        ("min_row", pa.int64()),
        ("max_row", pa.int64()),
        ("min_col", pa.int64()),
        ("max_col", pa.int64()),
    ]
)


def extraction_corpus(sf_dir: str) -> list[dict]:
    """Mirror of __spark_entry__._extraction_corpus: fixture docs plus the
    driver's flat documents (doc_id stringified).  assemble_document_text
    reduces both input shapes back to the raw markdown text."""
    docs = [dict(d) for d in fixture_documents()]
    flat = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    for doc_id, text in zip(flat.column("doc_id").to_pylist(), flat.column("text").to_pylist()):
        docs.append({"doc_id": str(doc_id), "text": text})
    return docs


def build_rows(docs: list[dict]):
    spans_rows, tables_rows, cells_rows, merged_rows, media_rows = [], [], [], [], []
    for d in docs:
        # Input-shape media spans, as corpus.to_input_rows emits them
        for ref in media_refs(d["text"]):
            media_rows.append({"doc_id": d["doc_id"], "media_ref": ref})
        parsed = parse_document(d["text"])
        for seq, s in enumerate(parsed["spans"]):
            spans_rows.append(
                {
                    "doc_id": d["doc_id"],
                    "seq": seq,
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                    "text_len": len(s["text"] or ""),
                }
            )
            if s["kind"] == "table":
                sink = parse_table_sink_dialect(s["text"] or "")
                for span in (sink or {}).get("merged_spans", []):
                    merged_rows.append(
                        {"doc_id": d["doc_id"], "offset": s["offset"], **span}
                    )
        for t in parsed["tables"]:
            tables_rows.append(
                {
                    "doc_id": d["doc_id"],
                    "table_index": t["index"],
                    "source": t["source"],
                    "title": t["title"],
                    "table_type": t["table_type"],
                    "num_columns": t["num_columns"],
                    "num_rows": t["num_rows"],
                    "header_row_count": t["header_row_count"],
                }
            )
            for c in t["cells"]:
                cells_rows.append(
                    {
                        "doc_id": d["doc_id"],
                        "table_index": t["index"],
                        "table_source": t["source"],
                        "table_title": t["title"],
                        "table_type": t["table_type"],
                        "row": c["row"],
                        "col": c["col"],
                        "header": c["header"],
                        "header_levels": c["header_levels"],
                        "text": c["text"],
                        "is_numeric": c["is_numeric"],
                    }
                )
    return spans_rows, tables_rows, cells_rows, merged_rows, media_rows


def write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="zstd")


def build_html_spans():
    """Kernel-parsed span stream of the dedicated HTML corpus (fixture
    classes incl. malformed/void-heavy + deterministic synthetic pages) —
    the oracle table for the extract_html_spans contract query."""
    rows = []
    for d in html_corpus():
        parsed = parse_document(d["text"])
        for seq, s in enumerate(parsed["spans"]):
            rows.append(
                {
                    "doc_id": d["doc_id"],
                    "seq": seq,
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                    "text_len": len(s["text"] or ""),
                }
            )
    return rows


def build_sf(sf_dir: str) -> None:
    tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(GOLDEN_ROOT, tag)
    os.makedirs(out_dir, exist_ok=True)
    spans, tables, cells, merged, media = build_rows(extraction_corpus(sf_dir))
    write(spans, SPANS_SCHEMA, os.path.join(out_dir, "spans.parquet"))
    write(tables, TABLES_SCHEMA, os.path.join(out_dir, "tables.parquet"))
    write(cells, CELLS_SCHEMA, os.path.join(out_dir, "cells.parquet"))
    write(merged, MERGED_SCHEMA, os.path.join(out_dir, "merged_spans.parquet"))
    write(media, MEDIA_SCHEMA, os.path.join(out_dir, "media.parquet"))
    html_spans = build_html_spans()
    write(html_spans, SPANS_SCHEMA, os.path.join(out_dir, "html_spans.parquet"))
    print(
        f"{out_dir}: spans={len(spans)} tables={len(tables)} "
        f"cells={len(cells)} merged={len(merged)} media={len(media)} "
        f"html_spans={len(html_spans)}"
    )


if __name__ == "__main__":
    targets = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    for sf in targets:
        build_sf(sf)
