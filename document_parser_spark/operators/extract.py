"""The extraction pipeline: interleaved documents → parsed spans + tables.

Spark-first design (SURVEY.md §3.1 "Spark shape"):

    documents(doc_id, spans)                      -- input_hint shape
      │  assemble_document_text()                 -- native exprs only
      ▼
    (doc_id, text, n_chars, media_refs)
      │  salted_repartition()                     -- plans/partitioning.py
      ▼
    parse_documents(): spans, tables, error       -- ONE mapInArrow pass
      ▼
    spans_table / tables_table / cells_table      -- native explode/select

The single Arrow pass wraps the pure kernel's columnar parse
(kernel.pipeline.parse_document_columns), whose dict view
kernel.parse_document is the golden oracle, so distributed output is
span-sequence-equal to the oracle by construction.  Everything before and
after the UDF is whole-stage-codegen'd Column algebra; the UDF is kept
last-before-write per SURVEY.md §4.3 so Catalyst can prune/push around it.

Reference lifecycle being re-expressed: use_marker_converter.py:600-648.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.pipeline import parse_document_columns
from ..schemas import PARSE_RESULT


def assemble_document_text(df: DataFrame) -> DataFrame:
    """Concatenate the raw ``text`` spans in offset order into one markdown
    string per document; keep sidecar media refs.  Pure Column algebra —
    no Python executes per row."""
    spans = F.col("spans")
    text_spans = F.array_sort(
        F.filter(spans, lambda s: s.kind == F.lit("text")),
        lambda a, b: F.when(a.offset < b.offset, -1).when(a.offset > b.offset, 1).otherwise(0),
    )
    media_spans = F.filter(spans, lambda s: s.kind == F.lit("media"))
    return df.select(
        "doc_id",
        F.array_join(F.transform(text_spans, lambda s: s.text), "\n").alias("text"),
        F.transform(media_spans, lambda s: s.media_ref).alias("media_refs"),
    ).withColumn("n_chars", F.length("text"))


def captured_error(exc: Exception, offset: int = 0):
    """(spans, tables, error) for a document whose parse raised: one
    ``kind='error'`` span carrying the message, no tables.  Errors are
    captured per document, never thrown (north_rule lineage; SURVEY.md
    §4.3)."""
    message = f"{type(exc).__name__}: {exc}"
    return (
        [{"kind": "error", "text": message, "media_ref": None, "offset": offset}],
        [],
        message,
    )


def _parse_one(text):
    """(spans, columnar tables, error) for one document."""
    try:
        parsed = parse_document_columns(text if text is not None else "")
        return parsed["spans"], parsed["tables"], None
    except Exception as exc:  # pragma: no cover - defensive
        return captured_error(exc)


def _build_parse_arrays(results, spans_type, tables_type):
    """Assemble the (spans, tables, error) Arrow arrays for one batch from
    columnar parse results — flat Python lists + offset vectors go straight
    into pyarrow buffers; the only per-CELL Python left is the
    header_levels flatten (1-2 strings each).  One final ``.cast`` per
    top-level array reconciles int widths/nullability with the exact
    to_arrow_type schema (equality-gated against ``pa.array`` over
    kernel.parse_document output in tests/test_columnar_arrow.py)."""
    s_kind, s_text, s_ref, s_off = [], [], [], []
    s_offsets = [0]
    t_offsets = [0]
    t_index, t_source, t_title, t_type = [], [], [], []
    t_ncols, t_nrows, t_hrc, t_ls, t_le = [], [], [], [], []
    t_headers, t_colheaders, t_colgroups = [], [], []
    hc_row, hc_col, hc_text = [], [], []
    hc_offsets = [0]
    c_row, c_col, c_hdr, c_text, c_num = [], [], [], [], []
    c_offsets = [0]
    lvl_flat = []
    lvl_offsets = [0]
    errors = []

    for spans, tables, err in results:
        errors.append(err)
        s_kind.extend([s["kind"] for s in spans])
        s_text.extend([s["text"] for s in spans])
        s_ref.extend([s["media_ref"] for s in spans])
        s_off.extend([s["offset"] for s in spans])
        s_offsets.append(len(s_kind))
        for t in tables:
            t_index.append(t["index"])
            t_source.append(t["source"])
            t_title.append(t["title"])
            t_type.append(t["table_type"])
            t_ncols.append(t["num_columns"])
            t_nrows.append(t["num_rows"])
            t_hrc.append(t["header_row_count"])
            t_ls.append(t.get("line_start"))
            t_le.append(t.get("line_end"))
            t_headers.append(t["headers"])
            t_colheaders.append(t["column_headers"])
            t_colgroups.append(t["column_groups"])
            r_, co_, h_, lv_, x_, b_ = t["cells_cols"]
            c_row.extend(r_)
            c_col.extend(co_)
            c_hdr.extend(h_)
            c_text.extend(x_)
            c_num.extend(b_)
            for lv in lv_:
                lvl_flat.extend(lv)
                lvl_offsets.append(len(lvl_flat))
            c_offsets.append(len(c_row))
            hr_, hco_, hx_ = t["header_cells_cols"]
            hc_row.extend(hr_)
            hc_col.extend(hco_)
            hc_text.extend(hx_)
            hc_offsets.append(len(hc_row))
        t_offsets.append(len(t_index))

    i32 = pa.int32()
    span_struct_t = spans_type.value_type
    span_fields = [span_struct_t.field(i) for i in range(span_struct_t.num_fields)]
    table_struct_t = tables_type.value_type
    table_fields = [table_struct_t.field(i) for i in range(table_struct_t.num_fields)]
    tfield = {f.name: f for f in table_fields}
    cells_t = tfield["cells"].type
    cell_struct_t = cells_t.value_type
    cell_fields = [cell_struct_t.field(i) for i in range(cell_struct_t.num_fields)]
    lvl_t = cell_struct_t.field(
        cell_struct_t.get_field_index("header_levels")
    ).type
    hc_t = tfield["header_cells"].type
    hc_struct_t = hc_t.value_type
    hc_fields = [hc_struct_t.field(i) for i in range(hc_struct_t.num_fields)]

    span_struct = pa.StructArray.from_arrays(
        [
            pa.array(s_kind, pa.string()),
            pa.array(s_text, pa.string()),
            pa.array(s_ref, pa.string()),
            pa.array(s_off, i32),
        ],
        fields=span_fields,
    )
    spans_arr = pa.ListArray.from_arrays(
        pa.array(s_offsets, i32), span_struct, type=spans_type
    )

    lvl_arr = pa.ListArray.from_arrays(
        pa.array(lvl_offsets, i32), pa.array(lvl_flat, pa.string()), type=lvl_t
    )
    cell_struct = pa.StructArray.from_arrays(
        [
            pa.array(c_row, i32),
            pa.array(c_col, i32),
            pa.array(c_hdr, pa.string()),
            lvl_arr,
            pa.array(c_text, pa.string()),
            pa.array(c_num, pa.bool_()),
        ],
        fields=cell_fields,
    )
    cells_arr = pa.ListArray.from_arrays(
        pa.array(c_offsets, i32), cell_struct, type=cells_t
    )

    hc_struct = pa.StructArray.from_arrays(
        [
            pa.array(hc_row, i32),
            pa.array(hc_col, i32),
            pa.array(hc_text, pa.string()),
            pa.array([True] * len(hc_row), pa.bool_()),
        ],
        fields=hc_fields,
    )
    hc_arr = pa.ListArray.from_arrays(pa.array(hc_offsets, i32), hc_struct, type=hc_t)

    table_struct = pa.StructArray.from_arrays(
        [
            pa.array(t_index, i32),
            pa.array(t_source, pa.string()),
            pa.array(t_title, pa.string()),
            pa.array(t_type, pa.string()),
            pa.array(t_ncols, i32),
            pa.array(t_nrows, i32),
            pa.array(t_hrc, i32),
            pa.array(t_headers, type=tfield["headers"].type),
            pa.array(t_colheaders, type=tfield["column_headers"].type),
            pa.array(t_colgroups, type=tfield["column_groups"].type),
            hc_arr,
            cells_arr,
            pa.array(t_ls, i32),
            pa.array(t_le, i32),
        ],
        fields=table_fields,
    )
    tables_arr = pa.ListArray.from_arrays(
        pa.array(t_offsets, i32), table_struct, type=tables_type
    )
    error_arr = pa.array(errors, type=pa.string())
    return spans_arr, tables_arr, error_arr


def parse_documents(df: DataFrame) -> DataFrame:
    """Attach parsed ``spans``, ``tables``, ``error`` columns; all other
    input columns pass through untouched (the big ``text`` column is
    consumed and dropped).

    Implementation: ``mapInArrow`` over the columnar kernel (cells as
    parallel lists) + direct offset-based Arrow assembly — the per-cell
    dict literal and a dict→Arrow re-walk were ~50% of executor-side parse
    time."""
    from pyspark.sql.pandas.types import to_arrow_type

    keep = [c for c in df.columns if c not in ("text", "spans", "tables", "error")]
    narrowed = df.select(*keep, "text")

    spans_type = to_arrow_type(PARSE_RESULT["spans"].dataType)
    tables_type = to_arrow_type(PARSE_RESULT["tables"].dataType)
    n_keep = len(keep)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = batch.column(n_keep).to_pylist()
            arrays = _build_parse_arrays(
                [_parse_one(t) for t in texts], spans_type, tables_type
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_keep)] + list(arrays),
                names=keep + ["spans", "tables", "error"],
            )

    out_schema = T.StructType(
        [narrowed.schema[c] for c in keep]
        + [
            T.StructField("spans", PARSE_RESULT["spans"].dataType, False),
            T.StructField("tables", PARSE_RESULT["tables"].dataType, False),
            T.StructField("error", T.StringType(), True),
        ]
    )
    return narrowed.mapInArrow(op, schema=out_schema)


def spans_output(parsed: DataFrame) -> DataFrame:
    """The document_spans output table (doc_id, spans) — the north-rule
    correctness surface."""
    return parsed.select("doc_id", "spans")


def tables_output(parsed: DataFrame) -> DataFrame:
    """One row per (doc_id, table): the structured-table side table."""
    t = parsed.select("doc_id", F.explode("tables").alias("t"))
    return t.select(
        "doc_id",
        F.col("t.index").alias("table_index"),
        F.col("t.source").alias("source"),
        F.col("t.title").alias("title"),
        F.col("t.table_type").alias("table_type"),
        F.col("t.num_columns").alias("num_columns"),
        F.col("t.num_rows").alias("num_rows"),
        F.col("t.header_row_count").alias("header_row_count"),
        F.col("t.headers").alias("headers"),
        F.col("t.column_headers").alias("column_headers"),
        F.col("t.column_groups").alias("column_groups"),
        F.col("t.header_cells").alias("header_cells"),
        F.col("t.cells").alias("cells"),
        F.col("t.line_start").alias("line_start"),
        F.col("t.line_end").alias("line_end"),
    )


def cells_output(tables: DataFrame) -> DataFrame:
    """The denormalized cell index — the reference's ``_build_index``
    (table_search.py:51-98) as one explode+project; table metadata is
    denormalized into every cell exactly as the reference does, which
    removes its per-cell header lookup join (J3 anti-pattern,
    SURVEY.md §4.1)."""
    c = tables.select(
        "doc_id",
        "table_index",
        F.col("source").alias("table_source"),
        F.col("title").alias("table_title"),
        "table_type",
        F.explode("cells").alias("c"),
    )
    return c.select(
        "doc_id",
        "table_index",
        "table_source",
        "table_title",
        "table_type",
        F.col("c.row").alias("row"),
        F.col("c.col").alias("col"),
        F.col("c.header").alias("header"),
        F.col("c.header_levels").alias("header_levels"),
        F.col("c.text").alias("text"),
        F.col("c.is_numeric").alias("is_numeric"),
    )


def media_refs_output(df_input: DataFrame) -> DataFrame:
    """Side table (doc_id, media_ref) from the raw stream — J4's join key
    (use_marker_converter.py:614-623)."""
    return df_input.select(
        "doc_id",
        F.explode(
            F.transform(
                F.filter("spans", lambda s: s.kind == F.lit("media")),
                lambda s: s.media_ref,
            )
        ).alias("media_ref"),
    )


def resolve_media(spans_df: DataFrame, media_df: DataFrame) -> DataFrame:
    """J4: re-thread media bytes/metadata onto media spans by
    (doc_id, media_ref) left join; broadcast when the media side is small.
    Parity: use_marker_converter.py:614-623."""
    exploded = spans_df.select("doc_id", F.explode("spans").alias("span"))
    return exploded.join(
        media_df,
        on=[
            exploded.doc_id == media_df.doc_id,
            exploded.span.media_ref == media_df.media_ref,
        ],
        how="left",
    ).select(exploded.doc_id, "span", *[c for c in media_df.columns if c not in ("doc_id", "media_ref")])
