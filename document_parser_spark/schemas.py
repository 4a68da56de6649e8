"""Declared Spark schemas — the typed upgrade of the reference's implied
dict-shape model (SURVEY.md §1.3: its JSON sink at
/root/reference/use_marker_converter.py:705-708 is the de-facto schema this
formalizes)."""

from __future__ import annotations

from pyspark.sql import types as T

# One interleaved span: the engine's atomic streaming unit (BASELINE.json
# input_hint).  kind ∈ {text, heading, table, media, caption, boilerplate, error}.
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

SPANS = T.ArrayType(SPAN, containsNull=False)

# Input table per input_hint.
DOCUMENTS_INPUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS, False),
    ]
)

# One cell of a structured table (use_marker_converter.py:541-548).
CELL = T.StructType(
    [
        T.StructField("row", T.IntegerType(), False),
        T.StructField("col", T.IntegerType(), False),
        T.StructField("header", T.StringType(), True),
        T.StructField("header_levels", T.ArrayType(T.StringType()), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("is_numeric", T.BooleanType(), False),
    ]
)

COLUMN_HEADER = T.StructType(
    [
        T.StructField("col", T.IntegerType(), False),
        T.StructField("levels", T.ArrayType(T.StringType()), True),
        T.StructField("full_path", T.StringType(), True),
    ]
)

COLUMN_GROUP = T.StructType(
    [
        T.StructField("parent", T.StringType(), True),
        T.StructField("start_col", T.IntegerType(), False),
        T.StructField("end_col", T.IntegerType(), False),
        T.StructField("columns", T.ArrayType(T.IntegerType()), True),
    ]
)

HEADER_CELL = T.StructType(
    [
        T.StructField("header_row", T.IntegerType(), False),
        T.StructField("col", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("is_header", T.BooleanType(), False),
    ]
)

# Structured table (use_marker_converter.py:567-580 / :411-431).
TABLE = T.StructType(
    [
        T.StructField("index", T.IntegerType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("table_type", T.StringType(), False),
        T.StructField("num_columns", T.IntegerType(), False),
        T.StructField("num_rows", T.IntegerType(), False),
        T.StructField("header_row_count", T.IntegerType(), False),
        T.StructField("headers", T.ArrayType(T.StringType()), True),
        T.StructField("column_headers", T.ArrayType(COLUMN_HEADER), True),
        T.StructField("column_groups", T.ArrayType(COLUMN_GROUP), True),
        T.StructField("header_cells", T.ArrayType(HEADER_CELL), True),
        T.StructField("cells", T.ArrayType(CELL), True),
        T.StructField("line_start", T.IntegerType(), True),
        T.StructField("line_end", T.IntegerType(), True),
    ]
)

# Per-document UDF output: spans + structured tables + captured error
# (errors never throw — north_rule lineage requirement, SURVEY.md §4.3).
PARSE_RESULT = T.StructType(
    [
        T.StructField("spans", SPANS, False),
        T.StructField("tables", T.ArrayType(TABLE), False),
        T.StructField("error", T.StringType(), True),
    ]
)
