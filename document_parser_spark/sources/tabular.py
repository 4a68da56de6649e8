"""Delimited-table source (comma-separated CSV) — tables ingested WITHOUT a markdown
detour, straight into the engine's structured-table model.

The reference only reads markdown streams; its users also hold plain CSVs
(camelot's export shape, main.py:324-327).  This source parses each file
with Python's csv module (proper quoting — a naive split would corrupt
quoted commas), runs the SAME kernel structure heuristics (H1–H8: vertical
vs horizontal, multi-row headers, hierarchies, groups), and emits rows in
the ``tables_output`` shape — so the whole search surface (Q1–Q7) works on
CSV corpora unchanged.

One file = one document = one table, embarrassingly parallel: the parse is
a mapInPandas stage over ``wholetext`` rows."""

from __future__ import annotations

import csv
import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TABLE


def _table_row(doc_id: str, text: str) -> dict | None:
    from ..kernel import extract_table_auto

    rows = [r for r in csv.reader(io.StringIO(text)) if r]
    if len(rows) < 2:
        return None
    width = max(len(r) for r in rows)
    padded = [[c.strip() for c in r] + [""] * (width - len(r)) for r in rows]
    raw = {"headers": padded[0], "rows": padded[1:]}
    table = extract_table_auto(raw, table_index=0, source="csv", title="")
    table["line_start"], table["line_end"] = 0, len(rows) - 1
    return {"doc_id": doc_id, **table}


def tables_from_delimited(spark: SparkSession, path: str) -> DataFrame:
    """Directory (or glob) of comma-delimited files → structured-tables DataFrame
    (tables_output schema: doc_id = file name, table_index = 0)."""
    files = spark.read.text(path, wholetext=True).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc_id"),
        F.col("value").alias("text"),
    )

    out_schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False)]
        + [
            T.StructField("table_index" if f.name == "index" else f.name, f.dataType, True)
            for f in TABLE.fields
        ]
    )
    col_order = [f.name for f in out_schema.fields]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                parsed = _table_row(r.doc_id, r.text)
                if parsed is not None:
                    parsed["table_index"] = parsed.pop("index")
                    rows.append(parsed)
            yield pd.DataFrame(rows, columns=col_order)

    return files.mapInPandas(op, schema=out_schema)
