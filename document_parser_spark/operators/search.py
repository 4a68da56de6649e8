"""The table-query surface Q1–Q7 (SURVEY.md §2.12) as pure DataFrame algebra
over the denormalized cells table — no UDFs anywhere.

Reference: the reference's table_search.py, which rescans every
cell for each match (O(matches × cells), table_search.py:222-228, 363-367).
Here the two row-shaped queries are single passes instead: one range
exchange by (doc_id, table_index, row) co-locates each table row, the key or
first hit is found within the row (a window for Q2, an aggregate for Q4),
and the same exchange serves the final ordering — one Exchange, no join.
Ranging by the full row key, not by doc_id alone, spreads a heavy-tail
document over many tasks.  The reference's sort-then-slice becomes
TakeOrderedAndProject (SURVEY.md §4.1).

Every function takes the cells/tables DataFrames produced by
operators.extract — callers should ``.cache()`` them once per session, which
is the Spark twin of the reference's ``_build_index`` (table_search.py:51-98).
The row passes rely on cells_output's invariant of one cell per
(doc_id, table_index, row, col).

All results carry ``doc_id``: the reference is single-document, the engine is
corpus-wide; within one doc the semantics match the reference exactly
(tests/test_search_spark.py checks them against the reference engine's
answers)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import match_score, title_filter
from ..kernel import SearchMode

#: Stable result ordering: corpus extension of table_search.py:445 /
#: cell-index insertion order.
_POSITION = ("doc_id", "table_index", "row", "col")
_ROW = _POSITION[:3]


def _rows_of(cells: DataFrame, table_type: str, table_title: Optional[str]) -> DataFrame:
    """The cells of ``table_type`` tables whose title matches, range-
    partitioned by row: the one exchange of a row-shaped query, which both
    groups each row and orders the result."""
    return (
        cells.filter(F.col("table_type") == table_type)
        .filter(title_filter(F.col("table_title"), table_title))
        .repartitionByRange(*_ROW)
    )


def search_by_key_value(
    cells: DataFrame,
    key_query: str,
    table_title: Optional[str] = None,
    mode: SearchMode = SearchMode.CONTAINS,
    case_sensitive: bool = False,
) -> DataFrame:
    """Q2: match keys in col 0 of VERTICAL tables, emit each same-row value
    cell with {key, key_column, value_column} context.

    Parity: table_search.py:173-252.  The nested per-match rescan becomes a
    window over each row: the row's key cell, when it matches, is attached
    to every cell of the row, and the value cells (col > 0) of keyed rows
    are kept."""
    matched, score = match_score(F.col("text"), key_query, mode, case_sensitive)
    key = F.struct(
        F.col("text").alias("key"),
        F.col("header").alias("key_column"),
        score.alias("match_score"),
    )
    row_key = F.max(F.when((F.col("col") == 0) & matched, key)).over(Window.partitionBy(*_ROW))
    return (
        _rows_of(cells, "vertical", table_title)
        .withColumn("_key", row_key)
        .filter((F.col("col") > 0) & F.col("_key").isNotNull())
        .select(
            "doc_id", "table_index", "table_source", "table_title",
            F.lit("vertical").alias("table_type"),
            "row", "col", "header", "header_levels",
            F.col("text").alias("cell_text"),
            F.col("_key.match_score").alias("match_score"),
            F.lit("key_value").alias("match_type"),
            F.struct(
                F.col("_key.key").alias("key"),
                F.col("_key.key_column").alias("key_column"),
                F.col("header").alias("value_column"),
            ).alias("context"),
        )
        .orderBy(*_POSITION)
    )


def _column_match(column_name: str):
    """F6: header equality OR name ∈ header_levels OR case-insensitive
    substring against any level.  Parity: table_search.py:286-296.
    Membership implies the substring test, and the two agree on null
    levels, so one ``exists`` evaluates both."""
    lowered = column_name.lower()
    return (F.col("header") == column_name) | F.exists(
        "header_levels", lambda lvl: F.lower(lvl).contains(lowered)
    )


def search_by_column(
    cells: DataFrame,
    column_name: str,
    value_query: Optional[str] = None,
    table_title: Optional[str] = None,
    mode: SearchMode = SearchMode.CONTAINS,
    case_sensitive: bool = False,
) -> DataFrame:
    """Q3: values of a named column in HORIZONTAL tables, optionally filtered
    by a value match.  Parity: table_search.py:254-323."""
    out = (
        cells.filter(F.col("table_type") == "horizontal")
        .filter(title_filter(F.col("table_title"), table_title))
        .filter(_column_match(column_name))
    )
    if value_query is not None:
        matched, score = match_score(F.col("text"), value_query, mode, case_sensitive)
        out = out.filter(matched).withColumn("match_score", score)
    else:
        out = out.withColumn("match_score", F.lit(1.0))
    return out.select(
        "doc_id", "table_index", "table_source", "table_title", "table_type",
        "row", "col", "header", "header_levels",
        F.col("text").alias("cell_text"), "match_score",
        F.lit("column_search").alias("match_type"),
    ).orderBy(*_POSITION)


def get_row_by_column_value(
    cells: DataFrame,
    column_name: str,
    value_query: str,
    table_title: Optional[str] = None,
    mode: SearchMode = SearchMode.CONTAINS,
    case_sensitive: bool = False,
) -> DataFrame:
    """Q4: Q3's hits, one per row (the first matching cell by col order —
    the reference's ``seen_rows`` insertion semantics), each with its whole
    row assembled as an ordered header→text map.

    Parity: table_search.py:325-388.  One aggregate per row computes both:
    the hit is ``min_by`` over col of the matching cells, and the row map is
    ``map_from_entries`` over the row's cells sorted by col.  Rows without a
    hit are dropped."""
    matched, score = match_score(F.col("text"), value_query, mode, case_sensitive)
    hit = F.struct(
        "table_title",
        "table_type",
        F.col("header").alias("matched_column"),
        F.col("text").alias("matched_value"),
        score.alias("match_score"),
    )
    return (
        _rows_of(cells, "horizontal", table_title)
        .groupBy(*_ROW)
        .agg(
            F.min_by(hit, F.when(_column_match(column_name) & matched, F.col("col"))).alias("_hit"),
            F.map_from_entries(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("col", "header", "text"))),
                    lambda s: F.struct(s.header.alias("key"), s.text.alias("value")),
                )
            ).alias("row_data"),
        )
        .filter(F.col("_hit").isNotNull())
        .select(*_ROW, "_hit.*", "row_data")
        .orderBy(*_ROW)
    )


def search_anywhere(
    cells: DataFrame,
    query: str,
    table_title: Optional[str] = None,
    table_type: Optional[str] = None,
    mode: SearchMode = SearchMode.CONTAINS,
    case_sensitive: bool = False,
    max_results: Optional[int] = None,
) -> DataFrame:
    """Q5: full cell scan, score sort, top-k.  Parity: table_search.py:390-450
    (the full-sort-then-slice upgrades to TakeOrderedAndProject for free)."""
    matched, score = match_score(F.col("text"), query, mode, case_sensitive)
    out = cells.filter(title_filter(F.col("table_title"), table_title))
    if table_type is not None:
        out = out.filter(F.col("table_type") == table_type)
    out = (
        out.filter(matched)
        .select(
            "doc_id", "table_index", "table_source", "table_title", "table_type",
            "row", "col", "header", "header_levels",
            F.col("text").alias("cell_text"),
            score.alias("match_score"),
            F.lit("cell").alias("match_type"),
        )
        .orderBy(F.desc("match_score"), *_POSITION)
    )
    if max_results:
        out = out.limit(max_results)
    return out


def list_all_tables(tables: DataFrame) -> DataFrame:
    """Q6/F9: metadata projection with the "RxC" size string.
    Parity: table_search.py:452-463."""
    return tables.select(
        "doc_id",
        F.col("table_index").alias("index"),
        F.col("title"),
        F.col("table_type").alias("type"),
        F.col("source"),
        F.format_string("%dx%d", "num_rows", "num_columns").alias("size"),
    ).orderBy("doc_id", "index")


def get_table_by_title(
    tables: DataFrame, title_query: str, mode: SearchMode = SearchMode.CONTAINS
) -> DataFrame:
    """Q7/O5: first table matching the title, in insertion order — parity
    requires orderBy before limit(1) (table_search.py:465-476; SURVEY.md O5)."""
    matched, _ = match_score(F.col("title"), title_query, mode, case_sensitive=False)
    return tables.filter(matched).orderBy("doc_id", "table_index").limit(1)
