"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full extraction pipeline over the fixture corpus
plus the driver's sf0.001 documents, then the reference's own first example
query (search_by_key_value 'Pathology', /root/reference/table_search.py:549-554).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
(SURVEY.md §2 + the training-data-pipeline layer): 50 queries, EVERY one
with a DuckDB oracle.  Cross-engine arithmetic is engineered to be
bit-identical (md5/sha256 string hashing, integer set/ratio/projection
math, decimal-exact money sums, timezone-free NTZ microsecond gaps); the
parse/search surface is oracled via golden parquet built by the pure kernel
(scripts/build_golden.py — itself reference-parity-tested), with the oracle
SQL re-implementing each query's relational logic over those tables.
``scripts/compare_oracle.py`` dry-runs the whole contract locally.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_parser_spark.functions.columns import (
    contains_units_expr,
    is_numeric_cell_expr,
)
from document_parser_spark.operators import dedup, search, similarity, text
from document_parser_spark.operators.multimodal import media_kind_sql
from document_parser_spark.operators.extract import (
    assemble_document_text,
    cells_output,
    parse_documents,
    tables_output,
)
from document_parser_spark.plans.partitioning import salted_repartition
from document_parser_spark.sources.data import (
    fixture_input_df,
    flat_documents_df,
    lift_flat_to_input,
)
from document_parser_spark.sources.session import load_table

SF0001 = "/root/testdata/sf0.001"

# Shared DuckDB SQL fragment: whitespace word split matching operators.text.words.
_SQL_WORDS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"


# --------------------------------------------------------------------------
# corpus plumbing
# --------------------------------------------------------------------------

def _extraction_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture corpus ∪ the driver's flat documents lifted to input shape."""
    lifted = lift_flat_to_input(
        flat_documents_df(spark, sf_dir).select("doc_id", "text")
    )
    return fixture_input_df(spark).unionByName(lifted)


# One parse of the corpus per (session, sf_dir): the Spark twin of the
# reference's build-index-once (table_search.py:47-49) — every search query
# reuses the cached cells instead of re-running the extraction UDF.
_PARSED_CACHE: dict = {}


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "parsed")
    if key not in _PARSED_CACHE:
        assembled = assemble_document_text(_extraction_corpus(spark, sf_dir))
        # two parse tasks per core, as in plans/segmentation.py
        width = spark.sparkContext.defaultParallelism * 2
        _PARSED_CACHE[key] = parse_documents(salted_repartition(assembled, width)).persist()
    return _PARSED_CACHE[key]


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "cells")
    if key not in _PARSED_CACHE:
        _PARSED_CACHE[key] = cells_output(tables_output(_parsed(spark, sf_dir))).persist()
    return _PARSED_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    cells = _cells(spark, SF0001)
    out = search.search_by_key_value(cells, "Pathology")
    return out.withColumn("context", F.to_json("context"))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

# The parse-surface queries are oracled against GOLDEN PARQUET: the pure
# kernel (the reference-faithful oracle) parses the same corpus at build time
# (scripts/build_golden.py) and the DuckDB SQL re-implements each query's
# relational logic over those tables — so the Spark operators are verified
# independently, with only the markdown parse shared via the kernel.
# The driver compares at sf0.01; all numeric keys are cast to BIGINT on both
# sides to make the dtype comparison width-stable.
_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden", "sf0.01")


def _q_extract_spans(spark, sf_dir):
    parsed = _parsed(spark, sf_dir)
    s = parsed.select("doc_id", F.posexplode("spans").alias("seq", "span"))
    return s.select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").cast("long").alias("offset"),
        F.length("span.text").cast("long").alias("text_len"),
    )


_SQL_EXTRACT_SPANS = f"""
SELECT doc_id, seq, kind, media_ref, "offset", text_len
FROM read_parquet('{_GOLDEN}/spans.parquet')
ORDER BY doc_id, seq
"""


def _q_extract_tables_meta(spark, sf_dir):
    out = search.list_all_tables(tables_output(_parsed(spark, sf_dir)))
    return out.withColumn("index", F.col("index").cast("long"))


_SQL_EXTRACT_TABLES_META = f"""
SELECT doc_id, table_index AS "index", title, table_type AS "type", source,
       printf('%dx%d', num_rows, num_columns) AS size
FROM read_parquet('{_GOLDEN}/tables.parquet')
ORDER BY doc_id, "index"
"""


def _q_search_key_value(spark, sf_dir):
    out = search.search_by_key_value(_cells(spark, sf_dir), "Pathology")
    # Arrays serialize to JSON for the contract harness (its canonical sort
    # can't factorize python lists); values are compared as the JSON string.
    return (
        out.withColumn("context", F.to_json("context"))
        .withColumn("header_levels", F.to_json("header_levels"))
        .withColumn("table_index", F.col("table_index").cast("long"))
        .withColumn("row", F.col("row").cast("long"))
        .withColumn("col", F.col("col").cast("long"))
    )


_SQL_SEARCH_KEY_VALUE = f"""
WITH cells AS (SELECT * FROM read_parquet('{_GOLDEN}/cells.parquet')),
keys AS (
  SELECT doc_id, table_index, row, text AS key, header AS key_column
  FROM cells
  WHERE table_type = 'vertical' AND col = 0 AND contains(lower(text), 'pathology')
)
SELECT v.doc_id, v.table_index, v.table_source, v.table_title,
       'vertical' AS table_type, v.row, v.col, v.header,
       CAST(to_json(v.header_levels) AS VARCHAR) AS header_levels,
       v.text AS cell_text,
       CAST(1.0 AS DOUBLE) AS match_score,
       'key_value' AS match_type,
       CAST(json_object('key', k.key, 'key_column', k.key_column,
                        'value_column', v.header) AS VARCHAR) AS context
FROM keys k
JOIN cells v ON v.doc_id = k.doc_id AND v.table_index = k.table_index
            AND v.row = k.row AND v.col > 0
ORDER BY v.doc_id, v.table_index, v.row, v.col
"""


def _q_search_anywhere(spark, sf_dir):
    # 'Normal' lands in DATA cells of the md-merged-cells fixture ('mg/kg'
    # only ever occurs in header rows — the reference's own header heuristic
    # swallows every md-numeric-units row, so that query was 0 rows).
    # max_results=5 < the 6 corpus matches, so the top-k limit genuinely cuts.
    out = search.search_anywhere(_cells(spark, sf_dir), "Normal", max_results=5)
    return (
        out.withColumn("header_levels", F.to_json("header_levels"))
        .withColumn("table_index", F.col("table_index").cast("long"))
        .withColumn("row", F.col("row").cast("long"))
        .withColumn("col", F.col("col").cast("long"))
    )


_SQL_SEARCH_ANYWHERE = f"""
SELECT doc_id, table_index, table_source, table_title, table_type, row, col,
       header, CAST(to_json(header_levels) AS VARCHAR) AS header_levels,
       text AS cell_text, CAST(1.0 AS DOUBLE) AS match_score,
       'cell' AS match_type
FROM read_parquet('{_GOLDEN}/cells.parquet')
WHERE contains(lower(text), 'normal')
ORDER BY match_score DESC, doc_id, table_index, row, col
LIMIT 5
"""


def _q_row_assembly(spark, sf_dir):
    out = search.get_row_by_column_value(
        _cells(spark, sf_dir), "Group Number", "2", table_title="Experimental Design"
    )
    return (
        out.withColumn("row_data", F.to_json("row_data"))
        .withColumn("table_index", F.col("table_index").cast("long"))
        .withColumn("row", F.col("row").cast("long"))
    )


_SQL_ROW_ASSEMBLY = f"""
WITH cells AS (SELECT * FROM read_parquet('{_GOLDEN}/cells.parquet')),
hits AS (
  SELECT doc_id, table_index, table_title, table_type, row, col, header, text,
         row_number() OVER (PARTITION BY doc_id, table_index, row ORDER BY col) AS rn
  FROM cells
  WHERE table_type = 'horizontal'
    AND contains(lower(coalesce(table_title, '')), 'experimental design')
    AND (header = 'Group Number'
         OR list_contains(header_levels, 'Group Number')
         OR len(list_filter(header_levels, x -> contains(lower(x), 'group number'))) > 0)
    AND contains(lower(text), '2')
),
matched AS (
  SELECT doc_id, table_index, table_title, table_type, row,
         header AS matched_column, text AS matched_value,
         CAST(1.0 AS DOUBLE) AS match_score
  FROM hits WHERE rn = 1
),
maps AS (
  SELECT c.doc_id, c.table_index, c.row,
         '{{' || string_agg(to_json(c.header) || ':' || to_json(c.text), ',' ORDER BY c.col) || '}}' AS row_data
  FROM cells c
  SEMI JOIN matched m
    ON m.doc_id = c.doc_id AND m.table_index = c.table_index AND m.row = c.row
  GROUP BY c.doc_id, c.table_index, c.row
)
SELECT m.doc_id, m.table_index, m.row, m.table_title, m.table_type,
       m.matched_column, m.matched_value, m.match_score, p.row_data
FROM matched m
JOIN maps p ON p.doc_id = m.doc_id AND p.table_index = m.table_index AND p.row = m.row
ORDER BY m.doc_id, m.table_index, m.row
"""


def _q_search_by_column(spark, sf_dir):
    """Q3 standalone (reference table_search.py:254-323): all values of a
    named column across horizontal tables — 8 of 9,200 cells survive, so the
    column filter demonstrably cuts."""
    out = search.search_by_column(_cells(spark, sf_dir), "Number of Animals")
    return (
        out.withColumn("header_levels", F.to_json("header_levels"))
        .withColumn("table_index", F.col("table_index").cast("long"))
        .withColumn("row", F.col("row").cast("long"))
        .withColumn("col", F.col("col").cast("long"))
    )


_SQL_SEARCH_BY_COLUMN = f"""
SELECT doc_id, table_index, table_source, table_title, table_type, row, col,
       header, CAST(to_json(header_levels) AS VARCHAR) AS header_levels,
       text AS cell_text, CAST(1.0 AS DOUBLE) AS match_score,
       'column_search' AS match_type
FROM read_parquet('{_GOLDEN}/cells.parquet')
WHERE table_type = 'horizontal'
  AND (header = 'Number of Animals'
       OR list_contains(header_levels, 'Number of Animals')
       OR len(list_filter(header_levels, x -> contains(lower(x), 'number of animals'))) > 0)
ORDER BY doc_id, table_index, row, col
"""


def _q_table_by_title(spark, sf_dir):
    """Q7/O5 (reference table_search.py:465-476): FIRST table whose title
    matches, in insertion order — 'pathological' matches 120 tables of the
    skew fixture, so the limit(1) genuinely cuts."""
    out = search.get_table_by_title(tables_output(_parsed(spark, sf_dir)), "pathological")
    return out.select(
        "doc_id",
        F.col("table_index").cast("long").alias("table_index"),
        "source",
        "title",
        "table_type",
        F.col("num_columns").cast("long").alias("num_columns"),
        F.col("num_rows").cast("long").alias("num_rows"),
        F.col("header_row_count").cast("long").alias("header_row_count"),
    )


_SQL_TABLE_BY_TITLE = f"""
SELECT doc_id, table_index, source, title, table_type,
       num_columns, num_rows, header_row_count
FROM read_parquet('{_GOLDEN}/tables.parquet')
WHERE contains(lower(title), 'pathological')
ORDER BY doc_id, table_index
LIMIT 1
"""


def _q_extract_html_spans(spark, sf_dir):
    """North-rule HTML surface as its own contract query: the DOM kernel
    (boilerplate strip via tag-depth/link-density/text-density, table
    serialization, media re-threading) over the dedicated HTML corpus —
    every fixture class (clean, vertical-kv, deep-boiler, MALFORMED,
    void-heavy) plus 40 deterministic synthetic pages.  md5(text) locks the
    exact span text, not just its length."""
    from document_parser_spark.corpus import html_corpus

    df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in html_corpus()], "doc_id string, text string"
    )
    parsed = parse_documents(df)
    s = parsed.select("doc_id", F.posexplode("spans").alias("seq", "span"))
    return s.select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").cast("long").alias("offset"),
        F.md5(F.col("span.text")).alias("text_md5"),
    )


_SQL_EXTRACT_HTML_SPANS = f"""
SELECT doc_id, seq, kind, media_ref, "offset", md5(text) AS text_md5
FROM read_parquet('{_GOLDEN}/html_spans.parquet')
ORDER BY doc_id, seq
"""


# ---- F1: match-mode predicates (oracled) ----------------------------------

def _q_filter_modes(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            "p_name",
            (F.col("p_name") == "small widget").alias("m_exact"),
            F.col("p_name").contains("bolt").alias("m_contains"),
            F.col("p_name").startswith("small").alias("m_starts"),
            F.col("p_name").endswith("nut").alias("m_ends"),
            F.col("p_name").rlike("^(small|large) (widget|bolt)$").alias("m_regex"),
        )
    )


_SQL_FILTER_MODES = """
SELECT p_partkey, p_name,
       p_name = 'small widget'                          AS m_exact,
       contains(p_name, 'bolt')                         AS m_contains,
       starts_with(p_name, 'small')                     AS m_starts,
       ends_with(p_name, 'nut')                         AS m_ends,
       regexp_matches(p_name, '^(small|large) (widget|bolt)$') AS m_regex
FROM part ORDER BY p_partkey
"""


# ---- F2: fuzzy (Levenshtein) scoring (oracled) ------------------------------

def _q_fuzzy_pairs(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    a = n.select(F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b"))
    lev = F.levenshtein("name_a", "name_b")
    max_len = F.greatest(F.length("name_a"), F.length("name_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            lev.cast("long").alias("lev"),
            F.floor(F.lit(1e6) * (F.lit(1.0) - lev / max_len)).alias("sim_e6"),
        )
    )


_SQL_FUZZY_PAIRS = """
SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
       levenshtein(a.n_name, b.n_name) AS lev,
       CAST(floor(1e6 * (1.0 - levenshtein(a.n_name, b.n_name)
                / greatest(length(a.n_name), length(b.n_name)))) AS BIGINT) AS sim_e6
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
ORDER BY key_a, key_b
"""


# ---- F7/F8: numeric & units predicates (oracled) ----------------------------

def _q_numeric_predicate(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    s = F.concat(F.col("l_returnflag"), (F.col("l_orderkey") % 1000).cast("string"))
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            s.alias("probe"),
            is_numeric_cell_expr(s).alias("is_numeric"),
        )
    )


# DuckDB mirror of is_numeric_cell_expr (use_marker_converter.py:229-248):
# try-parse after stripping ,$% — or digit ratio > 0.5 on the space-stripped text.
_SQL_NUMERIC_PREDICATE = r"""
WITH probes AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag || CAST(l_orderkey % 1000 AS VARCHAR) AS probe
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, probe,
  CASE WHEN trim(probe) = '' THEN FALSE ELSE (
    TRY_CAST(trim(replace(replace(replace(probe, ',', ''), '$', ''), '%', '')) AS DOUBLE) IS NOT NULL
    OR lower(trim(replace(replace(replace(probe, ',', ''), '$', ''), '%', ''))) IN
       ('nan','inf','-inf','+inf','infinity','-infinity','+infinity')
    OR (length(replace(probe, ' ', '')) > 0 AND
        CAST(length(regexp_replace(replace(probe, ' ', ''), '[^0-9]', '', 'g')) AS DOUBLE)
          / length(replace(probe, ' ', '')) > 0.5)
  ) END AS is_numeric
FROM probes ORDER BY l_orderkey, l_linenumber
"""


def _q_units_predicate(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    s = F.when(
        F.col("p_size") % 3 == 0,
        F.concat(F.col("p_name"), F.lit(" ("), F.col("p_size").cast("string"), F.lit(" mg)")),
    ).otherwise(F.col("p_name"))
    return p.select(
        "p_partkey", s.alias("probe"), contains_units_expr(s).alias("has_units")
    )


_SQL_UNITS_PREDICATE = r"""
WITH probes AS (
  SELECT p_partkey,
         CASE WHEN p_size % 3 = 0
              THEN p_name || ' (' || CAST(p_size AS VARCHAR) || ' mg)'
              ELSE p_name END AS probe
  FROM part
)
SELECT p_partkey, probe,
       (regexp_matches(probe, '(?i)\([^)]*(?:mg|kg|mL|g|L|m|cm|mm|°C|°F|%|ppm|ppb|mol|M)\)')
        OR regexp_matches(probe, '(?i)\b(?:mg|kg|mL|g|L|m|cm|mm)(?:/(?:mg|kg|mL|g|L|m|cm|mm))?\b')
       ) AS has_units
FROM probes ORDER BY p_partkey
"""


# ---- A-family: aggregations (oracled; decimal-exact money math) -------------

def _q_tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))
    # l_shipdate is TIMESTAMP_NTZ: compare wall-time against an NTZ literal —
    # timezone-free in any session (unix_timestamp/epoch would re-interpret
    # the wall time in the session zone and shift the boundary vs DuckDB).
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )
    return out


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE)
         AS sum_disc_price,
       count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_agg_rollup_ops(spark, sf_dir):
    """Four aggregation shapes in one tagged result — the r04 fifth-session
    fold of agg_shapes + rollup_ops (themselves folds of distinct_ratio +
    shape_agg and dim_rollup + rollup_agg), making the 50th registry slot
    for corpus_profile.  Branches: 'mktseg' distinct nation keys per market
    segment; 'order' max line number + count per order; 'region' the
    broadcast dim-join chain counted per region (explicit broadcast() hints
    — plan gate asserts the exchange-free chain); 'lineitem' ROLLUP over
    (returnflag, linestatus) with decimal-exact sums.  num carries the
    branch's measure as double (small integers and decimal-exact sums are
    exactly representable), cnt the row count."""
    null_s = F.lit(None).cast("string")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        c.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").cast("double").alias("num"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.lit("mktseg").alias("kind"),
            F.col("c_mktsegment").alias("key1"),
            null_s.alias("key2"),
            "num",
            "cnt",
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    shp = (
        li.groupBy("l_orderkey")
        .agg(
            F.max("l_linenumber").cast("double").alias("num"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.lit("order").alias("kind"),
            F.col("l_orderkey").cast("string").alias("key1"),
            null_s.alias("key2"),
            "num",
            "cnt",
        )
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.lit("region").alias("kind"),
            F.col("r_name").alias("key1"),
            null_s.alias("key2"),
            F.lit(None).cast("double").alias("num"),
            "cnt",
        )
    )
    rol = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("num"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.lit("lineitem").alias("kind"),
            F.col("l_returnflag").alias("key1"),
            F.col("l_linestatus").alias("key2"),
            "num",
            "cnt",
        )
    )
    return (
        seg.unionByName(shp)
        .unionByName(dim)
        .unionByName(rol)
    )


_SQL_AGG_ROLLUP_OPS = """
SELECT 'mktseg' AS kind, c_mktsegment AS key1, CAST(NULL AS VARCHAR) AS key2,
       CAST(count(DISTINCT c_nationkey) AS DOUBLE) AS num, count(*) AS cnt
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT 'order' AS kind, CAST(l_orderkey AS VARCHAR) AS key1,
       CAST(NULL AS VARCHAR) AS key2,
       CAST(max(l_linenumber) AS DOUBLE) AS num, count(*) AS cnt
FROM lineitem GROUP BY l_orderkey
UNION ALL
SELECT 'region' AS kind, r.r_name AS key1, CAST(NULL AS VARCHAR) AS key2,
       CAST(NULL AS DOUBLE) AS num, count(*) AS cnt
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
UNION ALL
SELECT 'lineitem' AS kind, l_returnflag AS key1, l_linestatus AS key2,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS num,
       count(*) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY kind, key1, key2
"""


def _q_corpus_profile(spark, sf_dir):
    """Per-source corpus profile (operators/profile.py): counts, integer
    char sums, language spread, DISCRETE rank-selected width quantiles
    (value at rn == (n·q+99) div 100 under the deterministic (n_chars,
    doc_id) order — engine-portable exact, unlike interpolated
    percentiles), and the heavy-hitter language via the skew-proof
    aggregate-then-rank election."""
    from document_parser_spark.operators.profile import corpus_profile

    return corpus_profile(load_table(spark, sf_dir, "documents"))


_SQL_CORPUS_PROFILE = """
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
),
quant AS (
  SELECT source,
         max(CASE WHEN rn = (n * 25 + 99) // 100 THEN n_chars END) AS chars_p25,
         max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS chars_p50,
         max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS chars_p90
  FROM ranked GROUP BY source
),
base AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         count(DISTINCT lang) AS n_langs
  FROM documents GROUP BY source
),
lc AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang
),
top AS (
  SELECT source, lang AS top_lang, c AS top_lang_docs,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, lang ASC) AS r
  FROM lc
)
SELECT b.source, b.n_docs, b.chars_sum, b.n_langs,
       q.chars_p25, q.chars_p50, q.chars_p90, t.top_lang, t.top_lang_docs
FROM base b
JOIN quant q USING (source)
JOIN top t USING (source)
WHERE t.r = 1
ORDER BY b.source
"""


def _q_pivot_returnflag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_quantity").cast("decimal(18,6)")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(dec).cast("double"))
        .withColumnsRenamed({"F": "qty_f", "O": "qty_o"})
    )


_SQL_PIVOT = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_f,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---- J-family: join shapes (oracled) ----------------------------------------

def _q_key_value_join(spark, sf_dir):
    """J1 shape: matched keys (urgent orders) → all their 'row cells'
    (lineitems), broadcast-hash join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    return (
        F.broadcast(keys)
        .join(li, on="l_orderkey")
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice")
    )


_SQL_KEY_VALUE_JOIN = """
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
ORDER BY l.l_orderkey, l.l_linenumber
"""


def _q_semi_join_rows(spark, sf_dir):
    """J2 shape: dedup matched rows then assemble (left-semi + agg)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hit = li.filter(F.col("l_discount") > 0.09).select("l_orderkey").distinct()
    return (
        o.join(hit, o.o_orderkey == hit.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    )


_SQL_SEMI_JOIN = """
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
ORDER BY o_orderkey
"""




# ---- W-family: windows (oracled) --------------------------------------------

def _q_topk_per_group(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey")
    )


_SQL_TOPK_PER_GROUP = """
SELECT o_custkey, rnk, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3 ORDER BY o_custkey, rnk
"""


def _q_sessionize(spark, sf_dir):
    """W3 twin: lag + gap>600s → change flag → running sum = session id."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds: unix_timestamp() truncates to seconds and
    # the events carry µs precision — fractional gaps would flip boundaries
    # vs the oracle.
    # ts is TIMESTAMP_NTZ: timestamp_diff on two NTZ values is wall-clock
    # arithmetic with NO session-timezone involvement, matching DuckDB's
    # epoch_us(ntz) differences in any zone (an NTZ→TZ cast would shift by
    # session tz, which cancels in differences only for fixed-offset zones —
    # a DST transition inside a gap would move it by ±3600 s).
    gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    sess = F.sum(
        F.when(gap.isNull() | (gap > 600 * 1_000_000), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


_SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM sessions GROUP BY user_id ORDER BY user_id
"""


def _q_window_ops(spark, sf_dir):
    """W4 twin + running sum over the SAME per-user ordered frame
    (round-4 registry fold of forward_fill + running_sum: one window
    partitioning serves both — last-non-null propagation and the
    decimal-exact cumulative sum share a single sort/shuffle)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    probe = F.when(F.col("value") > 50, F.col("event_type"))
    return e.select(
        "user_id",
        "event_id",
        F.last(probe, ignorenulls=True).over(w).alias("filled_type"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("run_value"),
    )


_SQL_WINDOW_OPS = """
SELECT user_id, event_id,
       last_value(CASE WHEN value > 50 THEN event_type END IGNORE NULLS)
         OVER w AS filled_type,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS run_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


# ---- dedup family (oracled) --------------------------------------------------

def _q_dedup_exact(spark, sf_dir):
    d = flat_documents_df(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("long"))
    return dedup.exact_duplicates(d.select("doc_id", F.substring("text", 1, 80).alias("text")))


_SQL_DEDUP_EXACT = """
SELECT md5(substr(text, 1, 80)) AS text_md5, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_md5
"""


_SQL_MINHASH_PAIRS = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS g(i)
),
hs AS (SELECT doc_id, sha256(shingle) AS s FROM sh),
mins AS (
  SELECT doc_id, h, min(substr(s, 8 * h + 1, 8)) AS mh
  FROM hs, unnest(generate_series(0, 7)) AS t(h)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id, h // 2 AS band, md5(string_agg(mh, '|' ORDER BY h)) AS sig
  FROM mins GROUP BY doc_id, h // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_sh + sb.n_sh - i.n_inter AS n_union
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 100 * i.n_inter >= 50 * (sa.n_sh + sb.n_sh - i.n_inter)
ORDER BY doc_a, doc_b
"""


# The full-corpus pair derivation (same CTEs as _SQL_MINHASH_PAIRS) filtered
# to pairs with at least one new-shard side: a sig-match pair has >=1 new
# side iff the incremental new x (corpus u new) join generates it, so the
# closed form is exact.
_SQL_MINHASH_INCREMENTAL = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS g(i)
),
hs AS (SELECT doc_id, sha256(shingle) AS s FROM sh),
mins AS (
  SELECT doc_id, h, min(substr(s, 8 * h + 1, 8)) AS mh
  FROM hs, unnest(generate_series(0, 7)) AS t(h)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id, h // 2 AS band, md5(string_agg(mh, '|' ORDER BY h)) AS sig
  FROM mins GROUP BY doc_id, h // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_sh + sb.n_sh - i.n_inter AS n_union
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 100 * i.n_inter >= 50 * (sa.n_sh + sb.n_sh - i.n_inter)
ORDER BY doc_a, doc_b
"""


def _q_dedup_clusters(spark, sf_dir):
    """Connected components over the verified MinHash near-dup pairs — the
    canonical-representative labeling a dedup pipeline keeps per cluster."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_near_dup_pairs(d, shingle_k=5, threshold_pct=50)
    return dedup.duplicate_clusters(pairs)


# Same pair derivation as _SQL_MINHASH_PAIRS, then min-reachable-label per
# node via a recursive CTE — the exact fixpoint the Spark large-star/
# small-star loop converges to.
_SQL_DEDUP_CLUSTERS = rf"""
WITH RECURSIVE w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS g(i)
),
hs AS (SELECT doc_id, sha256(shingle) AS s FROM sh),
mins AS (
  SELECT doc_id, h, min(substr(s, 8 * h + 1, 8)) AS mh
  FROM hs, unnest(generate_series(0, 7)) AS t(h)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id, h // 2 AS band, md5(string_agg(mh, '|' ORDER BY h)) AS sig
  FROM mins GROUP BY doc_id, h // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
dup_pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 100 * i.n_inter >= 50 * (sa.n_sh + sb.n_sh - i.n_inter)
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION SELECT doc_b, doc_a FROM dup_pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lab) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


def _q_cluster_canonical(spark, sf_dir):
    """The keep/drop decision per near-dup cluster: canonical = largest
    n_chars, ties to smallest doc_id ("keep the longest" policy of public
    dedup pipelines), plus membership accounting — the row a 100 TB dedup
    job actually writes.  Composes minhash pairs → star-contraction CC →
    one per-cluster window election (dedup.canonical_keep)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_near_dup_pairs(d, shingle_k=5, threshold_pct=50)
    clusters = dedup.duplicate_clusters(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return dedup.canonical_keep(clusters, docs)


# _SQL_DEDUP_CLUSTERS' labeling fixpoint + the canonical election: per
# cluster, row_number over (n_chars DESC, doc_id ASC) picks the keeper.
_SQL_CLUSTER_CANONICAL = rf"""
WITH RECURSIVE w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS g(i)
),
hs AS (SELECT doc_id, sha256(shingle) AS s FROM sh),
mins AS (
  SELECT doc_id, h, min(substr(s, 8 * h + 1, 8)) AS mh
  FROM hs, unnest(generate_series(0, 7)) AS t(h)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id, h // 2 AS band, md5(string_agg(mh, '|' ORDER BY h)) AS sig
  FROM mins GROUP BY doc_id, h // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
dup_pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 100 * i.n_inter >= 50 * (sa.n_sh + sb.n_sh - i.n_inter)
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION SELECT doc_b, doc_a FROM dup_pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
),
jn AS (
  SELECT l.cluster_id, l.doc_id, d.n_chars
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
),
rk AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM jn
)
SELECT cluster_id,
       max(CASE WHEN rnk = 1 THEN doc_id END) AS keep_doc,
       max(CASE WHEN rnk = 1 THEN n_chars END) AS keep_chars,
       count(*) AS n_members,
       count(*) - 1 AS n_dropped
FROM rk GROUP BY cluster_id ORDER BY cluster_id
"""


def _q_simhash(spark, sf_dir):
    # Arrow fast path (zero-shuffle, per-doc fingerprint); the column form
    # in tests/twins.py is equality-gated against it in tests/test_dedup.py
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_arrow(d)


# 60-bit mirror of operators/dedup.py simhash_arrow: 15 md5 hex chars → signed-safe
# BIGINT word hash, one ± sum per bit.
_SQL_SIMHASH = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
wc AS (SELECT doc_id, u.w, count(*) AS cnt FROM w, unnest(ws) AS u(w) GROUP BY doc_id, u.w),
wh AS (SELECT doc_id, cnt, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM wc),
pb AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS s
  FROM wh, unnest(generate_series(0, 59)) AS g(bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM pb GROUP BY doc_id ORDER BY doc_id
"""


def _q_ngram_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    return dedup.ngram_jaccard_pairs(d, threshold_pct=50)


_SQL_NGRAM_JACCARD = rf"""
WITH dw AS (
  SELECT DISTINCT doc_id, lang, source, u.w
  FROM (SELECT doc_id, lang, source, {_SQL_WORDS} AS ws FROM documents), unnest(ws) AS u(w)
),
sizes AS (SELECT doc_id, count(*) AS n_words FROM dw GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM dw a JOIN dw b
    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_words + sb.n_words - i.n_inter AS n_union
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 100 * i.n_inter >= 50 * (sa.n_words + sb.n_words - i.n_inter)
ORDER BY doc_a, doc_b
"""


# ---- text analysis (oracled) --------------------------------------------------

def _q_text_stats(spark, sf_dir):
    """token_stats + quality_scores folded into ONE map-only projection
    (round-4 registry fold: the driver CORRECTNESS window is 50 rows, so
    redundant same-grain siblings share a query; both column families are
    attested here, one pass over the text)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.text_stats(d)


_SQL_TEXT_STATS = rf"""
WITH w AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents)
SELECT doc_id,
       length(text) AS n_chars_exact,
       len(ws) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpeish,
       CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sum_word_len,
       len(list_filter(ws, x -> lower(x) IN
           ('the','and','of','to','a','in','is','that','for','with'))) AS stopword_hits,
       length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS punct_chars,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
       (len(ws) >= 5 AND length(text) >= 20
        AND length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) * 2
            < greatest(length(text), 1)) AS quality_ok
FROM w ORDER BY doc_id
"""


def _q_language_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.language_id(d)


def _stop_sql(lang: str) -> str:
    return ",".join(f"'{w}'" for w in text.STOPWORDS[lang])


_SQL_LANGUAGE_ID = rf"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
           FROM documents),
hits AS (
  SELECT doc_id, lang, hits FROM (
    SELECT doc_id, 'de' AS lang, len(list_filter(ws, x -> x IN ({_stop_sql('de')}))) AS hits FROM w
    UNION ALL
    SELECT doc_id, 'en', len(list_filter(ws, x -> x IN ({_stop_sql('en')}))) FROM w
    UNION ALL
    SELECT doc_id, 'es', len(list_filter(ws, x -> x IN ({_stop_sql('es')}))) FROM w
    UNION ALL
    SELECT doc_id, 'fr', len(list_filter(ws, x -> x IN ({_stop_sql('fr')}))) FROM w
  )
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM hits
)
SELECT doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
       hits AS lang_hits
FROM best WHERE rn = 1 ORDER BY doc_id
"""


def _q_repetition_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.repetition_stats(d)


_SQL_REPETITION_STATS = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
uni AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         count(*) AS n_distinct_words, CAST(max(cnt) AS BIGINT) AS top_word_count
  FROM (SELECT doc_id, u.w, count(*) AS cnt FROM w, unnest(ws) AS u(w) GROUP BY doc_id, u.w)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         CAST(max(cnt) AS BIGINT) AS top_bigram_count
  FROM (
    SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS b, count(*) AS cnt
    FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS g(i)
    GROUP BY doc_id, array_to_string(ws[i:i+1], ' ')
  )
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(u.n_words, 0) AS n_words,
       coalesce(u.n_distinct_words, 0) AS n_distinct_words,
       coalesce(u.top_word_count, 0) AS top_word_count,
       coalesce(b.n_bigrams, 0) AS n_bigrams,
       coalesce(b.top_bigram_count, 0) AS top_bigram_count
FROM documents d LEFT JOIN uni u ON u.doc_id = d.doc_id LEFT JOIN bg b ON b.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def _q_scrub_fingerprints(spark, sf_dir):
    """PII masking ∪ document fingerprints in one per-doc row (round-4
    session-3 registry fold of scrub_pii + fingerprints for the 50-row
    driver window; both are map passes over the documents table, joined on
    doc_id so both semantics sit in the one hash).  The scrub side masks
    over probe text (the corpus carries no emails/URLs, so a raw-text scrub
    would be green-by-vacuity — probes are injected deterministically from
    doc_id, mirrored exactly in the oracle); the fingerprint side hashes the
    RAW text (md5 + 5-word min-shingle)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        _scrub_probe_frame(spark, sf_dir)
        .join(text.fingerprints(d, shingle_words=5), "doc_id")
    )


def _scrub_probe_frame(spark, sf_dir):
    """scrub_pii over the deterministic probe text (see _q_scrub_fingerprints)."""
    d = load_table(spark, sf_dir, "documents")
    probe = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" see https://example.com/d/"),
                F.col("doc_id").cast("string"),
                F.lit(" page"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return text.scrub_pii(d.select("doc_id", probe.alias("text")))


_SQL_SCRUB_FINGERPRINTS = rf"""
WITH probes AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org now'
              WHEN doc_id % 3 = 1
              THEN text || ' see https://example.com/d/' || CAST(doc_id AS VARCHAR) || ' page'
              ELSE text END AS text
  FROM documents
)
,
scrub AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
         regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS scrubbed
  FROM probes
),
w AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) < 5 THEN []
              ELSE list_transform(generate_series(1, len(ws) - 4),
                                  i -> array_to_string(ws[i:i+4], ' ')) END AS shingles,
         text
  FROM w
),
fp AS (
  SELECT doc_id, md5(text) AS md5_full, substr(md5(text), 1, 8) AS fp8,
         list_min(list_transform(shingles, s -> md5(s))) AS min_shingle_md5,
         len(shingles) AS n_shingles
  FROM sh
)
SELECT s.doc_id, s.n_urls, s.n_emails, s.scrubbed,
       f.md5_full, f.fp8, f.min_shingle_md5, f.n_shingles
FROM scrub s JOIN fp f USING (doc_id) ORDER BY s.doc_id
"""


def _q_doc_chunks(spark, sf_dir):
    """Context-window chunking (`curation.chunk_documents`): overlapping
    64-word windows at stride 48 — the LLM-pretraining chunk shape (16-word
    overlap so no boundary context is lost).  Map-only plan: one Arrow pass
    builds the chunk array per doc, explode flattens; zero shuffle.  The
    hash carries chunk_md5 (md5 of the exact chunk text) so chunk CONTENT,
    not just geometry, is attested."""
    from document_parser_spark.operators.curation import chunk_documents

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c = chunk_documents(d, max_words=64, stride=48)
    return c.select(
        "doc_id",
        "chunk_id",
        "first_word",
        "n_words",
        F.md5("chunk_text").alias("chunk_md5"),
    )


_SQL_DOC_CHUNKS = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
st AS (
  SELECT doc_id, ws, g.s
  FROM w, unnest(generate_series(0, len(ws) - 1, 48)) AS g(s)
)
SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id, CAST(s AS BIGINT) AS first_word,
       CAST(least(64, len(ws) - s) AS BIGINT) AS n_words,
       md5(array_to_string(ws[s + 1:s + 64], ' ')) AS chunk_md5
FROM st ORDER BY doc_id, chunk_id
"""


def _q_quality_signals(spark, sf_dir):
    """Corpus-quality signals, one per-doc row: bigram novelty (integer-exact
    CCNet-perplexity analogue — the common set (document frequency ≥ 3) is
    the Zipf head, broadcast to a map-side probe; decontaminate shape, zero
    corpus-side shuffle) ∪ the fastText-style hashing-trick linear
    classifier score (`text.hash_classifier_score`: unigram+bigram features
    → 2^18 md5 buckets → integer weights, zero-shuffle Arrow map pass;
    Joulin et al. 2016 architecture, the public LLM quality-filter family).
    Inner-joined on doc_id — the ≥1-bigram grain, where the classifier's
    map and join paths agree."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nov = text.bigram_novelty(d, common_df=3)
    clf = text.hash_classifier_score(d)
    return nov.join(clf, "doc_id")


_SQL_QUALITY_SIGNALS = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
bg AS (
  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bigram
  FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS g(i)
),
common AS (
  SELECT bigram FROM bg GROUP BY bigram HAVING count(DISTINCT doc_id) >= 3
),
probed AS (
  SELECT b.doc_id, b.bigram, (c.bigram IS NOT NULL) AS hit
  FROM bg b LEFT JOIN common c ON c.bigram = b.bigram
),
nov AS (
  SELECT doc_id, count(*) AS n_bigrams,
         count(DISTINCT bigram) AS n_distinct,
         count(CASE WHEN hit THEN 1 END) AS n_common,
         count(DISTINCT CASE WHEN hit THEN bigram END) AS n_common_distinct
  FROM probed GROUP BY doc_id
),
feats AS (
  SELECT doc_id, u.f FROM w, unnest(ws) AS u(f)
  UNION ALL
  SELECT doc_id, bigram AS f FROM bg
),
clf AS (
  SELECT doc_id,
         CAST(sum((((('0x' || substr(md5(f), 1, 8))::BIGINT % 262144)
                    * 2654435761 + 97) % 21) - 10) AS BIGINT) AS clf_score,
         count(*) AS n_feats
  FROM feats GROUP BY doc_id
)
SELECT n.doc_id, n.n_bigrams, n.n_distinct, n.n_common, n.n_common_distinct,
       c.clf_score, c.n_feats, c.clf_score >= 0 AS clf_ok
FROM nov n JOIN clf c USING (doc_id) ORDER BY n.doc_id
"""


# ---- similarity (oracled) ------------------------------------------------------

_SQL_EMBEDDING_TOPK = """
WITH ev AS (
  SELECT vec_id, g.i AS pos,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1e8) AS BIGINT) AS val
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS g(i)
),
qv AS (SELECT vec_id AS query_id, pos, val FROM ev WHERE vec_id < 5),
dots AS (
  SELECT qv.query_id, ev.vec_id, sum(ev.val * qv.val) AS dot
  FROM ev JOIN qv ON ev.pos = qv.pos
  GROUP BY qv.query_id, ev.vec_id
),
norms AS (SELECT vec_id, sum(val * val) AS nsq FROM ev GROUP BY vec_id),
scored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE))) AS cos_sim
  FROM dots d JOIN norms n1 ON n1.vec_id = d.vec_id JOIN norms n2 ON n2.vec_id = d.query_id
  WHERE d.vec_id <> d.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


# ---- set operations (oracled) ------------------------------------------------

def _q_set_ops(spark, sf_dir):
    """Left-anti + distinct-union in one tagged result (round-4 registry
    fold of anti_join + union_distinct for the 50-row driver CORRECTNESS
    window).  Branch 'anti_no_urgent': customers with no URGENT order
    (SURVEY.md §2.9; filtered-side anti so the result is non-vacuous).
    Branch 'union_nationkey': distinct union of customer/supplier nation
    keys.  Both set semantics are attested by the one hash."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            F.lit("anti_no_urgent").alias("op"),
            F.col("c_custkey").alias("key"),
            F.col("c_mktsegment").alias("attr"),
        )
    )
    cu = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("key"))
    su = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("key"))
    uni = (
        cu.union(su)
        .distinct()
        .select(
            F.lit("union_nationkey").alias("op"),
            "key",
            F.lit(None).cast("string").alias("attr"),
        )
    )
    return anti.unionByName(uni)


_SQL_SET_OPS = """
SELECT 'anti_no_urgent' AS op, c_custkey AS key, c_mktsegment AS attr
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'union_nationkey' AS op, nationkey AS key, CAST(NULL AS VARCHAR) AS attr
FROM (SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey FROM supplier)
ORDER BY op, key
"""


def _q_simhash_near(spark, sf_dir):
    """60-bit SimHash near-pairs at the classic hamming ≤ 3 dial (4 chunks ×
    15 bits = 32,768 buckets/chunk): at sf0.01 the chunk join admits 2.2% of
    all pairs as candidates — sub-quadratic by construction, vs the r02
    16-bit/32-bucket version whose 1104 'pairs' were mostly fingerprint
    aliasing."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_near_pairs(dedup.simhash_arrow(d), max_hamming=3)


_SQL_SIMHASH_NEAR = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
wc AS (SELECT doc_id, u.w, count(*) AS cnt FROM w, unnest(ws) AS u(w) GROUP BY doc_id, u.w),
wh AS (SELECT doc_id, cnt, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM wc),
pb AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS s
  FROM wh, unnest(generate_series(0, 59)) AS g(bit) GROUP BY doc_id, bit
),
sim AS (
  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM pb GROUP BY doc_id
),
keyed AS (
  SELECT doc_id, simhash, chunk, (simhash >> (chunk * 15)) & 32767 AS chunk_val
  FROM sim, unnest(generate_series(0, 3)) AS c(chunk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sim_a, b.simhash AS sim_b
  FROM keyed a JOIN keyed b
    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
ORDER BY doc_a, doc_b
"""


def _q_asof_join(spark, sf_dir):
    """As-of join: each event matched to the user's latest at-or-before
    high-value event (build side deduped to one row per (user, ts) so the
    match is well-defined — any as-of engine is otherwise nondeterministic)."""
    from document_parser_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    build = (
        e.filter(F.col("value") > 90)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("mark_id"))
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        build,
        keys=["user_id"],
        ts="ts",
        payload_cols=["mark_id"],
    )
    return out.select("event_id", "user_id", "asof_mark_id")


_SQL_ASOF_JOIN = """
WITH build AS (
  SELECT user_id, ts, max(event_id) AS mark_id
  FROM events WHERE value > 90 GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, b.mark_id AS asof_mark_id
FROM events e
ASOF LEFT JOIN build b ON e.user_id = b.user_id AND e.ts >= b.ts
ORDER BY e.event_id
"""


def _q_curate(spark, sf_dir):
    """The composed training-data pipeline: exact-dedup canonical copy +
    quality gate + language gate in one chain."""
    from document_parser_spark.operators.curation import curate_corpus

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curate_corpus(d, keep_langs=("en", "fr"))


_SQL_CURATE = rf"""
WITH canon AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
    FROM documents
  ) WHERE doc_id = canon_id
),
w AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM canon),
quality AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words
  FROM w
  WHERE len(ws) >= 5 AND length(text) >= 20
    AND length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) * 2
        < greatest(length(text), 1)
),
lw AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
       FROM canon),
hits AS (
  SELECT doc_id, lang, hits FROM (
    SELECT doc_id, 'de' AS lang, len(list_filter(ws, x -> x IN ({_stop_sql('de')}))) AS hits FROM lw
    UNION ALL SELECT doc_id, 'en', len(list_filter(ws, x -> x IN ({_stop_sql('en')}))) FROM lw
    UNION ALL SELECT doc_id, 'es', len(list_filter(ws, x -> x IN ({_stop_sql('es')}))) FROM lw
    UNION ALL SELECT doc_id, 'fr', len(list_filter(ws, x -> x IN ({_stop_sql('fr')}))) FROM lw
  )
),
lang AS (
  SELECT doc_id,
         CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
  FROM (SELECT doc_id, lang, hits,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
        FROM hits)
  WHERE rn = 1
)
SELECT c.doc_id, q.n_words, l.lang_pred
FROM canon c JOIN quality q ON q.doc_id = c.doc_id
JOIN lang l ON l.doc_id = c.doc_id
WHERE l.lang_pred IN ('en', 'fr')
ORDER BY c.doc_id
"""


def _q_gopher_gate(spark, sf_dir):
    """Gopher-style quality gate: word-count band, mean-word-length band,
    stopword evidence, top-word repetition cap — integer arithmetic only."""
    from document_parser_spark.operators.curation import gopher_gate

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_gate(d)


_SQL_GOPHER_GATE = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
rowwise AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sum_word_len,
         CAST(len(list_filter(ws, x -> lower(x) IN
             ('the','and','of','to','a','in','is','that','for','with'))) AS BIGINT) AS stopword_hits,
         CAST(len(ws) AS BIGINT) AS n_words
  FROM w
),
top AS (
  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_word_count
  FROM (SELECT doc_id, u.w, count(*) AS cnt FROM w, unnest(ws) AS u(w) GROUP BY doc_id, u.w)
  GROUP BY doc_id
)
SELECT r.doc_id, r.n_words, r.sum_word_len, r.stopword_hits, t.top_word_count
FROM rowwise r JOIN top t ON t.doc_id = r.doc_id
WHERE r.n_words >= 25 AND r.n_words <= 100000
  AND r.sum_word_len >= 3 * r.n_words AND r.sum_word_len <= 10 * r.n_words
  AND r.stopword_hits >= 2
  AND 100 * t.top_word_count <= 10 * r.n_words
ORDER BY r.doc_id
"""


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing verbatim 3-gram
    shingles with a deterministic eval subset (doc_id % 23 == 0) — broadcast
    benchmark shingles, one map-side probe of the corpus shingle stream."""
    from document_parser_spark.operators.curation import decontamination_overlap

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 23 == 0)
    train = d.filter(F.col("doc_id") % 23 != 0)
    return decontamination_overlap(train, bench, shingle_k=3)


_SQL_DECONTAMINATE = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS g(i)
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 23 = 0),
train AS (SELECT * FROM dsh WHERE doc_id % 23 <> 0),
per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, count(*) AS n_overlap
  FROM train t JOIN bench b ON b.shingle = t.shingle
  GROUP BY t.doc_id
)
SELECT h.doc_id, p.n_shingles, h.n_overlap
FROM hits h JOIN per_doc p ON p.doc_id = h.doc_id
ORDER BY h.doc_id
"""


def _q_repeated_spans(spark, sf_dir):
    """Corpus-internal verbatim-passage scan: 10-word windows appearing in
    ≥2 distinct docs, emitted span-level (doc, 1-based word pos, window md5)
    — the scrub list for viral/templated passages (exact-substring dedup
    germ), complementary to whole-doc near-dup."""
    from document_parser_spark.operators.curation import repeated_ngram_spans

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_ngram_spans(d, window_k=10, min_docs=2)


_SQL_REPEATED_SPANS = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i+9], ' ')) AS window_md5
  FROM w, unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS g(i)
),
rep AS (
  SELECT window_md5 FROM sh GROUP BY window_md5
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT s.doc_id, s.pos, s.window_md5
FROM sh s JOIN rep r ON r.window_md5 = s.window_md5
ORDER BY s.doc_id, s.pos, s.window_md5
"""


def _q_repeated_passages(spark, sf_dir):
    """Maximal repeated passages: the gaps-and-islands merge of the
    repeated-window scan into per-document maximal intervals — the actual
    scrub unit (one interval per licence block / templated passage, not 51
    overlapping windows).  Integer-only output: (doc, start_pos, end_pos,
    n_windows, span_words)."""
    from document_parser_spark.operators.curation import repeated_passage_intervals

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_passage_intervals(d, window_k=10, min_docs=2)


# Same repeated-window derivation as _SQL_REPEATED_SPANS, then classic
# gaps-and-islands (pos - row_number() per doc) merged to maximal intervals.
_SQL_REPEATED_PASSAGES = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i+9], ' ')) AS window_md5
  FROM w, unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS g(i)
),
rep AS (
  SELECT window_md5 FROM sh GROUP BY window_md5
  HAVING count(DISTINCT doc_id) >= 2
),
spans AS (
  SELECT s.doc_id, s.pos
  FROM sh s JOIN rep r ON r.window_md5 = s.window_md5
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM spans
)
SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos,
       count(*) AS n_windows,
       max(pos) - min(pos) + 10 AS span_words
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, start_pos
"""


def _q_curation_assign(spark, sf_dir):
    """Stratified sampling + shard packing in one tagged result (round-4
    registry fold of stratified_sample + pack_shards for the 50-row driver
    CORRECTNESS window; both are per-doc assignment decisions).  Branch
    'sample': deterministic per-stratum downsampling (en 50%, fr 100%, rest
    25%) with the md5-derived keep decision; branch 'pack': greedy
    token-budget shard packing per language (2,000 tokens/shard, 2-level
    cumsum).  Both attested by the one hash."""
    from document_parser_spark.operators.curation import pack_shards, stratified_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    samp = (
        stratified_sample(d, rates_pct={"en": 50, "fr": 100}, default_pct=25)
        .select(
            F.lit("sample").alias("op"),
            "doc_id",
            "lang",
            F.length("text").cast("long").alias("a"),
            F.lit(None).cast("long").alias("b"),
        )
    )
    pack = pack_shards(d, budget_tokens=2000).select(
        F.lit("pack").alias("op"),
        "doc_id",
        "lang",
        F.col("n_tokens").alias("a"),
        F.col("shard_id").alias("b"),
    )
    return samp.unionByName(pack)


_SQL_CURATION_ASSIGN = rf"""
WITH toks AS (
  SELECT lang, doc_id, CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT lang, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM toks
)
SELECT 'sample' AS op, doc_id, lang, CAST(length(text) AS BIGINT) AS a,
       CAST(NULL AS BIGINT) AS b
FROM documents
WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      < CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 100 ELSE 25 END
UNION ALL
SELECT 'pack' AS op, doc_id, lang, n_tokens AS a,
       CAST(before // 2000 AS BIGINT) AS b
FROM cum
ORDER BY op, doc_id
"""


# ---- banded sign-LSH (oracled: integer projections/buckets/cosine are exact) --

def _q_embedding_near_dup(spark, sf_dir):
    # 0.45 sits just under the corpus' top-pair cosine band (max ≈ 0.51 at
    # sf0.01) so the query demonstrably returns rows; 0.8 returned nothing.
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(e, threshold=0.45)


# Shared banded-LSH SQL scaffolding (mirrors operators/similarity.py exactly:
# ±1 signs = md5-nibble parity, projections/dots/norms in int64, BANDS bands
# of ROWS_PER_BAND planes — constants interpolated so SQL can't drift).
_LSH_PLANES = similarity.BANDS * similarity.ROWS_PER_BAND
_SQL_LSH_COMMON = f"""
dims AS (SELECT max(len(embedding)) AS dim FROM embeddings),
signs AS (
  SELECT p.plane, g.pos,
         CASE WHEN ('0x' || substr(md5(CAST(p.plane AS VARCHAR) || ':' || CAST(g.pos AS VARCHAR)), 1, 1))::INT % 2 = 1
              THEN 1 ELSE -1 END AS sign
  FROM unnest(generate_series(0, {_LSH_PLANES - 1})) AS p(plane),
       dims, unnest(generate_series(0, dim - 1)) AS g(pos)
),
ev AS (
  SELECT vec_id, g.i AS pos,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1e8) AS BIGINT) AS ival
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS g(i)
),
proj AS (
  SELECT ev.vec_id, s.plane, sum(ev.ival * s.sign) AS proj
  FROM ev JOIN signs s ON s.pos = ev.pos
  GROUP BY ev.vec_id, s.plane
),
bb AS (
  SELECT vec_id, plane // {similarity.ROWS_PER_BAND} AS band,
         sum(CASE WHEN proj > 0 THEN 1 << (plane % {similarity.ROWS_PER_BAND}) ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id, plane // {similarity.ROWS_PER_BAND}
),
norms AS (SELECT vec_id, sum(ival * ival) AS nsq FROM ev GROUP BY vec_id)
"""

_SQL_ANN_LSH = f"""
WITH {_SQL_LSH_COMMON},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, e.vec_id
  FROM bb e JOIN bb q ON e.band = q.band AND e.bucket = q.bucket
  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(ea.ival * eb.ival) AS dot
  FROM cand c
  JOIN ev ea ON ea.vec_id = c.vec_id
  JOIN ev eb ON eb.vec_id = c.query_id AND eb.pos = ea.pos
  GROUP BY c.query_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(nv.nsq AS DOUBLE)) * sqrt(CAST(nq.nsq AS DOUBLE))) AS cos_sim
  FROM dots d JOIN norms nv ON nv.vec_id = d.vec_id JOIN norms nq ON nq.vec_id = d.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""

def _q_ann_sketch(spark, sf_dir):
    """Hamming-sketch ANN family in one tagged result (round-5 fold —
    VERDICT r04 items 3+7: the newest ANN surfaces land under the driver
    hash without exceeding the 50-row window).

      * branch 'flat'       — ``sketch_topk``:
        the measured scale path on this corpus (recall@10 = 1.0 at a 10%
        exactly-scored fraction at sf0.1, where IVF and banded LSH cap at
        ~0.56-0.78 — the embeddings are isotropic; partition membership is
        nearly independent of cosine neighborhoods);
      * branch 'ivf_sketch' — ``ivf_sketch_topk``: the
        IVF→sketch→exact composition (the clustered-corpus scale path);
        recall here inherits the isotropic probe ceiling, but its PROBE →
        hamming-rank → bounded exact-rerank semantics are what the hash
        attests;
      * branch 'from_index' — ``sketch_topk_from_index`` over the PERSISTED
        index (plans/ann_index.py), built (then resumed as a no-op) inside
        the query under .tmp/: byte-equality with branch 'flat' puts the
        at-rest (vec_id, cid, sk) layout and its parquet roundtrip under
        the driver oracle — the SQL mirror for this branch IS the flat
        sketch SQL, so any index corruption hash-mismatches."""
    import os

    from document_parser_spark.plans.ann_index import (
        load_ann_index,
        run_index_build_checkpointed,
    )

    e = load_table(spark, sf_dir, "embeddings")
    _assert_oracle_corpus_size(e)
    q = e.filter(F.col("vec_id") < 5)
    cols = ["query_id", "vec_id", "cos_sim", "rank"]
    flat = similarity.sketch_topk(e, q, k=10).select(
        F.lit("flat").alias("branch"), *cols
    )
    comp = similarity.ivf_sketch_topk(e, q, k=10).select(
        F.lit("ivf_sketch").alias("branch"), *cols
    )
    # dial+corpus-keyed dir: a layout change lands in a fresh path instead
    # of tripping the torn-index guard, and DIFFERENT sf dirs never share an
    # index — sf0.001 and sf0.01 both hold 500 embeddings, so the (n, nlist,
    # planes, dim) guard alone cannot tell their corpora apart (a shared dir
    # made from_index serve the other sf's vectors — caught by this fold's
    # flat-equality contract in the suite)
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".tmp",
        f"ann_index_oracle_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_n{_ORACLE_EMB_N}_p{similarity.SKETCH_PLANES}",
    )
    run_index_build_checkpointed(spark, e, out_dir, run_id="oracle", num_buckets=8)
    index, _cids, _cmat, _meta = load_ann_index(spark, out_dir)
    fidx = similarity.sketch_topk_from_index(index, e, q, k=10).select(
        F.lit("from_index").alias("branch"), *cols
    )
    return (
        flat.unionByName(comp)
        .unionByName(fidx)
    )


#: The static DuckDB oracles for sketch/IVF bake dials derived from the
#: driver's sf0.01 embedding count; if the corpus ever drifts, fail loudly
#: here instead of surfacing as a confusing hash mismatch (ADVICE r03).
_ORACLE_EMB_N = 500


def _assert_oracle_corpus_size(e) -> None:
    # ValueError, not assert: the guard must survive python -O (stripped
    # asserts would silently reintroduce the hash-mismatch this prevents)
    n = e.count()
    if n != _ORACLE_EMB_N:
        raise ValueError(
            f"ANN oracle SQL dials are derived from n={_ORACLE_EMB_N} "
            f"embeddings (sf0.01); this corpus has {n} — regenerate "
            "_SKETCH_M/_SQL_IVF_TOPK or run at sf0.01"
        )


_SKETCH_M = max(10, (_ORACLE_EMB_N * similarity.RERANK_FRAC_PCT + 99) // 100)

# Shared 512-plane sign-sketch scaffolding (mirrors similarity._sketch_udf
# exactly: int64 projections against md5-parity planes, 32-bit packed words)
# — used by the sketch-ANN oracle and the sketch-candidate near-dup oracle.
_SQL_SKETCH_COMMON = f"""dims AS (SELECT max(len(embedding)) AS dim FROM embeddings),
signs AS (
  SELECT p.plane, g.pos,
         CASE WHEN ('0x' || substr(md5(CAST(p.plane AS VARCHAR) || ':' || CAST(g.pos AS VARCHAR)), 1, 1))::INT % 2 = 1
              THEN 1 ELSE -1 END AS sign
  FROM unnest(generate_series(0, {similarity.SKETCH_PLANES - 1})) AS p(plane),
       dims, unnest(generate_series(0, dim - 1)) AS g(pos)
),
ev AS (
  SELECT vec_id, g.i AS pos,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1e8) AS BIGINT) AS ival
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS g(i)
),
norms AS (SELECT vec_id, sum(ival * ival) AS nsq FROM ev GROUP BY vec_id),
proj AS (
  SELECT ev.vec_id, s.plane, sum(ev.ival * s.sign) AS proj
  FROM ev JOIN signs s ON s.pos = ev.pos
  GROUP BY ev.vec_id, s.plane
),
sk AS (
  SELECT vec_id, plane // {similarity.SKETCH_WORD_BITS} AS word,
         sum(CASE WHEN proj > 0 THEN 1::BIGINT << (plane % {similarity.SKETCH_WORD_BITS}) ELSE 0 END) AS w
  FROM proj GROUP BY vec_id, plane // {similarity.SKETCH_WORD_BITS}
)"""

_SQL_ANN_SKETCH = f"""
WITH {_SQL_SKETCH_COMMON},
ham AS (
  SELECT q.vec_id AS query_id, e.vec_id, sum(bit_count(xor(e.w, q.w))) AS hamming
  FROM sk e JOIN sk q ON q.word = e.word
  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
  GROUP BY q.vec_id, e.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, vec_id ASC) AS rn
    FROM ham
  ) WHERE rn <= {_SKETCH_M}
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(ea.ival * eb.ival) AS dot
  FROM cand c
  JOIN ev ea ON ea.vec_id = c.vec_id
  JOIN ev eb ON eb.vec_id = c.query_id AND eb.pos = ea.pos
  GROUP BY c.query_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(nv.nsq AS DOUBLE)) * sqrt(CAST(nq.nsq AS DOUBLE))) AS cos_sim
  FROM dots d JOIN norms nv ON nv.vec_id = d.vec_id JOIN norms nq ON nq.vec_id = d.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def _q_ivf_topk(spark, sf_dir):
    """IVF-flat with the k-means-refined quantizer and scale-derived dials:
    nlist = √n (22 at the driver's 500-vector sf0.01), nprobe = nlist/8 —
    ≤12.5% of the corpus probed per query at ANY corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    _assert_oracle_corpus_size(e)
    return similarity.ivf_topk(e, e.filter(F.col("vec_id") < 5), k=10)


def _ivf_prefix_sql(nlist: int, nprobe: int, iters: int) -> str:
    """The WITH-body of the IVF mirror through ``assign``/``probe`` —
    shared by the full IVF oracle (exact rerank of every probed member)
    and the IVF→sketch composition oracle (hamming-rank the probed slice
    first).  Includes the integer-exact Lloyd refinement: cv{{i}} =
    (cid, pos, cval) centroid components per round; assignment = argmax
    dot/|centroid| (ties → lowest cid); update = portable floor-mean
    (subtract canonical mod, then integer-divide — truncating and flooring
    division agree on an exact multiple)."""
    fdiv = "(s - (((s % c) + c) % c)) // c"
    sql = [f"""WITH {_SQL_LSH_COMMON},
cents AS (
  SELECT vec_id AS cid FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {nlist}
),
cv0 AS (SELECT c.cid, e.pos, e.ival AS cval FROM cents c JOIN ev e ON e.vec_id = c.cid)"""]
    for i in range(iters):
        sql.append(f""",
cn{i} AS (SELECT cid, sum(cval * cval) AS cnsq FROM cv{i} GROUP BY cid),
sc{i} AS (
  SELECT e.vec_id, c.cid, sum(e.ival * c.cval) AS dot
  FROM ev e JOIN cv{i} c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cid
),
asg{i} AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CAST(s.dot AS DOUBLE) / sqrt(CAST(n.cnsq AS DOUBLE)) DESC,
                      s.cid ASC) AS rn
    FROM sc{i} s JOIN cn{i} n ON n.cid = s.cid
  ) WHERE rn = 1
),
sm{i} AS (
  SELECT a.cid, e.pos, sum(e.ival) AS s, count(*) AS c
  FROM asg{i} a JOIN ev e ON e.vec_id = a.vec_id GROUP BY a.cid, e.pos
),
cv{i + 1} AS (
  SELECT cid, pos, {fdiv} AS cval FROM sm{i}
  UNION ALL
  SELECT cid, pos, cval FROM cv{i} WHERE cid NOT IN (SELECT cid FROM sm{i})
)""")
    sql.append(f""",
cnF AS (SELECT cid, sum(cval * cval) AS cnsq FROM cv{iters} GROUP BY cid),
scF AS (
  SELECT e.vec_id, c.cid, sum(e.ival * c.cval) AS dot
  FROM ev e JOIN cv{iters} c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cid
),
rk AS (
  SELECT s.vec_id, s.cid,
         row_number() OVER (PARTITION BY s.vec_id
           ORDER BY CAST(s.dot AS DOUBLE) / sqrt(CAST(n.cnsq AS DOUBLE)) DESC,
                    s.cid ASC) AS rn
  FROM scF s JOIN cnF n ON n.cid = s.cid
),
assign AS (SELECT vec_id, cid FROM rk WHERE rn = 1),
probe AS (SELECT vec_id AS query_id, cid FROM rk WHERE vec_id < 5 AND rn <= {nprobe})""")
    return "".join(sql)


def _ivf_sql(nlist: int, nprobe: int, iters: int) -> str:
    """DuckDB mirror of similarity.ivf_topk: probe the ``nprobe`` nearest
    refined lists, exactly score every probed member, top-k."""
    return _ivf_prefix_sql(nlist, nprobe, iters) + """,
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probe p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(ea.ival * eb.ival) AS dot
  FROM cand c
  JOIN ev ea ON ea.vec_id = c.vec_id
  JOIN ev eb ON eb.vec_id = c.query_id AND eb.pos = ea.pos
  GROUP BY c.query_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(nv.nsq AS DOUBLE)) * sqrt(CAST(nq.nsq AS DOUBLE))) AS cos_sim
  FROM dots d JOIN norms nv ON nv.vec_id = d.vec_id JOIN norms nq ON nq.vec_id = d.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""


def _ivf_sketch_sql(nlist: int, nprobe: int, iters: int, m: int, k: int) -> str:
    """DuckDB mirror of similarity.ivf_sketch_topk (the IVF→sketch→exact
    composition): the IVF prefix supplies the refined quantizer, per-vector
    list assignment, and per-query probes; the probed slice is then
    hamming-ranked on the 512-bit sign sketch (renamed CTEs — the LSH
    prefix already owns ``signs``/``proj`` for its 32 planes) and only the
    ``m`` hamming-nearest probed members are exactly re-scored."""
    return _ivf_prefix_sql(nlist, nprobe, iters) + f""",
sksigns AS (
  SELECT p.plane, g.pos,
         CASE WHEN ('0x' || substr(md5(CAST(p.plane AS VARCHAR) || ':' || CAST(g.pos AS VARCHAR)), 1, 1))::INT % 2 = 1
              THEN 1 ELSE -1 END AS sign
  FROM unnest(generate_series(0, {similarity.SKETCH_PLANES - 1})) AS p(plane),
       dims, unnest(generate_series(0, dim - 1)) AS g(pos)
),
skproj AS (
  SELECT ev.vec_id, s.plane, sum(ev.ival * s.sign) AS proj
  FROM ev JOIN sksigns s ON s.pos = ev.pos
  GROUP BY ev.vec_id, s.plane
),
sk AS (
  SELECT vec_id, plane // {similarity.SKETCH_WORD_BITS} AS word,
         sum(CASE WHEN proj > 0 THEN 1::BIGINT << (plane % {similarity.SKETCH_WORD_BITS}) ELSE 0 END) AS w
  FROM skproj GROUP BY vec_id, plane // {similarity.SKETCH_WORD_BITS}
),
probed AS (
  SELECT p.query_id, a.vec_id
  FROM probe p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
skham AS (
  SELECT c.query_id, c.vec_id, sum(bit_count(xor(e.w, q.w))) AS hamming
  FROM probed c
  JOIN sk e ON e.vec_id = c.vec_id
  JOIN sk q ON q.vec_id = c.query_id AND q.word = e.word
  GROUP BY c.query_id, c.vec_id
),
skcand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, vec_id ASC) AS rn
    FROM skham
  ) WHERE rn <= {m}
),
skdots AS (
  SELECT c.query_id, c.vec_id, sum(ea.ival * eb.ival) AS dot
  FROM skcand c
  JOIN ev ea ON ea.vec_id = c.vec_id
  JOIN ev eb ON eb.vec_id = c.query_id AND eb.pos = ea.pos
  GROUP BY c.query_id, c.vec_id
),
skscored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (sqrt(CAST(nv.nsq AS DOUBLE)) * sqrt(CAST(nq.nsq AS DOUBLE))) AS cos_sim
  FROM skdots d JOIN norms nv ON nv.vec_id = d.vec_id JOIN norms nq ON nq.vec_id = d.query_id
),
skranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM skscored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM skranked WHERE rank <= {k} ORDER BY query_id, rank"""


# Dials pinned to the driver's comparison corpus (sf0.01: 500 vectors →
# nlist 22, nprobe 2); the Spark side derives the SAME values from count().
_IVF_NLIST = similarity.ivf_nlist(_ORACLE_EMB_N)
_IVF_NPROBE = similarity.ivf_nprobe(_IVF_NLIST)
_SQL_IVF_TOPK = _ivf_sql(_IVF_NLIST, _IVF_NPROBE, similarity.LLOYD_ITERS)

# rerank budget of the IVF→sketch composition — MIRRORS
# similarity.ivf_sketch_topk_from_index: rerank_frac of the EXPECTED probed-set
# size, floored at 4·k (the slack that lets hamming misrankings wash out).
_IVF_SKETCH_M = max(
    4 * 10,
    (max(1, (_ORACLE_EMB_N * _IVF_NPROBE) // _IVF_NLIST)
     * similarity.RERANK_FRAC_PCT + 99) // 100,
)
_SQL_IVF_SKETCH = _ivf_sketch_sql(
    _IVF_NLIST, _IVF_NPROBE, similarity.LLOYD_ITERS, _IVF_SKETCH_M, 10
)

# The ann_sketch_topk fold: branch 'from_index' is byte-equal to 'flat' BY
# CONTRACT (same sketch semantics, corpus side read from the persisted
# index) — mirroring it with the flat SQL makes any at-rest corruption a
# hash mismatch.
_SQL_ANN_SKETCH_FOLD = f"""
SELECT 'flat' AS branch, * FROM ({_SQL_ANN_SKETCH})
UNION ALL
SELECT 'from_index' AS branch, * FROM ({_SQL_ANN_SKETCH})
UNION ALL
SELECT 'ivf_sketch' AS branch, * FROM ({_SQL_IVF_SKETCH})
ORDER BY branch, query_id, rank
"""
# Sketch-candidate near-dup (VERDICT r04 item 4): candidates are pairs whose
# 512-bit sketch hamming ≤ the threshold-derived cutoff (217 for cos 0.45 —
# the SAME integer the Spark side derives), exact integer-cosine verify.
# The Spark side's block-pair join is a plan detail: every unordered pair
# meets exactly once there too, so a plain hamming self-join mirrors it.
_NEAR_DUP_MAX_HAMMING = similarity.sketch_near_dup_max_hamming(0.45)
_SQL_EMBEDDING_NEAR_DUP = f"""
WITH {_SQL_SKETCH_COMMON},
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sk a JOIN sk b ON a.word = b.word AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
  HAVING sum(bit_count(xor(a.w, b.w))) <= {_NEAR_DUP_MAX_HAMMING}
),
dots AS (
  SELECT c.id_a, c.id_b, sum(ea.ival * eb.ival) AS dot
  FROM cand c
  JOIN ev ea ON ea.vec_id = c.id_a
  JOIN ev eb ON eb.vec_id = c.id_b AND eb.pos = ea.pos
  GROUP BY c.id_a, c.id_b
)
SELECT d.id_a, d.id_b,
       CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos_sim
FROM dots d JOIN norms na ON na.vec_id = d.id_a JOIN norms nb ON nb.vec_id = d.id_b
WHERE CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) >= 0.45
ORDER BY id_a, id_b
"""


def _q_media_features(spark, sf_dir):
    from document_parser_spark.operators.multimodal import (
        extract_media_features,
        synthetic_media_for,
    )

    out = extract_media_features(synthetic_media_for(_extraction_corpus(spark, sf_dir)))
    return out.withColumn("features", F.to_json("features"))


# The decode stub is deterministic sha256 arithmetic (operators/multimodal.py)
# so the WHOLE multimodal operator has an exact SQL mirror: synthetic bytes =
# utf8 of sha256-hex(doc_id|media_ref) (64 bytes), digest = sha256 of those,
# dims/features = digest bytes.  Media refs come from the golden media table
# (distinct ![](ref) per doc — corpus.to_input_rows semantics).
_SQL_MEDIA_FEATURES = f"""
WITH media AS (
  SELECT doc_id, media_ref,
         {media_kind_sql("media_ref")} AS media_kind,
         sha256(sha256(doc_id || '|' || media_ref)) AS digest
  FROM read_parquet('{_GOLDEN}/media.parquet')
),
bytes AS (
  SELECT *, list_transform(generate_series(0, 7),
                           i -> ('0x' || substr(digest, 2 * i + 1, 2))::INT) AS fb
  FROM media
)
SELECT doc_id, media_ref, media_kind,
       CAST(64 AS BIGINT) AS n_bytes,
       digest AS sha256,
       CASE WHEN media_kind = 'image' THEN 64 + fb[1] % 192 END::INT AS width,
       CASE WHEN media_kind = 'image' THEN 64 + fb[2] % 192 END::INT AS height,
       CASE WHEN media_kind = 'image' THEN 1 ELSE 1 + 64 % 32 END::INT AS n_frames,
       CAST(to_json(fb) AS VARCHAR) AS features
FROM bytes
ORDER BY doc_id, media_ref
"""


def _q_merged_cell_spans(spark, sf_dir):
    """H7/P6: merged-cell rectangular spans inferred from every extracted
    table span (sink-dialect parse), exercised engine-side."""
    import pandas as pd
    from typing import Iterator

    from document_parser_spark.kernel.pipeline import parse_table_sink_dialect

    parsed = _parsed(spark, sf_dir)
    table_spans = parsed.select(
        "doc_id", F.explode(F.filter("spans", lambda s: s.kind == F.lit("table"))).alias("s")
    ).select("doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("block"))

    schema = (
        "doc_id string, offset long, owner_row long, owner_col long, "
        "min_row long, max_row long, min_col long, max_col long"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                sink = parse_table_sink_dialect(r.block)
                for span in (sink or {}).get("merged_spans", []):
                    rows.append({"doc_id": r.doc_id, "offset": r.offset, **span})
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "offset", "owner_row", "owner_col",
                         "min_row", "max_row", "min_col", "max_col"],
            )

    return table_spans.mapInPandas(op, schema=schema)


# Golden-dump oracle: the kernel computed the same spans at build time
# (scripts/build_golden.py) — a rows-only demo in round 1, now comparable.
_SQL_MERGED_CELL_SPANS = f"""
SELECT doc_id, "offset", owner_row, owner_col, min_row, max_row, min_col, max_col
FROM read_parquet('{_GOLDEN}/merged_spans.parquet')
ORDER BY doc_id, "offset", owner_row, owner_col
"""


# ---- round-4 additions: containment dedup + tf-idf salience ----------------

def _q_doc_containment(spark, sf_dir):
    """Document-containment detection: (inner, outer) pairs where ≥80% of
    the inner doc's distinct 10-word windows occur in the outer doc — the
    quote/wrapper dedup relation whole-doc Jaccard misses (Lee et al.'s
    exact-substring use case as window coverage).  Blocked on the window
    hash like minhash bands; integer-exact floor-percent output."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.containment_pairs(d, window_k=10, min_pct=80)


_SQL_DOC_CONTAINMENT = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
win AS (
  SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+9], ' ')) AS wmd5
  FROM w, unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS g(i)
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS inner_windows FROM win GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, CAST(count(*) AS BIGINT) AS shared_windows
  FROM win a JOIN win b ON a.wmd5 = b.wmd5 AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.inner_id, s.outer_id, s.shared_windows, t.inner_windows,
       CAST((s.shared_windows * 100) // t.inner_windows AS BIGINT) AS containment_pct
FROM shared s JOIN tot t ON t.doc_id = s.inner_id
WHERE s.shared_windows * 100 >= 80 * t.inner_windows
ORDER BY inner_id, outer_id
"""


def _q_tfidf_topk(spark, sf_dir):
    """Integer-exact tf-idf keyword extraction: top-5 salient terms per doc
    by tf * ((N * 10^6) DIV df) — scaled-reciprocal idf keeps the ranking
    semantics and the oracle hash-exact (log-idf is float-unstable across
    engines); deterministic tie-break by term."""
    from document_parser_spark.operators.text import tfidf_topk

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(d, k=5)


_SQL_TFIDF_TOPK = rf"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
tf AS (SELECT doc_id, u.w AS word, CAST(count(*) AS BIGINT) AS tf
       FROM w, unnest(ws) AS u(w) GROUP BY doc_id, u.w),
dfreq AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY word),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, t.tf, d.df, t.tf * ((n.n_docs * 1000000) // d.df) AS score
  FROM tf t JOIN dfreq d USING (word), n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rank
  FROM scored
)
SELECT doc_id, word, tf, df, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
"""


# ---- round-4 registry folds (50-row driver CORRECTNESS window) --------------

def _q_ann_baselines(spark, sf_dir):
    """Brute-force exact top-k + banded-LSH top-k in one tagged result
    (round-4 fold of embedding_topk + ann_lsh_topk: same (query, neighbor,
    cos, rank) grain; both remain attested under the one hash).  Branch
    'brute' is the correctness baseline every ANN variant is recalled
    against; branch 'lsh' is the bucketed probe path (clustered-corpus
    path — see the operators/similarity.py module docstring for why sketch
    rerank is the scale path on this corpus)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cols = ["query_id", "vec_id", "cos_sim", "rank"]
    brute = similarity.brute_force_topk(e, q, k=10).select(
        F.lit("brute").alias("branch"), *cols
    )
    lsh = similarity.lsh_bucketed_topk(e, q, k=10).select(
        F.lit("lsh").alias("branch"), *cols
    )
    return brute.unionByName(lsh)


_SQL_ANN_BASELINES = f"""
SELECT 'brute' AS branch, * FROM ({_SQL_EMBEDDING_TOPK})
UNION ALL
SELECT 'lsh' AS branch, * FROM ({_SQL_ANN_LSH})
ORDER BY branch, query_id, rank
"""


def _q_minhash_family(spark, sf_dir):
    """Full-corpus banded-MinHash verified pairs + incremental-ingest pairs
    in one tagged result (round-4 fold of minhash_pairs +
    minhash_incremental: same verified-pair grain; both remain attested
    under the one hash).  Branch 'full': b=4/r=2 candidates verified by
    exact shingle Jaccard ≥ 50%.  Branch 'incremental': pairs INTRODUCED by
    a new shard (doc_id % 5 == 0) against the rest — new×all banding,
    old×old never regenerated."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE persisted signature frame feeds both branches (and both sides of
    # each band self-join): the folded form computed signatures three times
    # (full corpus + shard + corpus-remainder) and recomputed them per join
    # side.  The signature frame is docs×bands narrow rows — far smaller
    # than the shingled texts, the safe side of the repo's persist-vs-
    # re-derive rule (A/B in BASELINE.md r04 fifth session).  Outputs are
    # byte-identical: full == minhash_near_dup_pairs(d) (same normalized
    # candidate set, same exact verify) and incremental == the previous
    # minhash_incremental_pairs(new, corpus) (sig_all == sig_old ∪ sig_new
    # row-for-row; banding is per-row deterministic).
    from pyspark import StorageLevel

    sig_all = dedup.minhash_signatures(
        d, "text", dedup.DEFAULT_BANDS, 2, 5
    ).persist(StorageLevel.MEMORY_AND_DISK)
    full = dedup.minhash_pairs_from_signatures(
        sig_all, sig_all, d, "text", 5, 50
    ).select(F.lit("full").alias("branch"), "doc_a", "doc_b", "n_inter", "n_union")
    sig_new = sig_all.filter(F.col("doc_id") % 5 == 0)
    inc = dedup.minhash_pairs_from_signatures(
        sig_new, sig_all, d, "text", 5, 50
    ).select(F.lit("incremental").alias("branch"), "doc_a", "doc_b", "n_inter", "n_union")
    return full.unionByName(inc)


_SQL_MINHASH_FAMILY = f"""
SELECT 'full' AS branch, * FROM ({_SQL_MINHASH_PAIRS})
UNION ALL
SELECT 'incremental' AS branch, * FROM ({_SQL_MINHASH_INCREMENTAL})
ORDER BY branch, doc_a, doc_b
"""


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry is EXACTLY 50 entries and ordered newest-attestation-first:
    # the driver's CORRECTNESS harness records at most 50 rows (r01-r03 row
    # counts 39/46/50 vs registry sizes 39/46/53), so the three queries that
    # had never received a driver row (ann_sketch_topk — the flagship ANN
    # path — media_features, merged_cell_spans) lead, and three redundant
    # same-grain sibling pairs were folded (VERDICT r03 item 1):
    #   token_stats + quality_scores   -> text_stats   (one projection)
    #   forward_fill + running_sum     -> window_ops   (one window frame)
    #   anti_join    + union_distinct  -> set_ops      (tagged union)
    # and two more round-4 folds made room for the two new curation/dedup
    # deliverables (repeated_passages, cluster_canonical):
    #   distinct_ratio + shape_agg     -> agg_shapes   (tagged union)
    #   dim_rollup     + rollup_agg    -> rollup_ops   (tagged union)
    # round-4 session 5: agg_shapes + rollup_ops -> agg_rollup_ops (one
    # 4-branch tagged union) made room for corpus_profile.
    # round-4 continuation: two more same-grain folds made room for
    # doc_containment + tfidf_topk:
    #   embedding_topk + ann_lsh_topk          -> ann_baselines  (tagged union)
    #   minhash_pairs  + minhash_incremental   -> minhash_family (tagged union)
    # round-4 session 3: scrub_pii + fingerprints -> scrub_fingerprints
    # (doc_id join) made room for doc_chunks; bigram_novelty widened into
    # quality_signals (same slot, + the hash-classifier score).
    # round-4 session-3: scrub_pii + fingerprints fold into scrub_fingerprints
    # (both per-doc map passes, joined on doc_id) to make room for doc_chunks.
    return {
        # never-driver-attested — keep first
        "doc_chunks": _q_doc_chunks,
        "quality_signals": _q_quality_signals,
        "scrub_fingerprints": _q_scrub_fingerprints,
        "doc_containment": _q_doc_containment,
        "tfidf_topk": _q_tfidf_topk,
        "ann_baselines": _q_ann_baselines,
        "minhash_family": _q_minhash_family,
        "repeated_passages": _q_repeated_passages,
        "cluster_canonical": _q_cluster_canonical,
        "corpus_profile": _q_corpus_profile,
        "agg_rollup_ops": _q_agg_rollup_ops,
        "curation_assign": _q_curation_assign,
        "ann_sketch_topk": _q_ann_sketch,
        "media_features": _q_media_features,
        "merged_cell_spans": _q_merged_cell_spans,
        # extraction / search (golden-parquet oracles)
        "extract_spans": _q_extract_spans,
        "extract_tables_meta": _q_extract_tables_meta,
        "search_key_value_pathology": _q_search_key_value,
        "search_anywhere_topk": _q_search_anywhere,
        "row_assembly_group2": _q_row_assembly,
        "search_by_column": _q_search_by_column,
        "table_by_title": _q_table_by_title,
        "extract_html_spans": _q_extract_html_spans,
        # F-family predicates
        "filter_modes": _q_filter_modes,
        "fuzzy_pairs": _q_fuzzy_pairs,
        "numeric_predicate": _q_numeric_predicate,
        "units_predicate": _q_units_predicate,
        # A-family aggregations
        "tpch_q1": _q_tpch_q1,
        "pivot_returnflag": _q_pivot_returnflag,
        # J-family joins
        "key_value_join": _q_key_value_join,
        "semi_join_rows": _q_semi_join_rows,
        "asof_join": _q_asof_join,
        # W-family windows
        "topk_per_group": _q_topk_per_group,
        "sessionize_events": _q_sessionize,
        "window_ops": _q_window_ops,
        # set operations
        "set_ops": _q_set_ops,
        # dedup family
        "dedup_exact": _q_dedup_exact,
        "dedup_clusters": _q_dedup_clusters,
        "simhash_docs": _q_simhash,
        "ngram_jaccard": _q_ngram_jaccard,
        # text analysis + composed curation pipeline
        "curate_corpus": _q_curate,
        "text_stats": _q_text_stats,
        "language_id": _q_language_id,
        "repetition_stats": _q_repetition_stats,
        "gopher_gate": _q_gopher_gate,
        "decontaminate": _q_decontaminate,
        "repeated_spans": _q_repeated_spans,
        # dedup (near-pair variants)
        "simhash_near_pairs": _q_simhash_near,
        "embedding_near_dup": _q_embedding_near_dup,
        # similarity
        "ivf_topk": _q_ivf_topk,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "doc_containment": _SQL_DOC_CONTAINMENT,
        "tfidf_topk": _SQL_TFIDF_TOPK,
        "ann_baselines": _SQL_ANN_BASELINES,
        "minhash_family": _SQL_MINHASH_FAMILY,
        "repeated_passages": _SQL_REPEATED_PASSAGES,
        "cluster_canonical": _SQL_CLUSTER_CANONICAL,
        "quality_signals": _SQL_QUALITY_SIGNALS,
        "corpus_profile": _SQL_CORPUS_PROFILE,
        "agg_rollup_ops": _SQL_AGG_ROLLUP_OPS,
        "curation_assign": _SQL_CURATION_ASSIGN,
        "ann_sketch_topk": _SQL_ANN_SKETCH_FOLD,
        "media_features": _SQL_MEDIA_FEATURES,
        "merged_cell_spans": _SQL_MERGED_CELL_SPANS,
        "filter_modes": _SQL_FILTER_MODES,
        "fuzzy_pairs": _SQL_FUZZY_PAIRS,
        "doc_chunks": _SQL_DOC_CHUNKS,
        "scrub_fingerprints": _SQL_SCRUB_FINGERPRINTS,
        "numeric_predicate": _SQL_NUMERIC_PREDICATE,
        "units_predicate": _SQL_UNITS_PREDICATE,
        "tpch_q1": _SQL_TPCH_Q1,
        "pivot_returnflag": _SQL_PIVOT,
        "key_value_join": _SQL_KEY_VALUE_JOIN,
        "semi_join_rows": _SQL_SEMI_JOIN,
        "asof_join": _SQL_ASOF_JOIN,
        "topk_per_group": _SQL_TOPK_PER_GROUP,
        "sessionize_events": _SQL_SESSIONIZE,
        "window_ops": _SQL_WINDOW_OPS,
        "set_ops": _SQL_SET_OPS,
        "simhash_near_pairs": _SQL_SIMHASH_NEAR,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "dedup_clusters": _SQL_DEDUP_CLUSTERS,
        "simhash_docs": _SQL_SIMHASH,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "curate_corpus": _SQL_CURATE,
        "text_stats": _SQL_TEXT_STATS,
        "language_id": _SQL_LANGUAGE_ID,
        "repetition_stats": _SQL_REPETITION_STATS,
        "gopher_gate": _SQL_GOPHER_GATE,
        "decontaminate": _SQL_DECONTAMINATE,
        "repeated_spans": _SQL_REPEATED_SPANS,
        "ivf_topk": _SQL_IVF_TOPK,
        "embedding_near_dup": _SQL_EMBEDDING_NEAR_DUP,
        # parse surface vs golden-parquet kernel oracle (scripts/build_golden.py)
        "extract_spans": _SQL_EXTRACT_SPANS,
        "extract_tables_meta": _SQL_EXTRACT_TABLES_META,
        "search_key_value_pathology": _SQL_SEARCH_KEY_VALUE,
        "search_anywhere_topk": _SQL_SEARCH_ANYWHERE,
        "row_assembly_group2": _SQL_ROW_ASSEMBLY,
        "search_by_column": _SQL_SEARCH_BY_COLUMN,
        "table_by_title": _SQL_TABLE_BY_TITLE,
        "extract_html_spans": _SQL_EXTRACT_HTML_SPANS,
    }
