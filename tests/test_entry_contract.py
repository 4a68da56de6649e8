"""Local simulation of the driver's correctness gate: run every
``queries()`` entry under Spark and its ``oracle_sql()`` twin under DuckDB
at sf0.001, compare row count + column names + values (exact for
non-floats, 1e-9-relative for floats)."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
# The parse-surface oracles read the committed golden parquet, which is built
# from sf0.01's corpus (the driver's comparison tier) — those queries must run
# against the matching sf dir.
SF_GOLDEN = "/root/testdata/sf0.01"
GOLDEN_BACKED = {
    "extract_spans", "extract_tables_meta", "search_key_value_pathology",
    "search_anywhere_topk", "row_assembly_group2", "merged_cell_spans",
    "media_features",
}
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _make_con(sf):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def ddb():
    con = _make_con(SF)
    yield con
    con.close()


@pytest.fixture(scope="module")
def ddb_golden():
    con = _make_con(SF_GOLDEN)
    yield con
    con.close()


def _canon(rows, columns):
    """Order-insensitive canonical form: rows as tuples in sorted-column
    order, sorted by string repr (floats kept for approx comparison)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=repr), [columns[i] for i in order]


def _values_equal(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


ORACLED = sorted(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, ddb_golden, name):
    sf = SF_GOLDEN if name in GOLDEN_BACKED else SF
    con = ddb_golden if name in GOLDEN_BACKED else ddb
    sdf = entrymod.queries()[name](spark, sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = con.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        name, len(spark_rows), len(duck_rows)
    )
    s_rows, _ = _canon(spark_rows, spark_cols)
    d_rows, _ = _canon(duck_rows, duck_cols)
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for a, b in zip(sr, dr):
            assert _values_equal(a, b), (name, i, sr, dr)


ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_flagship(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"doc_id", "cell_text", "match_score"}.issubset(set(df.columns))


def test_all_queries_have_unique_names():
    q = entrymod.queries()
    assert set(entrymod.oracle_sql()) <= set(q)


def test_every_query_function_is_registered():
    """A ``_q_*`` function missing from ``queries()`` is dead code: neither
    the driver nor these tests run it."""
    registered = {f.__name__ for f in entrymod.queries().values()}
    defined = {n for n, v in vars(entrymod).items() if n.startswith("_q_") and callable(v)}
    assert defined - registered == set()
