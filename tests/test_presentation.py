"""Presentation parity: format_search_results / format_row_results must be
BYTE-EQUAL to the reference's print functions on the same inputs (the last
user-visible surface of a migration).

The reference's printed text comes from its live print functions when the
reference checkout (``conftest.REFERENCE_DIR``) is on disk, and otherwise
from the frozen ``"printers"`` block of
``tests/parity_vectors/search_parity.json``
(``scripts/freeze_parity_vectors.py`` rewrites it)."""

import contextlib
import io
import json

import pytest

from document_parser_spark.presentation import format_row_results, format_search_results
from tests.conftest import load_reference_functions
from tests.test_search_spark import VECTORS_PATH


def _capture(fn, *args, **kwargs) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(*args, **kwargs)
    return buf.getvalue()


_SEARCH_ROWS = [
    dict(
        table_index=2,
        table_source="markdown",
        table_type="vertical",
        table_title="CONTRIBUTING SCIENTISTS",
        row=0,
        col=1,
        header="Value",
        header_levels=["Value"],
        cell_text="Dr. Maria\nChen",
        match_type="key_value",
        match_score=1.0,
        context={"key": "Pathology", "key_column": "Key", "value_column": "Value"},
    ),
    dict(
        table_index=5,
        table_source="markdown",
        table_type="horizontal",
        table_title="",
        row=3,
        col=0,
        header="Group\nNumber",
        header_levels=["Group Number"],
        cell_text="2",
        match_type="cell",
        match_score=0.875,
        context=None,
    ),
]

_ROW_ROWS = [
    dict(
        table_index=1,
        table_type="horizontal",
        table_title="Experimental Design",
        row=1,
        matched_column="Group Number",
        matched_value="2",
        match_score=1.0,
        row_data={"Group Number": "2", "Dose Level\n(mg/kg)": "50\nper day"},
    ),
]


#: name -> (search or row printer, rows, extra positional arguments)
PRINTS = {
    "search_results": ("search", _SEARCH_ROWS, ()),
    "search_results_truncated": ("search", [_SEARCH_ROWS[0]] * 25, (20,)),
    "row_results": ("row", _ROW_ROWS, ()),
}


def live_printed() -> dict:
    """The reference printers' stdout for every ``PRINTS`` input."""
    ref = load_reference_functions(
        "table_search.py", ["SearchResult", "print_search_results", "print_row_results"]
    )
    out = {}
    for name, (kind, rows, args) in PRINTS.items():
        if kind == "search":
            results = [ref["SearchResult"](**r) for r in rows]
            out[name] = _capture(ref["print_search_results"], results, *args)
        else:
            out[name] = _capture(ref["print_row_results"], [dict(r) for r in rows], *args)
    return out


def formatted(name: str) -> str:
    kind, rows, args = PRINTS[name]
    return (format_search_results if kind == "search" else format_row_results)(rows, *args)


@pytest.fixture(scope="module")
def printed(reference_available):
    if reference_available:
        return live_printed()
    with open(VECTORS_PATH, encoding="utf-8") as f:
        return json.load(f)["printers"]


def test_search_results_byte_parity(printed):
    assert formatted("search_results") == printed["search_results"]


def test_search_results_truncation_parity(printed):
    got = formatted("search_results_truncated")
    assert got == printed["search_results_truncated"]
    assert "... and 5 more results" in got


def test_row_results_byte_parity(printed):
    assert formatted("row_results") == printed["row_results"]


def test_engine_rows_format(spark):
    """Collected engine rows (Spark Row with struct context) format cleanly."""
    import __spark_entry__ as entry

    rows = (
        entry.queries()["search_key_value_pathology"](spark, "/root/testdata/sf0.001")
        .limit(3)
        .collect()
    )
    # header_levels/context are to_json'd strings in the contract query;
    # formatting must still produce the scaffold lines
    text = format_search_results(rows)
    assert "Found 2 results" in text or "Found 3 results" in text
    assert "Match Score:" in text
