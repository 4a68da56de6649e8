"""Equality gate for the columnar Arrow parse path (operators/extract.py).

The columnar kernel (structure.extract_*_columns via
pipeline.parse_document_columns) + the offset-based Arrow batch builder must
produce BYTE-IDENTICAL Arrow arrays to ``pa.array`` over the dict view
(kernel.parse_document), on every corpus shape we ship: synthetic markdown,
synthetic HTML, the fixture corpus, and the degenerate edges (empty string,
None, no tables)."""

import pyarrow as pa

from document_parser_spark import kernel
from document_parser_spark.corpus import (
    fixture_documents,
    synthesize_doc,
    synthesize_html_doc,
)
from document_parser_spark.operators.extract import _build_parse_arrays, _parse_one
from document_parser_spark.schemas import PARSE_RESULT


def _types():
    from pyspark.sql.pandas.types import to_arrow_type

    return (
        to_arrow_type(PARSE_RESULT["spans"].dataType),
        to_arrow_type(PARSE_RESULT["tables"].dataType),
    )


def _assert_paths_equal(texts):
    spans_type, tables_type = _types()
    dicts = [kernel.parse_document(t if t is not None else "") for t in texts]
    sd = pa.array([d["spans"] for d in dicts], type=spans_type)
    td = pa.array([d["tables"] for d in dicts], type=tables_type)
    ed = pa.array([None] * len(texts), type=pa.string())
    sc, tc, ec = _build_parse_arrays(
        [_parse_one(t) for t in texts], spans_type, tables_type
    )
    assert sc.type.equals(sd.type) and tc.type.equals(td.type)
    assert sc.equals(sd), "spans arrays diverge between the Arrow builder and the dict view"
    assert tc.equals(td), "tables arrays diverge between the Arrow builder and the dict view"
    assert ec.equals(ed)


def test_columnar_equals_dict_on_synthetic_markdown():
    _assert_paths_equal([synthesize_doc(i)["text"] for i in range(300)])


def test_columnar_equals_dict_on_synthetic_html():
    _assert_paths_equal([synthesize_html_doc(i)["text"] for i in range(100)])


def test_columnar_equals_dict_on_fixtures():
    fx = fixture_documents()
    texts = [d["text"] if isinstance(d, dict) else d for d in fx]
    assert texts, "fixture corpus is empty"
    _assert_paths_equal(texts)


def test_columnar_equals_dict_on_edges():
    _assert_paths_equal(
        [
            "",
            None,
            "no tables at all",
            "| a | b |\n|---|---|\n| 1 | 2 |",
            "| lone | header |\n| no separator |",
            "Title line\n\n| k | v |\n|---|---|\n| x | 1 |\n| y | 2 |\n\ntail",
        ]
    )
