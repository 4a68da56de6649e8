"""End-to-end Spark extraction vs the golden kernel oracle: the
span-sequence-equality invariant (kind, text, media_ref, order) per
BASELINE.json, plus partition-independence (SURVEY.md §5.2 item 5)."""

import pytest

from document_parser_spark import kernel
from document_parser_spark.corpus import fixture_documents, synthesize_doc, synthesize_html_doc
from document_parser_spark.operators.extract import (
    assemble_document_text,
    cells_output,
    media_refs_output,
    parse_documents,
    tables_output,
)
from document_parser_spark.plans.partitioning import salted_repartition
from document_parser_spark.sources.data import fixture_input_df


def _span_tuples(spans):
    # (kind, text, media_ref, order); offset participates via ordering only.
    return [(s["kind"], s["text"], s["media_ref"]) for s in sorted(spans, key=lambda s: s["offset"])]


@pytest.fixture(scope="module")
def parsed_rows(spark):
    df = fixture_input_df(spark)
    assembled = assemble_document_text(df)
    parsed = parse_documents(salted_repartition(assembled, 8))
    return {r["doc_id"]: r.asDict(recursive=True) for r in parsed.collect()}


def test_span_sequence_equality(parsed_rows):
    docs = fixture_documents()
    assert set(parsed_rows) == {d["doc_id"] for d in docs}
    for doc in docs:
        oracle = kernel.parse_document(doc["text"])
        got = parsed_rows[doc["doc_id"]]
        assert got["error"] is None, doc["doc_id"]
        assert _span_tuples(got["spans"]) == _span_tuples(oracle["spans"]), doc["doc_id"]
        # offsets must also be exactly equal, not just ordered
        assert [s["offset"] for s in got["spans"]] == [s["offset"] for s in oracle["spans"]]


def test_structured_tables_equality(parsed_rows):
    for doc in fixture_documents():
        oracle = kernel.parse_document(doc["text"])["tables"]
        got = parsed_rows[doc["doc_id"]]["tables"]
        assert got == oracle, doc["doc_id"]


def test_synthetic_docs_equal_kernel(spark):
    """Synthetic markdown, an HTML page and the empty document through a
    real mapInArrow roundtrip: spans and tables equal the kernel's dict
    view, no errors."""
    docs = {str(i): synthesize_doc(i)["text"] for i in range(60)}
    docs["h0"] = synthesize_html_doc(0)["text"]
    docs["e0"] = ""
    df = spark.createDataFrame(list(docs.items()), "doc_id string, text string")
    got = {r["doc_id"]: r.asDict(recursive=True) for r in parse_documents(df).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        oracle = kernel.parse_document(text)
        assert got[doc_id]["error"] is None, doc_id
        assert got[doc_id]["spans"] == oracle["spans"], doc_id
        assert got[doc_id]["tables"] == oracle["tables"], doc_id


def test_partition_independence(spark):
    """Identical output under 1 vs 16 shuffle partitions (order canonicalized
    by doc_id) — no order/partition dependence anywhere in the plan."""
    df = fixture_input_df(spark)

    def run(nparts):
        parsed = parse_documents(salted_repartition(assemble_document_text(df), nparts))
        return [
            (r["doc_id"], _span_tuples(r.asDict(recursive=True)["spans"]))
            for r in parsed.select("doc_id", "spans").orderBy("doc_id").collect()
        ]

    assert run(1) == run(16)


def test_parse_placement_is_even(spark):
    """1,200 ``doc-%09d`` ids (one extract_batch batch) over 8 partitions
    land within 15 % of the mean: the doc_id hash places docs one by one,
    where hashing them into salt buckets first placed whole buckets
    together (max/mean 1.31)."""
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(f"doc-{i:09d}",) for i in range(1200)], "doc_id string")
    sizes = [
        r["count"]
        for r in salted_repartition(ids, 8).groupBy(F.spark_partition_id()).count().collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) / (1200 / 8) <= 1.15, sorted(sizes)


def test_tables_and_cells_outputs(spark):
    df = fixture_input_df(spark)
    parsed = parse_documents(assemble_document_text(df))
    tables = tables_output(parsed)
    cells = cells_output(tables)

    vert = tables.filter("table_type = 'vertical'").select("doc_id", "title").collect()
    assert any("CONTRIBUTING SCIENTISTS" in (r["title"] or "") for r in vert)

    # The reference's own first example query shape (table_search.py:549-554):
    # key 'Pathology' in a vertical table's col 0.
    keyed = cells.filter(
        (cells.table_type == "vertical") & (cells.col == 0) & (cells.text == "Pathology")
    )
    assert keyed.count() >= 1

    # Cell metadata is denormalized — no join needed to know the table title.
    titles = {r["table_title"] for r in keyed.collect()}
    assert any("CONTRIBUTING SCIENTISTS" in t for t in titles)
    assert "STUDY CONTACTS" in titles  # the HTML fixture's key-value table


def test_media_refs_side_table(spark):
    df = fixture_input_df(spark)
    media = media_refs_output(df)
    rows = {(r["doc_id"], r["media_ref"]) for r in media.collect()}
    assert ("fx-md-media-interleaved", "fig_1.png") in rows
    assert ("fx-md-media-interleaved", "fig_2.jpeg") in rows


def test_assemble_pushes_projection(spark):
    """The assembled plan must stay in native expressions (no Python stage
    before the parse UDF)."""
    df = fixture_input_df(spark)
    plan = assemble_document_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
