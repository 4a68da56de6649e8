"""Segmentation protocol: segment-parallel parse output must be EXACTLY the
unsegmented parse, kernel-level and Spark-level (SURVEY.md §4.3, §7.3 #2)."""

import pytest

from document_parser_spark import kernel
from document_parser_spark.corpus import fixture_documents
from document_parser_spark.kernel.html import looks_like_html
from document_parser_spark.kernel.segmentation import (
    parse_document_segmented,
    plan_segments,
    segment_document,
)
from document_parser_spark.operators.extract import assemble_document_text, parse_documents
from document_parser_spark.plans.segmentation import (
    TARGET_CHARS,
    parse_documents_segmented,
)
from document_parser_spark.sources.data import fixture_input_df


def test_kernel_segmented_equals_plain():
    for doc in fixture_documents():
        plain = kernel.parse_document(doc["text"])
        for target in (150, 2000):
            seg = parse_document_segmented(doc["text"], target_chars=target)
            assert seg["spans"] == plain["spans"], (doc["doc_id"], target)
            assert seg["tables"] == plain["tables"], (doc["doc_id"], target)


def test_split_points_avoid_blocks_and_lookback():
    doc = next(d for d in fixture_documents() if d["doc_id"] == "fx-pathological")
    md = kernel.normalize_scripts(doc["text"])
    stripped = [ln.strip() for ln in md.splitlines()]
    starts = plan_segments(stripped, target_lines=40)
    assert len(starts) > 10
    begins = {
        i
        for i in range(len(stripped) - 1)
        if kernel.is_table_row(stripped[i]) and kernel.is_separator_row(stripped[i + 1])
    }
    for s in starts[1:]:
        # no begin-marker within the 5-line lookback window after a split
        assert not any(b in begins for b in range(s, s + 5)), s


def test_segment_sizes_bounded():
    doc = next(d for d in fixture_documents() if d["doc_id"] == "fx-pathological")
    segments, _ = segment_document(doc["text"], target_chars=20_000)
    assert len(segments) >= 5
    sizes = [len(s) for _, s in segments]
    assert max(sizes) < 20_000 * 3  # no runaway segment


def _canon(frame):
    return {
        r["doc_id"]: (r["spans"], r["tables"], r["error"])
        for r in (row.asDict(recursive=True) for row in frame.collect())
    }


def _assert_routes_equal(df, threshold_chars):
    plain = parse_documents(df).select("doc_id", "spans", "tables", "error")
    seg = parse_documents_segmented(df, threshold_chars=threshold_chars)
    a, b = _canon(plain), _canon(seg)
    assert set(a) == set(b)
    for doc_id in a:
        assert a[doc_id][0] == b[doc_id][0], (doc_id, "spans")
        assert a[doc_id][1] == b[doc_id][1], (doc_id, "tables")
        assert a[doc_id][2] == b[doc_id][2], (doc_id, "error")


def _multi_segment_doc() -> str:
    """~1.7 MB of markdown: every non-HTML fixture tiled 15 times, each tile
    under its own heading so the tiles are not all boilerplate."""
    md = [d["text"] for d in fixture_documents() if not looks_like_html(d["text"])]
    return "\n\n".join(
        f"## Part {i}\n\n" + "\n\n".join(md) for i in range(15)
    )


def test_spark_segmented_equals_plain(spark):
    # threshold 10,000 chars: only fx-pathological (107 kB) crosses it, and
    # it stays ONE segment under TARGET_CHARS
    _assert_routes_equal(assemble_document_text(fixture_input_df(spark)), 10_000)


def test_spark_multi_segment_doc_equals_plain(spark):
    """A doc big enough to split into several segments reassembles to
    exactly the plain parse: spans in order, tables globally re-indexed."""
    text = _multi_segment_doc()
    assert len(text) >= 1_500_000
    segments, _ = segment_document(text, TARGET_CHARS)
    assert len(segments) >= 3
    df = spark.createDataFrame(
        [("big", text), ("small", "| a | b |\n|---|---|\n| 1 | 2 |\n")],
        "doc_id string, text string",
    )
    _assert_routes_equal(df, 10_000)


def test_segmented_plan_has_no_join_window_or_cache(spark):
    """Reassembly is one per-doc aggregate over the segment parse: no join
    of a spans side with a tables side, no re-index window, no persisted
    intermediate."""
    df = assemble_document_text(fixture_input_df(spark))
    seg = parse_documents_segmented(df, threshold_chars=10_000)
    plan = seg._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "Window", "InMemoryRelation"):
        assert node not in plan, (node, plan)
