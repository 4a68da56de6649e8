"""Distributed oversize-document segmentation (SURVEY.md §4.3).

Normal documents flow through the regular one-UDF parse; documents above
``threshold_chars`` are split into safe segments (kernel/segmentation.py),
the segments are scanned IN PARALLEL across the cluster by one
``mapInArrow`` pass on the same Arrow builder ``parse_documents`` uses, and
the doc is reassembled by ONE per-doc aggregate:

  * ``array_sort(collect_list(struct(seg, spans, tables)))`` — the struct
    sorts by its leading field, so segments come back in document order;
  * spans: flatten the sorted segments' spans;
  * tables: flatten the sorted segments' tables and re-index them with
    ``transform((t, i) -> t.withField("index", i))`` — segments are
    disjoint line ranges in order, so flattened order IS ``line_start``
    order.

Output schema and values are identical to operators.extract.parse_documents
— asserted in tests/test_segmentation.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..kernel.html import looks_like_html
from ..kernel.segmentation import scan_segment, segment_document
from ..kernel.structure import extract_tables
from ..operators.extract import _build_parse_arrays, captured_error, parse_documents
from ..schemas import PARSE_RESULT

#: docs above this size take the segmented path
THRESHOLD_CHARS = 1 << 21
#: per-segment size budget
TARGET_CHARS = 1 << 19

_SEGMENT_ROWS = T.StructType(
    [
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("line_offset", T.IntegerType(), False),
        T.StructField("seg_text", T.StringType(), False),
        T.StructField("repeated", T.ArrayType(T.StringType()), False),
    ]
)


@F.pandas_udf(T.ArrayType(_SEGMENT_ROWS))
def _segment_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for batch in texts:
        out = []
        for text in batch:
            segments, repeated = segment_document(
                text if text is not None else "", TARGET_CHARS
            )
            out.append(
                [
                    {"seg": k, "line_offset": off, "seg_text": seg, "repeated": repeated}
                    for k, (off, seg) in enumerate(segments)
                ]
            )
        yield pd.Series(out)


def _parse_segment(line_offset, seg_text, repeated):
    """(spans, columnar tables, error) for one segment; table indices are
    segment-local until reassembly re-indexes them."""
    try:
        spans, raws = scan_segment(seg_text, line_offset, repeated)
        src = "html" if line_offset == 0 and looks_like_html(seg_text) else "markdown"
        return spans, extract_tables(raws, src), None
    except Exception as exc:  # pragma: no cover - defensive
        return captured_error(exc, offset=line_offset)


def parse_documents_segmented(
    df: DataFrame,
    threshold_chars: int = THRESHOLD_CHARS,
) -> DataFrame:
    """(doc_id, text, …) → (doc_id, spans, tables, error); oversize docs are
    scanned segment-parallel.  Column set matches parse_documents minus the
    pass-through input columns."""
    normal = parse_documents(
        df.filter(F.length("text") <= threshold_chars).select("doc_id", "text")
    ).select("doc_id", "spans", "tables", "error")

    big = df.filter(F.length("text") > threshold_chars).select("doc_id", "text")
    segs = big.select("doc_id", F.explode(_segment_udf("text")).alias("s")).select(
        "doc_id",
        F.col("s.seg").alias("seg"),
        F.col("s.line_offset").alias("line_offset"),
        F.col("s.seg_text").alias("seg_text"),
        F.col("s.repeated").alias("repeated"),
    )
    # ALWAYS redistribute: the exploded segments otherwise stay in the
    # partition that held their parent doc, so a 100 MB doc's ~200 segments
    # parse SERIALLY in one task — measured max/median task ratio 89 on a
    # 20 MB giant before this repartition (r04); the whole point of
    # segmentation is that they fan out.
    segs = segs.repartition(
        big.sparkSession.sparkContext.defaultParallelism * 2, "doc_id", "seg"
    )

    spans_type = to_arrow_type(PARSE_RESULT["spans"].dataType)
    tables_type = to_arrow_type(PARSE_RESULT["tables"].dataType)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            results = [
                _parse_segment(*args)
                for args in zip(*(batch.column(i).to_pylist() for i in (2, 3, 4)))
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1)]
                + list(_build_parse_arrays(results, spans_type, tables_type)),
                names=["doc_id", "seg", "spans", "tables", "error"],
            )

    parsed = segs.mapInArrow(
        op,
        schema=T.StructType(
            [segs.schema["doc_id"], segs.schema["seg"]] + PARSE_RESULT.fields
        ),
    )
    big_out = (
        parsed.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("seg", "spans", "tables"))).alias("_segs"),
            F.max("error").alias("error"),
        )
        .select(
            "doc_id",
            F.flatten(F.transform("_segs", lambda s: s.spans)).alias("spans"),
            F.transform(
                F.flatten(F.transform("_segs", lambda s: s.tables)),
                lambda t, i: t.withField("index", i),
            ).alias("tables"),
            "error",
        )
    )
    return normal.unionByName(big_out)
