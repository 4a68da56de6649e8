"""Distributed oversize-document segmentation (SURVEY.md §4.3).

Normal documents flow through the regular one-UDF parse; documents above
``threshold_chars`` are split into safe segments (kernel/segmentation.py),
the segments are scanned IN PARALLEL across the cluster, and the doc is
reassembled with pure Column algebra:

  * spans: collect_list(struct(seg, spans)) → array_sort → flatten
    (struct sort is by leading field, so segment order is preserved);
  * tables: explode → global re-index by line_start window →
    ``withField("index", …)`` → sort_array(collect_list) (TABLE's leading
    field IS the index, so sort_array restores document order).

Output schema and values are identical to operators.extract.parse_documents
— asserted in tests/test_segmentation.py.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SPANS, TABLE

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

_SEGMENT_PARSE = T.StructType(
    [
        T.StructField("spans", SPANS, False),
        T.StructField("tables", T.ArrayType(TABLE), False),
        T.StructField("error", T.StringType(), True),
    ]
)


@F.pandas_udf(T.ArrayType(_SEGMENT_ROWS))
def _segment_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    from ..kernel.segmentation import segment_document

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


@F.pandas_udf(_SEGMENT_PARSE)
def _parse_segment_udf(
    batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series]]
) -> Iterator[pd.DataFrame]:
    from ..kernel.html import looks_like_html
    from ..kernel.segmentation import scan_segment
    from ..kernel.structure import columns_to_dicts, extract_tables
    from ..operators.extract import captured_error

    for seg_texts, offsets, repeated in batches:
        spans_col, tables_col, err_col = [], [], []
        for seg_text, off, rep in zip(seg_texts, offsets, repeated):
            off = int(off)
            try:
                spans, raws = scan_segment(seg_text, off, list(rep))
                src = "html" if off == 0 and looks_like_html(seg_text) else "markdown"
                # segment-local indices; re-indexed globally after reassembly
                tables = [columns_to_dicts(t) for t in extract_tables(raws, src)]
                err = None
            except Exception as exc:  # pragma: no cover - defensive
                spans, tables, err = captured_error(exc, offset=off)
            spans_col.append(spans)
            tables_col.append(tables)
            err_col.append(err)
        yield pd.DataFrame({"spans": spans_col, "tables": tables_col, "error": err_col})


def parse_documents_segmented(
    df: DataFrame,
    threshold_chars: int = THRESHOLD_CHARS,
) -> DataFrame:
    """(doc_id, text, …) → (doc_id, spans, tables, error); oversize docs are
    scanned segment-parallel.  Column set matches parse_documents minus the
    pass-through input columns."""
    from ..operators.extract import parse_documents

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

    parsed = segs.withColumn(
        "p", _parse_segment_udf("seg_text", "line_offset", "repeated")
    ).select("doc_id", "seg", "p.spans", "p.tables", "p.error")
    # persist: BOTH reassembly branches (spans collect_list, tables
    # explode+window) consume `parsed`, and the final join makes a third
    # pass — without this the segment parse re-executes per consumer
    # (measured: 21.7 s → 9.5 s full pipeline on a 20 MB doc).  Serialized
    # level per the resume-path precedent (nested span rows are several×
    # larger deserialized).  Not unpersisted here: the consumer is lazy and
    # the frame is bounded (segments of oversize docs only).
    from pyspark import StorageLevel

    parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)

    spans_df = parsed.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "spans"))),
                lambda s: s.spans,
            )
        ).alias("spans"),
        F.max("error").alias("error"),
    )

    w = Window.partitionBy("doc_id").orderBy("line_start")
    exploded = parsed.select("doc_id", F.explode("tables").alias("t")).select(
        "doc_id", "t", F.col("t.line_start").alias("line_start")
    )
    reindexed = exploded.withColumn(
        "t2", F.col("t").withField("index", (F.row_number().over(w) - 1).cast("int"))
    )
    tables_df = reindexed.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("t2")).alias("tables")
    )

    big_out = spans_df.join(tables_df, on="doc_id", how="left").select(
        "doc_id",
        "spans",
        F.coalesce(F.col("tables"), F.array().cast(f"array<{TABLE.simpleString()}>")).alias("tables"),
        "error",
    )
    return normal.unionByName(big_out)
