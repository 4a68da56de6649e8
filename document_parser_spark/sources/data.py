"""Input DataFrame builders.

Three entry shapes:
  * ``fixture_input_df``   — the hand-crafted correctness corpus (input_hint
    span shape), built on the driver (≤ a few hundred rows).
  * ``synthetic_input_df`` — the scalable seeded corpus: generated ON THE
    EXECUTORS via ``spark.range`` + ``mapInPandas`` so no corpus ever
    materializes on the driver (this is how a 10^12-doc table would be
    seeded — generation is embarrassingly parallel and deterministic per
    index regardless of partitioning).
  * ``flat_documents_df``  — the driver's ``documents.parquet``
    (doc_id:int64, text, lang, source, n_chars) lifted into the engine's
    input shape.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import fixture_documents, synthesize_doc, to_input_rows
from ..schemas import DOCUMENTS_INPUT
from .session import load_table


def fixture_input_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(to_input_rows(fixture_documents()), DOCUMENTS_INPUT)


def synthetic_input_df(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Executor-side corpus generation: deterministic per (seed, index)."""
    partitions = max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_docs, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = [synthesize_doc(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame({
                "doc_id": [d["doc_id"] for d in docs],
                "text": [d["text"] for d in docs],
            })

    flat = base.mapInPandas(gen, schema="doc_id string, text string")
    return lift_flat_to_input(flat)


def markdown_files_df(spark: SparkSession, path: str) -> DataFrame:
    """S5: a directory of markdown files as (doc_id=file name, text) —
    ``spark.read.text(wholetext)`` keeps one file per row
    (convert_table.py:153-162 reads one file on the driver)."""
    return (
        spark.read.text(path, wholetext=True)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc_id"),
            F.col("value").alias("text"),
        )
    )


def flat_documents_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's flat documents table with a string doc_id."""
    return load_table(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def lift_flat_to_input(flat: DataFrame) -> DataFrame:
    """(doc_id, text) → input_hint span shape: one raw text span at offset 0
    plus one media span per distinct media reference — the Spark form of
    ``corpus.media_refs`` (markdown ``![](ref)`` then HTML ``<img src>``)."""
    refs = F.array_distinct(
        F.concat(
            F.expr(r"regexp_extract_all(text, '!\\[[^\\]]*\\]\\(([^)]+)\\)', 1)"),
            F.expr(r"""regexp_extract_all(text, '<img[^>]*\\ssrc="([^"]+)"', 1)"""),
        )
    )
    spans = F.concat(
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ),
        F.transform(
            refs,
            lambda ref, i: F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                ref.alias("media_ref"),
                (i + 1).cast("int").alias("offset"),
            ),
        ),
    )
    return flat.select("doc_id", spans.alias("spans"))
