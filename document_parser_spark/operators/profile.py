"""Corpus profiling — the data-report pass a curation pipeline runs before
training (doc counts, width quantiles, language spread, heavy hitters per
source).  Beyond-reference surface (the reference has no corpus analytics;
nearest seam is its per-run table count print, `main.py:395-398`).

Every statistic is chosen to be ENGINE-PORTABLE EXACT so the DuckDB oracle
hashes bit-identically: counts and integer sums, and DISCRETE rank-selected
quantiles (value at ``rn == (n·q + 99) div 100`` under a deterministic
(value, doc_id) order) — never interpolated percentiles, whose float
arithmetic differs across engines.

Scale shape: the count/sum/distinct block and the heavy-hitter election are
map-side-combined aggregates (the election ranks the already-aggregated
(group, lang) grain — the skew-proof aggregate-then-rank shape, never a
corpus-sized window).  The exact quantiles are the one honest sort: a
row_number over (group), i.e. one range-sort shuffle of (group, value,
doc_id) triples.  A t-digest sketch would combine map-side, but its
interpolation differs across engines, so it could never be
oracle-compared — the profile ships the exact form only."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_QUANTILES = (25, 50, 90)


def corpus_profile(docs: DataFrame) -> DataFrame:
    """One profile row per ``source``: (source, n_docs, chars_sum, n_langs,
    chars_p{q}... for q in ``DEFAULT_QUANTILES`` over ``n_chars``, top_lang,
    top_lang_docs)."""
    base = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.countDistinct("lang").alias("n_langs"),
    )
    w = Window.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    wp = Window.partitionBy("source")
    ranked = (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wp))
    )
    quant = ranked.groupBy("source").agg(
        *[
            F.max(
                F.when(
                    F.col("_rn") == F.expr(f"(_n * {q} + 99) div 100"),
                    F.col("n_chars"),
                )
            ).alias(f"chars_p{q}")
            for q in DEFAULT_QUANTILES
        ]
    )
    lang_counts = docs.groupBy("source", "lang").agg(F.count("*").alias("_c"))
    wr = Window.partitionBy("source").orderBy(F.desc("_c"), F.asc("lang"))
    top = (
        lang_counts.withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("_c").alias("top_lang_docs"),
        )
    )
    return base.join(quant, "source").join(top, "source")
