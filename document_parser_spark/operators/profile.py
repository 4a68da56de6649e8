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


def corpus_profile(
    docs: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    quantiles: tuple = DEFAULT_QUANTILES,
) -> DataFrame:
    """One profile row per ``group_col``: (group, n_docs, chars_sum,
    n_langs, chars_p{q}..., top_lang, top_lang_docs)."""
    base = docs.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(value_col).cast("long").alias("chars_sum"),
        F.countDistinct(lang_col).alias("n_langs"),
    )
    w = Window.partitionBy(group_col).orderBy(F.asc(value_col), F.asc(id_col))
    wp = Window.partitionBy(group_col)
    ranked = (
        docs.select(group_col, id_col, value_col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wp))
    )
    quant = ranked.groupBy(group_col).agg(
        *[
            F.max(
                F.when(
                    F.col("_rn") == F.expr(f"(_n * {q} + 99) div 100"),
                    F.col(value_col),
                )
            ).alias(f"chars_p{q}")
            for q in quantiles
        ]
    )
    lang_counts = docs.groupBy(group_col, lang_col).agg(F.count("*").alias("_c"))
    wr = Window.partitionBy(group_col).orderBy(F.desc("_c"), F.asc(lang_col))
    top = (
        lang_counts.withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") == 1)
        .select(
            group_col,
            F.col(lang_col).alias("top_lang"),
            F.col("_c").alias("top_lang_docs"),
        )
    )
    return base.join(quant, group_col).join(top, group_col)
