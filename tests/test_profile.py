"""Corpus profiling: exact rank-selected quantiles are order-deterministic,
bounded by the group's min/max, and match a plain-Python rank selection."""

from pyspark.sql import functions as F

from document_parser_spark.operators.profile import corpus_profile
from document_parser_spark.sources.session import load_table

SF = "/root/testdata/sf0.001"


def test_exact_profile_bounds_and_determinism(spark):
    docs = load_table(spark, SF, "documents")
    prof = corpus_profile(docs).collect()
    assert prof  # one row per source
    bounds = {
        r["source"]: (r["mn"], r["mx"], r["n"])
        for r in docs.groupBy("source")
        .agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    for r in prof:
        mn, mx, n = bounds[r["source"]]
        assert r["n_docs"] == n
        assert mn <= r["chars_p25"] <= r["chars_p50"] <= r["chars_p90"] <= mx
        assert r["top_lang_docs"] >= 1
    # deterministic: a second evaluation yields the same rows (row order is
    # not part of the result — corpus_profile ends in no orderBy)
    assert sorted(prof) == sorted(corpus_profile(docs).collect())


def test_rank_selection_matches_python_reference(spark):
    """The discrete-quantile rank formula ((n·q+99) div 100 under the
    (value, id) order) must match a plain-Python reference on edge shapes:
    single-row groups, all-equal values, heavy ties, and a prime-sized
    group (rank boundaries land mid-tie)."""
    groups = {
        "one": [7],
        "flat": [5] * 10,
        "ties": [1, 1, 1, 2, 2, 9, 9, 9, 9, 9],
        "prime": list(range(100, 113)),  # 13 rows
    }
    rows = [
        (g, i, v) for g, vals in groups.items() for i, v in enumerate(vals)
    ]
    docs = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    docs = docs.withColumn("lang", F.lit("en"))
    got = {r["source"]: r for r in corpus_profile(docs).collect()}
    for g, vals in groups.items():
        ordered = sorted(vals)
        n = len(ordered)
        for q in (25, 50, 90):
            expect = ordered[(n * q + 99) // 100 - 1]
            assert got[g][f"chars_p{q}"] == expect, (g, q)
