"""plans/curate.py — the resumable curation pipeline: content-bucket
canonical election, map-only gate, chunk output, closed-form metrics, and
bucket-level crash-resume."""

import pyspark.sql.functions as F
import pytest

import twins
from conftest import run_counting_jobs
from document_parser_spark.operators.curation import (
    chunk_documents,
    quality_language_gate,
)
from document_parser_spark.plans.curate import (
    chunk_stats_closed_form,
    run_curation_checkpointed,
    with_content_bucket,
)


def _corpus(spark):
    """8 docs: 2 exact-dup pairs (→ 6 canonical), one too-short doc and one
    punctuation-bomb (gate drops), rest are wordy English."""
    good = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps in the warm sun for a long time with the other animals "
    )
    rows = [
        (0, good + "zero"),
        (1, good + "one"),
        (2, good + "zero"),        # exact dup of 0 -> dropped (canonical 0)
        (3, good + "three " + good),
        (4, "tiny"),               # < 5 words -> gate drops
        (5, "!!! ??? ;;; ::: !!! ??? ;;; ::: !!! ???"),  # punct bomb
        (6, good + "one"),         # exact dup of 1 -> dropped
        (7, good + "seven"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_election_methods_agree(spark):
    """The shipped map-side-combined election and the window twin elect the
    same canonical rows, and the census equals plain-Python counts per
    bucket — on the handcrafted corpus and on one with a planted viral
    duplicate group (one text × 37 copies)."""
    from collections import defaultdict

    from document_parser_spark.plans.curate import election_frames

    viral = [(100 + i, "the same viral boilerplate text appears everywhere "
              "on the web with these exact words") for i in range(37)]
    extra = spark.createDataFrame(viral, "doc_id long, text string")
    for docs in (_corpus(spark), _corpus(spark).unionByName(extra)):
        b = with_content_bucket(docs, num_buckets=8)
        canonical, census = election_frames(b)
        cols = ["doc_id", "text", "bucket"]
        assert sorted(map(tuple, canonical.select(cols).collect())) == sorted(
            map(tuple, twins.canonical_window(b).select(cols).collect())
        )
        docs_in, texts = defaultdict(int), defaultdict(set)
        for r in b.collect():
            docs_in[r["bucket"]] += 1
            texts[r["bucket"]].add(r["text"])
        expected = sorted((k, docs_in[k], len(texts[k])) for k in docs_in)
        got = sorted(
            tuple(r) for r in census.select("bucket", "docs_in", "docs_canonical").collect()
        )
        assert got == expected
    # the last corpus really carries the viral group, all in one bucket
    assert sum(n for _, n, _ in got) == 45
    assert max(n for _, n, _ in got) >= 37


def test_closed_form_matches_materialized_chunks(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{rng.randrange(50)}" for _ in range(rng.randrange(1, 300))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for mw, st in [(64, 48), (64, 64), (10, 3), (7, 7)]:
        actual = (
            chunk_documents(df, max_words=mw, stride=st)
            .groupBy("doc_id")
            .agg(F.count("*").alias("c"), F.sum("n_words").alias("w"))
        )
        closed = df.select(
            "doc_id",
            chunk_stats_closed_form(
                F.size(F.split(F.trim("text"), r"\s+")), mw, st
            ).alias("cs"),
        ).select("doc_id", F.col("cs.n_chunks").alias("c"), F.col("cs.words_out").alias("w"))
        a = {r["doc_id"]: (r["c"], r["w"]) for r in actual.collect()}
        b = {r["doc_id"]: (r["c"], r["w"]) for r in closed.collect()}
        assert a == b, (mw, st)


def test_pipeline_semantics_and_metrics_consistency(spark, tmp_path):
    out = str(tmp_path / "curated")
    stats = run_curation_checkpointed(
        spark, _corpus(spark), out, run_id="t1", num_buckets=4,
        max_words=20, stride=15,
    )
    assert stats["docs_in"] == 8
    # canonical: 6 distinct texts; gate drops doc 4 (short) + doc 5 (punct)
    assert stats["docs_kept"] == 4
    chunks = spark.read.parquet(out + "/chunks")
    kept_ids = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    assert kept_ids == {0, 1, 3, 7}  # min doc_id per dup group survives
    # metrics chunk totals equal the written chunk rows (closed form honest)
    m = spark.read.parquet(out + "/metrics")
    totals = m.agg(F.sum("chunks_out").alias("c"), F.sum("words_out").alias("w")).collect()[0]
    actual = chunks.agg(F.count("*").alias("c"), F.sum("n_words").alias("w")).collect()[0]
    assert (totals["c"], totals["w"]) == (actual["c"], actual["w"])
    assert stats["chunks_out"] == actual["c"]
    # arming the classifier gate can only shrink the kept set
    out2 = str(tmp_path / "clf")
    armed = run_curation_checkpointed(
        spark, _corpus(spark), out2, run_id="t2", num_buckets=4,
        max_words=20, stride=15, clf_min=0,
    )
    armed_ids = {
        r["doc_id"]
        for r in spark.read.parquet(out2 + "/chunks").select("doc_id").distinct().collect()
    }
    assert armed_ids <= kept_ids
    assert armed["docs_kept"] <= stats["docs_kept"]


def test_resume_skips_completed_and_crash_recovers(spark, tmp_path):
    docs = _corpus(spark)
    out_a = str(tmp_path / "a")
    full = run_curation_checkpointed(
        spark, docs, out_a, run_id="r", num_buckets=4, max_words=20, stride=15
    )
    # no-op resume: every POPULATED bucket done (empty content-hash buckets
    # never appear, so they never need a manifest row), totals unchanged
    populated = (
        with_content_bucket(docs, 4).select("bucket").distinct().count()
    )
    again, jobs = run_counting_jobs(
        spark,
        lambda: run_curation_checkpointed(
            spark, docs, out_a, run_id="r", num_buckets=4, max_words=20, stride=15
        ),
    )
    # the finished build returns after its manifest lookup: 7 bookkeeping
    # jobs, where election + gate + chunk write over zero rows ran 13
    assert jobs <= 7, jobs
    assert again["buckets_done_before"] == populated
    assert (again["docs_in"], again["docs_kept"], again["chunks_out"]) == (
        full["docs_in"], full["docs_kept"], full["chunks_out"],
    )
    # crash simulation: 2 buckets, then finish; final state == single pass
    out_b = str(tmp_path / "b")
    partial = run_curation_checkpointed(
        spark, docs, out_b, run_id="r", num_buckets=4, max_words=20, stride=15,
        max_buckets_this_run=2,
    )
    assert partial["buckets_done_before"] == 0
    finish = run_curation_checkpointed(
        spark, docs, out_b, run_id="r", num_buckets=4, max_words=20, stride=15
    )
    assert finish["buckets_done_before"] == 2
    rows_a = sorted(
        tuple(r) for r in spark.read.parquet(out_a + "/chunks")
        .select("doc_id", "chunk_id", "first_word", "n_words", "chunk_text").collect()
    )
    rows_b = sorted(
        tuple(r) for r in spark.read.parquet(out_b + "/chunks")
        .select("doc_id", "chunk_id", "first_word", "n_words", "chunk_text").collect()
    )
    assert rows_a == rows_b


def test_gate_arrow_equals_column(spark):
    """The Arrow language+word-count pass and the pure-Column form admit the
    SAME rows with the SAME added columns — on real sf docs (markdown with
    tabs/newlines), the synthetic curation corpus, and adversarial edges
    (empty / whitespace-only / unicode / tie-break-forcing texts)."""
    import pyspark.sql.functions as F2

    from document_parser_spark.plans.curate import synthetic_curation_corpus

    edges = [
        (9001, ""),
        (9002, "   \t\n  "),
        (9003, "la la la der der der"),        # es/fr vs de tie shapes
        (9004, "the und der la el the la der"),  # multi-language collision
        (9005, "café straße   nb sp words here the of"),
        (9006, "is" * 2000 + " the of a in"),
        (9007, "word " * 300 + "the and of to a in is that for with"),
    ]
    sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = (
        synthetic_curation_corpus(spark, 60)
        .unionByName(spark.createDataFrame(edges, "doc_id long, text string"))
        .unionByName(sf)
    )
    cols = ["doc_id", "n_words", "lang_pred"]
    a = sorted(
        tuple(r)
        for r in quality_language_gate(corpus, keep_langs=("en", "und", "de", "fr", "es"))
        .select(*cols)
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in twins.quality_language_gate(corpus, keep_langs=("en", "und", "de", "fr", "es"))
        .select(*cols)
        .collect()
    )
    assert a == b
    assert len(a) > 50  # the corpus actually exercises the gate

    # r06: language_id (now Arrow-scored) must equal its HOF column twin on
    # the same adversarial corpus — hits AND prediction, every row kept
    from document_parser_spark.operators import text as text_ops

    la = sorted(tuple(r) for r in text_ops.language_id(corpus).collect())
    lb = sorted(
        tuple(r) for r in twins.language_id(corpus).collect()
    )
    assert la == lb


def test_content_bucket_groups_identical_texts(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "other words")],
        "doc_id long, text string",
    )
    b = {r["doc_id"]: r["bucket"] for r in with_content_bucket(df, 16).collect()}
    assert b[1] == b[2]
