"""Resumable end-to-end curation pipeline (the training-data twin of
plans/resume.py's extraction job): exact-dedup canonical election → quality
gate (heuristic signals + the hashing-trick classifier) → language keep →
context-window chunking → partitioned chunk output + per-bucket lineage.

The one design decision that makes this resume-safe AND globally correct is
the bucket key: documents bucket by CONTENT hash (the resume bucket of
``md5(text)``, plans/resume.py), not by doc_id — every exact copy of a text
lands in the same bucket, so the per-bucket canonical election (min doc_id
per md5 group) is the GLOBAL election, bucket by bucket, with no
cross-bucket state.  Buckets are then independently processable, skippable
on resume (the shared resume manifest: one row per (run_id, bucket),
dynamic-partition-overwrite — retries replace, never duplicate), and
uniformly sized at any corpus scale (content hashes don't skew).  Near-dup
dedup stays the dedup_job's incremental-manifest domain; this pipeline is
the exact-dedup + gate + chunk pass a shard runs first.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import exact_canonical
from . import resume

#: English-signal preamble planted on 3/4 of synthetic source ids: the raw
#: synthetic vocabulary carries no stopword signal (language-ID → "und" on
#: every doc), which would make the pipeline's language gate vacuously drop
#: 100% — probe data is injected so the gate demonstrably cuts instead.
EN_PREAMBLE = (
    "This is the summary of what was done and the findings that were "
    "reported for the study with all of its parts.\n\n"
)


def synthetic_curation_corpus(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic flat (doc_id, text) corpus built executor-side from the
    shared synthetic generator; every 10th doc (doc_id % 10 == 9) carries
    its predecessor's text verbatim — planted exact duplicates — and the
    English preamble keys on the SOURCE id (``src % 4 != 3``) so dup pairs
    stay byte-identical while ~25% of docs remain language-"und" for the
    gate to cut.  Used by jobs/curate_job.py (``--input synthetic:N``) and
    the bench curate-scaling study."""
    from typing import Iterator

    base = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism * 2)

    def gen(batches):
        import pandas as pd

        from ..corpus import synthesize_doc

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                src = i - 1 if (i % 10 == 9 and i > 0) else i
                pre = EN_PREAMBLE if src % 4 != 3 else ""
                rows.append(
                    {"doc_id": i, "text": pre + synthesize_doc(src)["text"]}
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, "doc_id long, text string")


def with_content_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Content-derived stable bucket: identical texts → identical bucket, on
    any run at any cluster size (never placement-dependent)."""
    return resume.with_bucket(df, F.md5("text"), num_buckets)


def chunk_stats_closed_form(
    n: "F.Column", max_words: int, stride: int
) -> "F.Column":
    """struct<n_chunks, words_out> for a doc of ``n`` words, WITHOUT
    materializing chunk rows (the metrics path must not re-run the chunk
    pass): starts are 0, stride, … < n, so ``n_chunks = (n-1) div stride + 1``
    (n ≥ 1); a start s emits ``min(max_words, n - s)`` words, of which the
    first ``f`` starts (those with ``n - s ≥ max_words``) emit full windows:
    ``words_out = f·max_words + (q-f)·n - stride·(f + … + (q-1))``.  Exact
    integers — equality-tested against the materialized chunk output."""
    q = F.when(n >= 1, (n - 1) / stride + 1).otherwise(F.lit(0)).cast("long")
    f_raw = F.when(
        n >= max_words, (n - max_words) / stride + 1
    ).otherwise(F.lit(0)).cast("long")
    f = F.least(f_raw, q)
    tail = (q - f) * n.cast("long") - F.lit(stride) * (
        (q - 1 + f) * (q - f) / 2
    ).cast("long")
    return F.struct(
        q.alias("n_chunks"),
        (f * max_words + tail).alias("words_out"),
    )


def curation_metrics(
    survivors: DataFrame,
    per_bucket_in: DataFrame,
    max_words: int,
    stride: int,
) -> DataFrame:
    """One (bucket, counts…) row per bucket: input/canonical/kept doc counts
    and chunk/word output totals.  ``docs_in``/``docs_canonical`` come from
    the pre-gate frame so the gate's drop rate is auditable per bucket;
    chunk totals come from the closed form over doc word counts (no second
    chunk pass)."""
    st = survivors.withColumn(
        "_cs", chunk_stats_closed_form(F.col("n_words"), max_words, stride)
    )
    out = st.groupBy("bucket").agg(
        F.count("*").alias("docs_kept"),
        F.sum("_cs.n_chunks").alias("chunks_out"),
        F.sum("_cs.words_out").cast("long").alias("words_out"),
    )
    return (
        per_bucket_in.join(out, "bucket", "left")
        .select(
            "bucket",
            "docs_in",
            "docs_canonical",
            F.coalesce("docs_kept", F.lit(0)).cast("long").alias("docs_kept"),
            F.coalesce("chunks_out", F.lit(0)).cast("long").alias("chunks_out"),
            F.coalesce("words_out", F.lit(0)).cast("long").alias("words_out"),
        )
    )


def election_frames(todo: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical, per_bucket_in) for a bucketed (doc_id, text, bucket)
    frame — the exact election + census shapes ``run_curation_checkpointed``
    executes, exposed so the plan gate (tests/test_plans.py) audits the real
    pipeline frames.

    canonical: the one exact-content election, ``dedup.exact_canonical``
    (min doc_id, first text, per md5), carrying the content bucket — exact
    because the bucket is derived from the text.  Two other shapes were
    measured and rejected: a window over md5 (its slowest task grows with
    the largest duplicate group — planted-skew A/B in BASELINE.md r04) and a
    groupBy+equi-join re-attach (two scans + three shuffles, 3.5× the window
    on an unskewed 50k corpus).

    per_bucket_in: a second, column-pruned scan pre-aggregated at the
    (bucket, md5) grain — so no distinct aggregate (and hence no Expand)
    appears — rolled up to one row per bucket.  Deriving it from a cached
    canonical instead LOSES at scale (164 s vs 27.5 s at 200k docs × 16
    cores, BASELINE.md r04)."""
    canonical = exact_canonical(todo, "bucket")
    per_bucket_in = (
        todo.groupBy("bucket", F.md5("text").alias("_md5"))
        .agg(F.count("*").alias("_copies"))
        .groupBy("bucket")
        .agg(
            F.sum("_copies").alias("docs_in"),
            F.count("*").alias("docs_canonical"),
        )
    )
    return canonical, per_bucket_in


def run_curation_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = resume.DEFAULT_BUCKETS,
    max_buckets_this_run: int | None = None,
    keep_langs: tuple = ("en",),
    max_words: int = 512,
    stride: int | None = None,
    clf_min: int | None = None,
) -> dict:
    """Run the curation pipeline over ``docs`` (doc_id, text) with bucket-
    level checkpoint-resume.  Returns observability counters.

    Stage shapes (the 100 TB audit): canonical election is ONE map-side-
    combined aggregate per md5(text) (min doc_id, first text — exact, the
    md5 is the equality key) — one shuffle, skew-proof under viral
    duplicate groups (see ``election_frames``); the gate is a
    map-only projection (quality heuristics + the zero-shuffle Arrow
    classifier + language argmax, no joins); chunking is one Arrow pass +
    explode; the only other shuffles are the chunk write's cluster-by-bucket
    and the two tiny per-bucket metric aggregations.  The input is scanned
    twice (election aggregate + the map-side-aggregated input census) and
    nothing corpus-sized is cached pre-gate: caching the elected canonical
    to derive the census from it was measured and LOSES at scale — at 200k
    docs × 16 cores the corpus-sized cache thrashes executor memory to
    164 s where the cache-free shape runs 27.5 s (BASELINE.md r04) — the
    repo's recurring persist-vs-re-derive lesson, and at 100 TB caching the
    corpus per run is infeasible anyway while a second column-pruned scan
    is cheap.
    ``max_buckets_this_run`` simulates a crash for resume tests.

    ``clf_min`` arms the hashing-trick classifier gate (keep iff score ≥
    clf_min).  It is OFF by default: text.hash_classifier_score weighs
    features with a closed-form stand-in for a trained model, so its scores
    are content-hash noise and gating on them silently halves the corpus."""
    from ..operators.curation import chunk_documents, quality_language_gate

    chunks_dir = os.path.join(out_dir, "chunks")
    metrics_dir = os.path.join(out_dir, "metrics")

    t0 = time.monotonic()
    bucketed = with_content_bucket(docs.select("doc_id", "text"), num_buckets)

    done, keep, idle = resume.select_unfinished(
        spark, metrics_dir, run_id, bucketed, range(num_buckets), max_buckets_this_run
    )
    if idle:
        wall_ms = resume.elapsed_ms(t0)
    else:
        # canonical election: global because every md5 group is bucket-local
        canonical, per_bucket_in = election_frames(bucketed.filter(keep))

        # map-only gate: heuristics + classifier + language, one projection
        # each (shared with the streaming twin — see operators.curation)
        gated = quality_language_gate(canonical, keep_langs=keep_langs, clf_min=clf_min)
        survivors = gated.select("doc_id", "text", "bucket", "n_words").persist(
            StorageLevel.MEMORY_AND_DISK
        )  # consumed twice: the chunk write and the metrics rollup

        kept = chunk_documents(
            survivors, max_words=max_words, stride=stride, passthrough=("bucket",)
        )
        resume.write_partitioned(
            kept.select(
                "doc_id", "chunk_id", "first_word", "n_words", "chunk_text", "bucket"
            ),
            chunks_dir,
        )

        wall_ms = resume.write_manifest(
            curation_metrics(survivors, per_bucket_in, max_words, stride or max_words),
            metrics_dir,
            run_id,
            t0,
        )
        survivors.unpersist()

    _, totals = resume.manifest_totals(
        spark,
        metrics_dir,
        run_id,
        {"docs_in": "docs_in", "docs_kept": "docs_kept", "chunks_out": "chunks_out"},
    )
    return {
        "run_id": run_id,
        "buckets_done_before": len(done),
        **totals,
        "wall_ms": wall_ms,
    }
