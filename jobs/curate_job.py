"""Resumable training-data curation job — the spark-submit entry point for
the exact-dedup → quality-gate → chunk pipeline (plans/curate.py).

    spark-submit --py-files dist/document_parser_spark.zip \
        jobs/curate_job.py \
        --input /data/documents --output /data/curated --run-id curate-01 \
        --buckets 64 --max-words 512 --stride 384

``--input`` is either a parquet path holding a flat (doc_id, text, …) table
or ``synthetic:N`` for a deterministic seeded corpus (generated on the
executors; every 10th doc duplicates its predecessor's text so the
canonical election provably drops rows).  Idempotent per (run_id, bucket):
re-submission resumes from the metrics manifest — completed buckets are
skipped, partial buckets are replaced via dynamic partition overwrite.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--run-id", required=True)
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--keep-langs", default="en", help="comma-separated")
    parser.add_argument("--max-words", type=int, default=512)
    parser.add_argument("--stride", type=int, default=None)
    parser.add_argument(
        "--max-buckets-this-run", type=int, default=None,
        help="crash simulation: process only the first N unfinished buckets",
    )
    parser.add_argument(
        "--clf-min", type=int, default=None,
        help="arm the classifier gate (keep iff score >= CLF_MIN); the "
        "built-in weights are a closed-form stand-in for a trained model, so "
        "the scores are content-hash noise — see plans/curate.py",
    )
    parser.add_argument(
        "--election-method", choices=("groupby", "window"), default="groupby",
        help="canonical election shape: 'groupby' (default; map-side-"
        "combined aggregate — skew-proof under viral duplicate groups) or "
        "'window' (one-shuffle twin; only for corpora with known-bounded "
        "duplicate-group sizes — see the skew A/B in BASELINE.md)",
    )
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    from document_parser_spark.sources.session import ARROW_BATCH_ROWS

    spark = (
        SparkSession.builder.appName(f"curate:{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from document_parser_spark.plans.curate import (
        run_curation_checkpointed,
        synthetic_curation_corpus,
    )

    if args.input.startswith("synthetic:"):
        # Stage the generated corpus to parquet ONCE and read it back: the
        # pipeline scans its input several times (election + census + gate
        # chain), and an unpersisted generator frame re-synthesizes on every
        # scan — measured at 1M docs: 630 s vs 229 s staged (BASELINE.md
        # r04).  Production inputs already arrive from storage; this makes
        # the synthetic path measure the same engine.  The corpus is
        # deterministic, so an existing stage dir is reused on re-submit.
        import os

        n = int(args.input.split(":", 1)[1])
        stage = os.path.join(args.output, f"_input_{n}")
        try:
            spark.read.parquet(stage).limit(1).collect()
        except Exception:  # noqa: BLE001 — first run: stage dir absent
            synthetic_curation_corpus(spark, n).write.mode("overwrite").parquet(stage)
        docs = spark.read.parquet(stage)
    else:
        docs = spark.read.parquet(args.input)

    stats = run_curation_checkpointed(
        spark,
        docs,
        args.output,
        run_id=args.run_id,
        num_buckets=args.buckets,
        max_buckets_this_run=args.max_buckets_this_run,
        keep_langs=tuple(args.keep_langs.split(",")),
        max_words=args.max_words,
        stride=args.stride,
        clf_min=args.clf_min,
        election_method=args.election_method,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
