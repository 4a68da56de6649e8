"""Resumable extraction job — the spark-submit entry point.

    spark-submit --py-files dist/document_parser_spark.zip \
        jobs/extract_job.py \
        --input synthetic:100000 --output /data/out --run-id nightly-01 \
        --buckets 256

``--input`` is either a parquet path holding the input_hint-shaped table
(doc_id, spans) or ``synthetic:N`` for the deterministic seeded corpus
(generated on the executors).  The job is idempotent per (run_id, bucket):
re-submission after a failure resumes from the partition-level checkpoint
manifest (see document_parser_spark.plans.resume).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--run-id", required=True)
    parser.add_argument("--buckets", type=int, default=256)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument(
        "--segment-threshold", type=int, default=None,
        help="chars; docs above this parse segment-parallel (identical output)",
    )
    args = parser.parse_args()

    # Under spark-submit the master/conf come from the submit command; this
    # builder only fills in engine-required settings.
    from pyspark.sql import SparkSession

    from document_parser_spark.sources.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName(f"extract:{args.run_id}")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from document_parser_spark.plans.resume import run_extraction_checkpointed
    from document_parser_spark.schemas import DOCUMENTS_INPUT

    if args.input.startswith("synthetic:"):
        from document_parser_spark.sources.data import synthetic_input_df

        df = synthetic_input_df(spark, int(args.input.split(":", 1)[1]), seed=args.seed)
    else:
        df = spark.read.schema(DOCUMENTS_INPUT).parquet(args.input)

    stats = run_extraction_checkpointed(
        spark, df, args.output, run_id=args.run_id, num_buckets=args.buckets,
        segment_threshold_chars=args.segment_threshold,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
