"""Resumable ANN index build — the spark-submit entry point.

    spark-submit --py-files dist/document_parser_spark.zip \
        --driver-memory 8g jobs/ann_index_job.py \
        --embeddings /data/embeddings --output /data/ann_index \
        --run-id nightly-01 --buckets 256

Builds the persisted (vec_id, cid, sketch) index + stored k-means quantizer
(document_parser_spark.plans.ann_index) — build once, query many: the query
side (``--queries``, optional) runs ``sketch_topk_from_index`` against the
stored table, scanning 64-byte sketches instead of re-sketching the float
corpus per query batch.  Idempotent per (run_id, bucket): re-submission
after a failure resumes from the metrics manifest with stored centroids
reused (never recomputed against in-flight buckets).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--embeddings", required=True, help="input parquet: (vec_id, embedding)")
    parser.add_argument("--output", required=True, help="index root: index/ centroids/ meta/ metrics/")
    parser.add_argument("--run-id", required=True)
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--nlist", type=int, default=None, help="k-means lists (default ~sqrt(n))")
    parser.add_argument("--planes", type=int, default=None, help="sketch bits (default 512)")
    parser.add_argument(
        "--centroids-from", default=None,
        help="index root of an EXISTING build whose quantizer this shard "
        "must reuse (incremental ingest: never refit k-means per shard)",
    )
    parser.add_argument(
        "--queries", default=None,
        help="optional parquet of query vectors: run sketch top-k FROM the stored index",
    )
    parser.add_argument("--topk-out", default=None, help="parquet dir for --queries results")
    parser.add_argument("--k", type=int, default=10)
    parser.add_argument(
        "--method", choices=("sketch", "ivf_sketch"), default="sketch",
        help="query path: flat sketch scan (default) or the probed "
        "IVF->sketch composition for clustered corpora",
    )
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    from document_parser_spark.sources.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName(f"ann-index:{args.run_id}")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from document_parser_spark.operators.similarity import (
        SKETCH_PLANES,
        ivf_sketch_topk_from_index,
        sketch_topk_from_index,
    )
    from document_parser_spark.plans.ann_index import (
        load_ann_index,
        run_index_build_checkpointed,
    )

    emb = spark.read.parquet(args.embeddings)
    stats = run_index_build_checkpointed(
        spark,
        emb,
        args.output,
        run_id=args.run_id,
        num_buckets=args.buckets,
        nlist=args.nlist,
        planes=args.planes or SKETCH_PLANES,
        centroids_from=args.centroids_from,
    )

    if args.queries:
        index, cids, cmat, meta = load_ann_index(spark, args.output)
        q = spark.read.parquet(args.queries)
        if args.method == "ivf_sketch":
            topk = ivf_sketch_topk_from_index(
                index, cids, cmat, emb, q, k=args.k, planes=meta["planes"]
            )
        else:
            topk = sketch_topk_from_index(
                index, emb, q, k=args.k, planes=meta["planes"]
            )
        if args.topk_out:
            topk.write.mode("overwrite").parquet(args.topk_out)
            stats["topk_rows"] = spark.read.parquet(args.topk_out).count()
        else:
            stats["topk_rows"] = topk.count()

    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
