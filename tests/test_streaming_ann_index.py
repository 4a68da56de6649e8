"""Streaming ANN index maintenance: rows streamed through the fixed stored
quantizer must be byte-identical to the batch ann_index_frame over the same
vectors, and a bucket-partitioned parquet sink must union-query with the
batch index."""

import shutil
import uuid

from pyspark.sql import functions as F

from conftest import TMP
from document_parser_spark.operators import similarity
from document_parser_spark.plans.ann_index import (
    bucketed_index_rows,
    load_ann_index,
    run_index_build_checkpointed,
)
from document_parser_spark.sources.session import load_table

SF = "/root/testdata/sf0.001"
_SCHEMA = "vec_id long, embedding array<float>"


def test_stream_rows_equal_batch_and_union_queries(spark):
    workdir = f"{TMP}/sann-{uuid.uuid4().hex[:8]}"
    name = f"sann_{uuid.uuid4().hex[:6]}"
    q = None
    try:
        emb = load_table(spark, SF, "embeddings")
        corpus = emb.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
        new = emb.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")

        # batch-built corpus index fixes the quantizer
        run_index_build_checkpointed(
            spark, corpus, f"{workdir}/cidx", run_id="c", num_buckets=8
        )
        corpus_index, cids, cmat, meta = load_ann_index(spark, f"{workdir}/cidx")

        # stream the new vectors in two file-batches through the fixed quantizer
        half = new.filter(F.col("vec_id") < 450)
        rest = new.filter(F.col("vec_id") >= 450)
        half.coalesce(1).write.mode("append").parquet(f"{workdir}/in")
        rest.coalesce(1).write.mode("append").parquet(f"{workdir}/in")
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        q = (
            bucketed_index_rows(
                stream, cids, cmat, dim=meta["dim"], planes=meta["planes"],
                num_buckets=8,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{workdir}/sidx")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .partitionBy("bucket")
            .start()
        )
        q.processAllAvailable()

        def rows(df):
            return sorted(
                (r["vec_id"], r["cid"], tuple(r["sk"])) for r in df.collect()
            )

        streamed = spark.read.parquet(f"{workdir}/sidx")
        batch = similarity.ann_index_frame(new, cids, cmat, meta["planes"])
        assert rows(streamed.select("vec_id", "cid", "sk")) == rows(batch)

        # the streamed shard unions with the batch index for querying —
        # byte-identical to the inline path over the full corpus with the
        # same (fixed) centroids
        union_index = corpus_index.select("vec_id", "cid", "sk").unionByName(
            streamed.select("vec_id", "cid", "sk")
        )
        queries = emb.filter(F.col("vec_id") < 3)
        stored = similarity.ivf_sketch_topk_from_index(
            union_index, cids, cmat, emb, queries, k=10
        ).collect()
        inline = similarity.ivf_sketch_topk_from_index(
            similarity.ann_index_frame(emb, cids, cmat), cids, cmat, emb, queries, k=10
        ).collect()
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"])
        assert sorted(map(key, stored)) == sorted(map(key, inline))
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)
