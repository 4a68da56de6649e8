"""Streaming ANN index maintenance (SURVEY.md §2.13 extension): newly
embedded vectors stream into the persisted index's (vec_id, cid, sk, bucket)
shape against a FIXED stored quantizer — the Structured-Streaming twin of
the batch incremental-shard build (``plans.ann_index`` ``centroids_from``).

Given fixed centroids, list assignment and the 512-bit sign sketch are
per-row Arrow maps, so ``stream_index_rows`` is a stateless select: any
output mode/trigger works, a parquet sink partitioned by ``bucket`` appends
shard rows that union with the batch-built index for querying, and rows are
byte-identical to the batch ``similarity.ann_index_frame`` over the same
vectors (equality-gated in tests/test_streaming_ann_index.py).

The k-means REFIT stays a batch job over the corpus: refitting inside a
stream would reassign new vectors to lists inconsistent with the corpus
rows they are probed with — the same invariant the batch seam enforces.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import SKETCH_PLANES, ann_index_frame
from ..plans.ann_index import DEFAULT_BUCKETS


def stream_index_rows(
    stream_df: DataFrame,
    cids: np.ndarray,
    cmat: np.ndarray,
    dim: int,
    planes: int = SKETCH_PLANES,
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(vec_id, cid, sk, bucket) rows for a stream of embeddings, against
    the stored quantizer (``plans.ann_index.load_ann_index`` supplies
    ``cids``/``cmat`` and ``meta['dim']``/``meta['planes']``).  ``dim`` is
    explicit because a streaming frame cannot be probed for it."""
    return ann_index_frame(stream_df, cids, cmat, planes, dim=dim).withColumn(
        "bucket", F.pmod(F.xxhash64("vec_id"), F.lit(num_buckets)).cast("int")
    )
