"""Persisted ANN index — the build-once / query-many production shape.

``sketch_topk``/``ivf_sketch_topk`` document their corpus side as "at rest
this is a stored index table"; this module makes that real.  At 100 TB of
embeddings the sketch+assignment pass is itself a large job, so the build
follows the same resumable shape as extraction (plans/resume.py) and
curation (plans/curate.py):

  * **step 1 — quantizer (global, idempotent)**: integer-exact k-means
    centroids over the FULL corpus, written once to ``<out>/centroids``
    with a one-row ``<out>/meta`` table recording (n, nlist, planes, dim).
    Per-bucket resume is only valid against FIXED centroids — a restart
    therefore REUSES stored centroids when the meta row matches the
    requested dials, and recomputes+overwrites when it doesn't (a partial
    centroid write fails the readback and recomputes).
  * **step 2 — index rows (per-bucket, resumable)**: one map-only Arrow
    pass emits (vec_id, cid, sk) — ``operators.similarity.ann_index_frame``,
    the exact frame ``ivf_sketch_topk`` builds inline — bucketed by
    ``pmod(xxhash64(vec_id), B)`` (id-derived: rows are independent, no
    cross-row grouping to co-locate), written ``partitionBy(bucket)`` with
    dynamic partition overwrite plus one lineage row per (run_id, bucket).
    A crash between buckets resumes with completed buckets untouched.

Query side: ``load_ann_index`` returns the index frame + the centroid
matrix; ``similarity.sketch_topk_from_index`` /
``ivf_sketch_topk_from_index`` run against them, scanning the 64-byte
sketch column instead of re-sketching the float corpus per query — the
float vectors are read exactly once, for the exact rerank of the top slice
(plan-gated in tests/test_ann_index.py).
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    SKETCH_PLANES,
    ann_index_frame,
    ivf_centroids_kmeans,
    ivf_nlist,
    probe_dim,
)
from .resume import select_unfinished, write_metrics, write_partitioned

DEFAULT_BUCKETS = 64


def _has_metrics(spark: SparkSession, metrics_dir: str) -> bool:
    """True iff ANY bucket (any run_id) has a lineage row — the marker that
    index rows exist on disk and the quantizer is no longer changeable."""
    try:
        return not spark.read.parquet(metrics_dir).isEmpty()
    except Exception:
        return False


def _centroids_frame(
    spark: SparkSession, cids: np.ndarray, cmat: np.ndarray
) -> DataFrame:
    rows = [(int(c), [int(x) for x in cmat[i]]) for i, c in enumerate(cids)]
    return spark.createDataFrame(rows, "cid long, civ array<long>")


def load_centroids(spark: SparkSession, centroids_dir: str):
    """(cids, cmat) from the stored quantizer, ordered by cid — the same
    numpy shapes ``ivf_centroids_kmeans`` returns."""
    rows = sorted(
        spark.read.parquet(centroids_dir).collect(), key=lambda r: r["cid"]
    )
    if not rows:
        raise ValueError(f"empty centroid table at {centroids_dir}")
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([r["civ"] for r in rows], dtype=np.int64)
    return cids, cmat


def load_ann_index(spark: SparkSession, out_dir: str):
    """(index_df, cids, cmat, meta) for a completed build — the inputs the
    ``*_from_index`` query functions take.  ``meta`` is the build-dial row
    (n, nlist, planes, dim) as a dict."""
    index = spark.read.parquet(os.path.join(out_dir, "index"))
    cids, cmat = load_centroids(spark, os.path.join(out_dir, "centroids"))
    meta = spark.read.parquet(os.path.join(out_dir, "meta")).collect()[0].asDict()
    return index, cids, cmat, meta


def run_index_build_checkpointed(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = DEFAULT_BUCKETS,
    nlist: int | None = None,
    planes: int = SKETCH_PLANES,
    max_buckets_this_run: int | None = None,
    centroids_from: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build (or resume building) the persisted ANN index for ``embeddings``
    under ``out_dir`` (layout: index/, centroids/, meta/, metrics/).
    Idempotent per (run_id, bucket); ``max_buckets_this_run`` simulates a
    crash for resume tests.  Returns observability counters.

    ``centroids_from`` is the INCREMENTAL-INGEST seam (the dedup_job
    pattern): a new shard of vectors is indexed in its OWN out_dir against
    the CORPUS index's already-fixed quantizer — refitting k-means on the
    shard would assign new vectors to different lists than the corpus rows
    they must be probed with.  The queryable index is then the union of the
    shard index frames (same cids/cmat for every shard; disjoint vec_ids
    are the caller's contract, as in minhash_incremental_pairs)."""
    index_dir = os.path.join(out_dir, "index")
    centroids_dir = os.path.join(out_dir, "centroids")
    meta_dir = os.path.join(out_dir, "meta")
    metrics_dir = os.path.join(out_dir, "metrics")

    t0 = time.monotonic()
    n = embeddings.count()
    if nlist is None:
        nlist = ivf_nlist(n)
    dim = probe_dim(embeddings, vec_col)

    def _guard_layout(stored: dict, requested: tuple) -> None:
        # A dial change would RECOMPUTE the quantizer — fatal if any bucket
        # is already indexed against the old one (done buckets keep old
        # cids/sketches while new buckets get new ones: a silently torn
        # index).  Refuse instead; a fresh out_dir is the correct move.
        keys = ("n", "nlist", "planes", "dim", "num_buckets")
        if tuple(stored[k] for k in keys) != requested and _has_metrics(
            spark, metrics_dir
        ):
            raise ValueError(
                f"{out_dir} holds buckets indexed under {stored}; this "
                f"invocation requests {dict(zip(keys, requested))} — a "
                "quantizer/layout change cannot resume; use a fresh out_dir"
            )

    # step 1: the quantizer must be FIXED before any bucket is written —
    # reuse stored centroids iff the meta dials match this invocation
    centroids_reused = False
    if centroids_from is not None:
        src_meta = spark.read.parquet(
            os.path.join(centroids_from, "meta")
        ).collect()[0].asDict()
        if (src_meta["planes"], src_meta["dim"]) != (planes, dim):
            raise ValueError(
                f"quantizer at {centroids_from} was built with "
                f"planes={src_meta['planes']}, dim={src_meta['dim']} — "
                f"this shard requested planes={planes}, dim={dim}"
            )
        cids, cmat = load_centroids(spark, os.path.join(centroids_from, "centroids"))
        nlist = int(src_meta["nlist"])
        centroids_reused = True
        # the mirror meta keeps the SOURCE quantizer provenance (n/nlist/
        # planes/dim) but the SHARD's bucket layout; a re-attempt against a
        # rebuilt corpus quantizer must not resume this shard's buckets
        mirror = (
            int(src_meta["n"]), nlist, planes, dim, num_buckets,
        )
        try:
            local = spark.read.parquet(meta_dir).collect()[0].asDict()
        except Exception:
            local = None
        if local is not None:
            _guard_layout(local, mirror)
        # mirror the corpus quantizer verbatim into the shard dir so
        # load_ann_index(shard_dir) is self-contained
        _centroids_frame(spark, cids, cmat).coalesce(1).write.mode(
            "overwrite"
        ).parquet(centroids_dir)
        spark.createDataFrame(
            [mirror], "n long, nlist int, planes int, dim int, num_buckets int"
        ).coalesce(1).write.mode("overwrite").parquet(meta_dir)
        return _index_pass(
            spark, embeddings, cids, cmat, out_dir, run_id, num_buckets,
            planes, max_buckets_this_run, id_col, vec_col,
            t0, n, nlist, dim, centroids_reused,
        )
    requested = (n, nlist, planes, dim, num_buckets)
    try:
        meta = spark.read.parquet(meta_dir).collect()[0].asDict()
    except Exception:
        meta = None
    if meta is not None and tuple(
        meta[k] for k in ("n", "nlist", "planes", "dim", "num_buckets")
    ) == requested:
        cids, cmat = load_centroids(spark, centroids_dir)
        centroids_reused = True
    else:
        if meta is not None:
            _guard_layout(meta, requested)
        cids, cmat = ivf_centroids_kmeans(embeddings, nlist, id_col=id_col, vec_col=vec_col)
        _centroids_frame(spark, cids, cmat).coalesce(1).write.mode(
            "overwrite"
        ).parquet(centroids_dir)
        # meta is written AFTER the centroids: its presence+match is the
        # commit marker for step 1 (a crash between the two writes re-runs
        # the quantizer, never resumes buckets against torn centroids)
        spark.createDataFrame(
            [requested], "n long, nlist int, planes int, dim int, num_buckets int"
        ).coalesce(1).write.mode("overwrite").parquet(meta_dir)

    return _index_pass(
        spark, embeddings, cids, cmat, out_dir, run_id, num_buckets,
        planes, max_buckets_this_run, id_col, vec_col,
        t0, n, nlist, dim, centroids_reused,
    )


def _index_pass(
    spark: SparkSession,
    embeddings: DataFrame,
    cids: np.ndarray,
    cmat: np.ndarray,
    out_dir: str,
    run_id: str,
    num_buckets: int,
    planes: int,
    max_buckets_this_run: int | None,
    id_col: str,
    vec_col: str,
    t0: float,
    n: int,
    nlist: int,
    dim: int,
    centroids_reused: bool,
) -> dict:
    """Step 2 of the build — the bucketed, resumable (vec_id, cid, sk) map
    pass + lineage — shared by the fresh-quantizer and ``centroids_from``
    branches of ``run_index_build_checkpointed``."""
    index_dir = os.path.join(out_dir, "index")
    metrics_dir = os.path.join(out_dir, "metrics")

    bucketed = ann_index_frame(
        embeddings, cids, cmat, planes, id_col, vec_col
    ).withColumn("bucket", F.pmod(F.xxhash64("vec_id"), F.lit(num_buckets)).cast("int"))

    # bucket list from the id column only — never runs the sketch UDF
    id_buckets = embeddings.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_buckets)).cast("int").alias("bucket")
    )
    done, keep = select_unfinished(spark, metrics_dir, run_id, id_buckets, max_buckets_this_run)
    write_partitioned(bucketed.filter(keep), index_dir)

    wall_ms = int((time.monotonic() - t0) * 1000)
    # lineage from the WRITTEN rows (durable truth, no UDF recompute), with
    # the bucket filters BEFORE the aggregation so partition pruning reads
    # only this run's buckets — post-agg filtering would scan every bucket
    # of the index just to emit metrics for the few that resumed
    written = spark.read.parquet(index_dir).filter(keep)
    metrics = (
        written.groupBy("bucket")
        .agg(
            F.count("*").alias("vec_count"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .select(
            F.col("bucket").alias("partition_key"),
            F.lit(run_id).alias("run_id"),
            "vec_count",
            "min_vec_id",
            "max_vec_id",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )
    write_metrics(metrics, metrics_dir)

    manifest = spark.read.parquet(metrics_dir).filter(F.col("run_id") == run_id)
    total = manifest.agg(F.sum("vec_count").alias("v")).collect()[0]["v"]
    return {
        "run_id": run_id,
        "n": n,
        "nlist": nlist,
        "planes": planes,
        "dim": dim,
        "centroids_reused": centroids_reused,
        "buckets_done_before": len(done),
        "buckets_done_total": manifest.select("partition_key").distinct().count(),
        "vectors_indexed": int(total or 0),
        "wall_ms": wall_ms,
    }
