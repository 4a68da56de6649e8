"""Persisted ANN index — the build-once / query-many production shape.

``sketch_topk``/``ivf_sketch_topk`` document their corpus side as "at rest
this is a stored index table"; this module makes that real.  At 100 TB of
embeddings the sketch+assignment pass is itself a large job, so the build
follows the same resumable shape as extraction and curation, on the one
shared resume manifest (plans/resume.py):

  * **step 1 — quantizer (global, idempotent), resolved once**: the source
    is ``centroids_from`` when given (a shard indexed against the corpus's
    fixed quantizer) and ``out_dir`` itself otherwise.  Its one-row meta
    table (n, nlist, planes, dim, num_buckets) is read once through the
    shared state reader; the stored integer-exact k-means centroids are
    reused when the source is ``centroids_from`` or its meta matches the
    requested dials, and recomputed over the FULL corpus otherwise.
    Per-bucket resume is only valid against FIXED centroids, so one layout
    guard refuses any change to a dir that already holds indexed buckets,
    and centroids and meta are then written in one place — meta last, as
    the commit marker (a partial centroid write re-runs the quantizer).
  * **step 2 — index rows (per-bucket, resumable)**: ``bucketed_index_rows``
    — the (vec_id, cid, sk) rows of ``operators.similarity.ann_index_frame``
    (the exact frame ``ivf_sketch_topk`` builds inline) with the resume
    bucket of vec_id (id-derived: rows are independent, no cross-row
    grouping to co-locate) — written ``partitionBy(bucket)`` with dynamic
    partition overwrite plus one manifest row per (run_id, bucket).  A
    crash between buckets resumes with completed buckets untouched.  The
    streaming shard build (a stateless select over a readStream, since
    list assignment and sketch are per-row maps against fixed centroids)
    emits the same rows through the same function.

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
from . import resume

#: the build dials a stored index is bound to, in meta-table column order
_LAYOUT = ("n", "nlist", "planes", "dim", "num_buckets")


def _centroids_frame(
    spark: SparkSession, cids: np.ndarray, cmat: np.ndarray
) -> DataFrame:
    rows = [(int(c), [int(x) for x in cmat[i]]) for i, c in enumerate(cids)]
    return spark.createDataFrame(rows, "cid long, civ array<long>")


def _read_layout(spark: SparkSession, out_dir: str) -> tuple | None:
    meta = resume.read_state(spark, os.path.join(out_dir, "meta"))
    if meta is None:
        return None
    row = meta.collect()[0]
    return tuple(row[k] for k in _LAYOUT)


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


def bucketed_index_rows(
    embeddings: DataFrame,
    cids: np.ndarray,
    cmat: np.ndarray,
    dim: int,
    planes: int,
    num_buckets: int,
) -> DataFrame:
    """(vec_id, cid, sk, bucket) index rows for ``embeddings`` against a
    fixed quantizer — the batch build's step 2, and as is the streaming
    shard build over a readStream: ``load_ann_index`` supplies ``cids``/
    ``cmat`` and ``meta['dim']``/``meta['planes']`` (``dim`` is explicit
    because a streaming frame cannot be probed for it).  The k-means refit
    stays a batch job: refitting inside a stream would assign new vectors
    to lists inconsistent with the corpus rows they are probed with."""
    return resume.with_bucket(
        ann_index_frame(embeddings, cids, cmat, planes, dim=dim), "vec_id", num_buckets
    )


def run_index_build_checkpointed(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = resume.DEFAULT_BUCKETS,
    nlist: int | None = None,
    planes: int = SKETCH_PLANES,
    max_buckets_this_run: int | None = None,
    centroids_from: str | None = None,
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
    metrics_dir = os.path.join(out_dir, "metrics")

    t0 = time.monotonic()
    n = embeddings.count()
    dim = probe_dim(embeddings)

    # step 1: resolve the quantizer layout once — the FIXED centroids every
    # bucket is indexed against — and guard it
    stored = _read_layout(spark, out_dir)
    if centroids_from is None:
        source = out_dir
        layout = (n, ivf_nlist(n) if nlist is None else nlist, planes, dim, num_buckets)
        reused = stored == layout
    else:
        source = centroids_from
        src = _read_layout(spark, centroids_from)
        if src is None:
            raise ValueError(f"no quantizer at {centroids_from}")
        if src[2:4] != (planes, dim):
            raise ValueError(
                f"quantizer at {centroids_from} was built with "
                f"planes={src[2]}, dim={src[3]} — "
                f"this shard requested planes={planes}, dim={dim}"
            )
        # the shard keeps the SOURCE quantizer provenance (n/nlist/planes/
        # dim) but its OWN bucket layout: a re-attempt against a rebuilt
        # corpus quantizer must not resume this shard's buckets
        layout = src[:4] + (num_buckets,)
        reused = True
    if stored != layout:
        # a changed quantizer or layout is fatal once any bucket is indexed
        # against the stored one (done buckets would keep old cids/sketches
        # while new buckets get new ones: a silently torn index)
        indexed = resume.read_state(spark, metrics_dir)
        if indexed is not None and not indexed.isEmpty():
            raise ValueError(
                f"{out_dir} holds buckets indexed under "
                f"{stored and dict(zip(_LAYOUT, stored))}; this invocation requests "
                f"{dict(zip(_LAYOUT, layout))} — a quantizer/layout change "
                "cannot resume; use a fresh out_dir"
            )

    # step 2: bucketed, resumable index rows; the bucket list comes from the
    # id column only — it never runs the sketch UDF.  A finished build has
    # passed the guard with its quantizer committed, so it loads nothing.
    done, keep, idle = resume.select_unfinished(
        spark,
        metrics_dir,
        run_id,
        resume.with_bucket(embeddings, "vec_id", num_buckets),
        max_buckets_this_run,
    )
    if idle:
        wall_ms = resume.elapsed_ms(t0)
    else:
        if reused:
            cids, cmat = load_centroids(spark, os.path.join(source, "centroids"))
        else:
            cids, cmat = ivf_centroids_kmeans(embeddings, layout[1])
        if source != out_dir or not reused:
            # a shard mirrors the corpus quantizer verbatim, so load_ann_index
            # on its dir is self-contained; meta is written AFTER the
            # centroids — its presence+match is the commit marker
            _centroids_frame(spark, cids, cmat).coalesce(1).write.mode(
                "overwrite"
            ).parquet(centroids_dir)
            spark.createDataFrame(
                [layout], "n long, nlist int, planes int, dim int, num_buckets int"
            ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "meta"))
        resume.write_partitioned(
            bucketed_index_rows(embeddings, cids, cmat, dim, planes, num_buckets).filter(keep),
            index_dir,
        )
        # lineage from the WRITTEN rows (durable truth, no UDF recompute),
        # with the bucket filter BEFORE the aggregation so partition pruning
        # reads only this run's buckets
        counts = (
            spark.read.parquet(index_dir)
            .filter(keep)
            .groupBy("bucket")
            .agg(
                F.count("*").alias("vec_count"),
                F.min("vec_id").alias("min_vec_id"),
                F.max("vec_id").alias("max_vec_id"),
            )
        )
        wall_ms = resume.write_manifest(counts, metrics_dir, run_id, t0)
    buckets, totals = resume.manifest_totals(
        spark, metrics_dir, run_id, {"vectors_indexed": "vec_count"}
    )
    return {
        "run_id": run_id,
        "n": n,
        "nlist": layout[1],
        "planes": planes,
        "dim": dim,
        "centroids_reused": reused,
        "buckets_done_before": len(done),
        "buckets_done_total": buckets,
        **totals,
        "wall_ms": wall_ms,
    }
