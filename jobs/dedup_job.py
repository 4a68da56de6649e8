"""Incremental corpus-dedup job — the spark-submit entry point for the
signature-table ingest pattern:

    spark-submit --py-files dist/document_parser_spark.zip \
        jobs/dedup_job.py \
        --shard /data/shard42.parquet --state /data/dedup_state \
        --shard-id shard42

Maintains ``<state>/signatures`` — the persisted (doc_id, band, sig) MinHash
signature table — across shard ingests.  Per shard it:

  1. computes the shard's band signatures (one explode + one aggregation
     over the SHARD only — the corpus is never re-shingled);
  2. joins them against the accumulated signature table to emit the
     near-dup pairs the shard INTRODUCES (old x old never regenerated;
     exact-Jaccard verify touches only candidate docs' text) — the shared
     core is ``dedup.minhash_pairs_from_signatures``;
  3. writes the shard's signatures and text into state tables PARTITIONED
     BY shard_id through ``resume.overwrite_partitions``, so a crash-rerun
     overwrites the shard's own partition instead of double-appending —
     idempotent per shard regardless of where a previous attempt died;
     the shard's completion row (written last) makes it a no-op.

``<state>/manifest`` is the one resume manifest of plans/resume.py: the
state dir is the run (run id ``dedup``), each shard is one bucket keyed by
its shard id, and the row counts the shard's ``docs`` and ``pairs``.  A
state dir whose manifest is in any other format raises instead of reading
as "no shards done", which would re-pair the shard against partial state.

Prints ONE JSON line: shard size, verified pair count, and whether the
shard was a resume no-op.

**Sequential-ingest contract:** shard ingests into one state directory
must run ONE AT A TIME.  Two concurrent ingests
would each read ``done`` before the other commits, so each verifies only
against the already-completed corpus and the cross-pair between the two
in-flight shards is permanently missed (overwrite-by-partition keeps their
manifest rows from duplicating, but cannot recover the pair).  The contract
is ENFORCED by an O_CREAT|O_EXCL lockfile (``<state>/.ingest.lock``) taken
before state is read and released on every exit path: a second concurrent
ingest fails fast with the holder's identity instead of silently missing
pairs.  A crash can leave the lock behind — ``--steal-lock`` reclaims it
once the operator has confirmed no ingest is running.
"""

from __future__ import annotations

import argparse
import json
import os
import time


class _IngestLock:
    """Single-writer guard for the state dir (VERDICT r04 item 2b): an
    O_CREAT|O_EXCL lockfile is atomic on POSIX filesystems, so the second of
    two racing ingests fails fast instead of silently losing the cross-pair
    between the in-flight shards.  It guards that pair only: the manifest
    and state writes replace partitions, so a race cannot duplicate their
    rows.  Scope note: on object stores without atomic create (S3 without a
    consistency layer) this degrades to best-effort — there, serialize
    through the scheduler as before."""

    def __init__(self, state_dir: str, shard_id: str, steal: bool = False):
        self.path = os.path.join(state_dir, ".ingest.lock")
        self._shard_id = shard_id
        self._steal = steal

    def __enter__(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        if self._steal and os.path.exists(self.path):
            os.unlink(self.path)
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            holder = ""
            try:
                with open(self.path) as fh:
                    holder = fh.read().strip()
            except OSError:
                pass
            raise SystemExit(
                f"state dir is locked by a running ingest ({holder or 'unknown'}); "
                "shard ingests must run one at a time — wait for it, or pass "
                "--steal-lock after confirming the holder crashed"
            )
        with os.fdopen(fd, "w") as fh:
            fh.write(f"shard_id={self._shard_id} pid={os.getpid()}")
        return self

    def __exit__(self, *exc):
        try:
            os.unlink(self.path)
        except OSError:
            pass
        return False


#: the state dir is the run: every shard's manifest row carries this run id
RUN_ID = "dedup"


def ingest(
    spark, shard_path: str, state: str, shard_id: str, shingle_k: int, threshold_pct: int
) -> dict:
    """Ingest one shard into the state dir: the near-dup pairs it introduces
    against every completed shard, then its state and manifest row.  A
    shard already in the manifest is a no-op."""
    from pyspark.sql import functions as F

    from document_parser_spark.operators.dedup import (
        minhash_pairs_from_signatures,
        minhash_signatures,
    )
    from document_parser_spark.plans import resume

    t0 = time.monotonic()
    sig_path = os.path.join(state, "signatures")
    txt_path = os.path.join(state, "texts")
    manifest = os.path.join(state, "manifest")

    # a literal bucket, the shard's only value: the manifest answers for a
    # finished shard, and the probe for a new one folds to a constant, no job
    this_shard = spark.range(1).select(F.lit(shard_id).alias("bucket"))
    done, _, idle = resume.select_unfinished(spark, manifest, RUN_ID, this_shard, [shard_id], None)
    if idle:
        return {"shard_id": shard_id, "resumed_noop": True, "docs": 0, "pairs": 0}

    shard = spark.read.parquet(shard_path).select("doc_id", "text")
    n_docs = shard.count()
    sig_new = minhash_signatures(shard, shingle_k=shingle_k)

    sig_old = resume.read_state(spark, sig_path, "shard_id")
    texts_old = resume.read_state(spark, txt_path, "shard_id")
    if sig_old is not None and texts_old is not None and done:
        # only manifest-COMPLETED shards count as state: a crashed previous
        # attempt may have written partial partitions (this shard's own, or
        # another shard's signatures without its texts) — those are invisible
        # until their shard re-runs and overwrites them, so the candidate
        # join never pairs against half-written state
        completed = F.col("shard_id").isin(sorted(done))
        sig_all = sig_old.filter(completed).select("doc_id", "band", "sig").unionByName(sig_new)
        all_texts = texts_old.filter(completed).select("doc_id", "text").unionByName(shard)
    else:
        sig_all = sig_new
        all_texts = shard

    pairs = minhash_pairs_from_signatures(
        sig_new, sig_all, all_texts, shingle_k=shingle_k, threshold_pct=threshold_pct,
    )
    pairs_path = os.path.join(state, f"pairs_{shard_id}")
    pairs.write.mode("overwrite").parquet(pairs_path)
    # count the WRITTEN output — counting the lazy frame first would execute
    # the whole candidate+verify pipeline twice
    n_pairs = spark.read.parquet(pairs_path).count()

    # state writes replace this shard's partition in place; no repartition —
    # the partition value is one constant, which would funnel the shard into
    # one task.  The manifest row goes LAST — any crash before it leaves a
    # state a full rerun of the same command repairs
    for frame, path in ((sig_new, sig_path), (shard, txt_path)):
        resume.overwrite_partitions(
            frame.withColumn("shard_id", F.lit(shard_id)), path, "shard_id"
        )
    counts = spark.createDataFrame(
        [(shard_id, n_docs, n_pairs)], "bucket string, docs long, pairs long"
    )
    resume.write_manifest(counts, manifest, RUN_ID, t0)
    return {"shard_id": shard_id, "resumed_noop": False, "docs": n_docs, "pairs": n_pairs}


def main() -> None:
    parser = argparse.ArgumentParser(
        description=__doc__,
        epilog="CONTRACT: one ingest per --state directory at a time "
        "(enforced by <state>/.ingest.lock; concurrent ingests would "
        "silently miss cross-shard pairs).",
    )
    parser.add_argument("--shard", required=True, help="parquet with (doc_id, text)")
    parser.add_argument(
        "--state",
        required=True,
        help="dedup state directory (single sequential writer at a time)",
    )
    parser.add_argument("--shard-id", required=True)
    parser.add_argument("--shingle-k", type=int, default=5)
    parser.add_argument("--threshold-pct", type=int, default=50)
    parser.add_argument(
        "--steal-lock",
        action="store_true",
        help="reclaim a lockfile left by a crashed ingest (operator asserts "
        "no ingest is currently running)",
    )
    args = parser.parse_args()

    with _IngestLock(args.state, args.shard_id, args.steal_lock):
        from pyspark.sql import SparkSession

        from document_parser_spark.sources.session import ENGINE_CONF

        spark = (
            SparkSession.builder.appName(f"dedup:{args.shard_id}")
            .config(map=ENGINE_CONF)
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
        stats = ingest(
            spark, args.shard, args.state, args.shard_id,
            shingle_k=args.shingle_k, threshold_pct=args.threshold_pct,
        )
        print(json.dumps(stats))


if __name__ == "__main__":
    main()
