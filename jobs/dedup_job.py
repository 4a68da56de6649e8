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
     BY shard_id with dynamic partition overwrite, so a crash-rerun
     overwrites the shard's own partition instead of double-appending —
     idempotent per shard regardless of where a previous attempt died;
     the manifest row (written last) makes a completed shard a no-op.

Prints ONE JSON line: shard size, verified pair count, and whether the
shard was a resume no-op.

**Sequential-ingest contract (ADVICE r03, enforced r05):** shard ingests
into one state directory must run ONE AT A TIME.  The manifest is an
append-only parquet with no writer lock: two concurrent ingests would each
read ``done`` before the other commits, so each verifies only against the
already-completed corpus and the cross-pair between the two in-flight
shards is permanently missed (and concurrent appends to the same manifest
path can race).  The contract is now ENFORCED by an O_CREAT|O_EXCL
lockfile (``<state>/.ingest.lock``) taken before state is read and released
on every exit path: a second concurrent ingest fails fast with the holder's
identity instead of silently missing pairs.  A crash can leave the lock
behind — ``--steal-lock`` reclaims it once the operator has confirmed no
ingest is running (detected after the fact by ``manifest`` rows whose count
differs from the number of distinct shard_ids).
"""

from __future__ import annotations

import argparse
import json
import os


class _IngestLock:
    """Single-writer guard for the state dir (VERDICT r04 item 2b): an
    O_CREAT|O_EXCL lockfile is atomic on POSIX filesystems, so the second of
    two racing ingests fails fast instead of silently losing the cross-pair
    between the in-flight shards.  Scope note: on object stores without
    atomic create (S3 without a consistency layer) this degrades to
    best-effort — there, serialize through the scheduler as before."""

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
        from pyspark.sql import functions as F

        from document_parser_spark.sources.session import ENGINE_CONF

        spark = (
            SparkSession.builder.appName(f"dedup:{args.shard_id}")
            .config(map=ENGINE_CONF)
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")

        from document_parser_spark.operators.dedup import (
            minhash_pairs_from_signatures,
            minhash_signatures,
        )
        from document_parser_spark.plans.resume import read_state

        sig_path = os.path.join(args.state, "signatures")
        txt_path = os.path.join(args.state, "texts")
        manifest = os.path.join(args.state, "manifest")

        mf = read_state(spark, manifest)
        # manifest is tiny: one row per ingested shard
        done = {r["shard_id"] for r in mf.collect()} if mf is not None else set()
        if args.shard_id in done:
            print(json.dumps({"shard_id": args.shard_id, "resumed_noop": True,
                              "docs": 0, "pairs": 0}))
            return

        shard = spark.read.parquet(args.shard).select("doc_id", "text")
        n_docs = shard.count()
        sig_new = minhash_signatures(shard, shingle_k=args.shingle_k)

        sig_old = read_state(spark, sig_path)
        texts_old = read_state(spark, txt_path)
        if sig_old is not None and texts_old is not None and done:
            # only manifest-COMPLETED shards count as state: a crashed previous
            # attempt may have written partial partitions (this shard's own, or
            # another shard's signatures without its texts) — those are invisible
            # until their shard re-runs and overwrites them, so the candidate
            # join never pairs against half-written state
            completed = sorted(done)
            sig_all = sig_old.filter(F.col("shard_id").isin(completed)).select(
                "doc_id", "band", "sig"
            ).unionByName(sig_new)
            all_texts = texts_old.filter(F.col("shard_id").isin(completed)).select(
                "doc_id", "text"
            ).unionByName(shard)
        else:
            sig_all = sig_new
            all_texts = shard

        pairs = minhash_pairs_from_signatures(
            sig_new, sig_all, all_texts,
            shingle_k=args.shingle_k, threshold_pct=args.threshold_pct,
        )
        pairs_path = os.path.join(args.state, f"pairs_{args.shard_id}")
        pairs.write.mode("overwrite").parquet(pairs_path)
        # count the WRITTEN output — counting the lazy frame first would execute
        # the whole candidate+verify pipeline twice
        n_pairs = spark.read.parquet(pairs_path).count()

        # state writes are idempotent per shard: partitioned by shard_id with
        # dynamic overwrite, a rerun replaces this shard's partition in place.
        # The manifest row goes LAST — any crash before it leaves a state a full
        # rerun of the same command repairs
        for frame, path in ((sig_new, sig_path), (shard, txt_path)):
            frame.withColumn("shard_id", F.lit(args.shard_id)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "shard_id"
            ).parquet(path)
        spark.createDataFrame([(args.shard_id,)], "shard_id string").write.mode(
            "append"
        ).parquet(manifest)

        print(
            json.dumps(
                {
                    "shard_id": args.shard_id,
                    "resumed_noop": False,
                    "docs": n_docs,
                    "pairs": n_pairs,
                }
            )
        )


if __name__ == "__main__":
    main()
