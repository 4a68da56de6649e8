"""jobs/dedup_job.py on the one resume manifest (plans/resume.py): shard ids
of any form are manifest keys, a shard pairs against every completed shard,
a completed shard re-ingests as a no-op, and a manifest of another format
raises instead of reading as "no shards done"."""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "dedup_job", os.path.join(os.path.dirname(__file__), "..", "jobs", "dedup_job.py")
)
dedup_job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dedup_job)

_TEXT = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
_SHARDS = {
    "1": [("a1", _TEXT), ("a2", "parquet files hold columnar row groups with footers")],
    "b": [("b1", _TEXT + " again"), ("b2", "minhash bands hash signature rows into buckets")],
}


def _ingest(spark, tmp_path, shard_id):
    return dedup_job.ingest(
        spark, str(tmp_path / shard_id), str(tmp_path / "state"), shard_id,
        shingle_k=3, threshold_pct=50,
    )


def test_shards_pair_across_and_completed_shard_is_noop(spark, tmp_path):
    for shard_id, rows in _SHARDS.items():
        spark.createDataFrame(rows, "doc_id string, text string").write.parquet(
            str(tmp_path / shard_id)
        )
    assert _ingest(spark, tmp_path, "1") == {
        "shard_id": "1", "resumed_noop": False, "docs": 2, "pairs": 0
    }
    second = _ingest(spark, tmp_path, "b")
    assert (second["docs"], second["pairs"]) == (2, 1)
    pairs = spark.read.parquet(str(tmp_path / "state" / "pairs_b")).collect()
    assert {pairs[0]["doc_a"], pairs[0]["doc_b"]} == {"a1", "b1"}
    assert _ingest(spark, tmp_path, "1") == {
        "shard_id": "1", "resumed_noop": True, "docs": 0, "pairs": 0
    }


def test_manifest_of_another_format_raises(spark, tmp_path):
    """The append-only ``shard_id`` manifest of earlier state dirs is not
    migrated: reading it as empty would re-pair shards against partial
    state, so the ingest stops before it reads the shard."""
    manifest = str(tmp_path / "state" / "manifest")
    spark.createDataFrame([("1",)], "shard_id string").write.parquet(manifest)
    with pytest.raises(ValueError, match="partition column"):
        _ingest(spark, tmp_path, "1")
