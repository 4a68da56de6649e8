"""bench.py's plan audit and query timing, driven in-process on the test
session over the sf0.001 tier."""

import json

import bench

SF = "/root/testdata/sf0.001"


def test_plan_audit_sections(spark):
    text = bench.plan_audit(spark, SF, ["tpch_q1"])
    section = text.split("## tpch_q1\n", 1)[1]
    props = next(line for line in section.splitlines() if line)
    assert props.startswith("Properties: ")
    assert "partial aggregation" in props
    assert "HashAggregate" in section
    assert "--explain tpch_q1 --sf-dir " + SF in text


def test_time_queries_median_best_runs(spark):
    stats = json.loads(json.dumps(bench.time_queries(spark, SF, ["tpch_q1"], 2)))
    assert list(stats) == ["tpch_q1"]
    row = stats["tpch_q1"]
    assert sorted(row) == ["best", "median", "runs"]
    assert len(row["runs"]) == 2 and row["best"] == min(row["runs"])


def test_make_sf1like_keys_the_tier_by_size(spark, tmp_path, monkeypatch):
    """Each --docs N builds its own tier: a second size is not served the
    first size's cached tables."""
    monkeypatch.setattr(bench, "BENCH_DATA", str(tmp_path))
    small = bench.make_sf1like(spark, 20)
    large = bench.make_sf1like(spark, 30)
    assert small != large
    assert bench.sf_of(small) == bench.sf_of(large) == 1.0
    for path, n in ((small, 20), (large, 30)):
        assert spark.read.parquet(f"{path}/documents.parquet").count() == n
