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
