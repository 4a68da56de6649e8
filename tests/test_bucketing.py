"""Bucketed co-located join: two tables bucketed on the same key must join
with ZERO Exchange on either side (the 100 TB shuffle-elimination gate)."""

import uuid

import pytest
from pyspark.sql import functions as F

from conftest import write_bucketed


@pytest.fixture()
def names(spark):
    suffix = uuid.uuid4().hex[:8]
    a, b = f"ta_{suffix}", f"tb_{suffix}"
    yield a, b
    for t in (a, b):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, names):
    ta, tb = names
    left = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("payload_a")
    )
    right = spark.range(0, 10_000, 3).select(
        F.col("id").alias("doc_id"), (F.col("id") % 11).alias("payload_b")
    )
    write_bucketed(left, ta, ["doc_id"], num_buckets=8, sort_cols=["doc_id"])
    write_bucketed(right, tb, ["doc_id"], num_buckets=8, sort_cols=["doc_id"])

    # At test scale Catalyst would broadcast (its own Exchange); the merge
    # hint forces the sort-merge path — the one bucketing exists for at the
    # sizes where broadcasting is impossible.
    joined = spark.table(ta).hint("merge").join(spark.table(tb), "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # co-located: no shuffle either side
    assert joined.count() == 3334

    # same buckets also kill the aggregation exchange
    agg = spark.table(ta).groupBy("doc_id").agg(F.count("*").alias("n"))
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in agg_plan, agg_plan
