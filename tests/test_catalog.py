"""TableCatalog: overwrite-by-partition semantics on the parquet backend
(the Iceberg backend is the same call pattern behind the jar check)."""

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from conftest import TMP
from document_parser_spark.sources.catalog import TableCatalog, iceberg_available


@pytest.fixture()
def warehouse():
    path = f"{TMP}/wh-{uuid.uuid4().hex[:8]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_overwrite_partitions_is_selective(spark, warehouse):
    cat = TableCatalog(spark, warehouse)
    assert not iceberg_available(spark)  # this image has no Iceberg jar
    df = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b"), (3, 0, "c")], ["id", "bucket", "v"]
    )
    cat.write(df, "t")
    assert cat.exists("t")

    # Overwrite ONLY bucket 0 with new content; bucket 1 must survive.
    repl = spark.createDataFrame([(9, 0, "z")], ["id", "bucket", "v"])
    cat.overwrite_partitions(repl, "t")
    rows = {(r["id"], r["bucket"], r["v"]) for r in cat.read("t").collect()}
    assert rows == {(9, 0, "z"), (2, 1, "b")}


def test_exists_on_missing(spark, warehouse):
    cat = TableCatalog(spark, warehouse)
    assert not cat.exists("nope")
