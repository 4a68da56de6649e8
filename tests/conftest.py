import ast
import os
import sys
import types

import pytest

#: the checkout these tests run from, resolved from this file so any copy
#: of the repo tests its own code
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: scratch directory for test outputs (git-ignored)
TMP = os.path.join(ROOT, ".tmp")

sys.path.insert(0, ROOT)

REFERENCE_DIR = "/root/reference"


def write_bucketed(
    df, table: str, bucket_cols: list[str], num_buckets: int, sort_cols: list[str]
) -> None:
    """Persist ``df`` as a catalog table bucketed and sorted by the join key:
    later equi-joins and aggregations keyed on a prefix of ``bucket_cols``
    against a table bucketed the same way plan no Exchange.  Spark honours
    bucket metadata only through the catalog (``saveAsTable``), not bare
    parquet paths."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    writer.sortBy(*sort_cols).format("parquet").saveAsTable(table)


def load_reference_functions(filename: str, names: list[str]) -> dict:
    """Extract named top-level functions from a reference source file via AST
    and exec ONLY those (the reference modules import heavyweight/unavailable
    libs — marker, camelot, reportlab — at module scope, so a plain import is
    impossible).  Used strictly as a test oracle; no reference code ships in
    the package."""
    import json
    import re
    from typing import Any, Dict, List, Optional, Tuple, Union

    path = os.path.join(REFERENCE_DIR, filename)
    with open(path, encoding="utf-8") as f:
        source = f.read()
    tree = ast.parse(source)
    wanted = [
        node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name in names
    ]
    missing = set(names) - {n.name for n in wanted}
    if missing:
        raise AssertionError(f"reference {filename} lacks {missing}")
    module = ast.Module(body=wanted, type_ignores=[])
    namespace = {
        "re": re,
        "json": json,
        "List": List,
        "Dict": Dict,
        "Any": Any,
        "Optional": Optional,
        "Tuple": Tuple,
        "Union": Union,
        "dataclass": __import__("dataclasses").dataclass,
        "Enum": __import__("enum").Enum,
    }
    exec(compile(module, path, "exec"), namespace)
    return namespace


@pytest.fixture(scope="session")
def reference_available() -> bool:
    return os.path.isdir(REFERENCE_DIR)


@pytest.fixture(scope="session")
def spark():
    """Session-wide local SparkSession matching the driver's run shape."""
    from document_parser_spark.sources.session import get_spark

    spark = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    yield spark


def run_counting_tasks(spark, fn):
    """``fn()``, the number of Spark jobs it started and the number of tasks
    those jobs ran (a skipped stage runs none), counted through a job group
    set around the call."""
    import uuid

    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # it feeds the status tracker
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stages = [tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
    return out, len(jobs), sum(s.numCompletedTasks for s in stages if s)


def run_counting_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    out, jobs, _ = run_counting_tasks(spark, fn)
    return out, jobs
