"""SURVEY §5.2 item 5: the parse output must be IDENTICAL (canonically
ordered) under different parallelism levels — no order/partition dependence.
One JVM per master, so each level runs in its own subprocess."""

import subprocess
import sys

from conftest import ROOT

_SCRIPT = r"""
import hashlib, json, sys
sys.path.insert(0, sys.argv[2])
from pyspark.sql import SparkSession
from document_parser_spark.operators.extract import assemble_document_text, parse_documents
from document_parser_spark.plans.partitioning import salted_repartition
from document_parser_spark.sources.data import fixture_input_df

master = sys.argv[1]
spark = (SparkSession.builder.master(master)
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName(f"parity-{master}").getOrCreate())
parsed = parse_documents(salted_repartition(
    assemble_document_text(fixture_input_df(spark)), 8))
rows = sorted(
    (r["doc_id"], json.dumps([list(s) for s in r["spans"]], ensure_ascii=False))
    for r in parsed.select("doc_id", "spans").collect()
)
print("HASH:" + hashlib.md5(json.dumps(rows).encode()).hexdigest())
spark.stop()
"""


def _run(master: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, master, ROOT],
        capture_output=True, text=True, timeout=240, check=True,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("HASH:")]
    assert line, proc.stdout + proc.stderr
    return line[0]


def test_output_identical_across_parallelism_levels():
    assert _run("local[2]") == _run("local[8]")
