"""Local stand-in for the driver's correctness harness: run a contract query
on Spark AND its DuckDB oracle on the same sf dir, canonicalize both (columns
sorted by name, rows sorted), and report rows/schema/value equality.

Usage:  python scripts/compare_oracle.py [--sf /root/testdata/sf0.01] [names...]
No names = every query that has an oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _value_hash(df: pd.DataFrame) -> str:
    body = df.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.md5(body).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("compare-oracle")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = args.names or [n for n in qs if n in oracles]
    failures = 0
    for name in names:
        if name not in oracles:
            print(f"{name:28s} NO_ORACLE rows={qs[name](spark, args.sf).count()}")
            continue
        try:
            sdf = _canon(qs[name](spark, args.sf).toPandas())
            odf = _canon(con.sql(oracles[name]).df())
            rows = len(sdf) == len(odf)
            schema = list(sdf.columns) == list(odf.columns) and all(
                str(a) == str(b) for a, b in zip(sdf.dtypes, odf.dtypes)
            )
            vals = rows and schema and _value_hash(sdf) == _value_hash(odf)
            status = "OK" if (rows and schema and vals) else "MISMATCH"
            if status != "OK":
                failures += 1
            print(
                f"{name:28s} {status} rows={len(sdf)}/{len(odf)} "
                f"schema={'ok' if schema else list(zip(sdf.dtypes.astype(str), odf.dtypes.astype(str)))} "
                f"hash={'ok' if vals else 'DIFF'}"
            )
            if status != "OK" and len(sdf) and len(odf):
                print("  spark:", sdf.head(3).to_dict("records"))
                print("  oracle:", odf.head(3).to_dict("records"))
        except Exception as exc:  # noqa: BLE001
            failures += 1
            print(f"{name:28s} ERROR {type(exc).__name__}: {exc}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
