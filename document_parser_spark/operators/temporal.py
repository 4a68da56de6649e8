"""Temporal operators Spark lacks natively, composed from built-ins.

``asof_join`` — match each probe row with the latest build row at-or-before
its timestamp (per key).  Instead of a range-join explosion or a per-group
pandas ``merge_asof``, it is ONE union + ONE window pass:

    probe(side=1) ∪ build(side=0)
      → window partitionBy(keys) orderBy(ts, side)
      → last(build_payload, ignorenulls) over unbounded-preceding
      → keep probe rows

which shuffles each input exactly once on the join keys, sorts within
partitions, and streams — the scalable shape for billions of rows (a build
row at ts == probe ts sorts FIRST, so the match is inclusive, same as
DuckDB/kdb ASOF semantics).

Build rows must be unique per (keys, ts) — enforce upstream (e.g.
``max_by`` dedup) or matches at duplicate timestamps are nondeterministic
in any as-of engine.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    keys: Sequence[str],
    ts: str,
    payload_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: every probe row, plus ``asof_``-prefixed payload
    columns from the matched build row (NULLs when no build row precedes).

    ``direction='backward'`` matches the latest build at-or-before the probe
    ts; ``'forward'`` the earliest at-or-after."""
    payload = F.struct(*[F.col(c) for c in payload_cols])
    b = build.select(
        *keys,
        F.col(ts).alias("_ts"),
        payload.alias("_payload"),
        F.lit(0).alias("_side"),
    )
    p = probe.withColumn("_ts", F.col(ts)).withColumn("_side", F.lit(1))
    unioned = p.unionByName(b, allowMissingColumns=True)

    order = [F.col("_ts"), F.col("_side")]
    if direction == "forward":
        order = [F.col("_ts").desc(), F.col("_side")]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn(
        "_match", F.last("_payload", ignorenulls=True).over(w)
    )
    out = filled.filter(F.col("_side") == 1).drop("_ts", "_side", "_payload")
    for c in payload_cols:
        out = out.withColumn("asof_" + c, F.col("_match")[c])
    return out.drop("_match")
