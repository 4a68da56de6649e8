"""Partitioning & skew handling for the extraction pipeline (SURVEY.md §4.3).

Document parallelism is total (the reference crosses zero thread boundaries,
SURVEY.md §3.3), so the only scale problems are placement problems:

  * doc_ids are unique ⇒ count skew is solved by any uniform hash; the real
    skew is BYTE skew from pathologically large documents.
  * ``salted_repartition`` spreads normal docs over 32 hash buckets per
    partition and gives every oversize doc its own shuffle key, so two giants
    never share a partition by bucket collision.
  * true intra-document parallelism for giants is the segmentation protocol
    (plans/segmentation.py) — offset/order-stable splitting, parse per
    segment, deterministic reassembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Docs above this many chars get a dedicated shuffle key.
OVERSIZE_CHARS = 1 << 20


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    oversize_chars: int = OVERSIZE_CHARS,
) -> DataFrame:
    """Repartition for the parse stage: normal docs hash-salted into
    32 buckets per partition (≥8× partitions so bucket→partition collisions
    even out), docs over ``oversize_chars`` ``n_chars`` keyed individually
    by doc_id."""
    key = F.when(
        F.col("n_chars") > F.lit(oversize_chars),
        F.concat(F.lit("big:"), F.col("doc_id")),
    ).otherwise(
        F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions * 32)).cast("string")
    )
    return df.repartition(num_partitions, key)
