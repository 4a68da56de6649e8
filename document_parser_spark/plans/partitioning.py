"""Partitioning for the extraction pipeline (SURVEY.md §4.3).

Document parallelism is total (the reference crosses zero thread boundaries,
SURVEY.md §3.3), so the only scale problems are placement problems:

  * doc_ids are unique ⇒ count skew is solved by any uniform hash, so
    ``salted_repartition`` hashes ``doc_id`` straight onto the partitions.
    Salting first (doc → one of 32·n buckets → partition) placed whole
    buckets together (8 partitions, 1,200 ids: max/mean 1.31 vs 1.08), and
    an oversize doc's own key collided like any other (DS2, ICDE'21).
  * true intra-document parallelism for giants is the segmentation protocol
    (plans/segmentation.py) — offset/order-stable splitting, parse per
    segment, deterministic reassembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition for the parse stage: ``doc_id`` hashed onto
    ``num_partitions`` partitions."""
    return df.repartition(num_partitions, "doc_id")
