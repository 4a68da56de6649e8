"""document_parser_spark — a PySpark-native document-parsing / extraction
and table-query engine with the capabilities of jaganlal/document_parser,
re-designed Spark-first (DataFrame/SQL + vectorized Arrow UDFs).

Layout:
  kernel/     pure-Python reference-faithful parse core (oracle + UDF bodies)
  operators/  Spark operators: extract, search, dedup, similarity, text, multimodal
  sources/    session, readers, sinks and the render-ingest seam
  functions/  native Column-expression twins of the kernel predicates
  plans/      partitioning, skew/salting, segmentation, resume manifest +
              the one partition-overwrite writer
  streaming/  structured-streaming wrapper around the same extraction UDF
"""

__version__ = "0.1.0"
