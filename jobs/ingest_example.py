"""Runnable S1 ingestion skeleton: PDF → (documents, media) parquet via the
adapter seam (docs/ingest.md).

With marker-pdf installed this renders real PDFs exactly as the reference
does (use_marker_converter.py:604-623); in this container (no torch) it
falls back to a bundled sample markdown so the plumbing stays executable.

    spark-submit --py-files dist/document_parser_spark.zip \
        jobs/ingest_example.py --output /tmp/ingested [pdfs...]
"""

from __future__ import annotations

import argparse

_SAMPLE_MD = """\
# Sample Study Report

Intro paragraph before the figure.

![](figure_1.png)

| Group Number | Dose Level<br>(mg/kg) |
|---|---|
| 1 | 0 |
| 2 | 50 |
"""


def render_pdf(path: str):
    """The marker call site (S1).  Returns (markdown, images: name→bytes)."""
    try:
        from marker.converters.pdf import PdfConverter  # type: ignore
        from marker.models import create_model_dict  # type: ignore
    except ImportError:
        return _SAMPLE_MD, {"figure_1.png": b"\x89PNG-stub"}
    rendered = PdfConverter(artifact_dict=create_model_dict())(path)
    images = {name: img.tobytes() for name, img in rendered.images.items()}
    return rendered.markdown, images


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("pdfs", nargs="*", default=[])
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from document_parser_spark.sources.ingest import ingest_rendered
    from document_parser_spark.sources.session import ENGINE_CONF

    spark = SparkSession.builder.appName("ingest-example").config(map=ENGINE_CONF).getOrCreate()
    sources = args.pdfs or ["sample.pdf"]
    triples = []
    for i, path in enumerate(sources):
        markdown, images = render_pdf(path)
        triples.append((f"ingest-{i:06d}", markdown, images))

    docs_df, media_df = ingest_rendered(spark, triples)
    docs_df.write.mode("overwrite").parquet(f"{args.output}/documents")
    media_df.write.mode("overwrite").parquet(f"{args.output}/media")
    print(
        {
            "documents": docs_df.count(),
            "media": media_df.count(),
        }
    )


if __name__ == "__main__":
    main()
