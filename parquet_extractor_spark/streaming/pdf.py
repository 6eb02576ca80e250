"""Structured Streaming PDF ingestion: the continuous twin of
``sources.pdf.read_pdf_docs``.

The continuously-ingesting shape of a document pipeline: PDF files
land in a directory, the stream picks up new files via the binaryFile
file source, extracts text executor-side (the SAME
``extract_docs_frame`` mapInPandas body the batch path uses — one
extraction definition, two execution modes), and appends rows to a
document table. Extraction is stateless row-at-a-time work, so the
stream holds no state and its memory profile is one Arrow batch per
task regardless of history.

Sink idempotency matches streaming/media.py: each epoch writes to its
own ``epoch=N`` directory with overwrite, so an at-least-once
foreachBatch replay replaces its own output instead of duplicating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_extractor_spark.sources.pdf import extract_docs_frame
from parquet_extractor_spark.streaming import (
    drain,
    epoch_sink,
    read_binary_stream,
)


def run_pdf_ingest_stream(
    spark: SparkSession,
    pdf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain the PDF landing directory once through text extraction
    into a parquet document table; returns the written
    table re-read as a batch frame (epoch appears as a partition
    column — drop it if unwanted)."""
    docs = extract_docs_frame(read_binary_stream(spark, pdf_dir, "*.pdf"))

    drain(
        docs.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "pdf_ingest",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)
