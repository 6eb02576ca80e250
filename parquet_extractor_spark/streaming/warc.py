"""Structured Streaming WARC ingestion: the continuous twin of
``sources.warc.read_warc_docs``.

Crawl segments land in a directory as ``.warc.gz`` files; the stream
picks up new files via the binaryFile file source and parses them
executor-side through the SAME ``extract_warc_frame`` mapInPandas
body the batch path uses — one extraction definition, two execution
modes. Parsing is stateless per file, so the stream holds no state
and its memory profile is one Arrow batch per task regardless of how
long the crawl has been running.

Sink idempotency matches streaming/pdf.py: each epoch writes its own
``epoch=N`` directory with overwrite, so an at-least-once
foreachBatch replay replaces its own output instead of duplicating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from parquet_extractor_spark.sources.warc import extract_warc_frame
from parquet_extractor_spark.streaming import drain, epoch_sink

_BINARY_FILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("modificationTime", TimestampType(), False),
        StructField("length", LongType(), False),
        StructField("content", BinaryType(), True),
    ]
)


def read_warc_stream(
    spark: SparkSession, directory: str, pattern: str = "*.warc*"
) -> DataFrame:
    """File-source stream over a WARC landing directory."""
    return (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", pattern)
        .load(directory)
        .select("path", "content")
    )


def run_warc_ingest_stream(
    spark: SparkSession,
    warc_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain the WARC landing directory once through record parsing
    into a parquet table; returns the written table
    re-read as a batch frame (epoch appears as a partition column)."""
    docs = extract_warc_frame(read_warc_stream(spark, warc_dir))

    drain(
        docs.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "warc_ingest",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def run_capture_dedup_stream(
    spark: SparkSession,
    warc_dir: str,
    checkpoint_dir: str,
    table_dir: str,
) -> list[int]:
    """The streaming crawl-hygiene path end to end: WARC segments
    stream in, each micro-batch is canonicalize-then-deduped AGAINST
    THE TABLE SO FAR (the previous snapshot unions with the batch and
    the newest capture per canonical URL survives), and the merged
    result commits as one OVERWRITE snapshot tagged with the epoch —
    so an at-least-once foreachBatch replay is a no-op, and every
    crawl cycle's frontier state stays time-travelable. Returns the
    committed snapshot ids.

    Scale shape: the merge is exactly the batch
    ``latest_capture_per_uri(canonicalize=True)`` plan (map-side
    canonicalization + one window keyed by canonical URL) over
    previous-survivors ∪ batch; survivors are bounded by distinct
    pages, so the union input stays proportional to the frontier, not
    to crawl history. A 100 TB deployment swaps the overwrite commit
    for a partition-scoped merge; the epoch-tag idempotency carries
    over unchanged."""
    from parquet_extractor_spark.operators.crawl import (
        latest_capture_per_uri,
    )
    from parquet_extractor_spark.sinks.versioned import (
        commit_snapshot,
        read_snapshot,
    )

    records = extract_warc_frame(read_warc_stream(spark, warc_dir))
    committed: list[int] = []

    def _sink(batch: DataFrame, epoch: int) -> None:
        try:
            prev = read_snapshot(spark, table_dir)
            merged_in = prev.unionByName(batch.select(*prev.columns))
        except FileNotFoundError:
            merged_in = batch
        merged = latest_capture_per_uri(merged_in, canonicalize=True)
        committed.append(
            commit_snapshot(
                merged, table_dir, mode="overwrite",
                tag=f"capture-epoch-{epoch}",
            )
        )

    drain(
        records.writeStream.foreachBatch(_sink),
        checkpoint_dir,
        "capture_dedup",
    )
    return committed
