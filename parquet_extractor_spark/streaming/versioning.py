"""Streaming snapshot diff: a CDC-style changelog as the new corpus
version arrives.

The batch ``corpus_version_diff`` compares two complete snapshots; in
a rolling pipeline the new version LANDS INCREMENTALLY, and the
useful artifact is a per-document changelog emitted as files arrive:
added / modified / unchanged, classified by a stream-static LEFT join
of the arriving v2 docs against the previous snapshot's digest table
(a bounded, broadcastable side — digests, not text). The join is
stateless, so the stream holds no state and no watermark; 'removed'
is inherently invisible to an insert stream (only the batch
full-outer diff reports it), which the equality test encodes.

Sink idempotency matches the other streaming modules: per-epoch
overwrite directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parquet_extractor_spark.operators.versioning import (
    classify_v2_against_v1,
    snapshot_v1,
    snapshot_v2,
)
from parquet_extractor_spark.sources.tables import load_table
from parquet_extractor_spark.streaming import drain, epoch_sink
from parquet_extractor_spark.streaming.documents import (
    read_documents_stream,
)


def run_version_diff_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain the documents landing dir once through the v2-snapshot
    projection and the stream-static classification join;
    returns the written changelog re-read as a batch frame."""
    v1 = snapshot_v1(load_table(spark, sf_dir, "documents"))
    v2_stream = snapshot_v2(read_documents_stream(spark, sf_dir))
    changelog = classify_v2_against_v1(v2_stream, v1)

    drain(
        changelog.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "version_diff",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def run_versioned_table_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    table_dir: str,
) -> list[int]:
    """Continuously commit a document stream into a snapshot-versioned
    table (sinks/versioned.py): each micro-batch becomes ONE append
    snapshot, tagged with its epoch id so an at-least-once foreachBatch
    REPLAY is a no-op instead of a duplicate commit — exactly-once
    table commits on top of an at-least-once sink contract. Returns
    the committed snapshot ids."""
    from parquet_extractor_spark.sinks.versioned import commit_snapshot

    stream = read_documents_stream(spark, source_dir)
    committed: list[int] = []

    def _sink(batch: DataFrame, epoch: int) -> None:
        committed.append(
            commit_snapshot(
                batch, table_dir, mode="append", tag=f"epoch-{epoch}"
            )
        )

    drain(
        stream.writeStream.foreachBatch(_sink),
        checkpoint_dir,
        "versioned_table",
    )
    return committed


def run_contamination_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming twin of snapshot_contamination_gate: the delta-screen
    runs as a foreachBatch stage of the rolling crawl ingest (VERDICT
    r08 next-round #7). Arriving v2 docs are classified against the
    static v1 digest table and gram-screened against the static
    broadcast benchmark set PER MICRO-BATCH; each epoch writes its
    doc-level screen rows to an epoch-keyed directory (idempotent
    under replay, like every other streaming sink here). The per-doc
    screen carries no cross-doc state, so the union of micro-batch
    outputs is provably the batch screen — the equality test in
    tests/test_streaming.py pins rollup(stream rows) == batch gate.

    Scale shape: identical to the batch gate — the static sides
    (digests, benchmark grams) are corpus metadata computed once per
    cycle and broadcast; each micro-batch pays only for its own docs.
    """
    from parquet_extractor_spark.operators.contamination import (
        benchmark_grams,
        contamination_delta,
        contamination_doc_screen,
        contamination_v1_digests,
        contamination_v2_docs,
    )

    base = load_table(spark, sf_dir, "documents")
    v1 = contamination_v1_digests(base)
    bench = benchmark_grams(contamination_v2_docs(base))
    v2_stream = contamination_v2_docs(read_documents_stream(spark, sf_dir))

    def _sink(batch: DataFrame, epoch: int) -> None:
        screened = contamination_doc_screen(
            contamination_delta(batch, v1), bench
        )
        screened.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch}")
        )

    drain(
        v2_stream.writeStream.foreachBatch(_sink),
        checkpoint_dir,
        "contamination_gate",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)
