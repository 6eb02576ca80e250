"""Structured Streaming twins of the batch operators.

Every runner in this package drains its file source once and stops,
through :func:`drain`: the caller builds the writer (sink and output
mode), ``drain`` owns the checkpoint location, the trigger and the
wait. One timeout covers every runner, and a drain that misses it
raises instead of handing back whatever the sink held at the time.
"""

from __future__ import annotations

import os

DRAIN_TIMEOUT_S = 120


def drain(writer, checkpoint_dir: str, name: str) -> None:
    """Run the configured ``DataStreamWriter`` until its source is
    drained once (``trigger(availableNow=True)``), checkpointing under
    ``checkpoint_dir/name``.

    If the query is still running after ``DRAIN_TIMEOUT_S`` seconds it
    is stopped and ``TimeoutError`` names the stream. Epochs a
    foreachBatch sink committed before the stop stay on disk; a failed
    micro-batch raises the query's ``StreamingQueryException``.
    """
    query = (
        writer.option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"stream {name!r} did not drain within {DRAIN_TIMEOUT_S}s; "
            "the query was stopped"
        )


def epoch_sink(out_dir: str):
    """foreachBatch sink writing each micro-batch to its own
    ``out_dir/epoch=N`` directory with overwrite, so an at-least-once
    replay of an epoch replaces its own output instead of duplicating
    it."""

    def _sink(batch, epoch: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch}")
        )

    return _sink
