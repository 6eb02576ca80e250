"""Structured Streaming over the events table (SURVEY §2.9 ST1).

The reference is strictly batch; this is the driver-mandated streaming
extension. The same hourly aggregation as
``operators.relational.events_hourly`` expressed incrementally:
file-source stream → watermark → tumbling window → stateful agg.
``run_events_hourly_stream`` drains the source exactly once and stops
(``streaming.drain``), so a test or a backfill sees a final answer — the
batch/stream results must be identical, which is the correctness
contract Structured Streaming gives us for free.

Scale notes: the stateful agg shuffles on (window, event_type) — the
same key the batch plan uses; the watermark bounds state (late events
beyond 2 hours are dropped), which is what makes this runnable forever
on an unbounded source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import local_frame
from parquet_extractor_spark.streaming import drain

# event-time lateness every watermarked events stream tolerates
WATERMARK = "2 hours"

# Physical schema of events.parquet (file streams require an explicit
# schema). ts arrives either as TIMESTAMP (micros fixtures) or as a
# nanos-long (TIMESTAMP(NANOS) fixtures read under nanosAsLong) — the
# stream probes the footer via the batch reader and adapts, exactly as
# load_table does, so a fixture-type change never skews the windows.
def _events_stream_schema(ts_is_nanos_long: bool) -> StructType:
    ts_field = (
        StructField("ts", LongType())
        if ts_is_nanos_long
        else StructField("ts", TimestampType())
    )
    return StructType(
        [
            StructField("event_id", LongType()),
            ts_field,
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet, ts normalized to a
    micros timestamp regardless of the fixture's physical type."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.errors import AnalysisException

    try:
        probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        nanos_long = dict(probe.dtypes).get("ts") == "bigint"
    except AnalysisException:
        # A landing dir with no data yet is a normal condition for a
        # file-source stream (PATH_NOT_FOUND) — defining the stream
        # must not require rows to exist. Default to the nanos-long
        # layout (what the current fixtures write); callers re-create
        # the stream per run, so the probe self-corrects once data
        # lands. Other probe failures (corrupt footer, permissions)
        # propagate — silently guessing a layout would surface later
        # as wrong timestamps with no trace of the root cause.
        nanos_long = True
    raw = (
        spark.readStream.schema(_events_stream_schema(nanos_long))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos_long:
        raw = raw.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return raw


def hourly_agg(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    relational.events_hourly (same keys, same measures)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            # NOTE: countDistinct isn't supported in streaming aggs;
            # approx_count_distinct is the streaming-legal variant.
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def run_events_hourly_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain the events source once into an in-memory sink table;
    returns the result DataFrame. Complete output mode:
    file sources never drop the final windows behind the watermark."""
    stream = hourly_agg(read_events_stream(spark, sf_dir))
    name = "events_hourly_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


def run_sessionization_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows per user (stateful op beyond tumbling windows):
    events within `gap` of each other merge into one session. Uses the
    built-in session_window — no custom state management needed."""
    events = read_events_stream(spark, sf_dir)
    stream = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("session_start_epoch"),
            F.unix_timestamp(F.col("win.end")).alias("session_end_epoch"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    name = "events_sessions_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState


def _user_totals_fn(key, pdf_iter, state):
    """Per-user running totals with explicit GroupState — the escape
    hatch for stateful logic session_window/agg can't express (here a
    deliberately simple accumulator so the batch twin is an exact
    groupBy for the test to compare against).

    State is one (n_events, total_value) tuple per user — O(users)
    cluster-wide, partitioned by the grouping key like any shuffle.
    """
    import pandas as pd

    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    (user_id,) = key
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 4)],
        }
    )


def run_user_totals_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain the events source through the custom stateful operator.

    Batch equivalence contract: after the source is fully drained, the
    latest row per user equals
    ``events.groupBy(user_id).agg(count(*), round(sum(value),4))``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = read_events_stream(spark, sf_dir)
    stream = events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "events_user_totals_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# foreachBatch sink: stream → curated parquet dataset


def run_stream_to_dataset(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Production sink pattern: foreachBatch bridges the stream to the
    batch writer, so every micro-batch lands in the same partitioned
    parquet dataset (sinks.dataset.write_dataset) with exactly-once
    semantics per batch id from the checkpoint.

    Here: hourly per-type aggregates appended per micro-batch. The
    file source drains once; on a live stream the same code upserts
    continuously. Returns the written dataset.
    """
    from parquet_extractor_spark.sinks.dataset import write_dataset

    events = read_events_stream(spark, sf_dir)
    hourly = hourly_agg(events)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_dataset(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            out_dir,
            partition_by=["event_type"],
            mode="append",
        )

    drain(
        hourly.writeStream.foreachBatch(_sink).outputMode("complete"),
        checkpoint_dir,
        "to_dataset",
    )
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# Stream-stream interval join


def run_view_purchase_join_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    window: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's view events from the preceding `window`.

    Both sides are watermarked; the interval condition
    (view_ts ∈ [purchase_ts - window, purchase_ts]) lets Spark bound
    the join state — view rows older than the watermark plus the
    interval are evicted, so state size tracks the event rate, not
    stream lifetime. This is THE canonical two-stream pattern the
    batch as-of join (timeseries.asof_view_before_purchase)
    approximates after the fact.
    """
    events = read_events_stream(spark, sf_dir)
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = purchases.join(
        views,
        F.expr(
            f"""
            p_user_id = v_user_id AND
            view_ts <= purchase_ts AND
            view_ts >= purchase_ts - interval {window}
            """
        ),
    ).select(
        "purchase_event_id",
        F.col("p_user_id").alias("user_id"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        "view_event_id",
        F.unix_timestamp("view_ts").alias("view_epoch"),
    )
    name = "view_purchase_join_stream"
    drain(
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# Stream-static enrichment join


EVENT_CATEGORIES = {
    "view": "browse",
    "click": "browse",
    "signup": "conversion",
    "purchase": "conversion",
    "error": "ops",
}


def run_enriched_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Stream-static join: enrich the events stream with a static
    dimension (event_type → category), then aggregate per category.

    The static side needs no watermark and no state — Spark broadcasts
    it into every micro-batch (re-read each batch for file-backed
    dims, so slowly-changing dimensions refresh for free). This is the
    third join flavor next to the stateful stream-stream interval join
    and the batch joins.
    """
    events = read_events_stream(spark, sf_dir)
    dim = local_frame(
        spark,
        list(EVENT_CATEGORIES.items()), "event_type string, category string"
    )
    enriched = (
        events.join(F.broadcast(dim), "event_type")
        .withWatermark("ts", WATERMARK)
        .groupBy("category")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    name = "events_enriched_stream"
    drain(
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each
    (user_id, event_type, ts) within the watermark horizon — the
    streaming arm of the dedup tier (operators/dedup.py is the batch
    arm).

    ``dropDuplicatesWithinWatermark`` holds one state row per key and
    EVICTS it once the watermark passes — bounded state on an
    unbounded stream, which plain dropDuplicates (state grows forever)
    cannot give. At 100 TB/day this is the ingest-time guard that
    stops at-least-once upstream delivery from double-counting events
    before they ever reach the corpus.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def run_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain the events source once through the streaming dedup into a
    memory sink; append mode (dedup emits rows, not aggregates)."""
    stream = dedup_stream(read_events_stream(spark, sf_dir))
    name = "events_dedup_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


def daily_volume_agg(events: DataFrame) -> DataFrame:
    """Watermarked 1-day tumbling count per event type — the
    streaming half of the XmR control chart: the stream maintains
    only the per-(type, day) counts (constant state per open window);
    the limit arithmetic runs over the drained aggregate, where the
    whole day axis is ≤ days×types rows."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "event_type",
            F.unix_timestamp(F.col("win.start"))
            .cast("bigint")
            .alias("day_epoch"),
            "n",
        )
    )


def run_xmr_control_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of operators.timeseries.events_xmr_control:
    drain the daily-volume stream once (complete mode — file
    sources never drop the final windows), then run the SAME
    xmr_control_from_active computation over the drained counts. The
    stream carries only the windowed counts; densification and limits
    are post-drain batch arithmetic on the bounded day axis."""
    from parquet_extractor_spark.operators.timeseries import (
        xmr_control_from_active,
    )

    stream = daily_volume_agg(read_events_stream(spark, sf_dir))
    name = "events_xmr_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete"),
        checkpoint_dir,
        name,
    )
    # Truncated: the memory-sink view is one physical leaf, so the
    # helper's grid↔active self-join cannot be attribute-deduped by
    # the analyzer; checkpointing the (days × types)-bounded aggregate
    # gives it fresh attributes. It must be eager: the sink's table
    # name is fixed, so a later run replaces the view under a lazy
    # frame.
    drained = materialize(spark.table(name), truncate=True)
    return xmr_control_from_active(drained)
