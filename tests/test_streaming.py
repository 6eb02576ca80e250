import os

import pytest
from pyspark.sql import functions as F

from parquet_extractor_spark.operators.relational import events_hourly
from parquet_extractor_spark.streaming.events import (
    run_events_hourly_stream,
    run_sessionization_stream,
)


def test_streaming_hourly_equals_batch(spark, sf_small, tmp_path):
    """The streaming windowed agg must produce the batch answer once
    the source is drained — Structured Streaming's core contract."""
    stream_df = run_events_hourly_stream(
        spark, sf_small, str(tmp_path / "ckpt")
    )
    batch = {
        (r.hour_epoch, r.event_type): (r.n_events, r.total_value)
        for r in events_hourly(spark, sf_small).collect()
    }
    stream = {
        (r.hour_epoch, r.event_type): (r.n_events, r.total_value)
        for r in stream_df.collect()
    }
    assert stream == batch


def test_sessionization_stream(spark, sf_small, tmp_path):
    df = run_sessionization_stream(
        spark, sf_small, str(tmp_path / "ckpt2"), gap="30 minutes"
    )
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.session_end_epoch >= r.session_start_epoch
        assert r.n_events >= 1
    # session totals must conserve the event count
    total = sum(r.n_events for r in rows)
    n_events = spark.read.parquet(f"{sf_small}/events.parquet").count()
    assert total == n_events


def test_stateful_user_totals_stream_equals_batch(spark, sf_small, tmp_path):
    """applyInPandasWithState accumulator: after draining the source,
    the latest per-user state equals the batch groupBy."""
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.events import run_user_totals_stream

    stream_df = run_user_totals_stream(spark, sf_small, str(tmp_path / "ckpt3"))
    stream = {
        r.user_id: (r.n_events, r.total_value) for r in stream_df.collect()
    }
    batch = {
        r.user_id: (r.n_events, r.total_value)
        for r in load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert stream == batch


def test_stream_to_dataset_foreachbatch(spark, sf_small, tmp_path):
    """foreachBatch sink: the drained stream's dataset equals the
    batch hourly aggregation, partitioned by event_type on disk."""
    import glob

    from parquet_extractor_spark.streaming.events import run_stream_to_dataset

    out = str(tmp_path / "stream_ds")
    written = run_stream_to_dataset(
        spark, sf_small, str(tmp_path / "ckpt4"), out
    )
    batch = {
        (r.hour_epoch, r.event_type): (r.n_events, r.total_value)
        for r in events_hourly(spark, sf_small).collect()
    }
    got = {
        (r.hour_epoch, r.event_type): (r.n_events, r.total_value)
        for r in written.collect()
    }
    assert got == batch
    assert glob.glob(f"{out}/event_type=*")


def test_stream_stream_interval_join_equals_batch(spark, sf_small, tmp_path):
    """The drained stream-stream join must equal the equivalent batch
    interval join (purchases x prior-30min views per user)."""
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.events import (
        run_view_purchase_join_stream,
    )

    got = {
        (r.purchase_event_id, r.view_event_id)
        for r in run_view_purchase_join_stream(
            spark, sf_small, str(tmp_path / "ckpt5")
        ).collect()
    }

    ev = load_table(spark, sf_small, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_event_id"),
    )
    want = {
        (r.purchase_event_id, r.view_event_id)
        for r in purchases.join(
            views,
            F.expr(
                "p_user_id = v_user_id AND view_ts <= purchase_ts "
                "AND view_ts >= purchase_ts - interval 30 minutes"
            ),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_static_enrichment_equals_batch(spark, sf_small, tmp_path):
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.events import (
        EVENT_CATEGORIES,
        run_enriched_stream,
    )

    got = {
        r.category: (r.n_events, r.total_value)
        for r in run_enriched_stream(
            spark, sf_small, str(tmp_path / "ckpt6")
        ).collect()
    }
    ev = load_table(spark, sf_small, "events")
    dim = spark.createDataFrame(
        list(EVENT_CATEGORIES.items()), "event_type string, category string"
    )
    want = {
        r.category: (r.n_events, r.total_value)
        for r in ev.join(dim, "event_type")
        .groupBy("category")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert got == want

def test_streaming_dedup_equals_batch(spark, sf_small, tmp_path):
    """dropDuplicatesWithinWatermark over a doubled source must
    reproduce the batch dropDuplicates result exactly (the file source
    replays everything inside one trigger, so nothing is beyond the
    watermark)."""
    import shutil

    from pyspark.sql import functions as F

    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.events import run_dedup_stream

    # doubled copy of events re-laid-out with ts as nanos long (the
    # round-1 fixture layout, exercising the stream's probe branch).
    # load_table may yield TIMESTAMP or TIMESTAMP_NTZ depending on the
    # fixture; cast to session-tz (UTC) timestamp before unix_micros.
    ev = load_table(spark, sf_small, "events")
    doubled = ev.union(ev).withColumn(
        "ts",
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("long"),
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    src = tmp_path / "doubled"
    src.mkdir()
    tmp_out = tmp_path / "onefile"
    doubled.coalesce(1).write.parquet(str(tmp_out))
    part = next(p for p in tmp_out.iterdir() if p.name.endswith(".parquet"))
    shutil.copy(part, src / "events.parquet")

    got = run_dedup_stream(spark, str(src), str(tmp_path / "ckpt")).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    want = (
        load_table(spark, str(src), "events")
        .dropDuplicates(["user_id", "event_type", "ts"])
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    n_raw, n_got, n_want = doubled.count(), got.count(), want.count()
    assert n_got == n_want == n_raw // 2
    # row-set compare in Python: exceptAll over a dropDuplicates plan
    # trips a Spark 4 optimizer bug (RewriteExceptAll loses the
    # First-agg attrs), and 1000 rows don't need a distributed diff.
    # dropDuplicates keeps an arbitrary twin (event_id differs between
    # duplicate pairs), so compare on the dedup keys + value.
    key = lambda r: (r.user_id, r.event_type, r.ts, r.value)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_streaming_curation_equals_batch(spark, sf_small, tmp_path):
    """The streamed curation (quality gate + exact content dedup into
    a lang-partitioned dataset) must keep exactly the documents the
    batch expression keeps: same kept-hash set, one row per distinct
    content hash."""
    from pyspark.sql import functions as F

    from parquet_extractor_spark.operators.quality import quality_columns
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.documents import (
        MIN_QUALITY,
        run_curate_stream,
    )

    got = run_curate_stream(
        spark, sf_small, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    batch_kept = (
        load_table(spark, sf_small, "documents")
        .withColumn(
            "quality_score", F.round(quality_columns()["quality_score"], 2)
        )
        .filter(F.col("quality_score") >= MIN_QUALITY)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    want_hashes = {r.content_hash for r in batch_kept.collect()}
    got_rows = got.collect()
    assert {r.content_hash for r in got_rows} == want_hashes
    assert len(got_rows) == len(want_hashes)  # exactly one per hash
    # partitioned layout actually materialized
    langs = {r.lang for r in got_rows}
    assert len(langs) > 1


def test_streaming_media_features_equal_batch(spark, tmp_path):
    """Streamed feature extraction over a media landing dir must
    produce exactly the batch features (same decode functions, two
    execution modes) — including real PNG/JPEG/WAV rows."""
    from parquet_extractor_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )
    from parquet_extractor_spark.streaming.media import (
        run_media_features_stream,
    )

    media = synthetic_media(spark, n=24)
    landing = str(tmp_path / "media_landing")
    media.coalesce(2).write.mode("overwrite").parquet(landing)

    got = run_media_features_stream(
        spark, landing, str(tmp_path / "ckpt"), str(tmp_path / "feats")
    )
    want = extract_features(media)

    def key(rows):
        return {
            (r.media_id, r.kind, r.n_bytes, tuple(r.feature)) for r in rows
        }

    assert key(got.collect()) == key(want.collect())
    assert got.count() == 24


def test_near_dup_stream_equals_batch_lsh(spark, sf_small, tmp_path):
    """Streaming LSH near-dup (stream probes a static index of the
    same corpus) must reproduce the batch banded-LSH candidate set
    exactly — same signatures, same buckets, different execution
    mode."""
    from parquet_extractor_spark.operators.dedup import minhash_lsh_candidates
    from parquet_extractor_spark.streaming.documents import run_near_dup_stream

    got = {
        (r.doc_a, r.doc_b)
        for r in run_near_dup_stream(
            spark,
            sf_small,
            str(tmp_path / "ckpt_nd"),
            str(tmp_path / "nd_out"),
        ).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(spark, sf_small).collect()
    }
    assert got == want and got


def test_curate_stream_classifier_gate_equals_batch_flags(spark, sf_small, tmp_path):
    """classifier=True on the stream must keep exactly the docs whose
    batch keep flag is True among the heuristic-gate survivors — the
    stateless logit expression gives one formula, two execution
    modes."""
    from parquet_extractor_spark.operators.quality import (
        quality_classifier_scores,
    )
    from parquet_extractor_spark.streaming.documents import run_curate_stream

    plain = run_curate_stream(
        spark,
        sf_small,
        str(tmp_path / "ckpt_cp"),
        str(tmp_path / "out_cp"),
    )
    gated = run_curate_stream(
        spark,
        sf_small,
        str(tmp_path / "ckpt_cg"),
        str(tmp_path / "out_cg"),
        classifier=True,
    )
    plain_ids = {r.doc_id for r in plain.collect()}
    gated_ids = {r.doc_id for r in gated.collect()}
    keep = {
        r.doc_id
        for r in quality_classifier_scores(spark, sf_small).collect()
        if r.keep
    }
    assert gated_ids == plain_ids & keep
    assert gated_ids < plain_ids  # the gate drops something real


def test_watermark_drops_late_event_and_emits_windows_once(spark, tmp_path):
    """The semantic the watermark exists for, pinned end-to-end: a
    finalized window is emitted exactly once (append mode), and an
    event arriving behind the watermark in a LATER run neither
    re-emits nor alters the already-final window. Two availableNow
    drains share one checkpoint, so the watermark persists across the
    restart like a real 24/7 pipeline."""
    import datetime as dt

    from pyspark.sql import functions as F

    from parquet_extractor_spark.streaming.events import hourly_agg

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string, user_id long, value double"
    base = dt.datetime(2024, 1, 1)

    def rows(hours):
        return [
            (base + dt.timedelta(hours=h, minutes=30), "click", h, 1.0)
            for h in hours
        ]

    def drain():
        stream = hourly_agg(spark.readStream.schema(schema).parquet(in_dir))
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # run 1: one event in each hour 0..9 -> watermark reaches 7:30,
    # windows for the early hours finalize and emit
    spark.createDataFrame(rows(range(10)), schema).write.mode(
        "append"
    ).parquet(in_dir)
    drain()
    first = spark.read.parquet(out_dir).collect()
    # derive the hour-3 window start through Spark's own epoch
    # conversion + hour alignment, so the assertion holds in any
    # session timezone (incl. half-hour offsets)
    epoch330 = (
        spark.range(1)
        .select(
            F.unix_timestamp(
                F.lit(base + dt.timedelta(hours=3, minutes=30))
            ).alias("e")
        )
        .first()
        .e
    )
    hour3_epoch = epoch330 // 3600 * 3600
    assert [r.n_events for r in first if r.hour_epoch == hour3_epoch] == [1]

    # run 2: a LATE duplicate into hour 3 (far behind the watermark)
    # plus fresh events advancing the clock
    spark.createDataFrame(
        rows([3, 12, 13]), schema
    ).write.mode("append").parquet(in_dir)
    drain()
    final = spark.read.parquet(out_dir).collect()
    hour3 = [r for r in final if r.hour_epoch == hour3_epoch]
    # exactly one emission, and the late event did not inflate it
    assert len(hour3) == 1 and hour3[0].n_events == 1
    # the fresh events DID extend the emitted window set
    emitted = {r.hour_epoch for r in final}
    assert len(emitted) > len({r.hour_epoch for r in first})


def test_bloom_decontamination_stream_equals_batch(spark, sf_small, tmp_path):
    """Stateless stream probe ≡ the batch operator row-for-row."""
    from parquet_extractor_spark.operators.contamination import (
        bloom_decontamination,
        build_bloom_bitset,
    )
    from parquet_extractor_spark.streaming.documents import (
        bloom_decontamination_stream,
        read_documents_stream,
    )

    words = build_bloom_bitset(spark, sf_small)
    stream = bloom_decontamination_stream(
        read_documents_stream(spark, sf_small), words
    )
    out = str(tmp_path / "bloom_out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_grams, r.n_bloom_hits, r.flagged)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.n_grams, r.n_bloom_hits, r.flagged)
        for r in bloom_decontamination(spark, sf_small).collect()
    }
    assert got == want


def test_countmin_sketch_stream_equals_batch(spark, sf_small, tmp_path):
    """The drained streaming sketch == the batch sketch cell-for-cell;
    state is bounded by D x W groups by construction, so the
    unwatermarked aggregation is legitimate."""
    from parquet_extractor_spark.functions.text import tokenize
    from parquet_extractor_spark.operators.corpus_index import (
        CM_DEPTH,
        CM_WIDTH,
        MIN_TERM_LEN,
        _cm_pos,
    )
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.documents import (
        countmin_sketch_stream,
        read_documents_stream,
    )
    from pyspark.sql import functions as F

    sketch_stream = countmin_sketch_stream(
        read_documents_stream(spark, sf_small)
    )
    captured = {}

    def _sink(batch, epoch):
        captured["rows"] = {
            (r.d, r.pos): r.cnt for r in batch.collect()
        }

    q = (
        sketch_stream.writeStream.outputMode("complete")
        .foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = captured["rows"]
    assert 0 < len(got) <= CM_DEPTH * CM_WIDTH
    toks = (
        load_table(spark, sf_small, "documents")
        .select(F.explode(tokenize("text")).alias("tok"))
        .filter(F.length("tok") >= MIN_TERM_LEN)
    )
    want = {
        (r.d, r.pos): r.cnt
        for r in toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            _cm_pos(F.col("tok"), d).alias("pos"),
                        )
                        for d in range(CM_DEPTH)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.d", "c.pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_streaming_video_metadata_equal_batch(spark, tmp_path):
    """Streamed MP4/WebM container-metadata extraction over a landing
    dir must equal the batch mapInPandas result row-for-row (one
    parser definition, two execution modes)."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from parquet_extractor_spark.operators.multimodal import (
        synthetic_video_rows,
        video_stream_metadata,
    )
    from parquet_extractor_spark.streaming.media import (
        run_video_metadata_stream,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    media = spark.createDataFrame(synthetic_video_rows(), schema)
    landing = str(tmp_path / "video_landing")
    media.coalesce(2).write.mode("overwrite").parquet(landing)

    got = run_video_metadata_stream(
        spark,
        landing,
        str(tmp_path / "ckpt"),
        str(tmp_path / "video_meta_out"),
    )
    want = video_stream_metadata(media)
    cols = [c for c in want.columns]
    g = sorted(tuple(r) for r in got.select(cols).collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) == 36


def test_streaming_image_metadata_equal_batch(spark, tmp_path):
    """Streamed header-only image metadata over a landing dir must
    equal the batch mapInPandas result row-for-row (one parser
    definition, two execution modes) — including the NULL rows for
    corrupt payloads."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from parquet_extractor_spark.operators.multimodal import (
        image_header_metadata,
        synthetic_image_rows,
    )
    from parquet_extractor_spark.streaming.media import (
        run_image_metadata_stream,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    media = spark.createDataFrame(synthetic_image_rows(), schema)
    landing = str(tmp_path / "image_landing")
    media.coalesce(2).write.mode("overwrite").parquet(landing)

    got = run_image_metadata_stream(
        spark,
        landing,
        str(tmp_path / "ckpt"),
        str(tmp_path / "image_meta_out"),
    )
    want = image_header_metadata(media)
    cols = [c for c in want.columns]
    g = sorted(
        tuple(r) for r in got.select(cols).collect()
    )
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) == 44
    assert any(r[1] is None for r in g)  # corrupt rows preserved


def test_gif_frames_stream_equals_batch(spark, tmp_path):
    """run_gif_frames_stream ≡ batch sample_gif_frames over the
    animated-GIF fixture: every sampled frame (timeline position,
    dims, PNG bytes) identical between the two execution modes."""
    from parquet_extractor_spark.operators.multimodal import (
        sample_gif_frames,
        synthetic_animated_gifs,
    )
    from parquet_extractor_spark.streaming.media import (
        run_gif_frames_stream,
    )

    media = synthetic_animated_gifs(spark)
    landing = str(tmp_path / "gif_landing")
    media.coalesce(2).write.mode("overwrite").parquet(landing)

    got = run_gif_frames_stream(
        spark,
        landing,
        str(tmp_path / "ckpt"),
        str(tmp_path / "gif_frames_out"),
        every_ms=60,
    )
    want = sample_gif_frames(media, every_ms=60)
    cols = want.columns
    g = sorted(
        (r.media_id, r.frame_ts_ms, r.width, r.height, bytes(r.frame))
        for r in got.select(cols).collect()
    )
    w = sorted(
        (r.media_id, r.frame_ts_ms, r.width, r.height, bytes(r.frame))
        for r in want.collect()
    )
    assert g == w and len(g) == 80


def test_surprisal_stream_equals_batch(spark, sf_small, tmp_path):
    """Stateless LM-scoring stream ≡ batch lm_bigram_surprisal
    row-for-row: the frozen count tables enter as literals, so the
    stream needs no joins, no state store, no watermark."""
    from parquet_extractor_spark.operators.selection import (
        lm_bigram_surprisal,
        lm_count_arrays,
    )
    from parquet_extractor_spark.streaming.documents import (
        read_documents_stream,
        surprisal_stream,
    )

    cb, cp = lm_count_arrays(spark, sf_small)
    stream = surprisal_stream(read_documents_stream(spark, sf_small), cb, cp)
    out = str(tmp_path / "surprisal_out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_surprisal"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r.doc_id: (r.lang, r.n_bigrams, r.avg_surprisal_micro)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.lang, r.n_bigrams, r.avg_surprisal_micro)
        for r in lm_bigram_surprisal(spark, sf_small).collect()
    }
    assert got == want


def test_streaming_phash_equals_batch(spark, tmp_path):
    """Streamed perceptual hashing over an image landing dir must
    reproduce the batch pHashes exactly — same decode + DCT +
    threshold functions, two execution modes."""
    from parquet_extractor_spark.operators.multimodal import (
        image_phashes,
        synthetic_neardup_images,
    )
    from parquet_extractor_spark.streaming.media import run_phash_stream

    media = synthetic_neardup_images(spark)
    landing = str(tmp_path / "img_landing")
    media.coalesce(2).write.mode("overwrite").parquet(landing)

    got = run_phash_stream(
        spark, landing, str(tmp_path / "ckpt_ph"), str(tmp_path / "ph_out")
    )
    want = image_phashes(media)

    def key(rows):
        return {(r.media_id, r.variant, r.phash, tuple(r.bands)) for r in rows}

    assert key(got.collect()) == key(want.collect())
    assert got.count() == 32


def test_streaming_audio_fingerprints_equal_batch(spark, tmp_path):
    from parquet_extractor_spark.operators.multimodal import (
        audio_fingerprints,
        synthetic_audio_neardup,
    )
    from parquet_extractor_spark.streaming.media import (
        run_audio_fingerprint_stream,
    )

    media = synthetic_audio_neardup(spark)
    landing = str(tmp_path / "wav_landing")
    media.coalesce(2).write.mode("overwrite").parquet(landing)

    got = run_audio_fingerprint_stream(
        spark, landing, str(tmp_path / "ckpt_afp"), str(tmp_path / "afp_out")
    )
    want = audio_fingerprints(media)

    def key(rows):
        return {(r.media_id, r.variant, r.phash, tuple(r.bands)) for r in rows}

    assert key(got.collect()) == key(want.collect())
    assert got.count() == 40


def test_pack_nosplit_stream_single_batch_equals_batch(
    spark, sf_small, tmp_path
):
    """One-batch drain of the stateful packer reproduces the batch
    no-split packer exactly (same fold, doc_id order within batch)."""
    from parquet_extractor_spark.operators.training import (
        pack_sequences_nosplit,
    )
    from parquet_extractor_spark.streaming.documents import (
        run_pack_nosplit_stream,
    )

    stream = run_pack_nosplit_stream(
        spark, sf_small, str(tmp_path / "ckpt_pack1")
    )
    got = {
        r.doc_id: (r.source, r.n_tokens_packed, r.bin_id, r.truncated)
        for r in stream.collect()
    }
    want = {
        r.doc_id: (r.source, r.n_tokens_packed, r.bin_id, r.truncated)
        for r in pack_sequences_nosplit(spark, sf_small).collect()
    }
    assert got == want


def test_pack_nosplit_stream_state_carries_across_batches(
    spark, sf_small, tmp_path
):
    """The cross-batch contract: with one file per micro-batch (file
    mtimes pinning arrival order to doc_id order), a bin left
    half-full by batch N keeps filling in batch N+1, and the drained
    stream still equals the batch packer row-for-row."""
    import os as _os

    import pyarrow.parquet as _pq

    from parquet_extractor_spark.operators.training import (
        pack_sequences_nosplit,
    )
    from parquet_extractor_spark.streaming.documents import (
        run_pack_nosplit_stream,
    )

    tbl = _pq.read_table(_os.path.join(sf_small, "documents.parquet"))
    tbl = tbl.sort_by("doc_id")
    src = tmp_path / "docs_split"
    src.mkdir()
    n = tbl.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for k in range(3):
        part = tbl.slice(cuts[k], cuts[k + 1] - cuts[k])
        path = src / f"documents-{k}.parquet"
        _pq.write_table(part, path)
        t = 1_700_000_000 + 100 * k  # strictly increasing mtimes
        _os.utime(path, (t, t))
    stream = run_pack_nosplit_stream(
        spark,
        str(src),
        str(tmp_path / "ckpt_pack3"),
        glob="documents-*.parquet",
        max_files_per_trigger=1,
    )
    got = {
        r.doc_id: (r.source, r.n_tokens_packed, r.bin_id, r.truncated)
        for r in stream.collect()
    }
    want = {
        r.doc_id: (r.source, r.n_tokens_packed, r.bin_id, r.truncated)
        for r in pack_sequences_nosplit(spark, sf_small).collect()
    }
    assert got == want
    # the carryover was actually exercised: some source's bins span
    # more than one micro-batch file, so an unseeded per-batch packer
    # (state reset to bin 1 each batch) could not produce these ids
    assert max(b for (_s, _n, b, _t) in got.values()) > 1


def test_kmv_sketch_stream_equals_batch_bottom_k(spark, sf_small, tmp_path):
    """The KMV merge is closed under truncation: drained one file per
    micro-batch, the final per-source sketch equals the batch
    bottom-K exactly — O(K) state reproduces the full-corpus
    signature in any arrival order."""
    import os as _os

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from parquet_extractor_spark.functions.text import (
        portable_hash64,
        tokenize,
        word_ngrams,
    )
    from parquet_extractor_spark.operators.selection import KMV_K
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.documents import (
        run_kmv_sketch_stream,
    )

    tbl = _pq.read_table(_os.path.join(sf_small, "documents.parquet"))
    src = tmp_path / "docs_kmv"
    src.mkdir()
    n = tbl.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for k in range(3):
        path = src / f"documents-{k}.parquet"
        _pq.write_table(tbl.slice(cuts[k], cuts[k + 1] - cuts[k]), path)
        t = 1_700_000_000 + 100 * k
        _os.utime(path, (t, t))
    out = run_kmv_sketch_stream(
        spark,
        str(src),
        str(tmp_path / "ckpt_kmv"),
        glob="documents-*.parquet",
        max_files_per_trigger=1,
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_batches"))
    final = {
        r.source: (list(r.sketch), r.est_distinct, r.n_batches)
        for r in out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    # batch bottom-K over the same corpus
    docs = load_table(spark, sf_small, "documents")
    hashed = (
        docs.select(
            "source",
            F.explode(word_ngrams(tokenize("text"), 2)).alias("tok"),
        )
        .select("source", portable_hash64(F.col("tok")).alias("h"))
        .distinct()
    )
    wk = Window.partitionBy("source").orderBy(F.asc("h"))
    batch = {}
    for r in (
        hashed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
        .collect()
    ):
        batch[r.source] = list(r.sk)
    assert set(final) == set(batch)
    for s, (sk, est, nb) in final.items():
        assert sk == batch[s]
        assert nb > 1  # state really crossed micro-batches
        if len(sk) >= KMV_K:
            assert est == ((KMV_K - 1) * (1 << 60)) // sk[KMV_K - 1]


def test_pdf_ingest_stream_equals_batch(spark, sf_small, tmp_path):
    """Streaming PDF ingestion over a landing directory must produce
    the same extracted rows as the batch source — same extractor body
    (extract_docs_frame), two execution modes — including the
    PERMISSIVE error row for a corrupt file."""
    import os

    from pyspark.sql import functions as F

    from parquet_extractor_spark.sinks.pdf import write_pdfs
    from parquet_extractor_spark.sources.pdf import read_pdf_docs
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.streaming.pdf import run_pdf_ingest_stream

    landing = str(tmp_path / "pdf_landing")
    docs = (
        load_table(spark, sf_small, "documents")
        .where(F.col("doc_id") < 6)
        .select(
            F.concat(F.lit("t"), F.col("doc_id")).alias("title"),
            F.col("doc_id"),
            F.col("text").alias("content"),
            F.concat(F.lit("d"), F.col("doc_id"), F.lit(".pdf")).alias(
                "filename"
            ),
        )
    )
    assert write_pdfs(docs, landing)["written"] == 6
    with open(os.path.join(landing, "broken.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\nnot a real pdf")

    got = run_pdf_ingest_stream(
        spark, landing, str(tmp_path / "ckpt_pdf"), str(tmp_path / "pdf_out")
    )
    want = read_pdf_docs(spark, landing)

    def key(rows):
        return {
            (r.file_name, r.n_pages, r.text, r.error is None) for r in rows
        }

    assert key(got.collect()) == key(want.collect())
    assert got.count() == 7
    assert got.where("error is not null").count() == 1


def test_version_diff_stream_equals_batch(spark, sf_small, tmp_path):
    """The streaming changelog (stream-static left join of arriving
    v2 docs against v1 digests) must agree with the batch full-outer
    corpus_version_diff on every class a stream can see — added /
    modified / unchanged per source; 'removed' appears only in the
    batch report (an insert stream cannot observe absence)."""
    from parquet_extractor_spark.operators.versioning import (
        corpus_version_diff,
    )
    from parquet_extractor_spark.streaming.versioning import (
        run_version_diff_stream,
    )

    changelog = run_version_diff_stream(
        spark, sf_small, str(tmp_path / "ckpt_vd"), str(tmp_path / "vd_out")
    )
    got = {
        (r.source, r.change_type): r.n
        for r in changelog.groupBy("source", "change_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    want = {
        (r.source, r.change_type): r.n_docs
        for r in corpus_version_diff(spark, sf_small).collect()
        if r.change_type != "removed"
    }
    assert got == want
    # the stream saw at least one of each observable class
    seen = {ct for (_s, ct) in got}
    assert seen == {"added", "modified", "unchanged"}


def test_contamination_gate_stream_equals_batch(spark, sf_small, tmp_path):
    """The foreachBatch delta-screen twin: rolling up the streamed
    doc-level screen rows reproduces snapshot_contamination_gate's
    report exactly (the per-doc screen is stateless, so micro-batch
    boundaries cannot change any row)."""
    from parquet_extractor_spark.operators.contamination import (
        contamination_rollup,
        snapshot_contamination_gate,
    )
    from parquet_extractor_spark.streaming.versioning import (
        run_contamination_gate_stream,
    )

    doc_rows = run_contamination_gate_stream(
        spark,
        sf_small,
        str(tmp_path / "ckpt_cg"),
        str(tmp_path / "cg_out"),
    )
    got = [
        tuple(r)
        for r in contamination_rollup(
            doc_rows.select(
                "doc_id", "source", "change_type", "n_grams", "n_shared"
            )
        ).collect()
    ]
    want = [tuple(r) for r in snapshot_contamination_gate(spark, sf_small).collect()]
    assert got == want
    assert len(want) > 0
    # the screen saw both observable delta classes
    assert {ct for (_s, ct, *_rest) in want} == {"added", "modified"}


def test_novelty_stream_matches_cumulative_batch(spark, sf_small, tmp_path):
    """Per-cycle novel-gram counts from the stream must equal a batch
    recompute with cumulative anti-joins over the same file order, the
    state table must end at exactly the corpus' distinct gram set, and
    a full replay (fresh checkpoint, same state) must be a no-op."""
    import os
    import time

    import duckdb

    from parquet_extractor_spark.sinks.versioned import read_snapshot
    from parquet_extractor_spark.streaming.documents import (
        novelty_gram_hashes,
        run_novelty_stream,
    )

    src = tmp_path / "novelty_src"
    src.mkdir()
    # three tertile files, strictly increasing mtimes => 3 ordered
    # micro-batches under maxFilesPerTrigger=1
    con = duckdb.connect()
    now = time.time()
    for i, (lo, hi) in enumerate([(0, 167), (167, 334), (334, 10_000)]):
        path = src / f"cycle{i}.parquet"
        con.execute(
            f"COPY (SELECT * FROM '{sf_small}/documents.parquet' "
            f"WHERE doc_id >= {lo} AND doc_id < {hi} ORDER BY doc_id) "
            f"TO '{path}' (FORMAT PARQUET)"
        )
        os.utime(path, (now - 300 + i * 60, now - 300 + i * 60))

    got = run_novelty_stream(
        spark,
        str(src),
        str(tmp_path / "ckpt_nov"),
        str(tmp_path / "nov_state"),
        str(tmp_path / "nov_out"),
    ).collect()
    by_epoch = {r.epoch: r for r in got}
    assert sorted(by_epoch) == [0, 1, 2]

    # batch recompute: cumulative set difference per cycle
    seen: set[int] = set()
    expect = []
    for i in range(3):
        cycle = spark.read.parquet(str(src / f"cycle{i}.parquet"))
        hashes = {
            r.gram_hash for r in novelty_gram_hashes(cycle).collect()
        }
        expect.append((len(hashes), len(hashes - seen)))
        seen |= hashes
    for i, (n_grams, n_novel) in enumerate(expect):
        assert by_epoch[i].batch_grams == n_grams
        assert by_epoch[i].novel_grams == n_novel
    assert sum(r.novel_grams for r in got) == len(seen)
    assert by_epoch[0].novel_grams == by_epoch[0].batch_grams

    # final state table == corpus distinct gram set
    state = {
        r.gram_hash
        for r in read_snapshot(spark, str(tmp_path / "nov_state")).collect()
    }
    assert state == seen

    # replay with a fresh checkpoint: tags short-circuit, nothing moves
    replay = run_novelty_stream(
        spark,
        str(src),
        str(tmp_path / "ckpt_nov2"),
        str(tmp_path / "nov_state"),
        str(tmp_path / "nov_out"),
    ).collect()
    assert {(r.epoch, r.novel_grams) for r in replay} == {
        (r.epoch, r.novel_grams) for r in got
    }
    state2 = {
        r.gram_hash
        for r in read_snapshot(spark, str(tmp_path / "nov_state")).collect()
    }
    assert state2 == seen


def _write_entity_batches(tmp_path, splits):
    """Write ENTITY_ROWS into ordered parquet files per the given
    rec_id partition, mtimes strictly increasing."""
    import os
    import time

    import duckdb

    from parquet_extractor_spark.operators.entities import ENTITY_ROWS

    src = tmp_path
    src.mkdir(exist_ok=True)
    con = duckdb.connect()
    now = time.time()
    for i, ids in enumerate(splits):
        rows = [r for r in ENTITY_ROWS if r[0] in ids]
        vals = ", ".join(
            "(%d, '%s', '%s')" % (a, b.replace("'", "''"), c)
            for a, b, c in rows
        )
        path = src / f"arrivals{i}.parquet"
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) "
            f"t(rec_id, name, city)) TO '{path}' (FORMAT PARQUET)"
        )
        os.utime(path, (now - 600 + i * 60, now - 600 + i * 60))
    return str(src)


def test_entity_resolution_stream_equals_batch(spark, sf_small, tmp_path):
    """Arrival order must not change the resolved entities: for two
    different partitions of the fixture into ordered micro-batches —
    including one that delivers cluster members across THREE separate
    epochs and one that forces a cluster MERGE through a late-arriving
    bridge record — the final state's clustering and golden records
    equal the one-shot batch entity_resolution."""
    from parquet_extractor_spark.operators.entities import (
        entity_resolution,
        golden_report,
    )
    from parquet_extractor_spark.streaming.entities import (
        run_entity_resolution_stream,
    )

    want = sorted(
        (r.rec_id, r.cluster, r.canonical_id, r.canonical_name,
         r.cluster_size)
        for r in entity_resolution(spark, sf_small).collect()
    )

    partitions = [
        # interleaved: each planted cluster split across epochs; 16 is
        # the bridge that merges 14 with 15 only after both exist
        [{1, 4, 8, 14, 7, 12}, {2, 5, 9, 15, 10, 13, 17},
         {3, 6, 16, 11, 18, 19, 20}],
        # bulk-then-trickle: most records in one batch, stragglers after
        [{1, 2, 3, 4, 5, 6, 8, 9, 10, 11, 12, 13, 17, 18, 19, 20},
         {15, 16}, {14, 7}],
    ]
    for pi, splits in enumerate(partitions):
        src = _write_entity_batches(tmp_path / f"er_src{pi}", splits)
        state = run_entity_resolution_stream(
            spark,
            src,
            str(tmp_path / f"er_ckpt{pi}"),
            str(tmp_path / f"er_state{pi}"),
        )
        got = sorted(
            (r.rec_id, r.cluster, r.canonical_id, r.canonical_name,
             r.cluster_size)
            for r in golden_report(
                state.select("rec_id", "name", "cluster")
            ).collect()
        )
        assert got == want, f"partition {pi} diverged from batch ER"


def test_entity_resolution_stream_replay_noop(spark, sf_small, tmp_path):
    """A full replay (fresh checkpoint, same state table) must leave
    the state byte-identical: epoch tags short-circuit before any
    matching runs."""
    from parquet_extractor_spark.sinks.versioned import snapshots
    from parquet_extractor_spark.streaming.entities import (
        run_entity_resolution_stream,
    )

    src = _write_entity_batches(
        tmp_path / "er_src_rp",
        [{1, 2, 4, 5, 14, 15}, {3, 6, 16, 7, 8, 9, 10, 11, 12, 13,
                                17, 18, 19, 20}],
    )
    state_dir = str(tmp_path / "er_state_rp")
    first = run_entity_resolution_stream(
        spark, src, str(tmp_path / "er_ckpt_rp1"), state_dir
    )
    rows1 = sorted((r.rec_id, r.cluster) for r in first.collect())
    n_snaps = len(snapshots(state_dir))
    replay = run_entity_resolution_stream(
        spark, src, str(tmp_path / "er_ckpt_rp2"), state_dir
    )
    rows2 = sorted((r.rec_id, r.cluster) for r in replay.collect())
    assert rows1 == rows2
    assert len(snapshots(state_dir)) == n_snaps


def test_xmr_control_stream_equals_batch(spark, sf_small, tmp_path):
    """The streaming XmR twin (watermarked daily counts drained into
    the shared xmr_control_from_active computation) must reproduce
    the batch chart row for row — counts, limits, and flags."""
    from parquet_extractor_spark.operators.timeseries import (
        events_xmr_control,
    )
    from parquet_extractor_spark.streaming.events import (
        run_xmr_control_stream,
    )

    got = run_xmr_control_stream(spark, sf_small, str(tmp_path / "ckpt_x"))

    def key(rows):
        return sorted(
            (
                r.event_type,
                r.day_epoch,
                r.n,
                r.center_micro,
                r.ucl_micro,
                r.lcl_micro,
                r.out_of_control,
            )
            for r in rows
        )

    want = events_xmr_control(spark, sf_small)
    assert key(got.collect()) == key(want.collect())


def test_release_manifest_stream_equals_batch(spark, sf_small, tmp_path):
    """The streamed release ledger (stateless gates map-side,
    corpus-state gates as stream-static tier joins) must aggregate to
    EXACTLY the batch release_manifest — same cells, same counts,
    same token shares."""
    from parquet_extractor_spark import pipelines
    from parquet_extractor_spark.streaming.documents import (
        run_release_manifest_stream,
    )

    stream_df = run_release_manifest_stream(
        spark,
        sf_small,
        str(tmp_path / "ckpt_manifest"),
        str(tmp_path / "manifest_out"),
    )
    stream = {
        (r.split, r.source): (
            r.n_docs, r.n_tokens, r.split_token_share_micro
        )
        for r in stream_df.collect()
    }
    batch = {
        (r.split, r.source): (
            r.n_docs, r.n_tokens, r.split_token_share_micro
        )
        for r in pipelines.release_manifest(spark, sf_small).collect()
    }
    assert stream == batch
    assert stream  # non-vacuous: some documents survive all gates


def test_release_manifest_stream_rerun_is_idempotent(
    spark, sf_small, tmp_path
):
    """Re-draining into the SAME output dir with a fresh checkpoint
    (the at-least-once replay case) must produce the identical
    manifest: _clear_epoch_dirs drops the previous run's epochs so
    restarted epoch numbering cannot union stale ledger rows in."""
    from parquet_extractor_spark.streaming.documents import (
        run_release_manifest_stream,
    )

    out = str(tmp_path / "manifest_rp")
    first = run_release_manifest_stream(
        spark, sf_small, str(tmp_path / "ck_rp1"), out
    )
    rows1 = sorted(tuple(r) for r in first.collect())
    rerun = run_release_manifest_stream(
        spark, sf_small, str(tmp_path / "ck_rp2"), out
    )
    rows2 = sorted(tuple(r) for r in rerun.collect())
    assert rows1 == rows2


def _write_customer_batches(src_dir, spark, sf_dir, key_splits):
    """Split the fixture customer table into ordered parquet arrival
    files (one per split, mtimes staggered so the file source drains
    them in order)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_extractor_spark.sources.tables import load_table

    os.makedirs(src_dir, exist_ok=True)
    rows = (
        load_table(spark, str(sf_dir), "customer")
        .select(
            "c_custkey", "c_name", "c_nationkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
        .collect()
    )
    now = _time.time()
    for i, pred in enumerate(key_splits):
        part = [r for r in rows if pred(int(r.c_custkey))]
        assert part, f"empty customer split {i}"
        tbl = pa.table(
            {
                "c_custkey": pa.array(
                    [int(r.c_custkey) for r in part], pa.int64()
                ),
                "c_name": pa.array([r.c_name for r in part]),
                "c_nationkey": pa.array(
                    [int(r.c_nationkey) for r in part], pa.int64()
                ),
                "c_acctbal": pa.array(
                    [float(r.c_acctbal) for r in part], pa.float64()
                ),
            }
        )
        path = os.path.join(str(src_dir), f"arrivals{i}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (now - 600 + i * 60, now - 600 + i * 60))
    return str(src_dir)


def test_customer_er_stream_equals_batch(spark, sf_small, tmp_path):
    """The incremental customer-ER twin must resolve the SAME golden
    records as the one-shot blocked batch query, for two different
    arrival orders — interleaved (block members split across three
    epochs, late bridges merging established clusters) and
    bulk-then-trickle."""
    from parquet_extractor_spark.operators.entities import (
        customer_entity_resolution,
    )
    from parquet_extractor_spark.streaming.entities import (
        customer_golden_records,
        run_customer_er_stream,
    )

    want = [
        tuple(r)
        for r in customer_entity_resolution(spark, sf_small).collect()
    ]
    partitions = [
        [lambda k: k % 3 == 1, lambda k: k % 3 == 2, lambda k: k % 3 == 0],
        [lambda k: k > 20, lambda k: 10 < k <= 20, lambda k: k <= 10],
    ]
    for pi, splits in enumerate(partitions):
        src = _write_customer_batches(
            tmp_path / f"cer_src{pi}", spark, sf_small, splits
        )
        state = run_customer_er_stream(
            spark,
            src,
            str(tmp_path / f"cer_ckpt{pi}"),
            str(tmp_path / f"cer_state{pi}"),
        )
        got = [tuple(r) for r in customer_golden_records(state).collect()]
        assert got == want, f"partition {pi} diverged from batch ER"


def test_customer_er_stream_replay_noop(spark, sf_small, tmp_path):
    """A full replay against the already-advanced state table must be
    an epoch-tag no-op: identical state, no extra snapshots."""
    from parquet_extractor_spark.sinks.versioned import snapshots
    from parquet_extractor_spark.streaming.entities import (
        run_customer_er_stream,
    )

    src = _write_customer_batches(
        tmp_path / "cer_src_rp", spark, sf_small,
        [lambda k: k % 2 == 1, lambda k: k % 2 == 0],
    )
    state_dir = str(tmp_path / "cer_state_rp")
    first = run_customer_er_stream(
        spark, src, str(tmp_path / "cer_ckpt_rp1"), state_dir
    )
    rows1 = sorted((r.c_custkey, r.cluster) for r in first.collect())
    n_snaps = len(snapshots(state_dir))
    replay = run_customer_er_stream(
        spark, src, str(tmp_path / "cer_ckpt_rp2"), state_dir
    )
    rows2 = sorted((r.c_custkey, r.cluster) for r in replay.collect())
    assert rows1 == rows2
    assert len(snapshots(state_dir)) == n_snaps


def test_drain_timeout_raises_and_stops_the_query(
    spark, sf_small, tmp_path, monkeypatch
):
    """A drain that misses DRAIN_TIMEOUT_S raises TimeoutError naming
    the stream and leaves no active query, for a memory sink (which
    would otherwise hand back a partial table) and for a foreachBatch
    sink. No drain finishes within a millisecond; PySpark rejects a
    timeout of 0."""
    import parquet_extractor_spark.streaming as streaming
    from parquet_extractor_spark.streaming.pdf import run_pdf_ingest_stream

    monkeypatch.setattr(streaming, "DRAIN_TIMEOUT_S", 0.001)

    with pytest.raises(TimeoutError, match="events_hourly_stream"):
        run_events_hourly_stream(spark, sf_small, str(tmp_path / "ckpt"))
    assert spark.streams.active == []

    landing = tmp_path / "pdf_landing"
    landing.mkdir()
    (landing / "broken.pdf").write_bytes(b"%PDF-1.4\nnot a real pdf")
    with pytest.raises(TimeoutError, match="pdf_ingest"):
        run_pdf_ingest_stream(
            spark,
            str(landing),
            str(tmp_path / "ckpt_pdf"),
            str(tmp_path / "pdf_out"),
        )
    assert spark.streams.active == []
