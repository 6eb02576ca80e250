"""Structured Streaming over binary media columns: the streaming twin
of ``operators.multimodal.extract_features``.

This is the continuously-ingesting shape of a multimodal curation
pipeline: media files land as parquet in a directory, the stream picks
up new files, decodes them executor-side (real PNG/JPEG/WAV codecs via
the same ``feature_for_bytes`` the batch path uses — one decode
definition, two execution modes), and appends scalar features to a
feature table. The fat binaries never sit in state: feature extraction
is stateless row-at-a-time work, so the stream's memory profile is one
Arrow batch per task regardless of history.

Sink idempotency matches streaming/documents.py: each epoch writes to
its own ``epoch=N`` directory with overwrite, so an at-least-once
foreachBatch replay replaces its own output instead of duplicating.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parquet_extractor_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
)
from parquet_extractor_spark.streaming import drain, epoch_sink


def read_media_stream(spark: SparkSession, media_dir: str) -> DataFrame:
    """File-source stream over a directory of media parquet files.
    Schema is the fixed MEDIA_SCHEMA (file streams require one); no
    data need exist at definition time."""
    return spark.readStream.schema(MEDIA_SCHEMA).parquet(media_dir)


def run_media_features_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain the media source once through feature extraction into
    a kind-partitioned feature table; returns the
    written table re-read as a batch frame (epoch appears as a
    partition column — drop it if unwanted)."""
    feats = extract_features(read_media_stream(spark, media_dir))

    def _sink(batch: DataFrame, epoch: int) -> None:
        (
            batch.repartition("kind")
            .write.mode("overwrite")
            .partitionBy("kind")
            .parquet(os.path.join(out_dir, f"epoch={epoch}"))
        )

    drain(feats.writeStream.foreachBatch(_sink), checkpoint_dir, "media_feats")
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def read_video_stream(spark: SparkSession, media_dir: str) -> DataFrame:
    """File-source stream over a landing dir of (media_id, data)
    parquet — the skinny two-column layout the video fixture uses."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    return spark.readStream.schema(schema).parquet(media_dir)


def run_video_metadata_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming twin of operators.multimodal.video_stream_metadata:
    container-metadata extraction (MP4 box walk / WebM EBML walk —
    the same pure parsers the batch path and the literal oracle use)
    is a stateless per-row projection, so it composes onto the file
    stream unchanged: no watermark, no state store, one Arrow batch
    of memory per task. Epoch-overwrite sink = idempotent under
    at-least-once replay, matching every other stream in this
    package."""
    from parquet_extractor_spark.operators.multimodal import (
        video_stream_metadata,
    )

    meta = video_stream_metadata(read_video_stream(spark, media_dir))

    drain(
        meta.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "video_meta",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def run_image_metadata_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming twin of operators.multimodal.image_header_metadata:
    the header-only image pass (PNG IHDR / JPEG SOF walk / GIF
    descriptor scan / BMP DIB / WebP VP8-VP8L-VP8X — the same pure
    parsers the batch path and the literal oracle use) is a stateless
    per-row projection, so it composes onto the file stream
    unchanged: no watermark, no state store, header-bounded CPU per
    row regardless of payload size. Epoch-overwrite sink = idempotent
    under at-least-once replay, like every other stream here."""
    from parquet_extractor_spark.operators.multimodal import (
        image_header_metadata,
    )

    meta = image_header_metadata(read_video_stream(spark, media_dir))

    drain(
        meta.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "image_meta",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def run_gif_frames_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    every_ms: int = 60,
) -> DataFrame:
    """Streaming twin of operators.multimodal.sample_gif_frames: the
    r06 REAL animated-GIF frame sampler (full-animation decode,
    compositing, time-grid sampling, PNG re-encode) is stateless
    per-row fan-out — each input row independently yields its sampled
    frames — so it composes onto the file stream unchanged: no
    watermark, no state store, one animation's frames of memory per
    row. This is the continuously-ingesting shape of a video-frame
    curation feed, running on the one format the in-repo codecs
    decode end-to-end. Epoch-overwrite sink = idempotent under
    at-least-once replay, like every other stream here."""
    from parquet_extractor_spark.operators.multimodal import (
        sample_gif_frames,
    )

    frames = sample_gif_frames(
        read_media_stream(spark, media_dir), every_ms=every_ms
    )

    drain(
        frames.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "gif_frames",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


# ── streaming pHash (continuous image-dedup ingestion) ───────────────

_NEARDUP_SCHEMA = None


def read_neardup_stream(spark: SparkSession, media_dir: str) -> DataFrame:
    """File-source stream over a landing dir of (media_id, variant,
    data) image parquet — the continuously-arriving-images shape."""
    global _NEARDUP_SCHEMA
    if _NEARDUP_SCHEMA is None:
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        _NEARDUP_SCHEMA = StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("variant", StringType(), False),
                StructField("data", BinaryType(), False),
            ]
        )
    return spark.readStream.schema(_NEARDUP_SCHEMA).parquet(media_dir)


def run_phash_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.image_phashes``: drain
    the image landing dir once through the SAME decode → DCT →
    threshold mapInPandas stage and append (media_id, variant,
    phash, bands) rows. Hashing is stateless per row, so state is one
    Arrow batch per task; the banded near-dup join then runs as a
    batch (or stream-static join) over the hash table this stream
    maintains — hashes are tiny, images are fat, which is exactly why
    the hash table is the thing to keep hot."""
    from parquet_extractor_spark.operators.multimodal import image_phashes

    hashes = image_phashes(read_neardup_stream(spark, media_dir))

    drain(
        hashes.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "phash",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def run_audio_fingerprint_stream(
    spark: SparkSession,
    media_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming twin of ``operators.multimodal.audio_fingerprints``
    — same landing-dir shape as run_phash_stream (the neardup
    (media_id, variant, data) schema), same epoch-idempotent sink;
    the contour hashing is stateless per row."""
    from parquet_extractor_spark.operators.multimodal import (
        audio_fingerprints,
    )

    hashes = audio_fingerprints(read_neardup_stream(spark, media_dir))

    drain(
        hashes.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "afp",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)
