"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (driver north star).

Image decode is REAL for PNG via the dependency-free codec in
``functions/png.py`` (zlib is stdlib), for baseline JPEG via
``functions/jpeg.py`` (pure numpy Huffman+DCT), for GIF via
``functions/gif.py`` (real LZW with table growth/reset), and for
24-bit BMP via ``functions/bmp.py`` — features and resize run on
actual pixels in CI. Audio decode is REAL for WAV in all ten common
RIFF encodings (PCM 8/16/24/32, float32/64, G.711 A-law/µ-law, and
since later in r06 IMA and MS ADPCM) via
``functions/wav.py``'s hand-rolled chunk walk — energy-envelope
features run on actual samples. MP2/MP3 get metadata-level support — a real
frame-header parser (``functions/mp3.py``: duration, bitrate, sample
rate, channel mode, CBR/VBR) with PCM decode declared out of scope.
MP4/WebM get the same treatment since r06 — real container-metadata
parsers (``functions/mp4.py`` box walk, ``functions/webm.py`` EBML
walk: brand, duration, track layout, display size) with frame decode
declared out of scope.
Progressive JPEG decodes for real too since r06 (T.81 Annex G in
``functions/jpeg.py``: spectral selection, successive approximation,
EOB runs), as do lossless-WebP pixels (``functions/vp8l.py``: the
full VP8L entropy layer and all four transforms). Remaining formats
(lossy-VP8 WebP, MP3 PCM decode, video frames) would need
PIL/librosa/ffmpeg, absent from this container, and raise a
clearly-marked NotImplementedError; their
Spark-side plumbing — the schema, the mapInPandas batch iteration,
the Arrow column shapes, and the partitioning strategy — is real and
tested either way.

Design for 100 TB of media:
- media rows are fat (MBs of binary) → keep
  ``spark.sql.files.maxPartitionBytes`` at default and let the scan
  split by bytes, never by row count;
- feature extraction is per-row CPU → ``mapInPandas`` so one Python
  worker streams Arrow batches without materializing a partition;
- derived features are small → write them to a SEPARATE table keyed
  by media_id rather than rewriting the fat binaries.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# codec dispatch runs per ROW inside mapInPandas stages — import the
# (dependency-free) codecs once at module load, never per call
from parquet_extractor_spark.functions.bmp import (  # noqa: E402
    decode_bmp,
    encode_bmp,
    is_bmp,
)
from parquet_extractor_spark.functions.gif import (  # noqa: E402
    decode_gif,
    decode_gif_frames,
    encode_gif,
    encode_gif_animation,
    is_gif,
)
from parquet_extractor_spark.functions.jpeg import (  # noqa: E402
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
)
from parquet_extractor_spark.functions.apng import (  # noqa: E402
    decode_apng_frames,
    encode_apng,
    is_apng,
)
from parquet_extractor_spark.functions.tiff import (  # noqa: E402
    build_tiff_image,
    build_tiff_oldstyle_jpeg,
    decode_tiff,
    is_tiff,
)
from parquet_extractor_spark.functions.webp import (  # noqa: E402
    build_webp_lossless,
    decode_webp,
    is_webp,
)
from parquet_extractor_spark.functions.png import (  # noqa: E402
    PNG_MAGIC,
    decode_png,
    encode_png,
    resize_nearest,
)
from parquet_extractor_spark.functions.text import portable_hash64  # noqa: E402
from parquet_extractor_spark.functions.wav import (  # noqa: E402
    audio_feature,
    decode_wav,
    encode_wav,
    is_wav,
)
from parquet_extractor_spark.session import materialize  # noqa: E402
from parquet_extractor_spark.sources.tables import local_frame  # noqa: E402

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("data", BinaryType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

FEATURE_DIM = 16


def decode_image(data: bytes) -> "np.ndarray":
    """Decode an image binary to an (H,W,C) uint8 array. PNG decodes
    for real (functions/png.py), as do JPEG (functions/jpeg.py,
    baseline + progressive), GIF (functions/gif.py — real LZW),
    24-bit BMP (functions/bmp.py), and lossless WebP
    (functions/vp8l.py); lossy WebP and other formats need an imaging
    library this container doesn't ship."""
    if data and data[: len(PNG_MAGIC)] == PNG_MAGIC:
        return decode_png(data)
    if is_jpeg(data):
        return decode_jpeg(data)
    if is_gif(data):
        return decode_gif(data)
    if is_bmp(data):
        return decode_bmp(data)
    if is_webp(data):
        # lossless VP8L decodes for real (functions/vp8l.py, r06);
        # lossy VP8 raises NotImplementedError inside decode_webp
        return decode_webp(data)
    if is_tiff(data):
        # uncompressed / PackBits / LZW / Deflate strips (with
        # Predictor 2) and new-style JPEG-in-TIFF decode for real
        # (functions/tiff.py, r06); old-style JPEG (6) and CCITT
        # raise NotImplementedError inside decode_tiff
        return decode_tiff(data)
    raise NotImplementedError(
        "only PNG, JPEG, GIF, 24-bit BMP, lossless WebP, and "
        "TIFF (incl. new-style JPEG strips) decode are implemented; "
        "lossy WebP, HEIC/... require PIL/pillow, not "
        "available in this environment"
    )


def pixel_feature(arr: "np.ndarray", dim: int = FEATURE_DIM) -> list[float]:
    """Real pixel-space feature: a dim-bin normalized intensity
    histogram over the channel-mean image — the shape a tiny visual
    encoder would produce, computed from actual decoded pixels."""
    gray = arr.astype(np.float64).mean(axis=2)
    hist, _ = np.histogram(gray, bins=dim, range=(0.0, 256.0))
    total = max(1, int(hist.sum()))
    return [float(v) / total for v in hist]


def fake_feature(data: bytes | None, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic fake embedding from the raw bytes — stands in for
    a real encoder so the distributed plumbing is testable end-to-end.
    Stable across runs/workers (pure function of the bytes)."""
    if data is None:
        return [0.0] * dim
    arr = np.frombuffer(data, dtype=np.uint8)
    out = np.zeros(dim, dtype=np.float64)
    for i in range(dim):
        out[i] = float(arr[i::dim].sum() % 997) / 997.0
    return [float(x) for x in out]


def feature_for_bytes(d: bytes | None) -> list[float]:
    """Modality dispatch for one media binary: real pixel/sample
    features for decodable formats (PNG/JPEG pixel histogram, WAV
    energy envelope); byte-hash features as the declared stand-in for
    formats with no decoder. Pure function of the bytes — shared by
    the Spark mapInPandas stage and the oracle generator
    (tools/gen_multimodal_oracle.py)."""
    if d is not None and (
        d[: len(PNG_MAGIC)] == PNG_MAGIC
        or is_jpeg(d)
        or is_gif(d)
        or is_bmp(d)
        or is_webp(d)
        or is_tiff(d)
    ):
        try:
            return pixel_feature(decode_image(d))
        except (NotImplementedError, ValueError):
            # arithmetic-coded JPEG, lossy-VP8 WebP, corrupt stream,
            # etc: fall through to the byte-hash stand-in rather than
            # failing the whole mapInPandas task on one undecodable row
            return fake_feature(d)
    if is_wav(d):
        try:
            samples, _sr = decode_wav(d)
            return audio_feature(samples, FEATURE_DIM)
        except (NotImplementedError, ValueError):
            # exotic codec (GSM/MS-ADPCM) or corrupt RIFF: declared fake
            return fake_feature(d)
    return fake_feature(d)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the media table. Binary
    columns stream through Arrow in bounded batches
    (spark.sql.execution.arrow.maxRecordsPerBatch), so a partition of
    fat rows never materializes in one Python allocation."""

    _one_feature = feature_for_bytes

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["data"].map(
                        lambda d: len(d) if d is not None else 0
                    ),
                    "feature": pdf["data"].map(_one_feature),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled
    timestamp. The frame decode itself is stubbed (no ffmpeg), but the
    row fan-out — the part that matters for partitioning — is a real
    ``explode`` over the sampling grid, computed JVM-side."""
    grid = F.sequence(
        F.lit(0),
        F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
        F.lit(every_ms),
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(grid).alias("frame_ts_ms"),
            F.lit(None).cast(BinaryType()).alias("frame"),  # STUB: no ffmpeg
        )
    )


GIF_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_ts_ms", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ]
)

_GIF_DEFAULT_DELAY_MS = 100  # browser convention for 0-delay frames


def animation_frame_samples(
    data: bytes, every_ms: int = 100
) -> list[tuple[int, bytes]]:
    """REAL frame sampling for one animation — GIF (functions/gif.py
    compositing semantics) or APNG (functions/apng.py acTL/fcTL/fdAT
    semantics): decode the full animation, lay the frames on a
    timeline (0-delay frames get the browser-conventional 100 ms),
    and return [(ts_ms, png_bytes)] — the frame visible at each grid
    tick t = 0, every_ms, 2*every_ms, ... inside the animation's
    duration, re-encoded as PNG (lossless, so the sample pins the
    composited canvas byte-for-byte; APNG canvases keep their alpha
    plane). Pure function of the inputs — shared by the Spark
    mapInPandas stage and the oracle generator."""
    if is_gif(data):
        frames = decode_gif_frames(data)
    elif is_apng(data):
        frames = decode_apng_frames(data)
    else:
        raise ValueError("not an animated GIF or APNG stream")
    delays = [d if d > 0 else _GIF_DEFAULT_DELAY_MS for d, _ in frames]
    total = sum(delays)
    out = []
    k, frame_end = 0, delays[0]
    for t in range(0, total, every_ms):
        while t >= frame_end:
            k += 1
            frame_end += delays[k]
        out.append((t, encode_png(frames[k][1])))
    return out


def gif_frame_samples(
    data: bytes, every_ms: int = 100
) -> list[tuple[int, bytes]]:
    """Back-compat name for the GIF-only callers; the sampler itself
    is format-dispatching (animation_frame_samples)."""
    return animation_frame_samples(data, every_ms)


def sample_animation_frames(
    media: DataFrame, every_ms: int = 100
) -> DataFrame:
    """Animation frame sampling with REAL frames — the formats for
    which the r06 `sample_frames` video stub becomes fully real: the
    in-repo GIF and APNG codecs decode and composite every frame, so
    the sampled rows carry actual PNG-encoded canvases, not NULL
    stubs. Same Spark shape as extract_features: filter to animated
    rows BEFORE the Python boundary, Arrow-batched mapInPandas, one
    output row per (media_id, tick) — the fan-out a video pipeline
    feeds to a frame encoder. Undecodable/static rows yield no
    output rather than failing the task."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, d in zip(pdf["media_id"], pdf["data"]):
                if d is None:
                    continue
                b = bytes(d)
                if not (is_gif(b) or is_apng(b)):
                    continue
                try:
                    samples = animation_frame_samples(b, every_ms)
                except ValueError:
                    continue
                for ts, png in samples:
                    w, h = struct.unpack(">II", png[16:24])  # IHDR dims
                    rows.append((int(media_id), ts, w, h, png))
            yield pd.DataFrame(
                rows, columns=[f.name for f in GIF_FRAME_SCHEMA.fields]
            )

    return media.filter(
        F.col("mime").isin("image/gif", "image/apng")
    ).mapInPandas(_sample, schema=GIF_FRAME_SCHEMA)


def sample_gif_frames(media: DataFrame, every_ms: int = 100) -> DataFrame:
    """Back-compat name: the GIF rows of the format-dispatching
    animation sampler (APNG rows pass through it too — the mime
    filter inside keeps non-animated rows out either way)."""
    return sample_animation_frames(media, every_ms)


def synthetic_animated_gif_rows(n: int = 12, seed: int = 46) -> list[tuple]:
    """Deterministic animated-GIF fixture (pure Python — shared by
    the Spark fixture and the oracle generator): moving-block
    animations with varying canvas sizes, frame counts, palettes, and
    delays; every third row contains an identical consecutive frame
    (the 1x1 fully-transparent sub-rect path) and rows alternate
    optimized sub-rect and full-frame encodes."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = 10 + int(rng.integers(0, 8))
        w = 14 + int(rng.integers(0, 10))
        ncol = 4 + int(rng.integers(0, 12))
        palette = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        base = palette[rng.integers(0, ncol, size=(h, w), dtype=np.int64)]
        n_frames = 2 + int(rng.integers(0, 5))
        frames = []
        for k in range(n_frames):
            f = base.copy()
            x0 = (3 * k) % max(1, w - 4)
            f[2:6, x0 : x0 + 4] = palette[k % ncol]
            frames.append(f)
        if i % 3 == 0 and n_frames >= 2:
            frames[1] = frames[0].copy()  # identical-frame path
        delays = [
            int(rng.choice([0, 40, 70, 100, 150])) for _ in range(n_frames)
        ]
        data = encode_gif_animation(
            frames, delays_ms=delays, optimize_subrects=bool(i % 2)
        )
        rows.append((i, data))
    return rows


def synthetic_animated_gifs(spark) -> DataFrame:
    rows = [
        (media_id, "image", "image/gif", None, None, None, data)
        for media_id, data in synthetic_animated_gif_rows()
    ]
    return local_frame(spark, rows, MEDIA_SCHEMA).repartition(4, "media_id")


def synthetic_apng_rows(n: int = 8, seed: int = 47) -> list[tuple]:
    """Deterministic APNG fixture (pure Python — shared by the Spark
    fixture and the oracle generator): RGB and RGBA moving-block
    animations with varying canvas sizes, frame counts and delays;
    every other row is RGBA (alpha gradient) so the sampled PNGs pin
    the alpha plane, and every third row has an identical consecutive
    frame (the 1x1 sub-rect path)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = 9 + int(rng.integers(0, 7))
        w = 12 + int(rng.integers(0, 9))
        channels = 4 if i % 2 else 3
        base = rng.integers(0, 256, size=(h, w, channels), dtype=np.uint8)
        if channels == 4:
            base[:, :, 3] = np.linspace(40, 255, w, dtype=np.uint8)[None, :]
        n_frames = 2 + int(rng.integers(0, 4))
        frames = []
        for k in range(n_frames):
            f = base.copy()
            x0 = (2 * k) % max(1, w - 3)
            f[1:5, x0 : x0 + 3, :3] = 255 - f[1:5, x0 : x0 + 3, :3]
            frames.append(f)
        if i % 3 == 0 and n_frames >= 2:
            frames[1] = frames[0].copy()
        delays = [
            int(rng.choice([0, 30, 60, 90, 140])) for _ in range(n_frames)
        ]
        rows.append((i, encode_apng(frames, delays_ms=delays)))
    return rows


def synthetic_apngs(spark) -> DataFrame:
    rows = [
        (media_id, "image", "image/apng", None, None, None, data)
        for media_id, data in synthetic_apng_rows()
    ]
    return local_frame(spark, rows, MEDIA_SCHEMA).repartition(4, "media_id")


def media_apng_frame_checksums(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable APNG frame-sampling query — the APNG twin of
    media_gif_frame_checksums: run the REAL acTL/fcTL/fdAT decode →
    blend/dispose compositing → grid-sample → PNG re-encode pipeline
    (sample_animation_frames) over the deterministic APNG fixture and
    reduce every sampled frame to (ts, dims, length, 60-bit md5
    prefix), pinned by a generated literal oracle. ``sf_dir`` unused,
    as for the other media fixtures."""
    del sf_dir
    sampled = sample_animation_frames(synthetic_apngs(spark), every_ms=50)
    return sampled.select(
        "media_id",
        "frame_ts_ms",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.length("frame").cast("bigint").alias("n_bytes"),
        portable_hash64(F.col("frame")).alias("frame_hash"),
    ).orderBy("media_id", "frame_ts_ms")


def media_gif_frame_checksums(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable frame-sampling query: run the REAL animated-GIF
    decode → composite → grid-sample → PNG re-encode pipeline
    (sample_gif_frames) over the deterministic animation fixture and
    reduce every sampled frame to (ts, dims, length, 60-bit md5
    prefix). The oracle (MEDIA_GIF_FRAME_CHECKSUMS_SQL, generated
    from the same pure gif_frame_samples, committed) lists the
    expected values as literals — a row-for-row pin of the GCE delay
    timeline, the disposal/transparency compositing, and the PNG
    bytes of each sampled canvas. ``sf_dir`` unused, as for the other
    media fixtures."""
    del sf_dir
    sampled = sample_gif_frames(synthetic_animated_gifs(spark), every_ms=60)
    return sampled.select(
        "media_id",
        "frame_ts_ms",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.length("frame").cast("bigint").alias("n_bytes"),
        portable_hash64(F.col("frame")).alias("frame_hash"),
    ).orderBy("media_id", "frame_ts_ms")


def synthetic_media_rows(n: int = 64, seed: int = 42) -> list[tuple]:
    """Deterministic fixture rows (pure Python — shared by the Spark
    fixture below and the oracle generator). Image rows carry REAL
    64×48 images cycling through all six in-repo codecs — PNG,
    JPEG (alternating baseline and progressive, 4:2:0), GIF (real
    LZW; pixels drawn from a 64-color palette, since GIF is
    palette-indexed by definition), 24-bit BMP, lossless WebP
    (alternating literal-mode noise rows and small-palette rows so
    both VP8L entropy layouts are pinned), and TIFF (alternating
    byte order and uncompressed/PackBits strips); audio rows carry
    REAL 0.25 s 8 kHz PCM-16 WAVs (sine + noise); video rows carry
    opaque pseudo-random payloads."""
    image_mimes = (
        "image/png", "image/jpeg", "image/gif", "image/bmp",
        "image/webp", "image/tiff",
    )
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            fmt = (i // 3) % 6
            if fmt == 2:  # GIF: honest palette-indexed pixel draw
                palette = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
                pixels = palette[
                    rng.integers(0, 64, size=(48, 64), dtype=np.int64)
                ]
            elif fmt == 4 and (i // 15) % 2:
                # small-palette draw: VP8L auto mode picks the
                # color-indexing transform for these rows
                palette = rng.integers(0, 256, size=(12, 3), dtype=np.uint8)
                pixels = palette[
                    rng.integers(0, 12, size=(48, 64), dtype=np.int64)
                ]
            else:
                pixels = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
            # image rows cycle PNG / JPEG / GIF / BMP / lossless WebP
            # / TIFF — six real codecs through one decode pipeline
            if fmt == 0:
                data = encode_png(pixels)
            elif fmt == 1:
                # alternate baseline and progressive streams so the
                # oracle pins BOTH entropy layouts of the decoder
                data = encode_jpeg(
                    pixels,
                    quality=90,
                    subsample=True,
                    progressive=bool((i // 12) % 2),
                )
            elif fmt == 2:
                data = encode_gif(pixels)
            elif fmt == 3:
                data = encode_bmp(pixels)
            elif fmt == 4:
                # auto mode: literal (subtract-green + runs) for the
                # noise rows, palette for the small-palette rows
                data = build_webp_lossless(pixels)
            else:
                # rotate layout by TIFF-row occurrence (rows land at
                # i = 15, 33, 51): new-style JPEG with shared
                # JPEGTables (the late-r06 boundary closure — pins the
                # tables-splice decode path), OLD-style §22 strip JPEG
                # (raw tables behind tags 519/520/521, headers rebuilt
                # per strip), and TILED LZW + Predictor 2 in a
                # BIGTIFF container (tags 322-325, padded edge tiles,
                # magic-43 u64 geometry); byte order still
                # alternates. Uncompressed/PackBits/Deflate strips
                # stay unit-test-pinned (roundtrip tests cover all).
                occ = (i - 15) // 18
                endian = "le" if (i // 15) % 2 == 0 else "be"
                if occ % 3 == 1:
                    data = build_tiff_oldstyle_jpeg(pixels, endian=endian)
                else:
                    data = build_tiff_image(
                        pixels,
                        endian=endian,
                        compression=[7, None, 5][occ % 3],
                        predictor=2 if occ % 3 == 2 else 1,
                        jpeg_shared_tables=True,
                        tile_size=(32, 16) if occ % 3 == 2 else None,
                        bigtiff=occ % 3 == 2,
                    )
        elif kind == "audio":
            sr, dur = 8000, 0.25
            t = np.arange(int(sr * dur)) / sr
            freq = 200.0 + 50.0 * (i % 7)
            sig = 8000.0 * np.sin(2 * np.pi * freq * t)
            sig += rng.normal(0.0, 500.0, size=t.size)
            data = encode_wav(sig.astype(np.int16), sr)
        else:
            size = int(rng.integers(64, 512))
            data = bytes(rng.integers(0, 256, size=size, dtype=np.uint8))
        if kind == "image":
            mime = image_mimes[(i // 3) % 6]
        else:
            mime = {"audio": "audio/wav", "video": "video/mp4"}[kind]
        rows.append(
            (
                i,
                kind,
                mime,
                64 if kind == "image" else None,
                48 if kind == "image" else None,
                {"image": None, "audio": 250, "video": 5000}[kind],
                data,
            )
        )
    return rows


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Spark DataFrame over the deterministic fixture rows."""
    return local_frame(spark, synthetic_media_rows(n, seed), MEDIA_SCHEMA)


def media_feature_checksums(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable multimodal query: run the REAL decode+feature
    pipeline (PNG/JPEG pixel histograms, WAV energy envelopes — see
    extract_features) over the deterministic media fixture and reduce
    each float32 feature vector to scalar micro-int checksums, using
    the same floor(x*1e6 + 0.5) half-up rule the embedding queries
    use. The oracle (MEDIA_FEATURE_CHECKSUMS_SQL, generated by
    tools/gen_multimodal_oracle.py from the same pure-Python fixture +
    feature functions, committed) pins the expected value of every
    row, so a driver hash-match proves the whole Arrow/mapInPandas
    decode path — schema, batch iteration, codec — reproduces the
    reference pixel/sample math bit-for-bit.

    ``sf_dir`` is unused: media is fixture-generated (the driver's
    parquet fixtures carry no binary media column), which is exactly
    what makes a literal oracle sound.
    """
    del sf_dir
    feats = extract_features(synthetic_media(spark))
    vec = F.transform("feature", lambda x: x.cast("double"))
    micro = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("bigint")  # noqa: E731
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        micro(
            F.aggregate(vec, F.lit(0.0), lambda a, v: a + v)
        ).alias("feature_sum_micro"),
        micro(F.element_at(vec, 1)).alias("f0_micro"),
    ).orderBy("media_id")


RESIZE_W, RESIZE_H = 32, 16  # media_resize_checksums target dims


def media_resize_checksums(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable resize query: run the REAL decode → nearest-
    neighbor resample → re-encode pipeline (resize_images) over the
    image rows of the deterministic media fixture and reduce each
    output binary to (length, 60-bit md5 prefix) — a BYTE-level pin
    of all five codecs' encode sides, complementing
    media_feature_checksums' pixel-level pin of the decode sides.
    The oracle (MEDIA_RESIZE_CHECKSUMS_SQL, generated from the same
    pure-Python resize_bytes, committed) lists the expected values as
    literals. ``sf_dir`` unused, as for media_feature_checksums."""
    del sf_dir
    resized = resize_images(synthetic_media(spark), RESIZE_W, RESIZE_H)
    return resized.select(
        "media_id",
        F.length("data").cast("bigint").alias("n_bytes"),
        portable_hash64(F.col("data")).alias("bytes_hash"),
    ).orderBy("media_id")


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("orig_width", IntegerType(), True),
        StructField("orig_height", IntegerType(), True),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("data", BinaryType(), True),
    ]
)


def fake_resized_bytes(data: bytes | None, width: int, height: int) -> bytes:
    """Deterministic stand-in for decode→resample→encode (no PIL in
    this container): tiles the source bytes to exactly width×height
    bytes. Pure function of the inputs, so executor retries and the
    oracle of "output volume ≈ target dims" both hold."""
    if not data:
        return bytes(width * height)
    arr = np.frombuffer(data, dtype=np.uint8)
    return np.resize(arr, width * height).tobytes()


def resize_bytes(d: bytes | None, width: int, height: int) -> bytes:
    """Per-row decode → nearest-neighbor resample → re-encode in the
    source format (PNG/JPEG/GIF/BMP — all real in-repo codecs);
    undecodable rows fall back to the declared byte-tiling fake. Pure
    function of the inputs — shared by the Spark mapInPandas stage and
    the oracle generator (tools/gen_multimodal_oracle.py). Codec
    imports are module-level (functions/ has no heavy deps), so the
    per-row mapInPandas path pays no import machinery."""
    try:
        if d is not None and d[: len(PNG_MAGIC)] == PNG_MAGIC:
            return encode_png(resize_nearest(decode_image(d), width, height))
        if is_jpeg(d):
            return encode_jpeg(
                resize_nearest(decode_image(d), width, height),
                quality=90,
                subsample=True,
            )
        if is_gif(d):
            # nearest-neighbor only replicates pixels, so the resized
            # frame stays inside the source palette
            return encode_gif(resize_nearest(decode_image(d), width, height))
        if is_bmp(d):
            return encode_bmp(resize_nearest(decode_image(d), width, height))
        if is_webp(d):
            return build_webp_lossless(
                resize_nearest(decode_image(d), width, height)
            )
        if is_tiff(d):
            return build_tiff_image(
                resize_nearest(decode_image(d), width, height)
            )
    except (NotImplementedError, ValueError):
        pass  # undecodable row (lossy-VP8/arithmetic-coded/corrupt): declared fake
    return fake_resized_bytes(d, width, height)


def resize_images(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Image-resize over mapInPandas: rows decode → nearest-neighbor
    resample → re-encode in their own format, all on real pixels
    (resize_bytes). The Spark-side contract: filter to images BEFORE
    the Python boundary (pushed to the scan), Arrow-batched binary
    streaming in, bounded binary out, output volume proportional to
    row count × target dims — which is what determines the downstream
    partition sizing when the resized table is written.
    """

    def _one(d: bytes | None) -> bytes:
        return resize_bytes(d, width, height)

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "orig_width": pdf["width"],
                    "orig_height": pdf["height"],
                    "width": width,
                    "height": height,
                    "data": pdf["data"].map(_one),
                }
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "width", "height", "data")
        .mapInPandas(_resize, schema=RESIZED_SCHEMA)
    )


SPECTRUM_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("band_energies", ArrayType(FloatType()), True),
    ]
)


def audio_spectral_features(media: DataFrame) -> DataFrame:
    """FFT band-energy features over the audio rows: decode WAV bytes
    (any of functions/wav.py's eight RIFF encodings), rFFT,
    FEATURE_DIM equal bands to Nyquist, peak-normalized — real DSP,
    executor-side, Arrow-batched. Non-WAV rows are filtered out
    BEFORE the Python boundary so the pandas stage only ever sees
    decodable bytes."""

    from parquet_extractor_spark.functions.wav import (
        decode_wav,
        is_wav,
        spectral_feature,
    )

    def _spectra(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, counts, bands = [], [], []
            for d in pdf["data"]:
                if is_wav(d):
                    samples, sr = decode_wav(d)
                    rates.append(sr)
                    counts.append(int(np.asarray(samples).shape[0]))
                    bands.append(spectral_feature(samples, sr, FEATURE_DIM))
                else:
                    rates.append(None)
                    counts.append(None)
                    bands.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": rates,
                    "n_samples": counts,
                    "band_energies": bands,
                }
            )

    return (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "data")
        .mapInPandas(_spectra, schema=SPECTRUM_SCHEMA)
    )


# ── audio stream metadata (WAV headers + MP3 frame-header walk) ─────

AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("container", StringType(), True),  # wav|mp3|None
        StructField("sample_rate", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("bitrate_kbps", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("vbr", BooleanType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def audio_metadata_for_bytes(d: bytes | None) -> tuple:
    """(container, sample_rate, channels, bitrate_kbps, n_frames, vbr,
    duration_ms) for one audio binary — WAV via the hand-rolled RIFF
    chunk walk in functions/wav.py (all eight supported encodings:
    PCM 8/16/24/32, float32/64, A-law, µ-law — identical numbers to
    the former stdlib-``wave`` path for PCM rows), MP2/MP3 via the
    frame-header walk in functions/mp3.py (metadata-level; PCM decode
    stays a declared boundary there). Pure function of the bytes,
    shared by the Spark mapInPandas stage and the oracle generator.
    Unknown/corrupt payloads yield all-NULL metadata rather than
    failing the task."""
    from parquet_extractor_spark.functions.mp3 import (
        is_mp3,
        parse_mp3_metadata,
    )
    from parquet_extractor_spark.functions.wav import is_wav, parse_wav_header

    nulls = (None, None, None, None, None, None, None)
    if d is None:
        return nulls
    if is_wav(d):
        h = parse_wav_header(d)
        if h is None:
            return nulls
        sr = h["sample_rate"]
        nf = h["n_frames"]
        return (
            "wav",
            sr,
            h["channels"],
            sr * h["bits_per_sample"] * h["channels"] // 1000,
            nf,
            False,
            nf * 1000 // max(1, sr),
        )
    if is_mp3(d):
        m = parse_mp3_metadata(d)
        if m is None:
            return nulls
        return (
            "mp3",
            m["sample_rate"],
            m["channels"],
            m["bitrate_kbps"],
            m["n_frames"],
            m["vbr"],
            m["duration_ms"],
        )
    return nulls


def audio_stream_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction over audio binaries — same
    Arrow-batched shape as extract_features: bounded batches, no
    per-partition materialization, output keyed by media_id for the
    separate-skinny-table layout the module doc prescribes."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "container sample_rate channels bitrate_kbps n_frames vbr "
            "duration_ms"
        ).split()
        for pdf in batches:
            metas = [audio_metadata_for_bytes(d) for d in pdf["data"]]
            out = {"media_id": pdf["media_id"]}
            for j, c in enumerate(cols):
                out[c] = [m[j] for m in metas]
            yield pd.DataFrame(out)

    return media.select("media_id", "data").mapInPandas(
        _meta, schema=AUDIO_META_SCHEMA
    )


def synthetic_audio_rows(n: int = 48, seed: int = 43) -> list[tuple]:
    """Deterministic audio fixture: REAL WAVs cycling all ten
    supported RIFF encodings (PCM 8/16/24/32-bit, IEEE float32/64,
    G.711 A-law/µ-law, IMA + MS ADPCM — functions/wav.py's
    hand-rolled codec, r06)
    interleaved with spec-valid MP3 frame chains cycling MPEG
    version/layer/bitrate/mono — including VBR streams (two CBR runs
    concatenated, at i%16==15) and ID3v2-tagged streams (variant 5,
    reachable at i∈{11,23,35}), so every parser path — ID3 skip and
    every fmt-tag branch included — is pinned by the oracle.
    (media_id, data) rows."""
    from parquet_extractor_spark.functions.mp3 import build_mp3_stream

    rng = np.random.default_rng(seed)
    rows = []
    wav_fmts = [
        "pcm16", "float32", "pcm24", "pcm8", "ulaw", "alaw", "pcm32",
        "float64", "ima_adpcm", "ms_adpcm",
    ]
    mp3_variants = [
        dict(version="1", layer=3, bitrate_kbps=128, sample_rate=44100),
        dict(version="1", layer=2, bitrate_kbps=192, sample_rate=48000),
        dict(version="1", layer=1, bitrate_kbps=224, sample_rate=32000),
        dict(version="2", layer=3, bitrate_kbps=64, sample_rate=22050,
             mono=True),
        dict(version="2.5", layer=3, bitrate_kbps=40, sample_rate=11025),
        dict(version="1", layer=3, bitrate_kbps=160, sample_rate=44100,
             id3_payload=b"TAGDATA" * 12),
    ]
    for i in range(n):
        if i % 2 == 0:
            sr = 8000
            t = np.arange(int(sr * 0.2)) / sr
            sig = 6000.0 * np.sin(2 * np.pi * (150.0 + 25.0 * (i % 5)) * t)
            sig += rng.normal(0.0, 400.0, size=t.size)
            data = encode_wav(
                sig.astype(np.int16), sr, fmt=wav_fmts[(i // 2) % 10]
            )
        elif i % 16 == 15:
            # VBR: two same-(sr,layer) CBR runs back to back.
            # (i%16, not %12: every odd i with i//2%6==5 — the ID3
            # variant's slots — satisfied i%12==11, so the ID3 path
            # was unreachable until r06.)
            data = build_mp3_stream(
                8, version="1", layer=3, bitrate_kbps=128, sample_rate=44100
            ) + build_mp3_stream(
                8, version="1", layer=3, bitrate_kbps=224, sample_rate=44100
            )
        else:
            v = dict(mp3_variants[(i // 2) % len(mp3_variants)])
            data = build_mp3_stream(6 + (i % 5), **v)
        rows.append((i, data))
    return rows


def media_audio_metadata(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable audio-metadata query: run the WAV/MP3 header
    parsers over the deterministic audio fixture through the real
    mapInPandas plumbing. The oracle (MEDIA_AUDIO_METADATA_SQL,
    generated by tools/gen_multimodal_oracle.py from the same
    pure-Python parser, committed) pins every row, so a driver
    hash-match proves the frame-header walk — ID3 skip, version/layer
    tables, padding arithmetic, VBR detection — byte-for-byte.
    ``sf_dir`` unused: fixture-generated, like media_feature_checksums.
    """
    del sf_dir
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    media = local_frame(spark, synthetic_audio_rows(), schema)
    return audio_stream_metadata(media).orderBy("media_id")


# ── video container metadata (MP4 box walk + WebM EBML walk) ────────

VIDEO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("container", StringType(), True),  # mp4|webm|None
        StructField("brand", StringType(), True),  # ftyp brand / DocType
        StructField("duration_ms", LongType(), True),
        StructField("n_tracks", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("has_video", BooleanType(), True),
        StructField("has_audio", BooleanType(), True),
    ]
)


def video_metadata_for_bytes(d: bytes | None) -> tuple:
    """(container, brand, duration_ms, n_tracks, width, height,
    has_video, has_audio) for one video binary — MP4 via the ISO BMFF
    box walk (functions/mp4.py), WebM via the EBML walk
    (functions/webm.py); frame decode stays a declared boundary in
    both. Pure function of the bytes, shared by the Spark mapInPandas
    stage and the oracle generator; unknown/corrupt payloads yield
    all-NULL metadata rather than failing the task."""
    from parquet_extractor_spark.functions.mp4 import parse_mp4_metadata
    from parquet_extractor_spark.functions.webm import parse_webm_metadata

    nulls = (None, None, None, None, None, None, None, None)
    if d is None:
        return nulls
    m = parse_mp4_metadata(d) or parse_webm_metadata(d)
    if m is None:
        return nulls
    return (
        m["container"],
        m["brand"],
        m["duration_ms"],
        m["n_tracks"],
        m["width"],
        m["height"],
        m["has_video"],
        m["has_audio"],
    )


def video_stream_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas container-metadata extraction over video binaries —
    the video twin of audio_stream_metadata: Arrow-batched, bounded
    per-batch memory (the parser walks HEADERS, never payload bytes,
    so a 4 GB asset costs the same as a 4 KB one), output keyed by
    media_id."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "container brand duration_ms n_tracks width height "
            "has_video has_audio"
        ).split()
        for pdf in batches:
            metas = [video_metadata_for_bytes(d) for d in pdf["data"]]
            out = {"media_id": pdf["media_id"]}
            for j, c in enumerate(cols):
                out[c] = [m[j] for m in metas]
            yield pd.DataFrame(out)

    return media.select("media_id", "data").mapInPandas(
        _meta, schema=VIDEO_META_SCHEMA
    )


def synthetic_video_rows(n: int = 36) -> list[tuple]:
    """Deterministic video fixture: spec-valid MP4 box trees and WebM
    EBML trees cycling brand/timescale/track-layout/size — including
    a 64-bit-mdat MP4, a version-1 (64-bit times) moov, a non-default
    WebM timecode scale, and corrupt/foreign rows that must parse to
    NULLs. (media_id, data) rows."""
    from parquet_extractor_spark.functions.mp4 import build_mp4
    from parquet_extractor_spark.functions.webm import build_webm

    mp4_variants = [
        dict(brand="isom", timescale=1000, duration=5000,
             video_size=(640, 360), audio=True),
        dict(brand="mp42", timescale=600, duration=3600,
             video_size=(1920, 1080), audio=False),
        dict(brand="avc1", timescale=90000, duration=450000,
             video_size=(1280, 720), audio=True, mvhd_version=1),
        dict(brand="M4A ", timescale=44100, duration=441000,
             video_size=None, audio=True),
        dict(brand="isom", timescale=1000, duration=12000,
             video_size=(320, 240), audio=True, large_mdat=True),
    ]
    webm_variants = [
        dict(doc_type="webm", duration_ticks=4000.0,
             video_size=(1280, 720), audio_channels=2),
        dict(doc_type="webm", timecode_scale_ns=500_000,
             duration_ticks=9000.0, video_size=(854, 480),
             audio_channels=None),
        dict(doc_type="matroska", duration_ticks=1500.0,
             video_size=(3840, 2160), audio_channels=6),
        dict(doc_type="webm", duration_ticks=250.0, video_size=None,
             audio_channels=1),
    ]
    rows = []
    for i in range(n):
        if i % 9 == 8:
            # corrupt/foreign bytes: truncated box header, a PNG
            # signature, and an empty payload — all must yield NULLs
            data = [b"\x00\x00\x00", b"\x89PNG\r\n\x1a\n" + b"\x00" * 16,
                    b""][i // 9 % 3]
        elif i % 2 == 0:
            v = dict(mp4_variants[(i // 2) % len(mp4_variants)])
            v["mdat_bytes"] = 32 + (i % 7) * 8
            data = build_mp4(**v)
        else:
            data = build_webm(**webm_variants[(i // 2) % len(webm_variants)])
        rows.append((i, data))
    return rows


def media_video_metadata(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable video-metadata query: run the MP4/WebM
    container parsers over the deterministic video fixture through
    the real mapInPandas plumbing. The oracle
    (MEDIA_VIDEO_METADATA_SQL, generated by
    tools/gen_multimodal_oracle.py from the same pure-Python parsers,
    committed) pins every row, so a driver hash-match proves the box
    walk — ftyp brand, mvhd v0/v1 timescale math, 16.16 tkhd sizes,
    64-bit largesize — and the EBML walk — VINT decoding, DocType,
    non-default TimecodeScale, track-type dispatch — byte-for-byte.
    ``sf_dir`` unused: fixture-generated, like media_audio_metadata.
    """
    del sf_dir
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    media = local_frame(spark, synthetic_video_rows(), schema)
    return video_stream_metadata(media).orderBy("media_id")


# ── image header metadata (header-only pass — no pixel decode) ──────

IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("container", StringType(), True),  # png|jpeg|gif|bmp|webp
        StructField("variant", StringType(), True),  # webp: vp8|vp8l|vp8x
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("has_alpha", BooleanType(), True),
        StructField("is_animated", BooleanType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

# SOF0-SOF15 minus DHT (C4), JPG (C8), DAC (CC) — the frame headers
# that carry dimensions
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def image_metadata_for_bytes(d: bytes | None) -> tuple:
    """(container, variant, width, height, has_alpha, is_animated,
    n_bytes) for one image binary, parsed from HEADERS only — the
    cheap first pass a 100 TB media-curation pipeline runs to
    filter/bucket by dimensions and capabilities before spending any
    decode CPU. PNG IHDR, JPEG SOF marker walk, GIF logical screen
    descriptor (+ NETSCAPE loop ext / GCE transparency flag), BMP
    DIB header, all three WebP bitstream headers
    (functions/webp.py), and the TIFF IFD walk (functions/tiff.py,
    r06: both byte orders, chained multi-page IFDs, ExtraSamples
    alpha) — formats whose pixel DECODE is a declared boundary still
    get first-class metadata. Pure function
    of the bytes, shared with the oracle generator; unknown/corrupt
    payloads yield NULL metadata."""
    from parquet_extractor_spark.functions.tiff import is_tiff, tiff_metadata
    from parquet_extractor_spark.functions.webp import is_webp, webp_metadata

    if d is None:
        return (None, None, None, None, None, None, None)
    n = len(d)
    nulls = (None, None, None, None, None, None, n)
    try:
        if d[: len(PNG_MAGIC)] == PNG_MAGIC:
            if len(d) < 26 or d[12:16] != b"IHDR":
                return nulls
            w = int.from_bytes(d[16:20], "big")
            h = int.from_bytes(d[20:24], "big")
            color_type = d[25]
            actl = d.find(b"acTL")
            idat = d.find(b"IDAT")
            animated = actl != -1 and (idat == -1 or actl < idat)
            return ("png", None, w, h, color_type in (4, 6), animated, n)
        if is_jpeg(d):
            i = 2
            while i + 4 <= len(d):
                if d[i] != 0xFF:
                    return nulls
                marker = d[i + 1]
                if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                    i += 2
                    continue
                if marker == 0xDA:  # SOS before any SOF: malformed
                    return nulls
                seg_len = int.from_bytes(d[i + 2 : i + 4], "big")
                if marker in _JPEG_SOF_MARKERS:
                    if i + 9 >= len(d):
                        return nulls
                    h = int.from_bytes(d[i + 5 : i + 7], "big")
                    w = int.from_bytes(d[i + 7 : i + 9], "big")
                    return ("jpeg", None, w, h, False, False, n)
                i += 2 + seg_len
            return nulls
        if is_gif(d):
            if len(d) < 10:
                return nulls
            w = int.from_bytes(d[6:8], "little")
            h = int.from_bytes(d[8:10], "little")
            animated = b"NETSCAPE2.0" in d
            gce = d.find(b"\x21\xf9\x04")
            alpha = gce != -1 and gce + 3 < len(d) and bool(d[gce + 3] & 1)
            return ("gif", None, w, h, alpha, animated, n)
        if is_bmp(d):
            if len(d) < 30:
                return nulls
            w = int.from_bytes(d[18:22], "little", signed=True)
            h = abs(int.from_bytes(d[22:26], "little", signed=True))
            bpp = int.from_bytes(d[28:30], "little")
            return ("bmp", None, w, h, bpp == 32, False, n)
        if is_webp(d):
            variant, w, h, alpha, animated = webp_metadata(d)
            return ("webp", variant, w, h, alpha, animated, n)
        if is_tiff(d):
            # r06: TIFF IFD walk (functions/tiff.py) — is_animated
            # carries "multi-page" for the chained-IFD case
            variant, w, h, alpha, pages = tiff_metadata(d)
            return ("tiff", variant, w, h, alpha, pages > 1, n)
    except (ValueError, struct.error):
        return nulls
    return nulls


def image_header_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas header-metadata extraction over image binaries —
    the image twin of audio/video_stream_metadata: Arrow-batched,
    header-bounded per-row cost (no pixel decode, so cost is
    independent of image payload size), output keyed by media_id."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "container variant width height has_alpha is_animated n_bytes"
        ).split()
        for pdf in batches:
            metas = [image_metadata_for_bytes(d) for d in pdf["data"]]
            out = {"media_id": pdf["media_id"]}
            for j, c in enumerate(cols):
                out[c] = [m[j] for m in metas]
            yield pd.DataFrame(out)

    return media.select("media_id", "data").mapInPandas(
        _meta, schema=IMAGE_META_SCHEMA
    )


def synthetic_image_rows(n: int = 44, seed: int = 44) -> list[tuple]:
    """Deterministic image fixture: REAL PNG/JPEG/GIF/BMP files from
    the in-repo encoders at varying dimensions, all five WebP header
    variants (lossy VP8, lossless VP8L ± alpha, extended VP8X ±
    alpha/animation), TIFF headers in both byte orders (single and
    multi-page, ± alpha — r06), and corrupt/foreign rows (truncated
    RIFF, bare SOI, arbitrary bytes) that must parse to NULLs.
    (media_id, data) rows."""
    from parquet_extractor_spark.functions.tiff import build_tiff
    from parquet_extractor_spark.functions.webp import build_webp

    rng = np.random.default_rng(seed)

    def png_rgb(i):
        return encode_png(
            rng.integers(0, 256, size=(24 + 8 * (i % 3), 32, 3), dtype=np.uint8)
        )

    def jpeg_420(i):
        return encode_jpeg(
            rng.integers(0, 256, size=(32, 48 + 16 * (i % 2), 3), dtype=np.uint8),
            quality=85,
            subsample=True,
        )

    def gif_pal(i):
        palette = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
        idx = rng.integers(0, 64, size=(16 + 8 * (i % 2), 40), dtype=np.int64)
        return encode_gif(palette[idx])

    def bmp24(i):
        return encode_bmp(
            rng.integers(0, 256, size=(20, 28 + 4 * (i % 3), 3), dtype=np.uint8)
        )

    builders = [
        png_rgb,
        jpeg_420,
        lambda i: build_webp(320 + 16 * (i % 4), 240, "vp8"),
        gif_pal,
        lambda i: build_webp(64, 48 + 8 * (i % 3), "vp8l", alpha=(i % 2 == 0)),
        bmp24,
        lambda i: build_webp(1024, 768, "vp8x", alpha=(i % 2 == 1)),
        lambda i: build_webp(400, 300, "vp8x", animated=True),
        # TIFF: alternate byte order / page count / alpha by i//10 so
        # every sub-variant is reachable (the i%k trap, see below)
        lambda i: build_tiff(
            200 + 8 * (i % 4),
            150,
            endian="le" if (i // 10) % 2 == 0 else "be",
            pages=1 + (i // 10) % 3,
            samples=4 if (i // 10) % 2 else 3,
            extra_alpha=bool((i // 10) % 2),
        ),
        # corrupt slot lands on i%10==9, so index the sub-variant by
        # i//10, NOT i%3 (the unreachable-variant trap the r05 advice
        # found in the MP3 fixture)
        lambda i: [
            b"RIFF\x10\x00\x00\x00WEBP",  # truncated container
            b"\xff\xd8\xff",  # bare JPEG SOI
            bytes((5 * j + 1) % 256 for j in range(64)),  # arbitrary
        ][(i // 10) % 3],
    ]
    rows = []
    for i in range(n):
        rows.append((i, builders[i % len(builders)](i)))
    return rows


def media_image_metadata(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable image-metadata query: run the header-only
    parsers over the deterministic image fixture through the real
    mapInPandas plumbing. The oracle (MEDIA_IMAGE_METADATA_SQL,
    generated by tools/gen_multimodal_oracle.py from the same
    pure-Python parsers, committed) pins every row, so a driver
    hash-match proves the PNG IHDR read, the JPEG SOF marker walk,
    the GIF screen-descriptor/extension scan, the BMP DIB read, and
    the WebP VP8/VP8L/VP8X header decode — byte-for-byte. ``sf_dir``
    unused: fixture-generated, like media_audio_metadata."""
    del sf_dir
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("data", BinaryType(), True),
        ]
    )
    media = local_frame(spark, synthetic_image_rows(), schema)
    return image_header_metadata(media).orderBy("media_id")


# ── perceptual-hash image near-dup detection ─────────────────────────
#
# The multimodal counterpart of MinHash-LSH: a 63-bit DCT perceptual
# hash (the classic pHash recipe) is invariant to re-encoding and
# robust to lossy compression, so banding it gives a candidate join
# that finds "same picture, different file" pairs without any
# pairwise pass. Measured on the fixture: re-encodes land at hamming
# 0-12, unrelated images at >= 22 — PHASH_HAMMING_MAX sits between.

PHASH_SIZE = 32  # DCT input (resampled grayscale side)
PHASH_BANDS = 8  # 8 bands x 8 bits: a hamming-12 pair still shares
PHASH_BAND_BITS = 8  # a band w.h.p. (4x16 missed 7/8 planted pairs)
PHASH_HAMMING_MAX = 16

_PHASH_COS = None


def _phash_cos() -> "np.ndarray":
    """32×32 DCT-II cosine matrix (orthonormal scaling is irrelevant
    under the median threshold, so plain cosines keep it simple)."""
    global _PHASH_COS
    if _PHASH_COS is None:
        k = np.arange(PHASH_SIZE, dtype=np.float64)
        n = np.arange(PHASH_SIZE, dtype=np.float64)
        _PHASH_COS = np.cos(
            np.pi * (2 * n[None, :] + 1) * k[:, None] / (2 * PHASH_SIZE)
        )
    return _PHASH_COS


def phash64(arr: "np.ndarray") -> int:
    """DCT perceptual hash of a decoded (H,W,3) uint8 image.

    Integer BT.601 grayscale (exact in every engine), nearest-neighbor
    resample to 32×32 on the same floor-index grid as resize_nearest,
    2-D DCT-II in float64, then threshold the 63 lowest-frequency AC
    coefficients (8×8 block minus DC) at their median. 63 bits → the
    value is always a non-negative int64; bit i (MSB-first over the
    8×8 scan order) is 1 iff its coefficient exceeds the median.
    Pure function of the pixels — shared by the Spark mapInPandas
    stage and the oracle generator."""
    a = arr.astype(np.int64)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    gray = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    h, w = gray.shape
    rows = (np.arange(PHASH_SIZE) * h) // PHASH_SIZE
    cols = (np.arange(PHASH_SIZE) * w) // PHASH_SIZE
    g = gray[np.ix_(rows, cols)].astype(np.float64)
    c = _phash_cos()
    freq = c @ g @ c.T
    vals = freq[:8, :8].flatten()[1:]
    med = float(np.median(vals))
    out = 0
    for i, v in enumerate(vals):
        if v > med:
            out |= 1 << (62 - i)
    return out


def phash_bands(h: int) -> list[int]:
    """PHASH_BANDS fixed-width bit slices, LSB-first — the LSH keys."""
    mask = (1 << PHASH_BAND_BITS) - 1
    return [
        (h >> (PHASH_BAND_BITS * b)) & mask for b in range(PHASH_BANDS)
    ]


def _neardup_base_pixels(i: int, h: int = 48, w: int = 64) -> "np.ndarray":
    """Deterministic smooth test pattern (sine×cosine interference);
    distinct i values produce images ≥ 22 hamming apart (measured)."""
    y = np.arange(h, dtype=np.float64)[:, None]
    x = np.arange(w, dtype=np.float64)[None, :]
    chans = []
    for c in range(3):
        fx = 1 + ((i + c) % 4)
        fy = 1 + ((i * 2 + c) % 3)
        px, py = 0.7 * i + 0.3 * c, 0.4 * i
        g = (
            128
            + 90 * np.sin(2 * np.pi * fx * x / w + px)
            * np.cos(2 * np.pi * fy * y / h + py)
            + 20 * np.sin(2 * np.pi * (x + y) / (w / (1 + i % 3)))
        )
        chans.append(g)
    return np.clip(np.stack(chans, axis=2), 0, 255).astype(np.uint8)


def synthetic_neardup_rows(n_bases: int = 8) -> list[tuple]:
    """Near-dup fixture with PLANTED ground truth: per base pattern, a
    PNG, a pixel-identical BMP (hamming 0), and a JPEG q=85 re-encode
    (hamming ≤ 12 measured), plus one unrelated PNG per base. Rows:
    (media_id, variant, data)."""
    rows = []
    for i in range(n_bases):
        px = _neardup_base_pixels(i)
        rows.append((4 * i, "png", encode_png(px)))
        rows.append((4 * i + 1, "bmp", encode_bmp(px)))
        rows.append(
            (
                4 * i + 2,
                "jpeg",
                encode_jpeg(px, quality=85, subsample=True),
            )
        )
        rows.append(
            (
                4 * i + 3,
                "unrelated",
                encode_png(_neardup_base_pixels(n_bases + i)),
            )
        )
    return rows


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("variant", StringType(), False),
        StructField("phash", LongType(), False),
        StructField("bands", ArrayType(IntegerType()), False),
    ]
)


def synthetic_neardup_images(spark) -> DataFrame:
    return local_frame(
        spark,
        synthetic_neardup_rows(),
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("variant", StringType(), False),
                StructField("data", BinaryType(), False),
            ]
        ),
    ).repartition(8, "media_id")


def image_phashes(media: DataFrame) -> DataFrame:
    """mapInPandas pHash stage: decode + hash per row, bands attached
    map-side so the LSH explode needs no second Python hop."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "variant": [],
                "phash": [],
                "bands": [],
            }
            for mid, variant, data in zip(
                pdf["media_id"], pdf["variant"], pdf["data"]
            ):
                try:
                    h = phash64(decode_image(bytes(data)))
                except (NotImplementedError, ValueError):
                    # robustness contract (r06): corrupt or
                    # undecodable bytes must never kill the task —
                    # a row that can't be hashed can't be deduped,
                    # so it drops out of the hash table
                    continue
                out["media_id"].append(int(mid))
                out["variant"].append(variant)
                out["phash"].append(h)
                out["bands"].append(phash_bands(h))
            # explicit dtypes: a batch whose every row was dropped
            # otherwise yields default-typed empty columns that Arrow
            # cannot convert to the declared list<int> schema
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "variant": pd.Series(out["variant"], dtype=object),
                    "phash": pd.Series(out["phash"], dtype="int64"),
                    "bands": pd.Series(out["bands"], dtype=object),
                }
            )

    return media.mapInPandas(_hash, PHASH_SCHEMA)


# Tier key for the fixture-generated media hash stages: the fixtures
# are pure functions of the builders (sf_dir never enters), so one
# constant key shares each decoded-hash table across media_phash, the
# near-dup join, and media_neardup_eval — the decode+hash mapInPandas
# pass (the only Python in the family) runs once per dataset instead
# of once per consumer, the dedup.py tier lesson applied to media.
_MEDIA_TIER_DIR = "/fixtures/media-neardup"


def _phash_tier(spark) -> DataFrame:
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        _MEDIA_TIER_DIR,
        "image_phashes",
        lambda: image_phashes(synthetic_neardup_images(spark)),
    )


def media_phash(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable pHash query: hash every fixture image and emit
    (media_id, variant, phash). The literal oracle (generated by
    tools/gen_multimodal_oracle.py from the same pure functions) pins
    each 63-bit hash exactly, proving decode → grayscale → DCT →
    threshold reproduces bit-for-bit through the Arrow path.
    ``sf_dir`` unused (fixture-generated media, as for the other
    media_* queries)."""
    del sf_dir
    return (
        _phash_tier(spark)
        .select("media_id", "variant", "phash")
        .orderBy("media_id")
    )


def media_phash_near_dups(spark, sf_dir: str) -> DataFrame:
    """Banded pHash near-dup join — image dedup with NO pairwise pass.

    Plan shape (the minhash_lsh_candidates shape, pixels instead of
    shingles): hash map-side, explode PHASH_BANDS (band_idx, band_val)
    keys per image, ONE shuffle joins on the band key, distinct
    candidate pairs, then the exact hamming check (bit_count of XOR —
    a codegen'd integer expression) keeps pairs ≤ PHASH_HAMMING_MAX.
    Volume is images × bands rows, candidates only where a band
    collides — never all-pairs. At 100 TB the band join partitions by
    (band_idx, band_val) exactly like LSH over text.
    Output: (id_a, id_b, hamming) — every planted re-encode pair,
    no unrelated pair (measured margin 12 vs 22).
    """
    del sf_dir
    return banded_near_dup_pairs(_phash_tier(spark), PHASH_HAMMING_MAX)


# ── audio fingerprint near-dup detection ─────────────────────────────
#
# Audio twin of the pHash family: a 63-bit energy-contour fingerprint
# (frame the samples into 64 windows, take the sign of successive
# log-energy deltas — the Haitsma-Kalker/Shazam-style contour bit)
# is invariant to container/precision changes and robust to lossy
# companding. Measured margins on the fixture: float32 re-encode
# hamming 0, G.711 µ-law and IMA ADPCM ≤ 3; unrelated signals ≥ 22.

AFP_FRAMES = 64
AFP_HAMMING_MAX = 12


def audio_fingerprint64(data: bytes) -> int:
    """Energy-contour fingerprint of a WAV binary. Decode (any
    supported encoding), first channel, split into AFP_FRAMES equal
    frames, float64 frame energies; bit k (MSB-first) is 1 iff
    e[k+1] > e[k]. Delta-signs are amplitude-scale invariant, so
    pcm16/float32/pcm24… re-encodes of the same signal hash
    identically. 63 bits → always a non-negative int64. Pure function
    of the bytes — shared with the oracle generator."""
    arr, _sr = decode_wav(data)
    if arr.ndim > 1:
        arr = arr[:, 0]
    x = arr.astype(np.float64)
    n = (len(x) // AFP_FRAMES) * AFP_FRAMES
    if n == 0:
        raise ValueError("audio too short to fingerprint")
    e = (x[:n].reshape(AFP_FRAMES, -1) ** 2).sum(axis=1)
    out = 0
    for k in range(AFP_FRAMES - 1):
        if e[k + 1] > e[k]:
            out |= 1 << (AFP_FRAMES - 2 - k)
    return out


def _afp_base_signal(i: int, n: int = 2048, sr: int = 8000) -> "np.ndarray":
    """Deterministic AM-modulated sine + noise; distinct i values
    produce contours ≥ 19 hamming apart (measured)."""
    rng = np.random.default_rng(1000 + i)
    t = np.arange(n, dtype=np.float64) / sr
    # an energy-contour hash keys on the ENVELOPE, so envelopes must
    # decorrelate across indices: one independent random amplitude
    # step per analysis frame makes each contour bit a fair coin
    # across signals (smooth sinusoid envelopes left distinct signals
    # within candidate distance of each other — measured)
    f1 = rng.uniform(250.0, 1800.0)
    env = np.repeat(rng.uniform(0.25, 1.0, AFP_FRAMES), n // AFP_FRAMES)
    sig = 14000.0 * env * np.sin(2 * np.pi * f1 * t)
    sig += rng.normal(0, 400, n)
    return np.clip(np.round(sig), -32768, 32767).astype(np.int16)


def synthetic_audio_neardup_rows(n_bases: int = 8) -> list[tuple]:
    """Planted audio near-dup fixture: per base signal a PCM-16
    reference, a float32 re-encode (hamming 0), a G.711 µ-law
    companding and an IMA ADPCM lossy encode (≤3 measured), and an
    unrelated control signal. Rows: (media_id, variant, data)."""
    rows = []
    for i in range(n_bases):
        sig = _afp_base_signal(i)
        rows.append((5 * i, "pcm16", encode_wav(sig, fmt="pcm16")))
        rows.append((5 * i + 1, "float32", encode_wav(sig, fmt="float32")))
        rows.append((5 * i + 2, "ulaw", encode_wav(sig, fmt="ulaw")))
        rows.append(
            (5 * i + 3, "ima_adpcm", encode_wav(sig, fmt="ima_adpcm"))
        )
        rows.append(
            (
                5 * i + 4,
                "unrelated",
                encode_wav(_afp_base_signal(n_bases + i), fmt="pcm16"),
            )
        )
    return rows


def synthetic_audio_neardup(spark) -> DataFrame:
    return local_frame(
        spark,
        synthetic_audio_neardup_rows(),
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("variant", StringType(), False),
                StructField("data", BinaryType(), False),
            ]
        ),
    ).repartition(8, "media_id")


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """mapInPandas fingerprint stage — the audio image_phashes:
    decode + contour-hash per row, PHASH-style bands attached
    map-side; undecodable rows drop (robustness contract)."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "variant": [], "phash": [], "bands": []}
            for mid, variant, data in zip(
                pdf["media_id"], pdf["variant"], pdf["data"]
            ):
                try:
                    h = audio_fingerprint64(bytes(data))
                except (NotImplementedError, ValueError):
                    continue
                out["media_id"].append(int(mid))
                out["variant"].append(variant)
                out["phash"].append(h)
                out["bands"].append(phash_bands(h))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "variant": pd.Series(out["variant"], dtype=object),
                    "phash": pd.Series(out["phash"], dtype="int64"),
                    "bands": pd.Series(out["bands"], dtype=object),
                }
            )

    return media.mapInPandas(_hash, PHASH_SCHEMA)


def banded_near_dup_pairs(
    hashes: DataFrame, hamming_max: int
) -> DataFrame:
    """Shared banded-LSH candidate join + exact hamming verify over a
    (media_id, phash, bands) frame — the plan both media_phash_near_
    dups and media_audio_near_dups run: posexplode band keys, ONE
    shuffle on (band_idx, band_val), distinct pairs, codegen'd
    bit_count(xor) filter. Never all-pairs."""
    bands = hashes.select(
        "media_id",
        "phash",
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .orderBy("id_a", "id_b")
    )


def _afp_tier(spark) -> DataFrame:
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        _MEDIA_TIER_DIR,
        "audio_fingerprints",
        lambda: audio_fingerprints(synthetic_audio_neardup(spark)),
    )


def media_audio_fingerprint(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable audio-fingerprint query (the audio
    media_phash): hash every fixture clip and emit (media_id,
    variant, phash); literal oracle pins each 63-bit contour.
    ``sf_dir`` unused (fixture-generated audio)."""
    del sf_dir
    return (
        _afp_tier(spark)
        .select("media_id", "variant", "phash")
        .orderBy("media_id")
    )


def media_audio_near_dups(spark, sf_dir: str) -> DataFrame:
    """Banded audio near-dup join — finds every planted re-encode
    (float32/µ-law/ADPCM of the same signal) with no unrelated pair;
    same plan as media_phash_near_dups via banded_near_dup_pairs.
    ``sf_dir`` unused."""
    del sf_dir
    return banded_near_dup_pairs(_afp_tier(spark), AFP_HAMMING_MAX)


# ── animation (video-level) near-dup detection ───────────────────────
#
# Frame-level extension of the pHash family to the formats whose
# frame sampling is real (GIF89a + APNG): sample each animation on
# the time grid, pHash every sampled canvas, and band the FRAME
# hashes — two animations are near-dups when enough sampled frames
# match. Because the sampler re-encodes composited canvases
# losslessly, a GIF and an APNG of the SAME frames hash identically
# frame-for-frame: cross-FORMAT video dedup with no pixel tolerance
# needed, while the hamming threshold still absorbs lossy variants.

ANIM_MIN_MATCHED = 2  # sampled frames that must match to pair


def _anim_frames(i: int, seed: int, n_frames: int = 4) -> list:
    """Deterministic palette-drawn frames (GIF-encodable by
    construction: ≤64 colors) with fully random content per frame —
    distinct frames land ~31 hamming apart."""
    rng = np.random.default_rng(seed + i)
    palette = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    return [
        palette[rng.integers(0, 64, size=(48, 64), dtype=np.int64)]
        for _ in range(n_frames)
    ]


def synthetic_animation_neardup_rows(n_bases: int = 4) -> list[tuple]:
    """Planted animation near-dup fixture, per base: a GIF, an APNG
    of the SAME frames (full-match twin across formats), a GIF with
    one frame swapped for unrelated content (partial match), and an
    entirely unrelated animation. Rows: (media_id, variant, data)."""
    rows = []
    for i in range(n_bases):
        frames = _anim_frames(i, 2000)
        rows.append(
            (4 * i, "gif", encode_gif_animation(frames, delays_ms=100))
        )
        rows.append((4 * i + 1, "apng", encode_apng(frames, delays_ms=100)))
        partial = list(frames)
        partial[2] = _anim_frames(i, 4000)[0]
        rows.append(
            (
                4 * i + 2,
                "gif_one_frame_off",
                encode_gif_animation(partial, delays_ms=100),
            )
        )
        rows.append(
            (
                4 * i + 3,
                "unrelated",
                encode_gif_animation(
                    _anim_frames(n_bases + i, 3000), delays_ms=100
                ),
            )
        )
    return rows


ANIM_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("variant", StringType(), False),
        StructField("frame_ts", LongType(), False),
        StructField("phash", LongType(), False),
        StructField("bands", ArrayType(IntegerType()), False),
    ]
)


def synthetic_animation_neardup(spark) -> DataFrame:
    return local_frame(
        spark,
        synthetic_animation_neardup_rows(),
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("variant", StringType(), False),
                StructField("data", BinaryType(), False),
            ]
        ),
    ).repartition(8, "media_id")


def animation_phashes(media: DataFrame) -> DataFrame:
    """mapInPandas stage: sample each animation's time grid (real
    GIF/APNG compositing) and pHash every sampled canvas — one output
    row per (media_id, tick). Undecodable rows drop (robustness
    contract)."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "variant": [],
                "frame_ts": [],
                "phash": [],
                "bands": [],
            }
            for mid, variant, data in zip(
                pdf["media_id"], pdf["variant"], pdf["data"]
            ):
                try:
                    samples = animation_frame_samples(bytes(data))
                    hashes = [
                        (ts, phash64(decode_png(png))) for ts, png in samples
                    ]
                except (NotImplementedError, ValueError):
                    continue
                for ts, h in hashes:
                    out["media_id"].append(int(mid))
                    out["variant"].append(variant)
                    out["frame_ts"].append(int(ts))
                    out["phash"].append(h)
                    out["bands"].append(phash_bands(h))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "variant": pd.Series(out["variant"], dtype=object),
                    "frame_ts": pd.Series(out["frame_ts"], dtype="int64"),
                    "phash": pd.Series(out["phash"], dtype="int64"),
                    "bands": pd.Series(out["bands"], dtype=object),
                }
            )

    return media.mapInPandas(_hash, ANIM_PHASH_SCHEMA)


def _anim_tier(spark) -> DataFrame:
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        _MEDIA_TIER_DIR,
        "animation_phashes",
        lambda: animation_phashes(synthetic_animation_neardup(spark)),
    )


def media_animation_signatures(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable animation-signature query: sample + hash every
    fixture animation; the literal oracle pins each (media_id,
    frame_ts, phash) row, proving the full decode → composite →
    sample → re-encode → pHash chain. ``sf_dir`` unused."""
    del sf_dir
    return (
        _anim_tier(spark)
        .select("media_id", "variant", "frame_ts", "phash")
        .orderBy("media_id", "frame_ts")
    )


def media_animation_near_dups(spark, sf_dir: str) -> DataFrame:
    """Frame-banded animation near-dup join: band keys from every
    sampled frame's pHash, ONE shuffle on (band_idx, band_val),
    candidate frame pairs verified by the codegen hamming check, then
    pairs scored by DISTINCT matched sample ticks — ≥ ANIM_MIN_MATCHED
    frames ⇒ the animations are duplicates. Any-tick matching, so a
    re-timed duplicate still pairs. Never all-pairs at any stage;
    volume is animations × ticks × bands.
    Output: (id_a, id_b, n_frames_matched). Every GIF↔APNG twin
    matches on all 4 ticks, the one-frame-off variant on 3, unrelated
    animations never pair. ``sf_dir`` unused."""
    del sf_dir
    frames = _anim_tier(spark)
    bands = frames.select(
        "media_id",
        "frame_ts",
        "phash",
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.frame_ts").alias("ts_a"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    matched = cand.filter(
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        <= PHASH_HAMMING_MAX
    )
    return (
        matched.groupBy("id_a", "id_b")
        .agg(
            F.countDistinct("ts_a").cast("bigint").alias("n_frames_matched")
        )
        .filter(F.col("n_frames_matched") >= ANIM_MIN_MATCHED)
        .orderBy("id_a", "id_b")
    )


# ── EXIF privacy audit (geotag detection + scrub) ────────────────────
#
# The media twin of pii_audit: camera JPEGs carry GPS coordinates in
# the EXIF APP1 segment — direct location PII that dataset releases
# strip (and an orientation tag the pixels need before stripping).
# The audit parses both; the scrub column proves strip_jpeg_exif
# removes every APP1 while leaving the entropy data byte-identical.


def synthetic_exif_rows() -> list[tuple]:
    """Planted EXIF fixture: plain JPEG, orientation-only EXIF,
    geotagged rows across all four hemisphere ref combinations, a
    non-JPEG control, and a corrupt row. (media_id, data)."""
    from parquet_extractor_spark.functions.jpeg import build_jpeg_exif

    def jpg(i: int) -> bytes:
        return encode_jpeg(
            _neardup_base_pixels(i), quality=90, subsample=False
        )

    return [
        (0, jpg(0)),  # no EXIF at all
        (1, build_jpeg_exif(jpg(1), orientation=6)),  # rotation only
        (2, build_jpeg_exif(jpg(2), gps=(48.8584, 2.2945))),  # N/E
        (3, build_jpeg_exif(jpg(3), gps=(-33.8568, 151.2153))),  # S/E
        (4, build_jpeg_exif(jpg(4), gps=(37.4220, -122.0841))),  # N/W
        (
            5,
            build_jpeg_exif(
                jpg(5), orientation=3, gps=(-12.3456, -45.6789)
            ),
        ),  # S/W + rotation
        (6, encode_png(_neardup_base_pixels(6))),  # non-JPEG control
        (7, b"\xff\xd8\xff\xe1\x00\x04ab"),  # corrupt
    ]


EXIF_AUDIT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("has_gps", BooleanType(), False),
        StructField("lat_micro", LongType(), True),
        StructField("lon_micro", LongType(), True),
        StructField("orientation", LongType(), False),
        StructField("scrub_clean", BooleanType(), False),
    ]
)


def media_exif_gps_audit(spark, sf_dir: str) -> DataFrame:
    """Oracle-pairable EXIF privacy audit: per fixture row, whether a
    GPS geotag is present (coordinates in integer micro-degrees when
    so), the orientation tag, and whether the APP1 scrub verifiably
    removes all EXIF while keeping the decoded pixels identical.
    All map-side Arrow work; the literal oracle pins every row.
    ``sf_dir`` unused (fixture-generated, as for the other media_*
    queries)."""
    del sf_dir
    from parquet_extractor_spark.functions.jpeg import (
        decode_jpeg,
        is_jpeg,
        jpeg_exif_gps,
        jpeg_exif_orientation,
        strip_jpeg_exif,
    )

    rows = local_frame(
        spark,
        synthetic_exif_rows(),
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("data", BinaryType(), False),
            ]
        ),
    ).repartition(4, "media_id")

    def _audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "has_gps": [],
                "lat_micro": [],
                "lon_micro": [],
                "orientation": [],
                "scrub_clean": [],
            }
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                data = bytes(data)
                gps = jpeg_exif_gps(data) if is_jpeg(data) else None
                orientation = (
                    jpeg_exif_orientation(data) if is_jpeg(data) else 1
                )
                clean = False
                if is_jpeg(data):
                    try:
                        scrubbed = strip_jpeg_exif(data)
                        clean = (
                            jpeg_exif_gps(scrubbed) is None
                            and jpeg_exif_orientation(scrubbed) == 1
                            and np.array_equal(
                                # compare STORED pixels: decode of the
                                # scrub must equal the unrotated frame
                                decode_jpeg(scrubbed),
                                _apply_no_orientation(data),
                            )
                        )
                    except (ValueError, NotImplementedError):
                        clean = False
                out["media_id"].append(int(mid))
                out["has_gps"].append(gps is not None)
                out["lat_micro"].append(
                    None if gps is None else int(round(gps[0] * 1e6))
                )
                out["lon_micro"].append(
                    None if gps is None else int(round(gps[1] * 1e6))
                )
                out["orientation"].append(int(orientation))
                out["scrub_clean"].append(bool(clean))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "has_gps": pd.Series(out["has_gps"], dtype=bool),
                    "lat_micro": pd.Series(
                        out["lat_micro"], dtype="object"
                    ),
                    "lon_micro": pd.Series(
                        out["lon_micro"], dtype="object"
                    ),
                    "orientation": pd.Series(
                        out["orientation"], dtype="int64"
                    ),
                    "scrub_clean": pd.Series(out["scrub_clean"], dtype=bool),
                }
            )

    return rows.mapInPandas(_audit, EXIF_AUDIT_SCHEMA).orderBy("media_id")


def _apply_no_orientation(data: bytes) -> "np.ndarray":
    """Decode ignoring the orientation tag (the stored frame), for
    comparing against the decode of a scrubbed stream."""
    from parquet_extractor_spark.functions.jpeg import (
        _decode_jpeg_inner,
    )

    return _decode_jpeg_inner(data)


# ── media near-dup evaluation (trust-before-delete) ──────────────────


def _planted_pairs(family: str) -> list[tuple[int, int]]:
    """Ground-truth duplicate pairs implied by each fixture's
    structure — the labels the near-dup joins are graded against."""
    if family == "image":
        return [
            (4 * i + a, 4 * i + b)
            for i in range(8)
            for a in range(3)
            for b in range(a + 1, 3)
        ]
    if family == "audio":
        return [
            (5 * i + a, 5 * i + b)
            for i in range(8)
            for a in range(4)
            for b in range(a + 1, 4)
        ]
    if family == "animation":
        return [
            (4 * i + a, 4 * i + b)
            for i in range(4)
            for a in range(3)
            for b in range(a + 1, 3)
        ]
    raise ValueError(family)


def media_neardup_eval(spark, sf_dir: str) -> DataFrame:
    """Precision/recall of every media near-dup family against its
    planted ground truth — the lsh_quality_eval of the media side
    (trust-before-delete: never deploy a dedup join whose recall you
    have not measured). One row per family; candidate pairs come
    from the same banded joins the dedup queries ship, ground truth
    from the fixture structure (broadcast, O(1)).
    Output: (family, n_pairs, n_planted, true_positives, precision,
    recall). ``sf_dir`` unused."""
    del sf_dir
    fams = [
        ("animation", media_animation_near_dups),
        ("audio", media_audio_near_dups),
        ("image", media_phash_near_dups),
    ]
    reports = []
    for name, fn in fams:
        # materialize (r13; the r12 multi-reference pattern): the
        # candidate-pair frame feeds the pair count AND the
        # true-positive semi-join — unmaterialized, each family's
        # banded dedup pipeline ran twice. Fixture-bounded rows.
        pairs = materialize(fn(spark, "unused").select("id_a", "id_b"))
        truth = local_frame(
            spark,
            _planted_pairs(name), "id_a long, id_b long"
        )
        tp = pairs.join(F.broadcast(truth), ["id_a", "id_b"], "leftsemi")
        reports.append(
            pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
            .crossJoin(tp.agg(F.count(F.lit(1)).alias("true_positives")))
            .select(
                F.lit(name).alias("family"),
                F.col("n_pairs").cast("bigint").alias("n_pairs"),
                F.lit(len(_planted_pairs(name)))
                .cast("bigint")
                .alias("n_planted"),
                F.col("true_positives").cast("bigint").alias(
                    "true_positives"
                ),
                F.round(
                    F.col("true_positives") / F.col("n_pairs"), 6
                ).alias("precision"),
                F.round(
                    F.col("true_positives") / F.lit(len(_planted_pairs(name))),
                    6,
                ).alias("recall"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("family")
