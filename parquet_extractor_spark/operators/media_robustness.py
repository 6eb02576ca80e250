"""Driver-gated malformed-media tolerance probes.

The media tier's per-row error tolerance (SURVEY §2 O4 applied to
binary columns) rests on one contract: every executor-side decoder
fails ONLY through ValueError (corrupt stream) or NotImplementedError
(declared codec boundary) — the two classes the PERMISSIVE
mapInPandas wrappers convert to null/error rows — or returns None
(unrecognized container). The r12 adversarial sweep (COVERAGE.md)
found and fixed three escapes from that contract (WebM NaN Duration,
undersized ADPCM blocks, APNG struct.error on truncated CRC); this
query turns the contract into a DRIVER-checkable table so a
regression shows up as a red CORRECTNESS row, not just a local
pytest failure.

Each probe row feeds a deliberately malformed (but deterministic)
byte stream through the REAL decoder via Arrow mapInPandas and
classifies the outcome:

  parsed       the parser accepted the stream (possibly with absent
               fields — e.g. a NaN Duration parses with
               duration_ms=None); ``detail`` pins the hand-derived
               salvage
  rejected     ValueError — corrupt stream, PERMISSIVE row upstream
  unsupported  NotImplementedError — declared codec boundary
  unrecognized the container probe returned None

Any OTHER exception propagates and kills the query — that is the
point: an undeclared leak (IndexError, struct.error, ZeroDivision)
turns this row red in the driver gate. The oracle is a literal
VALUES table (the media_known_answers pattern), independent of
``functions/*``.

Reference parity note: the reference repo (DorinR/parquet-extractor)
has no media decoding; this guards the LLM-pipeline multimodal
extension surface (SURVEY.md §2 extensions, O4 error-tolerance row).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from parquet_extractor_spark.sources.tables import local_frame


def _wav_bytes(
    tag: int,
    ch: int,
    rate: int,
    align: int,
    bits: int,
    extra: bytes = b"",
    fact: int | None = None,
    data: bytes = b"\x00" * 32,
) -> bytes:
    fmt = struct.pack(
        "<HHIIHH", tag, ch, rate, rate * align, align, bits
    ) + extra
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return (
        b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    )


def _webm_duration_bytes(val: float) -> bytes:
    from parquet_extractor_spark.functions.webm import (
        DOCTYPE,
        DURATION,
        EBML_HEADER,
        INFO,
        SEGMENT,
        TIMECODE_SCALE,
        _el,
        _el_uint,
    )

    hdr = _el(EBML_HEADER, _el(DOCTYPE, b"webm"))
    info = _el(
        INFO,
        _el_uint(TIMECODE_SCALE, 1_000_000)
        + _el(DURATION, struct.pack(">d", val)),
    )
    return hdr + _el(SEGMENT, info)


def _build_probes() -> list[tuple[int, str, bytes]]:
    """Deterministic malformed streams. Builders are imported lazily
    (executor-side pattern); truncation offsets are fixed literals so
    the streams are stable across rounds."""
    import numpy as np

    from parquet_extractor_spark.functions.gif import encode_gif
    from parquet_extractor_spark.functions.jpeg import encode_jpeg
    from parquet_extractor_spark.functions.mp4 import build_mp4
    from parquet_extractor_spark.functions.png import encode_png
    from parquet_extractor_spark.operators import (
        media_known_answers_deep as D,
    )

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    mp4 = build_mp4(
        media_timescale=600,
        stts_entries=[(3, 100)],
        ctts_entries=[(3, 10)],
    )
    return [
        # the three r12 bug classes, as regression tripwires
        (1, "webm_nan_duration", _webm_duration_bytes(float("nan"))),
        (2, "webm_negative_duration", _webm_duration_bytes(-5.0)),
        (3, "wav_ima_block_too_small",
         _wav_bytes(0x11, 1, 8000, 0, 4, struct.pack("<HH", 2, 9),
                    fact=8)),
        (4, "wav_ms_block_too_small",
         _wav_bytes(0x02, 2, 8000, 1, 4, struct.pack("<HH", 2, 8),
                    fact=8)),
        (5, "apng_truncated", D.build_apng_over_probe()[:40]),
        # declared boundaries and generic corruption, one per family
        (6, "wav_gsm_codec",
         _wav_bytes(0x31, 1, 8000, 65, 0, fact=8)),
        (7, "png_truncated", encode_png(arr, 1)[:20]),
        (8, "jpeg_truncated", encode_jpeg(arr, quality=60)[:30]),
        (9, "gif_truncated", encode_gif(arr)[:20]),
        (10, "tiff_truncated_ifd", D.build_bigtiff_probe()[:24]),
        (11, "mp3_bad_sync", b"\xff\x00garbage"),
        (12, "mp4_truncated_moov", mp4[:40]),
    ]


# Hand-reasoned expectations (module docstring): parsed rows pin the
# salvage detail; everything else pins the outcome class alone.
_EXPECTED: list[tuple[int, str, str, str]] = [
    (1, "webm_nan_duration", "parsed", "duration_ms=None;n_tracks=0"),
    (2, "webm_negative_duration", "parsed",
     "duration_ms=None;n_tracks=0"),
    (3, "wav_ima_block_too_small", "rejected", ""),
    (4, "wav_ms_block_too_small", "rejected", ""),
    (5, "apng_truncated", "rejected", ""),
    (6, "wav_gsm_codec", "unsupported", ""),
    (7, "png_truncated", "rejected", ""),
    (8, "jpeg_truncated", "rejected", ""),
    (9, "gif_truncated", "rejected", ""),
    (10, "tiff_truncated_ifd", "rejected", ""),
    (11, "mp3_bad_sync", "unrecognized", ""),
    (12, "mp4_truncated_moov", "parsed",
     "duration_ms=None;n_tracks=0"),
]


def _classify(name: str, data: bytes) -> tuple[str, str]:
    """Run the real decoder for one probe; outcome classification is
    EXACTLY the PERMISSIVE wrappers' catch set — nothing broader."""
    def run():
        if name.startswith("webm"):
            from parquet_extractor_spark.functions.webm import (
                parse_webm_metadata,
            )

            return parse_webm_metadata(data)
        if name.startswith("wav"):
            from parquet_extractor_spark.functions.wav import decode_wav

            return decode_wav(data)
        if name.startswith("apng"):
            from parquet_extractor_spark.functions.apng import (
                decode_apng_frames,
            )

            return decode_apng_frames(data)
        if name.startswith("png"):
            from parquet_extractor_spark.functions.png import decode_png

            return decode_png(data)
        if name.startswith("jpeg"):
            from parquet_extractor_spark.functions.jpeg import (
                decode_jpeg,
            )

            return decode_jpeg(data)
        if name.startswith("gif"):
            from parquet_extractor_spark.functions.gif import decode_gif

            return decode_gif(data)
        if name.startswith("tiff"):
            from parquet_extractor_spark.functions.tiff import (
                decode_tiff,
            )

            return decode_tiff(data)
        if name.startswith("mp3"):
            from parquet_extractor_spark.functions.mp3 import (
                parse_mp3_metadata,
            )

            return parse_mp3_metadata(data)
        if name.startswith("mp4"):
            from parquet_extractor_spark.functions.mp4 import (
                parse_mp4_metadata,
            )

            return parse_mp4_metadata(data)
        raise AssertionError(f"unknown probe family {name}")

    try:
        got = run()
    except ValueError:
        return "rejected", ""
    except NotImplementedError:
        return "unsupported", ""
    # anything else propagates: an undeclared leak must go RED
    if got is None:
        return "unrecognized", ""
    if isinstance(got, dict):
        return (
            "parsed",
            f"duration_ms={got.get('duration_ms')};"
            f"n_tracks={got.get('n_tracks')}",
        )
    return "parsed", ""


def media_malformed_probes(spark, sf_dir: str) -> DataFrame:
    """Driver-gate query: classify every planted malformed stream
    through the real decode tier (Arrow mapInPandas) and report
    (probe_id, name, outcome, detail) against hand-written
    expectations. ``sf_dir`` unused: planted probes.

    Scale shape: a 12-row planted frame through one mapInPandas
    stage — identical to the known-answer ladder; the corpus path it
    guards is the PERMISSIVE binary-column decode."""
    del sf_dir
    schema = StructType(
        [
            StructField("probe_id", LongType(), False),
            StructField("name", StringType(), False),
            StructField("data", BinaryType(), False),
        ]
    )
    df = local_frame(spark, _build_probes(), schema)

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, name, data in zip(
                pdf["probe_id"], pdf["name"], pdf["data"]
            ):
                outcome, detail = _classify(name, bytes(data))
                out.append((int(pid), name, outcome, detail))
            yield pd.DataFrame(
                out, columns=["probe_id", "name", "outcome", "detail"]
            )

    out_schema = (
        "probe_id bigint, name string, outcome string, detail string"
    )
    return df.mapInPandas(_run, schema=out_schema).orderBy("probe_id")


MEDIA_MALFORMED_PROBES_SQL = (
    "SELECT CAST(probe_id AS BIGINT) AS probe_id, name, outcome,\n"
    "       detail\n"
    "FROM (VALUES\n    "
    + ",\n    ".join(
        f"({pid}, '{name}', '{outcome}', '{detail}')"
        for pid, name, outcome, detail in _EXPECTED
    )
    + "\n) AS t(probe_id, name, outcome, detail)\n"
    "ORDER BY probe_id"
)
