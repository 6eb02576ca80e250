"""Spec-derived known-answer probes for the media decoders.

The media_* oracles are SNAPSHOT-style: tools/gen_multimodal_oracle.py
runs the same in-repo codecs the queries run, so a codec bug present
at generation time is baked into both sides (COVERAGE.md "Oracle
provenance"; carried ADVICE item since r06). This module closes that
gap with a driver-checked query whose expected rows are HAND-DERIVED
from the format specifications and never touch ``functions/*``:

* each probe's byte stream is constructed here with struct/zlib only,
  every field annotated with the spec clause it comes from;
* each probe's EXPECTED decoded output is a hand-written literal
  (pixel values derived on paper — PNG filter arithmetic from RFC
  2083 §6, GIF LZW codes hand-packed per GIF89a Appendix F, JPEG
  DC-only IDCT from T.81 §A.3.3, PackBits from TIFF 6.0 §9, PCM from
  RFC 2361), NOT the output of any codec;
* the oracle VALUES are generated from those EXPECTED literals at
  import time (md5 of the expected bytes — stdlib, codec-free).

Corrupting any decoder therefore breaks a literal driver-gate row,
not just a regenerated snapshot. The probes intentionally overlap the
snapshot fixtures' codec families (PNG filters, GIF LZW — sequential
AND interlaced, BMP layout, baseline JPEG entropy+IDCT, TIFF strip
compressions, WAV PCM and G.711 companding).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from parquet_extractor_spark.sources.tables import local_frame


def _md5_int(b: bytes) -> int:
    return int(hashlib.md5(b).hexdigest()[:15], 16)


# ── PNG: one row per filter type 0-4 (RFC 2083 §6.2-6.6) ────────────
#
# 3x5 RGB8. Raw pixel rows (the EXPECTED decode) were chosen first;
# the filtered bytes below are derived BY HAND from them:
#   row0 None : filtered == raw
#   row1 Sub  : filt[x] = raw[x] - raw[x-3]
#               (5,5,5)(10,10,10)(20,20,20) -> 555 555 10,10,10
#   row2 Up   : filt[x] = raw[x] - prev[x]
#               (6,6,6)(11,11,11)(21,21,21) -> all 1s
#   row3 Avg  : filt[x] = raw[x] - floor((left+up)/2)
#               (8,8,8): up=6 left=0 -> 8-3=5
#               (12,12,12): up=11 left=8 -> floor(19/2)=9 -> 3
#               (30,30,30): up=21 left=12 -> floor(33/2)=16 -> 14
#   row4 Paeth: predictor per §6.6 (a=left, b=up, c=upleft)
#               (9,9,9):  a=0 b=8 c=0  -> p=8  pb=0 -> pred=b -> 1
#               (13,13,13): a=9 b=12 c=8 -> p=13 pb=1 -> pred=b -> 1
#               (33,33,33): a=13 b=30 c=12 -> p=31 pb=1 -> pred=b -> 3

PNG_EXPECTED = np.array(
    [
        [[10, 20, 30], [40, 50, 60], [70, 80, 90]],
        [[5, 5, 5], [10, 10, 10], [20, 20, 20]],
        [[6, 6, 6], [11, 11, 11], [21, 21, 21]],
        [[8, 8, 8], [12, 12, 12], [30, 30, 30]],
        [[9, 9, 9], [13, 13, 13], [33, 33, 33]],
    ],
    dtype=np.uint8,
)

_PNG_FILTERED_ROWS = [
    bytes([0, 10, 20, 30, 40, 50, 60, 70, 80, 90]),
    bytes([1, 5, 5, 5, 5, 5, 5, 10, 10, 10]),
    bytes([2, 1, 1, 1, 1, 1, 1, 1, 1, 1]),
    bytes([3, 5, 5, 5, 3, 3, 3, 14, 14, 14]),
    bytes([4, 1, 1, 1, 1, 1, 1, 3, 3, 3]),
]


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def build_png_probe() -> bytes:
    ihdr = struct.pack(">IIBBBBB", 3, 5, 8, 2, 0, 0, 0)  # RGB8
    idat = zlib.compress(b"".join(_PNG_FILTERED_ROWS))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


# ── GIF: hand-packed LZW stream (GIF89a Appendix F) ─────────────────
#
# 4x1, 4-entry palette, pixel indices [0, 1, 1, 0].
# min code size 2 -> clear=4, eoi=5, first dynamic=6, width starts 3.
# Width schedule: the giflib convention — the code width bumps only
# AFTER dictionary entry 2^width is added (entry 8 for width 3), so
# the decoder (which lags the encoder by one entry) stays in sync.
# Encoder walk (hand-derived):
#   emit Clear(4);            cur=[0]
#   [0,1] new -> emit 0@3, add #6, cur=[1]
#   [1,1] new -> emit 1@3, add #7, cur=[1]
#   [1,0] new -> emit 1@3, add #8 -> width=4, cur=[0]
#   end       -> emit 0@4; emit EOI 5@4
# LSB-first packing: bytes 0x44 0x02 0x05.

GIF_PALETTE = [(0, 0, 0), (255, 255, 255), (9, 9, 9), (200, 100, 50)]
GIF_EXPECTED = np.array(
    [[[0, 0, 0], [255, 255, 255], [255, 255, 255], [0, 0, 0]]],
    dtype=np.uint8,
)


def build_gif_probe() -> bytes:
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 4, 1, 0x91, 0, 0)  # GCT, 4 entries
    for rgb in GIF_PALETTE:
        out += bytes(rgb)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 1, 0)
    out += bytes([2])  # LZW min code size
    out += bytes([3, 0x44, 0x02, 0x05])  # one 3-byte sub-block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


# ── BMP: bottom-up BGR rows padded to 4 bytes (BITMAPINFOHEADER) ────

BMP_EXPECTED = np.array(
    [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 0]]],
    dtype=np.uint8,
)


def build_bmp_probe() -> bytes:
    # stored rows: bottom first, BGR, 2px*3B + 2 pad
    rows = (
        bytes([255, 0, 0]) + bytes([0, 255, 255]) + b"\x00\x00"  # blue,yellow
        + bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"  # red,green
    )
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows),
                       2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(rows), 0, 0, 54)
    return header + info + rows


# ── TIFF: uncompressed and PackBits strips (TIFF 6.0 §9) ────────────
#
# 3x2 8-bit grayscale, little-endian classic TIFF, one strip.
# PackBits hand-encoding of [7,7,7,9,10,11]:
#   run of three 7s  -> control 0xFE (-2: repeat next byte 3x), 0x07
#   literal 9,10,11  -> control 0x02 (copy next 3 literally), 9,10,11

# decode_tiff replicates grayscale to 3 channels (the pipeline's
# uniform-RGB convention); spec sample values per pixel: 7 7 7 / 9 10 11
TIFF_EXPECTED = np.repeat(
    np.array([[7, 7, 7], [9, 10, 11]], dtype=np.uint8)[:, :, None], 3, axis=2
)
_TIFF_RAW = bytes([7, 7, 7, 9, 10, 11])
_TIFF_PACKBITS = bytes([0xFE, 0x07, 0x02, 0x09, 0x0A, 0x0B])


def _build_tiff(
    strip: bytes, compression: int, predictor: int | None = None
) -> bytes:
    # header + one IFD with the baseline tags, strip appended after
    entries = []

    def tag(t, typ, count, value):
        entries.append(struct.pack("<HHI4s", t, typ, count, value))

    n = 10 + (1 if predictor is not None else 0)
    ifd_off = 8
    strip_off = ifd_off + 2 + n * 12 + 4
    short = lambda v: struct.pack("<HH", v, 0)  # noqa: E731
    long_ = lambda v: struct.pack("<I", v)  # noqa: E731
    tag(256, 3, 1, short(3))            # ImageWidth
    tag(257, 3, 1, short(2))            # ImageLength
    tag(258, 3, 1, short(8))            # BitsPerSample
    tag(259, 3, 1, short(compression))  # Compression
    tag(262, 3, 1, short(1))            # Photometric: BlackIsZero
    tag(273, 4, 1, long_(strip_off))    # StripOffsets
    tag(277, 3, 1, short(1))            # SamplesPerPixel
    tag(278, 3, 1, short(2))            # RowsPerStrip
    tag(279, 4, 1, long_(len(strip)))   # StripByteCounts
    tag(284, 3, 1, short(1))            # PlanarConfig: chunky
    if predictor is not None:
        tag(317, 3, 1, short(predictor))  # Predictor
    ifd = struct.pack("<H", n) + b"".join(entries) + struct.pack("<I", 0)
    return b"II*\x00" + struct.pack("<I", ifd_off) + ifd + strip


def build_tiff_raw_probe() -> bytes:
    return _build_tiff(_TIFF_RAW, 1)


def build_tiff_packbits_probe() -> bytes:
    return _build_tiff(_TIFF_PACKBITS, 32773)


# TIFF LZW (compression 5, TIFF 6.0 §13): MSB-first 9-bit codes,
# Clear=256, EOI=257. Hand encoder walk over [7,7,7,9,10,11]:
#   Clear(256); [7,7] new -> emit 7, add #258; then [7,7] hits #258
#   with the 3rd 7 pending -> on 9: emit 258 (the decoder's KwKwK
#   case: its table has only 257 entries when 258 arrives), add #259;
#   [9,10] new -> emit 9, add #260; [10,11] new -> emit 10, add #261;
#   end -> emit 11; EOI(257). All @9 bits (early-change bump is at
#   table size 510, never reached). MSB-first packing of
#   256,7,258,9,10,11,257 -> bytes 80 01 E0 40 90 50 2E 02.
_TIFF_LZW = bytes([0x80, 0x01, 0xE0, 0x40, 0x90, 0x50, 0x2E, 0x02])

# TIFF Predictor 2 (tag 317, horizontal differencing): stored bytes
# are per-row left-deltas of the raw samples —
#   [7,7,7]   -> [7,0,0]
#   [9,10,11] -> [9,1,1]
_TIFF_PRED2 = bytes([7, 0, 0, 9, 1, 1])


def build_tiff_lzw_probe() -> bytes:
    return _build_tiff(_TIFF_LZW, 5)


def build_tiff_predictor2_probe() -> bytes:
    return _build_tiff(_TIFF_PRED2, 1, predictor=2)


# ── WAV: PCM16 + PCM8 (RFC 2361 / RIFF spec) ────────────────────────
#
# decode_wav returns int16 for both; PCM8 is unsigned-biased and
# scales to int16 as (byte-128)<<8 — spec arithmetic, hand-applied:
#   bytes [0, 128, 255] -> [-32768, 0, 32512]

WAV_PCM16_EXPECTED = np.array([-32768, -1, 0, 1, 32767], dtype=np.int16)
WAV_PCM8_EXPECTED = np.array([-32768, 0, 32512], dtype=np.int16)


def _build_wav(fmt: int, bits: int, payload: bytes, rate: int = 8000) -> bytes:
    block = max(1, bits // 8)
    fmt_chunk = struct.pack("<HHIIHH", fmt, 1, rate, rate * block, block, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_wav_pcm16_probe() -> bytes:
    return _build_wav(1, 16, WAV_PCM16_EXPECTED.tobytes())


def build_wav_pcm8_probe() -> bytes:
    return _build_wav(1, 8, bytes([0, 128, 255]))


# ── WAV: G.711 µ-law / A-law (ITU-T G.711 decode arithmetic) ────────
#
# Expected samples hand-derived from the spec formulas (the decoder's
# 14/13-bit CCITT scale), NOT from the in-repo tables:
#   µ-law: u = ~c; t = (((u&0x0F)<<3)+0x84) << ((u&0x70)>>4);
#          result = 0x84-t if u&0x80 else t-0x84
#     c=0xFF -> u=0x00 -> t=132        -> +0
#     c=0x7F -> u=0x80 -> t=132, sign  -> 0   (negative zero)
#     c=0x00 -> u=0xFF -> t=32256,sign -> -32124
#     c=0x80 -> u=0x7F -> t=32256      -> +32124
#   A-law: a = c^0x55; t=(a&0x0F)<<4; seg=(a&0x70)>>4;
#          seg0: t+=8; seg1: t+=0x108; else (t+0x108)<<(seg-1);
#          positive iff a&0x80
#     c=0x55 -> a=0x00 -> 8,  neg -> -8
#     c=0xD5 -> a=0x80 -> 8,  pos -> +8
#     c=0x2A -> a=0x7F -> 32256, neg -> -32256
#     c=0xAA -> a=0xFF -> 32256, pos -> +32256
#     c=0xD4 -> a=0x81 -> 16+8=24, pos -> +24

WAV_ULAW_CODES = bytes([0xFF, 0x7F, 0x00, 0x80])
WAV_ULAW_EXPECTED = np.array([0, 0, -32124, 32124], dtype=np.int16)
WAV_ALAW_CODES = bytes([0x55, 0xD5, 0x2A, 0xAA, 0xD4])
WAV_ALAW_EXPECTED = np.array([-8, 8, -32256, 32256, 24], dtype=np.int16)


def build_wav_ulaw_probe() -> bytes:
    return _build_wav(7, 8, WAV_ULAW_CODES)  # WAVE_FORMAT_MULAW


def build_wav_alaw_probe() -> bytes:
    return _build_wav(6, 8, WAV_ALAW_CODES)  # WAVE_FORMAT_ALAW


# ── GIF: interlaced image (GIF89a Appendix E four-pass layout) ──────
#
# 1x8, same 4-entry palette. DISPLAY rows top-to-bottom use palette
# indices [0,1,2,3,0,1,2,3]; the STORED (interlaced) row order is
# pass1 row0, pass2 row4, pass3 rows 2,6, pass4 rows 1,3,5,7, i.e.
# stored indices [0,0,2,2,1,3,1,3]. Hand LZW (mcs 2, clear=4, eoi=5;
# giflib width schedule — bump only after entry 2^width is added):
#   Clear(4)@3; [0,0] new -> 0@3 add#6; [0,2] new -> 0@3 add#7;
#   [2,2] new -> 2@3 add#8 -> width 4; [2,1] new -> 2@4 add#9;
#   [1,3] new -> 1@4 add#10; [3,1] new -> 3@4 add#11;
#   [1,3] hits #10 -> 10@4; EOI 5@4.
#   LSB-first packing -> bytes 04 24 31 5A.

GIF_INTERLACED_EXPECTED = np.array(
    [[GIF_PALETTE[i]] for i in (0, 1, 2, 3, 0, 1, 2, 3)], dtype=np.uint8
)


def build_gif_interlaced_probe() -> bytes:
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 1, 8, 0x91, 0, 0)
    for rgb in GIF_PALETTE:
        out += bytes(rgb)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 8, 0x40)  # interlaced
    out += bytes([2])
    out += bytes([4, 0x04, 0x24, 0x31, 0x5A])
    out += b"\x00\x3b"
    return bytes(out)


# ── JPEG: DC-only grayscale blocks (ITU-T T.81 §A.3.3, Annex K) ─────
#
# Two 8x8 blocks (16x8 image), flat quant table q=16, Annex K
# luminance Huffman tables. A DC-only block IDCTs to the flat value
#   pixel = round(DC * q / 8) + 128          (all cosines are zero)
# Block 1: DC diff = +16 (category 5, bits 10000) -> 16*16/8 = 32
#          -> every pixel 160.
# Block 2: DC diff = -8 (category 4, bits 0111: one's complement of
#          +8's 1000) -> cumulative DC = 8 -> 8*16/8 = 16 -> 144.
# Entropy bits per block: DC cat code + value bits, then AC EOB.
#   Annex K DC canonical codes: cat5='110', cat4='101';
#   Annex K AC EOB (run 0, size 0) = '1010'.
#   Block1: 110 10000 1010   Block2: 101 0111 1010 -> 23 bits,
#   padded with 1s: 11010000 10101010 11110101 11111111
#                 = 0xD0 0xAA 0xF5 0xFF; the 0xFF pad byte must be
#   stuffed as FF 00 per §B.1.1.5.

JPEG_EXPECTED = np.zeros((8, 16, 3), dtype=np.uint8)
JPEG_EXPECTED[:, :8, :] = 160
JPEG_EXPECTED[:, 8:, :] = 144

# Annex K Table K.3 (luminance DC) / K.5 (luminance AC) spec constants
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def build_jpeg_probe() -> bytes:
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, bytes([0x00]) + bytes([16] * 64))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, 8, 16, 1)
              + bytes([1, 0x11, 0]))
    dht_dc = seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    dht_ac = seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # hand-packed entropy bytes (derivation in the module comment);
    # the 0xFF pad byte is stuffed per T.81 B.1.1.5
    entropy = bytes([0xD0, 0xAA, 0xF5, 0xFF, 0x00])
    return (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + entropy
        + b"\xff\xd9"
    )


# ── probe registry: (id, name, stream, expected canonical bytes) ────


def _canon_image(arr: np.ndarray) -> bytes:
    return arr.astype(np.uint8).tobytes()


PROBES: list[tuple[int, str, bytes, bytes, tuple[int, ...]]] = [
    (1, "png_filters_rfc2083", build_png_probe(),
     _canon_image(PNG_EXPECTED), PNG_EXPECTED.shape),
    (2, "gif_lzw_appendix_f", build_gif_probe(),
     _canon_image(GIF_EXPECTED), GIF_EXPECTED.shape),
    (3, "bmp_bottomup_bgr", build_bmp_probe(),
     _canon_image(BMP_EXPECTED), BMP_EXPECTED.shape),
    (4, "tiff_strip_raw", build_tiff_raw_probe(),
     _canon_image(TIFF_EXPECTED), TIFF_EXPECTED.shape),
    (5, "tiff_strip_packbits", build_tiff_packbits_probe(),
     _canon_image(TIFF_EXPECTED), TIFF_EXPECTED.shape),
    (6, "jpeg_dc_only_t81", build_jpeg_probe(),
     _canon_image(JPEG_EXPECTED), JPEG_EXPECTED.shape),
    (7, "wav_pcm16_riff", build_wav_pcm16_probe(),
     WAV_PCM16_EXPECTED.tobytes(), (5,)),
    (8, "wav_pcm8_riff", build_wav_pcm8_probe(),
     WAV_PCM8_EXPECTED.tobytes(), (3,)),
    (9, "wav_ulaw_g711", build_wav_ulaw_probe(),
     WAV_ULAW_EXPECTED.tobytes(), (4,)),
    (10, "wav_alaw_g711", build_wav_alaw_probe(),
     WAV_ALAW_EXPECTED.tobytes(), (5,)),
    (11, "gif_interlaced_appendix_e", build_gif_interlaced_probe(),
     _canon_image(GIF_INTERLACED_EXPECTED), GIF_INTERLACED_EXPECTED.shape),
    (12, "tiff_strip_lzw", build_tiff_lzw_probe(),
     _canon_image(TIFF_EXPECTED), TIFF_EXPECTED.shape),
    (13, "tiff_predictor2", build_tiff_predictor2_probe(),
     _canon_image(TIFF_EXPECTED), TIFF_EXPECTED.shape),
]


def _decode_canonical(name: str, data: bytes) -> tuple[bytes, tuple]:
    """Run the real in-repo decoder for one probe and return its
    canonical bytes + shape. Imports stay inside the executor-side
    function (the media pipeline pattern)."""
    if name.startswith("png"):
        from parquet_extractor_spark.functions.png import decode_png

        arr = decode_png(data)
    elif name.startswith("gif"):
        from parquet_extractor_spark.functions.gif import decode_gif

        arr = decode_gif(data)
    elif name.startswith("bmp"):
        from parquet_extractor_spark.functions.bmp import decode_bmp

        arr = decode_bmp(data)
    elif name.startswith("tiff"):
        from parquet_extractor_spark.functions.tiff import decode_tiff

        arr = decode_tiff(data)
    elif name.startswith("jpeg"):
        from parquet_extractor_spark.functions.jpeg import decode_jpeg

        arr = decode_jpeg(data)
    elif name.startswith("wav"):
        from parquet_extractor_spark.functions.wav import decode_wav

        arr, _rate = decode_wav(data)
    else:  # pragma: no cover - registry is closed
        raise ValueError(f"unknown probe family {name}")
    arr = np.asarray(arr)
    if arr.dtype == np.uint8:
        return arr.tobytes(), arr.shape
    return arr.astype("<i2").tobytes(), arr.shape


def media_known_answer_probes(spark, sf_dir: str) -> DataFrame:
    """Driver-gate query: decode every hand-built probe stream through
    the REAL decoders via the media pipeline's Arrow mapInPandas
    plumbing and report (digest, n_bytes, shape) of the decoded
    output. The oracle pins the HAND-DERIVED expectation for each row
    (module docstring), so this is the one media query whose oracle is
    independent of ``functions/*``. ``sf_dir`` unused: planted
    probes."""
    del sf_dir
    schema = StructType(
        [
            StructField("probe_id", LongType(), False),
            StructField("name", StringType(), False),
            StructField("data", BinaryType(), False),
        ]
    )
    rows = [(pid, name, data) for pid, name, data, _, _ in PROBES]
    df = local_frame(spark, rows, schema)

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, name, data in zip(
                pdf["probe_id"], pdf["name"], pdf["data"]
            ):
                canon, shape = _decode_canonical(name, bytes(data))
                out.append(
                    (
                        int(pid),
                        name,
                        len(canon),
                        _md5_int(canon),
                        "x".join(str(s) for s in shape),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "probe_id", "name", "n_bytes", "decoded_md5", "shape",
                ],
            )

    out_schema = (
        "probe_id bigint, name string, n_bytes bigint, "
        "decoded_md5 bigint, shape string"
    )
    return df.mapInPandas(_run, schema=out_schema).orderBy("probe_id")


def _expected_rows() -> list[tuple[int, str, int, int, str]]:
    rows = []
    for pid, name, _data, canon, shape in PROBES:
        rows.append(
            (
                pid,
                name,
                len(canon),
                _md5_int(canon),
                "x".join(str(s) for s in shape),
            )
        )
    return rows


MEDIA_KNOWN_ANSWER_PROBES_SQL = (
    "SELECT CAST(probe_id AS BIGINT) AS probe_id, name,\n"
    "       CAST(n_bytes AS BIGINT) AS n_bytes,\n"
    "       CAST(decoded_md5 AS BIGINT) AS decoded_md5, shape\n"
    "FROM (VALUES\n    "
    + ",\n    ".join(
        f"({pid}, '{name}', {n}, {digest}, '{shape}')"
        for pid, name, n, digest, shape in _expected_rows()
    )
    + "\n) AS t(probe_id, name, n_bytes, decoded_md5, shape)\n"
    "ORDER BY probe_id"
)
