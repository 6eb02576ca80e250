"""WebM/Matroska container-METADATA parser: EBML walk, no decode.

The EBML sibling of functions/mp4.py (same codec-boundary decision):
duration, track layout, and display size live in the Segment's Info
and Tracks elements, whose encoding is public spec (RFC 8794 EBML +
the Matroska/WebM element registry). VP8/VP9/AV1 frame decode stays
out — see mp4.decode_video_frames for the boundary statement.

``build_webm`` synthesizes spec-valid EBML trees with no Clusters —
NOT playable, but byte-exact container structure for fixtures and the
literal oracle.
"""

from __future__ import annotations

import struct

# Element IDs (class bytes as they appear on the wire)
EBML_HEADER = b"\x1a\x45\xdf\xa3"
DOCTYPE = b"\x42\x82"
SEGMENT = b"\x18\x53\x80\x67"
INFO = b"\x15\x49\xa9\x66"
TIMECODE_SCALE = b"\x2a\xd7\xb1"
DURATION = b"\x44\x89"
TRACKS = b"\x16\x54\xae\x6b"
TRACK_ENTRY = b"\xae"
TRACK_TYPE = b"\x83"
VIDEO = b"\xe0"
PIXEL_WIDTH = b"\xb0"
PIXEL_HEIGHT = b"\xba"
AUDIO = b"\xe1"
CHANNELS = b"\x9f"

MAX_ELEMENTS = 256  # bounded walk: headers precede cluster payloads


def is_webm(data: bytes | None) -> bool:
    return bool(data) and data[:4] == EBML_HEADER


def _read_vint(data: bytes, off: int, keep_marker: bool):
    """(value, next_off) for one variable-length int; None at EOF or
    on a malformed length descriptor."""
    if off >= len(data):
        return None
    first = data[off]
    if first == 0:
        return None
    length = 9 - first.bit_length()  # leading zeros + 1
    if off + length > len(data):
        return None
    value = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        value = (value << 8) | data[off + i]
    return value, off + length


def _read_id(data: bytes, off: int):
    """(id_bytes, next_off) — IDs keep their marker bit on the wire."""
    if off >= len(data):
        return None
    first = data[off]
    if first == 0:
        return None
    length = 9 - first.bit_length()
    if length > 4 or off + length > len(data):
        return None
    return data[off:off + length], off + length


def _walk(data: bytes, start: int, end: int):
    """Yield (id_bytes, body_start, body_end) for elements in
    [start, end); tolerant of truncation and unknown-size (all-ones)
    lengths (treated as to-end-of-scope)."""
    off = start
    n = 0
    while off < end and n < MAX_ELEMENTS:
        got = _read_id(data, off)
        if got is None:
            return
        eid, off2 = got
        got = _read_vint(data, off2, keep_marker=False)
        if got is None:
            return
        size, body = got
        max_size = (1 << (7 * (body - off2))) - 1
        body_end = end if size == max_size else min(body + size, end)
        yield eid, body, body_end
        off = body_end
        n += 1


def _uint(data: bytes, start: int, end: int) -> int:
    v = 0
    for b in data[start:end]:
        v = (v << 8) | b
    return v


def _float(data: bytes, start: int, end: int) -> float | None:
    n = end - start
    if n == 4:
        return struct.unpack(">f", data[start:end])[0]
    if n == 8:
        return struct.unpack(">d", data[start:end])[0]
    return None


def parse_webm_metadata(data: bytes | None) -> dict | None:
    """Container metadata from the EBML tree, or None when the bytes
    are not EBML. Same key set as mp4.parse_mp4_metadata with
    container='webm' and brand=DocType."""
    if not is_webm(data):
        return None
    doc_type = None
    timecode_scale_ns = 1_000_000  # Matroska default
    duration_ticks = None
    n_tracks = 0
    width = height = None
    has_video = has_audio = False
    for eid, body, bend in _walk(data, 0, len(data)):
        if eid == EBML_HEADER:
            for e2, b2, e2end in _walk(data, body, bend):
                if e2 == DOCTYPE:
                    doc_type = data[b2:e2end].decode("latin-1")
        elif eid == SEGMENT:
            for e2, b2, e2end in _walk(data, body, bend):
                if e2 == INFO:
                    for e3, b3, e3end in _walk(data, b2, e2end):
                        if e3 == TIMECODE_SCALE:
                            timecode_scale_ns = _uint(data, b3, e3end)
                        elif e3 == DURATION:
                            duration_ticks = _float(data, b3, e3end)
                elif e2 == TRACKS:
                    for e3, b3, e3end in _walk(data, b2, e2end):
                        if e3 != TRACK_ENTRY:
                            continue
                        n_tracks += 1
                        ttype = None
                        wh = None
                        for e4, b4, e4end in _walk(data, b3, e3end):
                            if e4 == TRACK_TYPE:
                                ttype = _uint(data, b4, e4end)
                            elif e4 == VIDEO:
                                w = h = None
                                for e5, b5, e5end in _walk(
                                    data, b4, e4end
                                ):
                                    if e5 == PIXEL_WIDTH:
                                        w = _uint(data, b5, e5end)
                                    elif e5 == PIXEL_HEIGHT:
                                        h = _uint(data, b5, e5end)
                                if w and h:
                                    wh = (w, h)
                        if ttype == 1:
                            has_video = True
                            if wh and (width is None or wh[0] > width):
                                width, height = wh
                        elif ttype == 2:
                            has_audio = True
    duration_ms = None
    if duration_ticks is not None and timecode_scale_ns:
        import math

        # Malformed Duration floats must not kill the executor task
        # (int(NaN) raises) or overflow the LongType column downstream
        # (a garbage f64 can be 1e300): the spec's Duration is a
        # non-negative finite float, so anything else parses as
        # absent. Found by the r12 garbage-fuzz property test. A
        # finite Duration times the TimecodeScale can still overflow
        # to inf (inf // 1e6 is NaN), so the product is checked too.
        if math.isfinite(duration_ticks) and duration_ticks >= 0:
            ms = duration_ticks * timecode_scale_ns // 1_000_000
            if math.isfinite(ms) and ms <= 2 ** 63 - 1:
                duration_ms = int(ms)
    return {
        "container": "webm",
        "brand": doc_type,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
        "has_video": has_video,
        "has_audio": has_audio,
    }


# ── fixture builder ─────────────────────────────────────────────────


def _size_vint(n: int) -> bytes:
    """Minimal-length EBML size encoding (marker bit in the first
    byte)."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:  # all-ones is reserved
            out = n | (1 << (7 * length))
            return out.to_bytes(length, "big")
    raise ValueError("size too large")


def _el(eid: bytes, payload: bytes) -> bytes:
    return eid + _size_vint(len(payload)) + payload


def _el_uint(eid: bytes, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _el(eid, v.to_bytes(n, "big"))


def build_webm(
    doc_type: str = "webm",
    timecode_scale_ns: int = 1_000_000,
    duration_ticks: float = 4000.0,
    video_size: tuple[int, int] | None = (1280, 720),
    audio_channels: int | None = 2,
) -> bytes:
    """Spec-valid minimal WebM: EBML header + Segment(Info, Tracks)."""
    header = _el(EBML_HEADER, _el(DOCTYPE, doc_type.encode("latin-1")))
    info = _el(
        INFO,
        _el_uint(TIMECODE_SCALE, timecode_scale_ns)
        + _el(DURATION, struct.pack(">d", duration_ticks)),
    )
    entries = b""
    if video_size is not None:
        entries += _el(
            TRACK_ENTRY,
            _el_uint(TRACK_TYPE, 1)
            + _el(
                VIDEO,
                _el_uint(PIXEL_WIDTH, video_size[0])
                + _el_uint(PIXEL_HEIGHT, video_size[1]),
            ),
        )
    if audio_channels is not None:
        entries += _el(
            TRACK_ENTRY,
            _el_uint(TRACK_TYPE, 2)
            + _el(AUDIO, _el_uint(CHANNELS, audio_channels)),
        )
    segment = _el(SEGMENT, info + _el(TRACKS, entries))
    return header + segment
