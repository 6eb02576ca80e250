"""Property-based tests (hypothesis) for the pure-Python kernels.

These run executor-side inside mapInPandas (the PNG codec), where a
crash kills a task, or in the driver's file-sink loop (the PDF
writer), where a crash fails the row, so they get adversarial inputs
rather than just the fixtures: the PNG codec, the PDF writer, and the
portable sample-key arithmetic (checked against DuckDB as the second
engine — the pure-Python big-int evaluation is the ground truth both
engines must hit).
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from parquet_extractor_spark.functions.png import (
    decode_png,
    encode_png,
    resize_nearest,
)
from parquet_extractor_spark.operators.extract import (
    KNUTH,
    MOD,
    sample_key_sql,
)
from parquet_extractor_spark.sinks.pdfwriter import render_pdf


@st.composite
def png_arrays(draw):
    h = draw(st.integers(1, 8))
    w = draw(st.integers(1, 8))
    c = draw(st.sampled_from([1, 2, 3, 4]))
    data = draw(
        st.binary(min_size=h * w * c, max_size=h * w * c)
    )
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, c)


@settings(max_examples=60, deadline=None)
@given(arr=png_arrays(), ftype=st.integers(0, 4))
def test_png_roundtrip_property(arr, ftype):
    assert np.array_equal(decode_png(encode_png(arr, ftype)), arr)


@settings(max_examples=40, deadline=None)
@given(
    arr=png_arrays(),
    width=st.integers(1, 12),
    height=st.integers(1, 12),
)
def test_resize_nearest_property(arr, width, height):
    out = resize_nearest(arr, width, height)
    assert out.shape == (height, width, arr.shape[2])
    # every output pixel exists somewhere in the source
    flat_src = {tuple(px) for row in arr for px in row}
    assert all(tuple(px) in flat_src for row in out for px in row)


# latin-1-encodable text including the PDF string specials
_pdf_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255),
    max_size=300,
)


@settings(max_examples=40, deadline=None)
@given(title=_pdf_text, doc_id=_pdf_text, content=_pdf_text)
def test_pdf_structure_property(title, doc_id, content):
    data = render_pdf(title, doc_id, [content])
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")
    xref_at = int(
        data.rstrip().rsplit(b"startxref", 1)[1].split(b"%%EOF")[0]
    )
    assert data[xref_at : xref_at + 4] == b"xref"
    n_objs = int(data[xref_at:].split(b"\n", 2)[1].split()[1])
    entries = data[xref_at:].split(b"\n")[2 : 2 + n_objs]
    for i, entry in enumerate(entries[1:], start=1):
        off = int(entry.split()[0])
        assert data[off:].startswith(f"{i} 0 obj".encode())
    # every stream's declared length is exact (escaping never desyncs)
    import re

    for m in re.finditer(rb"<< /Length (\d+) >>\nstream\n", data):
        ln = int(m.group(1))
        assert data[m.end() + ln : m.end() + ln + 10] == b"\nendstream"


def _sample_key_ref(doc_id: int, seed: int = 42) -> int:
    """Ground truth in Python arbitrary-precision ints."""
    return ((doc_id + seed) * KNUTH) % MOD


@settings(max_examples=80, deadline=None)
@given(doc_id=st.integers(0, 2**62 - 1))
def test_sample_key_sql_matches_bigint_math(doc_id):
    """The overflow-safe split-multiply SQL must equal the naive
    formula evaluated in arbitrary precision, for ANY id DuckDB can
    hold — this is the contract Spark's test pins at its end."""
    import duckdb

    expr = sample_key_sql("doc_id")
    (got,) = duckdb.execute(
        f"SELECT {expr} FROM (SELECT CAST(? AS BIGINT) AS doc_id)",
        [doc_id],
    ).fetchone()
    assert got == _sample_key_ref(doc_id)


def test_approx_percentile_within_bound_of_exact(spark, sf_small):
    """The 100 TB path of doc_length_quantiles swaps exact percentile
    for percentile_approx; pin the accuracy contract that swap relies
    on (t-digest with accuracy=1000 → rank error ≤ 1/1000 ≈ a few
    chars here)."""
    from pyspark.sql import functions as F

    from parquet_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    row = docs.agg(
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.9)).alias("exact"),
        F.percentile_approx("n_chars", F.lit(0.9), F.lit(1000)).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= max(0.02 * row.exact, 5.0)


@st.composite
def jpeg_arrays(draw):
    h = draw(st.integers(1, 24))
    w = draw(st.integers(1, 24))
    data = draw(st.binary(min_size=h * w * 3, max_size=h * w * 3))
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


@settings(max_examples=30, deadline=None)
@given(
    arr=jpeg_arrays(),
    quality=st.sampled_from([30, 60, 90]),
    subsample=st.booleans(),
    restart=st.sampled_from([0, 2]),
)
def test_jpeg_roundtrip_property(arr, quality, subsample, restart):
    """Structural invariants over arbitrary dims/content/layouts: the
    stream parses back to the source shape with no exception, encoding
    is deterministic, and a flat image reconstructs near-exactly (the
    lossy-codec analogue of exact round-trip)."""
    from parquet_extractor_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        is_jpeg,
    )

    data = encode_jpeg(
        arr, quality=quality, subsample=subsample, restart_interval=restart
    )
    assert is_jpeg(data) and data.endswith(b"\xff\xd9")
    assert data == encode_jpeg(
        arr, quality=quality, subsample=subsample, restart_interval=restart
    )
    dec = decode_jpeg(data)
    assert dec.shape == arr.shape and dec.dtype == np.uint8

    flat = np.full_like(arr, int(arr.mean()))
    dec_flat = decode_jpeg(encode_jpeg(flat, quality=quality, subsample=subsample))
    assert np.abs(dec_flat.astype(int) - flat.astype(int)).max() <= 2


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 400),
    stereo=st.booleans(),
    sr=st.sampled_from([8000, 16000, 44100]),
    data=st.data(),
)
def test_wav_roundtrip_property(n, stereo, sr, data):
    """PCM-16 WAV encode/decode is exact for arbitrary sample content,
    lengths, channel counts, and rates."""
    from parquet_extractor_spark.functions.wav import decode_wav, encode_wav

    raw = data.draw(
        st.binary(min_size=n * 2 * (2 if stereo else 1),
                  max_size=n * 2 * (2 if stereo else 1))
    )
    samples = np.frombuffer(raw, dtype=np.int16)
    if stereo:
        samples = samples.reshape(n, 2)
    out, got_sr = decode_wav(encode_wav(samples, sr))
    assert got_sr == sr
    assert np.array_equal(out, samples)


@st.composite
def gif_arrays(draw):
    h = draw(st.integers(1, 24))
    w = draw(st.integers(1, 24))
    ncol = draw(st.integers(1, 256))
    pal_bytes = draw(st.binary(min_size=ncol * 3, max_size=ncol * 3))
    pal = np.unique(
        np.frombuffer(pal_bytes, dtype=np.uint8).reshape(ncol, 3), axis=0
    )
    idx = draw(
        st.lists(
            st.integers(0, len(pal) - 1), min_size=h * w, max_size=h * w
        )
    )
    return pal[np.asarray(idx, dtype=np.int64)].reshape(h, w, 3)


@settings(max_examples=30, deadline=None)
@given(arr=gif_arrays())
def test_gif_roundtrip_property(arr):
    """GIF LZW encode/decode is exact for arbitrary dims and any
    palette up to the format's 256-color bound; encoding is
    deterministic."""
    from parquet_extractor_spark.functions.gif import (
        decode_gif,
        encode_gif,
        is_gif,
    )

    data = encode_gif(arr)
    assert is_gif(data) and data.endswith(b"\x3b")
    assert data == encode_gif(arr)
    assert np.array_equal(decode_gif(data), arr)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    data=st.data(),
)
def test_bmp_roundtrip_property(h, w, data):
    """24-bit BMP encode/decode is exact for arbitrary dims/content
    (row padding covered by non-multiple-of-4 widths)."""
    from parquet_extractor_spark.functions.bmp import (
        decode_bmp,
        encode_bmp,
        is_bmp,
    )

    raw = data.draw(st.binary(min_size=h * w * 3, max_size=h * w * 3))
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    out = encode_bmp(arr)
    assert is_bmp(out)
    assert np.array_equal(decode_bmp(out), arr)


# ── MP3 frame-header parser: build→parse roundtrip ──────────────────

_MP3_VALID = [
    # (version, layer, sample_rates)
    ("1", 1, (44100, 48000, 32000)),
    ("1", 2, (44100, 48000, 32000)),
    ("1", 3, (44100, 48000, 32000)),
    ("2", 1, (22050, 24000, 16000)),
    ("2", 2, (22050, 24000, 16000)),
    ("2", 3, (22050, 24000, 16000)),
    ("2.5", 1, (11025, 12000, 8000)),
    ("2.5", 2, (11025, 12000, 8000)),
    ("2.5", 3, (11025, 12000, 8000)),
]


@settings(max_examples=80, deadline=None)
@given(
    combo=st.integers(0, len(_MP3_VALID) - 1),
    sr_idx=st.integers(0, 2),
    br_idx=st.integers(1, 14),
    n_frames=st.integers(1, 24),
    mono=st.booleans(),
    tag=st.binary(min_size=0, max_size=64),
)
def test_mp3_build_parse_roundtrip(combo, sr_idx, br_idx, n_frames, mono, tag):
    """Any spec-valid (version, layer, bitrate, sample-rate, channel,
    ID3) combination survives build→parse with every header field
    recovered exactly and the ISO duration formula honored."""
    from parquet_extractor_spark.functions.mp3 import (
        _BITRATES,
        build_mp3_stream,
        parse_mp3_metadata,
    )

    version, layer, srs = _MP3_VALID[combo]
    family = "1" if version == "1" else "2"
    bitrate = _BITRATES[(family, layer)][br_idx - 1]
    sr = srs[sr_idx]
    data = build_mp3_stream(
        n_frames,
        version=version,
        layer=layer,
        bitrate_kbps=bitrate,
        sample_rate=sr,
        mono=mono,
        id3_payload=tag,
    )
    m = parse_mp3_metadata(data)
    assert m is not None
    assert m["version"] == version
    assert m["layer"] == layer
    assert m["sample_rate"] == sr
    assert m["bitrate_kbps"] == bitrate
    assert m["channels"] == (1 if mono else 2)
    assert m["n_frames"] == n_frames
    assert m["vbr"] is False
    spf = 384 if layer == 1 else (
        1152 if layer == 2 or version == "1" else 576
    )
    assert m["duration_ms"] == n_frames * spf * 1000 // sr


@given(st.binary(max_size=512))
@settings(max_examples=200, deadline=None)
def test_container_parsers_never_raise_on_arbitrary_bytes(data):
    """A corrupt media row must never kill a mapInPandas task: the
    MP4 box walk and WebM EBML walk return a dict or None for ANY
    byte string, never raise (r06 parsers)."""
    from parquet_extractor_spark.functions.mp4 import parse_mp4_metadata
    from parquet_extractor_spark.functions.webm import parse_webm_metadata

    for parse in (parse_mp4_metadata, parse_webm_metadata):
        out = parse(data)
        assert out is None or isinstance(out, dict)


@given(st.integers(0, 10_000), st.data())
@settings(max_examples=60, deadline=None)
def test_container_parsers_survive_truncation_and_mutation(cut, d):
    """Truncating or flipping bytes of a VALID container degrades to
    a partial parse or None — never an exception (the failure mode a
    100 TB scan actually hits: torn uploads, bit rot)."""
    from parquet_extractor_spark.functions.mp4 import (
        build_mp4,
        parse_mp4_metadata,
    )
    from parquet_extractor_spark.functions.webm import (
        build_webm,
        parse_webm_metadata,
    )

    for build, parse in (
        (build_mp4, parse_mp4_metadata),
        (build_webm, parse_webm_metadata),
    ):
        whole = bytearray(build())
        trunc = bytes(whole[: cut % (len(whole) + 1)])
        out = parse(trunc)
        assert out is None or isinstance(out, dict)
        pos = d.draw(st.integers(0, len(whole) - 1))
        whole[pos] ^= 0xFF
        out = parse(bytes(whole))
        assert out is None or isinstance(out, dict)


@settings(max_examples=25, deadline=None)
@given(
    arr=jpeg_arrays(),
    rps=st.sampled_from([4, 8, 64]),
    endian=st.sampled_from(["le", "be"]),
)
def test_tiff_oldstyle_jpeg_property(arr, rps, endian):
    """Arbitrary dims/content/strip heights/byte orders: the old-style
    §22 strip file decodes to pixels byte-identical to the new-style
    TTN2 file of the same array (same per-strip entropy data, only
    container layout differs), and encoding is deterministic."""
    from parquet_extractor_spark.functions.tiff import (
        TIFF_COMPRESSION_JPEG,
        build_tiff_image,
        build_tiff_oldstyle_jpeg,
        decode_tiff,
        is_tiff,
    )

    old = build_tiff_oldstyle_jpeg(arr, endian=endian, rows_per_strip=rps)
    assert is_tiff(old)
    assert old == build_tiff_oldstyle_jpeg(
        arr, endian=endian, rows_per_strip=rps
    )
    new = build_tiff_image(
        arr,
        endian=endian,
        compression=TIFF_COMPRESSION_JPEG,
        rows_per_strip=rps,
    )
    d_old = decode_tiff(old)
    assert d_old.shape == arr.shape and d_old.dtype == np.uint8
    assert np.array_equal(d_old, decode_tiff(new))


@settings(max_examples=120, deadline=None)
@given(
    ns=st.lists(st.integers(0, 256), max_size=60),
    carried_fill=st.integers(0, 256),
    carried_bin=st.integers(1, 5),
)
def test_nosplit_fold_property(ns, carried_fill, carried_bin):
    """Invariants of the shared no-split greedy fold over arbitrary
    length sequences and carried (bin, fill) state: no bin exceeds
    the budget, bin ids never decrease or skip, every bin break is
    justified (the doc would have overflowed), and composing two
    folds through the carried state equals one fold over the
    concatenation — the exact property the streaming packer's
    cross-batch correctness rests on."""
    from parquet_extractor_spark.operators.training import (
        SEQ_BUDGET,
        nosplit_fold,
    )

    bins, end_bin, end_fill = nosplit_fold(
        ns, bin_id=carried_bin, fill=carried_fill
    )
    fills: dict[int, int] = {carried_bin: carried_fill}
    prev = carried_bin
    for b, n in zip(bins, ns):
        assert b in (prev, prev + 1)  # never decreases, never skips
        if b != prev:
            # the break was necessary: the doc did not fit
            assert fills[prev] + n > SEQ_BUDGET and fills[prev] > 0
        fills[b] = fills.get(b, 0) + n
        prev = b
    # every bin's fill respects the budget (the carried bin may only
    # exceed it if the CARRIED fill alone already did, which the
    # strategy can't generate: carried_fill <= 256 = SEQ_BUDGET)
    assert all(v <= SEQ_BUDGET for v in fills.values())
    assert end_bin == prev and end_fill == fills[prev]
    # composition: split anywhere, fold twice through the state
    for cut in (0, len(ns) // 2, len(ns)):
        b1, mid_bin, mid_fill = nosplit_fold(
            ns[:cut], bin_id=carried_bin, fill=carried_fill
        )
        b2, e_bin, e_fill = nosplit_fold(
            ns[cut:], bin_id=mid_bin, fill=mid_fill
        )
        assert list(b1) + list(b2) == list(bins)
        assert (e_bin, e_fill) == (end_bin, end_fill)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.text(
            # printable-ish Latin-1 plus the PDF string specials and
            # whitespace escapes — the writer emits latin-1 with
            # backslash escaping for ( ) \
            st.characters(min_codepoint=9, max_codepoint=255),
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_pdf_text_roundtrips_through_writer_and_extractor(chunks):
    """Any text the PDF writer can render comes back from the PDF
    extractor with only line-wrapping differences: whitespace-collapse
    equality between input and extracted output. Exercises the escape
    forms (\\( \\) \\\\), balanced parens, and pagination together."""
    import re

    from parquet_extractor_spark.sinks.pdfwriter import render_pdf
    from parquet_extractor_spark.sources.pdf import extract_pdf_text

    title = chunks[0]
    body_chunks = chunks[1:] or [""]
    data = render_pdf(title, "p1", body_chunks)
    n_pages, text = extract_pdf_text(data)
    assert n_pages >= 1

    def ws(s: str) -> str:
        # the writer renders latin-1 with 'replace', so normalize the
        # input the same way before comparing
        s = s.encode("latin-1", "replace").decode("latin-1")
        return re.sub(r"\s+", " ", s).strip()

    expected = ws(" ".join([title, "Document ID: p1", *body_chunks]))
    assert ws(text) == expected


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=400))
def test_pdf_extractor_never_hangs_or_crashes_on_garbage(data):
    """Arbitrary bytes (with and without a %PDF- header grafted on)
    must either extract or raise ValueError — never crash with an
    unexpected exception type and never loop. This is the PERMISSIVE
    contract's foundation: at corpus scale the error column absorbs
    whatever a crawl drags in."""
    from parquet_extractor_spark.sources.pdf import extract_pdf_text

    for payload in (data, b"%PDF-1.4\n" + data):
        try:
            n_pages, text = extract_pdf_text(payload)
            assert n_pages >= 1 and isinstance(text, str)
        except ValueError:
            pass  # the declared failure mode — anything else is a bug


@settings(max_examples=200, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet="abc d,.", min_size=1, max_size=14),
        min_size=2,
        max_size=14,
    )
)
def test_prefix_filter_candidates_superset_of_matches(names):
    """The prefix-filter lemma as implemented in operators/entities.py
    (frequency-ascending global gram order, p = n - ceil(t*n - eps) + 1):
    for ANY record set, every pair with trigram Jaccard >= t must share
    at least one PREFIX gram — i.e. the candidate join is a superset of
    the true matches. A tiny alphabet forces heavy gram collisions and
    near-threshold pairs; this is the pure-Python mirror of the exact
    column expressions (same ceil, same epsilon, same micro rounding),
    protecting the algebra the DuckDB-equality test can only check on
    the fixed fixture."""
    import math
    import re
    from collections import Counter
    from itertools import combinations

    T, T_MICRO, EPS = 0.45, 450_000, 1e-9

    def norm(name: str) -> str:
        toks = sorted(
            t for t in re.sub(r"[^\w\s]", " ", name.lower()).split() if t
        )
        return " ".join(toks)

    def grams(s: str) -> frozenset:
        if len(s) <= 3:
            return frozenset({s})
        return frozenset(s[i:i + 3] for i in range(len(s) - 2))

    recs = {i: grams(norm(n)) for i, n in enumerate(names)}
    df = Counter(g for gs in recs.values() for g in gs)
    prefixes = {}
    for i, gs in recs.items():
        n = len(gs)
        p = n - math.ceil(T * n - EPS) + 1
        prefixes[i] = set(sorted(gs, key=lambda g: (df[g], g))[:p])
    for a, b in combinations(recs, 2):
        inter = len(recs[a] & recs[b])
        union = len(recs[a] | recs[b])
        jacc_micro = math.floor(inter * 1_000_000.0 / union)
        if jacc_micro >= T_MICRO:
            assert prefixes[a] & prefixes[b], (
                f"match ({names[a]!r}, {names[b]!r}) j={jacc_micro} "
                f"missed by prefix filter"
            )


# ── formula properties for the r09 statistics operators ─────────────
# The Spark and DuckDB implementations are equality-tested against
# each other by the oracle gate; these pin the FORMULAS themselves
# against their naive definitions on adversarial inputs (exact
# rational arithmetic — no float tolerance).


@settings(max_examples=80, deadline=None)
@given(
    a=st.lists(st.integers(0, 30), min_size=1, max_size=25),
    b=st.lists(st.integers(0, 30), min_size=1, max_size=25),
)
def test_mannwhitney_histogram_formula_property(a, b):
    """The histogram form used by source_length_mannwhitney
    (2U = Σ_x c_a(x)·(2·below_b(x) + c_b(x))) must equal the naive
    pairwise definition including half-counted ties."""
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    support = sorted(set(ca) | set(cb))
    below_b = 0
    u2_hist = 0
    for x in support:
        u2_hist += ca.get(x, 0) * (2 * below_b + cb.get(x, 0))
        below_b += cb.get(x, 0)
    u2_naive = sum(
        2 if x > y else (1 if x == y else 0) for x in a for y in b
    )
    assert u2_hist == u2_naive
    # complement identity: U_a + U_b = n_a · n_b
    u2_b = sum(2 if y > x else (1 if x == y else 0) for x in a for y in b)
    assert u2_hist + u2_b == 2 * len(a) * len(b)


@settings(max_examples=80, deadline=None)
@given(xs=st.lists(st.integers(0, 10_000), min_size=1, max_size=40))
def test_gini_rank_formula_property(xs):
    """customer_revenue_gini's rank formula must equal the
    mean-absolute-difference definition G = Σ|xi−xj| / (2n·Σx),
    exactly (Fractions), whenever Σx > 0."""
    from fractions import Fraction

    if sum(xs) == 0:
        return
    n = len(xs)
    s = sorted(xs)
    rank_form = Fraction(
        2 * sum((i + 1) * x for i, x in enumerate(s)) - (n + 1) * sum(s),
        n * sum(s),
    )
    mad_form = Fraction(
        sum(abs(x - y) for x in xs for y in xs), 2 * n * sum(xs)
    )
    assert rank_form == mad_form


@settings(max_examples=60, deadline=None)
@given(
    seq=st.lists(st.sampled_from("abc"), min_size=3, max_size=60),
)
def test_trigram_lift_marginal_property(seq):
    """event_trigram_lift derives all marginals from the trigram
    matrix; the implied conditionals must be proper distributions:
    Σ_c P(c|ab) = 1 and Σ_c P(c|b) = 1 over trigram-supported mass
    (exact Fractions)."""
    from collections import Counter
    from fractions import Fraction

    tri = Counter(zip(seq, seq[1:], seq[2:]))
    n_ab = Counter()
    n_bc = Counter()
    n_b = Counter()
    for (a, b, c), n in tri.items():
        n_ab[(a, b)] += n
        n_bc[(b, c)] += n
        n_b[b] += n
    for (a, b) in n_ab:
        total = sum(
            Fraction(tri[(a, b, c)], n_ab[(a, b)])
            for c in "abc"
            if (a, b, c) in tri
        )
        assert total == 1
    for b in n_b:
        total = sum(
            Fraction(n_bc[(b, c)], n_b[b]) for c in "abc" if (b, c) in n_bc
        )
        assert total == 1
    # lift numerator/denominator consistency: lift = P(c|ab)/P(c|b)
    for (a, b, c), n in tri.items():
        lift = Fraction(n * n_b[b], n_ab[(a, b)] * n_bc[(b, c)])
        assert lift == (
            Fraction(n, n_ab[(a, b)]) / Fraction(n_bc[(b, c)], n_b[b])
        )


@settings(max_examples=60, deadline=None)
@given(
    counts=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=15,
    )
)
def test_psi_nonnegative_property(counts):
    """PSI with the +1 Laplace smoothing source_quality_psi uses is a
    sum of (p−q)·ln(p/q) terms, each ≥ 0 — for ANY pair of
    histograms over the same buckets."""
    import math

    B = len(counts)
    n_s = sum(c for c, _ in counts)
    n_all = sum(c for _, c in counts)
    psi = 0.0
    for cs, ca in counts:
        p = (cs + 1) / (n_s + B)
        q = (ca + 1) / (n_all + B)
        term = (p - q) * math.log(p / q)
        assert term >= -1e-15
        psi += term
    assert psi >= -1e-12


@given(
    keys=st.lists(
        st.integers(1, 3_400_000_000), min_size=1, max_size=40, unique=True
    ),
    n_parts=st.integers(1, 100_000),
)
@settings(max_examples=60, deadline=None)
def test_pair_bucket_hash_cross_engine_property(keys, n_parts):
    """brand_price_rank_assoc's pair-sampling bucket — the Knuth
    multiplicative hash both engines must mirror — stays exact in
    int64 for keys < 3.4e9 and agrees between a pure-Python
    evaluation and DuckDB's integer semantics (the same %-on-positive
    arithmetic Spark's expression uses)."""
    import duckdb

    from parquet_extractor_spark.operators.timeseries import (
        PAIR_BUCKET_SIZE,
    )

    b = max(1, n_parts // PAIR_BUCKET_SIZE)
    py = [(k * 2654435761 % 4294967296) % b for k in keys]
    assert all(0 <= v < b for v in py)
    assert all(
        k * 2654435761 < 2**63 for k in keys
    ), "int64 overflow bound violated"
    rows = duckdb.sql(
        "SELECT (k * 2654435761 % 4294967296) % "
        f"greatest(1, {n_parts} // {PAIR_BUCKET_SIZE}) "
        "FROM (SELECT unnest(?::BIGINT[]) AS k)",
        params=[keys],
    ).fetchall()
    assert [r[0] for r in rows] == py


# ── artifact JSON codec round-trip (store.py) ───────────────────
#
# The persistent store serializes trained artifacts through a tagged
# JSON codec; a value it cannot faithfully round-trip must either be
# refused by _encode (TypeError -> memo-only fallback) or come back
# structurally identical. Adversarial axes: NaN/Inf floats (legal
# JSON output of Python's json module, equality-hostile), deep tuple
# nesting, Rows with arbitrary field payloads, -0.0, huge ints.


@st.composite
def artifact_values(draw, depth=0):
    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
        st.floats(allow_nan=True, allow_infinity=True),
        st.text(max_size=20),
    )
    if depth >= 3:
        return draw(scalars)
    children = st.deferred(lambda: artifact_values(depth=depth + 1))
    return draw(
        st.one_of(
            scalars,
            st.lists(children, max_size=4),
            st.tuples(children, children),
            st.tuples(children),
        )
    )


def _same(a, b) -> bool:
    import math

    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            _same(x, y) for x, y in zip(a, b)
        )
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(
            _same(x, y) for x, y in zip(a, b)
        )
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return type(a) is type(b) and a == b


@settings(max_examples=80, deadline=None)
@given(v=artifact_values())
def test_artifact_codec_roundtrip_property(v):
    import json as _json

    from parquet_extractor_spark.store import _decode, _encode

    got = _decode(_json.loads(_json.dumps(_encode(v))))
    assert _same(got, v)


@settings(max_examples=30, deadline=None)
@given(v=artifact_values())
def test_artifact_codec_roundtrip_rows(v):
    from pyspark.sql import Row

    import json as _json

    from parquet_extractor_spark.store import _decode, _encode

    row = Row(a=v, b=[v])
    got = _decode(_json.loads(_json.dumps(_encode(row))))
    assert isinstance(got, Row)
    assert list(got.__fields__) == ["a", "b"]
    assert _same(got.a, v) and _same(got.b, [v])


def test_artifact_codec_refuses_unexpressible():
    """dicts/sets/bytes are NOT part of the artifact contract: the
    encoder must raise (memo-only fallback), never emit something
    that would decode into a different shape."""
    import pytest as _pytest

    from parquet_extractor_spark.store import _encode

    for bad in ({"k": 1}, {1, 2}, b"bytes", object()):
        with _pytest.raises(TypeError):
            _encode(bad)


# ── container-metadata parsers never crash on garbage ───────────────
#
# parse_mp3_metadata / parse_webm_metadata run executor-side over
# untrusted corpus bytes (the PDF-extractor precedent above): any
# input must yield a well-formed dict or None — never an exception,
# never a hang. Mixing strategies seeds structure-adjacent garbage
# (valid sync words / EBML magic with corrupted bodies) so the fuzz
# actually reaches the table walks, not just the magic checks.


@settings(max_examples=120, deadline=None)
@given(
    data=st.one_of(
        st.binary(max_size=400),
        st.binary(max_size=200).map(lambda b: b"\xff\xfb" + b),
        st.binary(max_size=200).map(lambda b: b"\xff\xe3" + b),
        st.binary(max_size=200).map(
            lambda b: b"ID3\x04\x00\x00" + b
        ),
        st.binary(max_size=200).map(
            lambda b: b"\xff\xfb\x90\x00" + b"\x00" * 32 + b"Xing" + b
        ),
    )
)
def test_mp3_parser_never_crashes_on_garbage(data):
    from parquet_extractor_spark.functions.mp3 import (
        is_mp3,
        parse_mp3_metadata,
    )

    is_mp3(data)
    m = parse_mp3_metadata(data)
    if m is not None:
        assert m["n_frames"] >= 1
        assert m["sample_rate"] > 0
        assert m["duration_ms"] >= 0
        assert m["channels"] in (1, 2)


@settings(max_examples=120, deadline=None)
@given(
    data=st.one_of(
        st.binary(max_size=400),
        st.binary(max_size=300).map(
            lambda b: b"\x1a\x45\xdf\xa3" + b
        ),
        st.binary(max_size=300).map(
            lambda b: b"\x1a\x45\xdf\xa3\x87\x42\x82\x84webm"
            b"\x18\x53\x80\x67\xff" + b
        ),
        # reach the Info/Duration float parse with arbitrary payload
        # bytes (this arm found the int(NaN) crash the parser now
        # guards against)
        st.binary(min_size=8, max_size=8).map(
            lambda b: b"\x1a\x45\xdf\xa3\x87\x42\x82\x84webm"
            b"\x18\x53\x80\x67\xff"
            b"\x15\x49\xa9\x66\x8b\x44\x89\x88" + b
        ),
    )
)
# a finite Duration whose product with the TimecodeScale overflows
@example(
    data=b"\x1aE\xdf\xa3\x87B\x82\x84webm\x18S\x80g\xff"
    b"\x15I\xa9f\x8bD\x89\x88\x7f" + 7 * b"\x00"
)
def test_webm_parser_never_crashes_on_garbage(data):
    from parquet_extractor_spark.functions.webm import (
        is_webm,
        parse_webm_metadata,
    )

    is_webm(data)
    m = parse_webm_metadata(data)
    if m is not None:
        assert m["container"] == "webm"
        assert m["n_tracks"] >= 0
        assert m["duration_ms"] is None or m["duration_ms"] >= 0


@st.composite
def wav_like(draw):
    """RIFF/WAVE containers with adversarial fmt fields: random
    format tags biased toward the supported set, zero/tiny
    block_align and channel counts, arbitrary fact frames."""
    import struct

    tag = draw(st.sampled_from(
        [0x01, 0x03, 0x06, 0x07, 0x02, 0x11, 0x55, 0xFFFE]
        + [draw(st.integers(0, 0xFFFF))]
    ))
    ch = draw(st.integers(0, 4))
    rate = draw(st.sampled_from([0, 1, 8000, 44100]))
    align = draw(st.integers(0, 40))
    bits = draw(st.sampled_from([0, 4, 8, 16, 24, 32, 64]))
    extra = draw(st.binary(max_size=8))
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * align, align,
                      bits) + extra
    payload = draw(st.binary(max_size=64))
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if draw(st.booleans()):
        chunks += b"fact" + struct.pack(
            "<II", 4, draw(st.integers(0, 1 << 31))
        )
    chunks += b"data" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


@settings(max_examples=150, deadline=None)
@given(data=st.one_of(st.binary(max_size=200), wav_like()))
def test_wav_decode_only_declared_failures(data):
    """decode_wav on arbitrary containers: a supported decode, a
    ValueError (corrupt container), or a NotImplementedError (exotic
    codec) — never any other exception. The r12 fuzz found IMA ADPCM
    dying with IndexError when a corrupt fmt advertised a block_align
    smaller than its own per-channel headers."""
    from parquet_extractor_spark.functions.wav import (
        decode_wav,
        parse_wav_header,
    )

    parse_wav_header(data)  # must never raise at all
    try:
        samples, rate = decode_wav(data)
        assert rate >= 0
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=60, deadline=None)
@given(
    family=st.sampled_from(
        ["png", "gif", "jpeg", "tiff", "vp8l", "apng"]
    ),
    flips=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 255)),
        min_size=1,
        max_size=4,
    ),
)
def test_image_decoders_fail_only_through_declared_exceptions(
    family, flips
):
    """Bit-flip fuzz over valid streams: every image decoder must
    either decode or raise ValueError/NotImplementedError — the set
    the PERMISSIVE mapInPandas wrappers convert to null/error rows.
    Any other exception kills an executor task on one corrupt file
    (the r12 sweep caught APNG leaking struct.error on a
    truncated-CRC chunk slice)."""
    import numpy as _np

    from parquet_extractor_spark.functions.apng import (
        decode_apng_frames,
    )
    from parquet_extractor_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )
    from parquet_extractor_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from parquet_extractor_spark.functions.png import (
        decode_png,
        encode_png,
    )
    from parquet_extractor_spark.functions.tiff import decode_tiff
    from parquet_extractor_spark.functions.vp8l import decode_vp8l
    from parquet_extractor_spark.operators import (
        media_known_answers_deep as D,
    )

    arr = _np.arange(48, dtype=_np.uint8).reshape(4, 4, 3)
    fn, base = {
        "png": (decode_png, encode_png(arr, 1)),
        "gif": (decode_gif, encode_gif(arr)),
        "jpeg": (decode_jpeg, encode_jpeg(arr, quality=60)),
        "tiff": (decode_tiff, D.build_tiff16_predictor_probe()),
        "vp8l": (decode_vp8l, D.build_vp8l_probe()),
        "apng": (decode_apng_frames, D.build_apng_over_probe()),
    }[family]
    b = bytearray(base)
    for off, val in flips:
        b[off % len(b)] = val
    try:
        fn(bytes(b))
    except (ValueError, NotImplementedError):
        pass
