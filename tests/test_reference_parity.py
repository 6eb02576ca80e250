"""Behavioral parity of the column-expression text functions against
transcribed Python implementations of the reference's logic
(main.py:79-81, api.py:277, api.py:470-489, api.py:802), over an
adversarial corpus — empty/whitespace/punctuation-only strings,
control chars, long runs, digits, underscores.

ASCII note (documented engine contract): the reference runs Python
``re`` in unicode mode, where ``\\w``/``isalnum`` match é, 漢, etc.
This engine standardizes on ASCII character classes because Spark's
Java regex and DuckDB's RE2 both treat ``\\w`` as ASCII — so Spark and
the oracle agree with each other by construction, and non-ASCII word
chars are treated as separators/scrubbed everywhere. The Python
references below therefore use ``re.ASCII`` / explicit ASCII checks to
express the CONTRACT, and one test pins the non-ASCII behavior
explicitly so the deviation from CPython-unicode semantics is a
documented decision, not an accident.
"""

import re

from pyspark.sql import functions as F

from parquet_extractor_spark.constants import PDF_TITLE_CAP
from parquet_extractor_spark.functions.text import (
    sanitize_filename,
    token_count,
    tokenize,
    zero_pad,
)
from parquet_extractor_spark.sinks.pdf import pdf_ready

CORPUS = [
    "",
    " ",
    "\t\n  \r",
    "plain words here",
    "punct!!! only??? ...",
    "...,,,;;;",
    "MiXeD CaSe Words",
    "under_scores_are_word_chars",
    "digits 123 456x7",
    "a",
    "hyphen-ated and file-name.txt",
    "x" * 500,
    ("word " * 200).strip(),
    "tabs\tbetween\ttokens",
    "new\nlines\nsplit",
    "trailing spaces   ",
    "   leading spaces",
    "café naïve résumé",
    "漢字 mixed ascii",
    "emoji \U0001f600 inside",
    "control\x01chars\x02here",
    "null\x00byte",
]


def ref_tokenize(text: str) -> list[str]:
    cleaned = re.sub(r"[^\w\s]", " ", text.lower(), flags=re.ASCII)
    return [t for t in re.split(r"\s+", cleaned) if t != ""]


def ref_sanitize(title: str, cap: int = 100) -> str:
    kept = "".join(
        c if (c.isascii() and c.isalnum()) or c in " -_" else "_"
        for c in title
    )
    return kept.strip().replace(" ", "_")[:cap]


def ref_non_ascii_scrub(text: str) -> str:
    return "".join(c if ord(c) < 128 else "_" for c in text)


def _column_results(spark, col_expr):
    df = spark.createDataFrame([(s,) for s in CORPUS], "s string")
    return [r.out for r in df.select(col_expr.alias("out")).collect()]


def test_tokenize_matches_reference(spark):
    got = _column_results(spark, tokenize("s"))
    want = [ref_tokenize(s) for s in CORPUS]
    assert got == want


def test_token_count_matches_tokenize_everywhere(spark):
    got = _column_results(spark, token_count("s").cast("int"))
    want = [len(ref_tokenize(s)) for s in CORPUS]
    assert got == want


def test_sanitize_filename_matches_reference(spark):
    got = _column_results(spark, sanitize_filename("s"))
    want = [ref_sanitize(s) for s in CORPUS]
    assert got == want


def test_non_ascii_scrub_matches_reference():
    # the scrub is the PDF sink's title cleanup, which also applies
    # the title cap (api.py:271)
    got = [pdf_ready(s, None)[0] for s in CORPUS]
    want = [ref_non_ascii_scrub(s)[:PDF_TITLE_CAP] for s in CORPUS]
    assert got == want


def test_zero_pad_matches_zfill(spark):
    values = [0, 1, 42, 999, 1000, 9999, 10000, 123456]
    df = spark.createDataFrame([(v,) for v in values], "v long")
    got = [r.out for r in df.select(zero_pad(F.col("v")).alias("out")).collect()]
    assert got == [str(v).zfill(4) for v in values]


def test_non_ascii_tokenize_contract_is_pinned(spark):
    """The documented ASCII deviation: unicode word chars split/drop
    where CPython-unicode re would keep them. Pin it so a change is a
    conscious one."""
    got = _column_results(spark, tokenize("s"))
    by_input = dict(zip(CORPUS, got))
    assert by_input["café naïve résumé"] == [
        "caf",
        "na",
        "ve",
        "r",
        "sum",
    ]
    assert by_input["漢字 mixed ascii"] == ["mixed", "ascii"]


# ---------------------------------------------------------------------------
# hypothesis fuzz: the same parity properties over random corpora


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:
    # printable ASCII + whitespace/controls; the ASCII contract is
    # pinned above, fuzzing explores within it
    ascii_text = st.text(
        alphabet=st.characters(min_codepoint=0, max_codepoint=127),
        max_size=200,
    )

    @given(st.lists(ascii_text, min_size=1, max_size=25))
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_fuzz_tokenize_and_count_parity(spark, corpus):
        df = spark.createDataFrame([(s,) for s in corpus], "s string")
        rows = df.select(
            tokenize("s").alias("toks"),
            token_count("s").cast("int").alias("n"),
        ).collect()
        for s, r in zip(corpus, rows):
            expected = ref_tokenize(s)
            assert list(r.toks) == expected
            assert r.n == len(expected)

    @given(st.lists(ascii_text, min_size=1, max_size=25))
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_fuzz_sanitize_parity(spark, corpus):
        df = spark.createDataFrame([(s,) for s in corpus], "s string")
        got = [
            r.out
            for r in df.select(sanitize_filename("s").alias("out")).collect()
        ]
        assert got == [ref_sanitize(s) for s in corpus]
