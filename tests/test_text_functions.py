import hashlib
import re

from pyspark.sql import functions as F

from parquet_extractor_spark.functions.text import (
    char_ngrams,
    coalesce_content,
    portable_hash64,
    sanitize_filename,
    token_count,
    tokenize,
    word_ngrams,
    zero_pad,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_tokenize_matches_reference_semantics(spark):
    # reference tokenizer (api.py:470-489): lower, punct->space, split ws
    text = "Hello, World! It's  test_case #42."
    expected = [
        t
        for t in re.split(r"\s+", re.sub(r"[^\w\s]", " ", text.lower()))
        if t
    ]
    got = _one(spark, tokenize(F.lit(text)))
    assert got == expected == ["hello", "world", "it", "s", "test_case", "42"]


def test_token_count_empty_and_whitespace(spark):
    assert _one(spark, token_count(F.lit(""))) == 0
    assert _one(spark, token_count(F.lit("   \n\t  "))) == 0
    assert _one(spark, token_count(F.lit("one two"))) == 2


def test_sanitize_filename_reference_parity(spark):
    # main.py:79-80: keep alnum/space/-/_, then strip, spaces->_, cap
    raw = "  My Paper: α/β (v2)!  "
    got = _one(spark, sanitize_filename(F.lit(raw)))
    py = re.sub(r"[^a-zA-Z0-9 \-_]", "_", raw).strip().replace(" ", "_")[:100]
    assert got == py


def test_zero_pad(spark):
    assert _one(spark, zero_pad(F.lit(7))) == "0007"
    # zfill parity: wider values are NOT truncated (unlike bare lpad)
    assert _one(spark, zero_pad(F.lit(12345))) == "12345"


def test_coalesce_content_first_non_empty_wins(spark):
    # api.py:290-293 then api.py:311-319: "" and NULL both count as
    # absent; the first present field wins, else the fixed fallback
    null = F.lit(None).cast("string")
    got = _one(spark, coalesce_content(F.lit(""), null, F.lit("body"), F.lit("x")))
    assert got == "body"
    got = _one(spark, coalesce_content(null, F.lit("")))
    assert got == "No content available"


def test_char_ngrams_short_string(spark):
    assert _one(spark, char_ngrams(F.lit("ab"), 5)) == ["ab"]
    assert _one(spark, char_ngrams(F.lit("abcdef"), 5)) == ["abcde", "bcdef"]


def test_word_ngrams(spark):
    toks = F.split(F.lit("a b c d"), " ")
    assert _one(spark, word_ngrams(toks, 3)) == ["a b c", "b c d"]
    toks2 = F.split(F.lit("a b"), " ")
    assert _one(spark, word_ngrams(toks2, 3)) == ["a b"]


def test_portable_hash64_matches_python_md5(spark):
    for s in ["", "hello", "ünïcode ≠ ascii"]:
        got = _one(spark, portable_hash64(F.lit(s)))
        expected = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        assert got == expected
