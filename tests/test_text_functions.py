import hashlib
import random
import re

from pyspark.sql import functions as F

from parquet_extractor_spark.functions.text import (
    char_ngrams,
    char_ngrams_sql,
    coalesce_content,
    portable_hash64,
    portable_hash64_sql,
    sanitize_filename,
    token_count,
    tokenize,
    tokenize_sql,
    word_ngrams,
    word_ngrams_sql,
    zero_pad,
)
from parquet_extractor_spark.sources.tables import local_frame


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


NGRAM_NS = (1, 2, 3, 4, 8)
CHAR_NGRAM_NS = (1, 5, 8)
# Non-ASCII characters whose lowercase differs by engine or leaves the
# letter's script: dotted capital I (full vs simple mapping), sharp s,
# a precomposed accent, a ligature, capital/final sigma, the Kelvin
# sign (lowers to ASCII k), a titlecase digraph and a combining dot.
PARITY_NON_ASCII = "\u0130ßéﬁΣς\u212aǅ\u0307"


def _parity_rows():
    """A seeded batch of generated strings plus the edge cases: empty,
    whitespace-only, punctuation-only, the whitespace Java's ``\\s``
    and RE2's disagree on (``\\v``), 1, n-1 and n tokens for every
    tested n, and NULL."""
    rng = random.Random(22)
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + [" "] * 12
        + ["\t", "\n"]
        + list(PARITY_NON_ASCII) * 3
    )
    texts = [
        "".join(rng.choice(pool) for _ in range(rng.randint(0, 48)))
        for _ in range(3000)
    ]
    texts += ["", "   ", " \t\n \n", "!?.,;: -()", "İstanbul", "İ", "a\vb\fc\rd"]
    for n in NGRAM_NS:
        for k in sorted({1, n - 1, n} - {0}):
            texts.append(" ".join(f"W{j}." for j in range(k)))
    return [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]


def test_sql_twins_match_spark(spark):
    """tokenize_sql, word_ngrams_sql, char_ngrams_sql and
    portable_hash64_sql on DuckDB return what tokenize, word_ngrams,
    char_ngrams and portable_hash64 return on Spark, row for row, over
    the same batch."""
    import duckdb
    import pandas as pd

    rows = _parity_rows()
    docs = local_frame(spark, rows, "doc_id bigint, text string")
    toks = docs.select("doc_id", "text", tokenize("text").alias("tokens"))
    got = {
        r[0]: tuple(r[1:])
        for r in toks.select(
            "doc_id",
            "tokens",
            *(word_ngrams(F.col("tokens"), n) for n in NGRAM_NS),
            portable_hash64(F.col("text")),
            *(char_ngrams("text", n) for n in CHAR_NGRAM_NS),
        ).collect()
    }
    grams = ", ".join(word_ngrams_sql("tokens", n) for n in NGRAM_NS)
    chars = ", ".join(char_ngrams_sql("text", n) for n in CHAR_NGRAM_NS)
    con = duckdb.connect()
    con.register("frame", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"""
            WITH t AS (
                SELECT doc_id, text, {tokenize_sql('text')} AS tokens
                FROM frame
            )
            SELECT doc_id, tokens, {grams}, {portable_hash64_sql('text')},
                   {chars}
            FROM t
            """
        ).fetchall()
    }
    assert got.keys() == want.keys()
    text = dict(rows)
    bad = [(text[d], got[d], want[d]) for d in sorted(got) if got[d] != want[d]]
    assert not bad, f"{len(bad)} rows differ, first: {bad[:3]}"
    # the documented edge cases hold on both sides
    chars_at = len(NGRAM_NS) + 2
    null_id = rows[-1][0]
    assert got[null_id][:chars_at] == (None,) * chars_at
    assert got[null_id][chars_at:] == ([None],) * len(CHAR_NGRAM_NS)
    empty = next(d for d, t in rows if t == "")
    assert got[empty][chars_at:] == ([""],) * len(CHAR_NGRAM_NS)
    dotted = next(d for d, t in rows if t == "İstanbul")
    assert got[dotted][0] == ["i", "stanbul"]
