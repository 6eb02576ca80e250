"""Column-expression text functions (SURVEY.md §2.8 F1-F16).

Everything here is a *pure Column expression* built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no Python
in the hot path. Each function cites the reference behavior it
re-expresses.

Regex note: these run through Java's regex engine via the DataFrame
API (no Spark-SQL string-literal backslash escaping). The DuckDB
oracle SQL uses the RE2 equivalents; the character classes used here
(``\\w``, ``\\s``, explicit ASCII classes) match the same characters
in both: ``\\w`` is ASCII ``[0-9A-Za-z_]`` in each, and ``\\s``
differs only in U+000B (whitespace to Java, not to RE2), which each
tokenizer still treats as a separator.

The engines differ in ``lower``: Spark applies Java's full case
mapping, DuckDB the simple one. The only mapping that moves a token
boundary is U+0130 (``İ``), which Spark lowers to ``i`` + U+0307 (a
non-word mark, so ``'İstanbul'`` tokenizes to ``['i', 'stanbul']``)
and DuckDB to a bare ``i``. ``tokenize_sql`` spells that mapping out
before ``lower``. The other full-mapping difference, Greek final
sigma, only turns one non-ASCII letter into another, which both
tokenizers treat as a separator.

Each oracle-checked primitive has a DuckDB twin here, ``<name>_sql``,
that returns a SQL fragment for the oracles to embed; oracles call
the twin and never restate its rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from parquet_extractor_spark.constants import FILENAME_CAP


def tokenize(col: Column | str) -> Column:
    """Regex word tokenizer (api.py:470-489): lowercase, strip
    punctuation to spaces, split on whitespace, drop empties.

    Returns ``array<string>`` — a single vectorized expression chain,
    no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), r"[^\w\s]", " ")
    # The trailing F.filter is a HOF, but measured at 100× its
    # trivial lambda costs nothing vs a btrim-then-split rewrite
    # (0.9 s vs 1.0 s warm over 500k docs) — HOF overhead only bites
    # when the per-element lambda is heavy (hashing, bit tests; see
    # the Bloom probe rework in contamination.py). Keeping the
    # simplest form.
    return F.filter(F.split(cleaned, r"\s+"), lambda t: t != "")


def tokenize_sql(col: str) -> str:
    """DuckDB twin of :func:`tokenize` over the SQL expression ``col``
    (see the module docstring for the U+0130 replace)."""
    lowered = f"lower(replace({col}, '\u0130', 'i\u0307'))"
    return (
        rf"list_filter(regexp_split_to_array(regexp_replace({lowered}, "
        r"'[^\w\s]', ' ', 'g'), '\s+'), x -> x != '')"
    )


def token_count(col: Column | str) -> Column:
    """Per-document token count (api.py:489) as ``int``.

    Equivalent to ``size(tokenize(col))`` but ~6x faster: tokenize's
    split points are exactly the non-word characters, so the token
    count is the number of maximal ``\\w+`` runs — countable in one
    regex pass with no array materialization (and no lower(), which
    can't change where word-char runs fall).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"\w+"))


def sanitize_filename(col: Column | str) -> Column:
    """Filename sanitization chain (main.py:79-80): keep
    ``[A-Za-z0-9 -_]``, replace the rest with ``_``, trim,
    spaces→underscores, truncate to ``FILENAME_CAP``.
    """
    c = F.col(col) if isinstance(col, str) else col
    kept = F.regexp_replace(c, r"[^a-zA-Z0-9 \-_]", "_")
    underscored = F.replace(F.trim(kept), F.lit(" "), F.lit("_"))
    return F.substring(underscored, 1, FILENAME_CAP)


def zero_pad(col: Column | str, width: int = 4) -> Column:
    """Zero-padded id formatting (main.py:81, main.py:170).

    zfill semantics: values WIDER than ``width`` pass through intact —
    unlike bare ``lpad``, which silently truncates them.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return F.when(F.length(s) >= width, s).otherwise(F.lpad(s, width, "0"))


def coalesce_content(*cols: Column) -> Column:
    """Attribute-presence coalesce (api.py:290-293): first non-empty
    of several candidate text fields, else a fixed fallback
    (api.py:311-319)."""
    candidates = [F.nullif(c, F.lit("")) for c in cols]
    return F.coalesce(*candidates, F.lit("No content available"))


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles as ``array<string>`` — the input to
    MinHash / Jaccard dedup. Pure expression: sequence over the
    string's offsets, substring each. Documents shorter than ``n``
    yield a single shingle (the whole string).
    """
    c = F.col(col) if isinstance(col, str) else col
    length = F.length(c)
    last = F.greatest(length - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), last), lambda i: F.substring(c, i, n)
    )


def char_ngrams_sql(col: str, n: int) -> str:
    """DuckDB twin of :func:`char_ngrams` over the SQL string
    expression ``col``; NULL text yields one NULL shingle on both
    engines."""
    return (
        f"list_transform(range(1, greatest(length({col}) - {n - 1}, 1) + 1), "
        f"i -> substr({col}, i, {n}))"
    )


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (``array<string>``),
    joined with a space. Token arrays shorter than ``n`` yield one
    shingle of all tokens; an empty array yields none; a NULL array
    (NULL text) yields NULL."""
    last = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), last),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    empty = F.array().cast("array<string>")
    # no otherwise(): a NULL array matches neither branch
    return F.when(F.size(tokens) == 0, empty).when(tokens.isNotNull(), grams)


def ngram_starts_sql(tokens: str, n: int) -> str:
    """DuckDB list of the 1-based start of every word n-gram window
    over the token list ``tokens``, for oracles that index
    ``tokens[i]`` directly: one window when the list is shorter than
    ``n``, none when it is empty, NULL when it is NULL."""
    return f"range(1, greatest(len({tokens}) - {n - 1}, sign(len({tokens}))) + 1)"


def word_ngrams_sql(tokens: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` over the token list
    ``tokens``."""
    return (
        f"list_transform({ngram_starts_sql(tokens, n)}, "
        f"i -> array_to_string({tokens}[i:i + {n - 1}], ' '))"
    )


def portable_hash64(col: Column) -> Column:
    """Deterministic 60-bit hash that is reproducible OUTSIDE Spark:
    first 15 hex digits of md5, as a bigint; its DuckDB twin is
    :func:`portable_hash64_sql` — used so dedup fingerprints are
    oracle-checkable. For pure-Spark paths prefer ``F.xxhash64``
    (faster, but engine-specific).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash64` over the SQL expression
    ``expr``."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
