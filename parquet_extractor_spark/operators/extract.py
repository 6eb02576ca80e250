"""Parquet → Markdown extraction pipeline (the reference's core
purpose, main.py:9-105) as a lazy DataFrame plan.

Reference flow: read parquet → resolve content/title columns → seeded
random sample of N rows → per-row filename + YAML frontmatter →
one .md file per row. Here every step is a Column expression; the only
Python is the file-writing sink (sinks/markdown.py).

Sampling parity note (SURVEY §7 hard-parts): Python's
``random.sample`` ordering is not reproducible inside SQL engines, so
this engine defines its deterministic sample as a Knuth multiplicative
hash over the row id — exact-N, seed-stable, and reproducible in ANY
engine (the DuckDB oracle runs the same arithmetic). At cluster scale
this is also better than ``orderBy(rand())``: the top-N-by-hash is a
TakeOrderedAndProject (per-partition heaps), not a full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_extractor_spark.constants import DEFAULT_SEED, FRONTMATTER_VALUE_CAP
from parquet_extractor_spark.functions.text import (
    portable_hash64,
    sanitize_filename,
    zero_pad,
)
from parquet_extractor_spark.functions.windows import bounded_global_window
from parquet_extractor_spark.resolver import resolve_roles
from parquet_extractor_spark.sources.tables import load_table

KNUTH = 2654435761  # Knuth multiplicative hash constant
MOD = 4294967296  # 2^32
SAMPLE_N = 100


def sample_key(id_col: Column, seed: int = DEFAULT_SEED) -> Column:
    """Deterministic pseudo-random ordering key: multiplicative hash
    of (id + seed). Plain int arithmetic → identical in every engine.

    Overflow-safe form: reduce mod 2^32 FIRST, then multiply in two
    16-bit halves so every intermediate stays < 2^49. The naive
    ``(id + seed) * KNUTH`` overflows int64 for ids above ~3.5e9,
    where non-ANSI Spark silently wraps but DuckDB promotes to
    HUGEINT — breaking the any-engine reproducibility contract exactly
    at large-corpus scale. For ids below that the value is unchanged.
    """
    a = F.pmod(id_col.cast("bigint") + F.lit(seed), F.lit(MOD))
    hi = F.pmod(F.shiftright(a, 16) * F.lit(KNUTH), F.lit(65536))
    lo = a.bitwiseAND(F.lit(65535)) * F.lit(KNUTH)
    return F.pmod(hi * F.lit(65536) + lo, F.lit(MOD))


# the same arithmetic as a SQL fragment (DuckDB oracle); {id} is the
# id expression
SAMPLE_KEY_SQL = (
    "((((({id}) + {seed}) % {mod}) >> 16) * {knuth} % 65536) * 65536"
    " + (((({id}) + {seed}) % {mod}) & 65535) * {knuth}"
)


def sample_key_sql(id_expr: str, seed: int = DEFAULT_SEED) -> str:
    inner = SAMPLE_KEY_SQL.format(id=id_expr, seed=seed, mod=MOD, knuth=KNUTH)
    return f"(({inner}) % {MOD})"


def deterministic_sample(
    df: DataFrame, id_col: str, n: int, seed: int = DEFAULT_SEED
) -> DataFrame:
    """Exact-N seeded sample without replacement (main.py:63-70).
    Takes all rows when fewer than n exist (limit caps naturally)."""
    return (
        df.withColumn("_sk", sample_key(F.col(id_col), seed))
        .orderBy("_sk", id_col)
        .limit(n)
    )


def frontmatter_entry(name: str, col: Column) -> Column:
    """One ``key: value`` frontmatter line; NULL when the value is
    missing or longer than FRONTMATTER_VALUE_CAP (main.py:92-94) —
    concat_ws then drops it."""
    s = col.cast("string")
    return F.when(
        s.isNotNull() & (F.length(s) < FRONTMATTER_VALUE_CAP),
        F.concat(F.lit(f"{name}: "), s),
    )


def _markdown_rows(
    df: DataFrame, roles, key: Column, tie: str, n: int, title: Column
) -> DataFrame:
    """The one Markdown row builder: the ``n`` rows of ``df`` lowest in
    (``key``, ``tie``), numbered 1..n in that order as ``rn``, plus
    ``filename``, ``frontmatter`` and ``body`` (main.py:63-105).
    ``title`` may read ``rn``.

    The sampled head is ``TakeOrderedAndProject``: one partition,
    already sorted by the window's order, so numbering it with the
    bounded global window adds no exchange and no sort. Its width is
    the caller's n (the service caps it at MAX_DOCS)."""
    numbered = (
        df.withColumn("_sk", key)
        .orderBy("_sk", tie)
        .limit(n)
        .withColumn("rn", F.row_number().over(bounded_global_window("_sk", tie)))
    )
    filename = F.concat(
        zero_pad(F.col("rn")), F.lit("_"), sanitize_filename(title), F.lit(".md")
    )
    fm_lines = [frontmatter_entry(c, F.col(c)) for c in roles.metadata]
    frontmatter = F.concat_ws("\n", F.lit("---"), *fm_lines, F.lit("---"))
    body = F.concat(
        frontmatter, F.lit("\n\n# "), title, F.lit("\n\n"), F.col(roles.content)
    )
    # withColumns reads every expression from ``numbered``, so a source
    # column named like an output (a ``body`` content column) still
    # feeds the body before it is replaced
    return numbered.withColumns(
        {"filename": filename, "frontmatter": frontmatter, "body": body}
    )


def _document_rows(spark: SparkSession, sf_dir: str, n: int, seed: int) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    title = F.concat(F.lit("document_"), F.col("doc_id").cast("string"))
    key = sample_key(F.col("doc_id"), seed)
    return _markdown_rows(docs, resolve_roles(docs), key, "doc_id", n, title)


def extract_plan(
    spark: SparkSession,
    sf_dir: str,
    n: int = SAMPLE_N,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """The full extraction plan over the documents fixture: sample →
    row-number → filename → frontmatter → markdown body. Returns
    (doc_id, filename, frontmatter, body_md5) — hashes instead of full
    bodies so the oracle comparison stays small."""
    rows = _document_rows(spark, sf_dir, n, seed)
    body_md5 = F.md5("body").alias("body_md5")
    return rows.select("doc_id", "filename", "frontmatter", body_md5).orderBy("doc_id")


def extract_files(
    spark: SparkSession,
    sf_dir: str,
    n: int = SAMPLE_N,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Like extract_plan but with the full body, for the file sink."""
    return _document_rows(spark, sf_dir, n, seed).select("filename", "body")


EXTRACT_PLAN_SQL = rf"""
WITH sampled AS (
    SELECT *,
           {sample_key_sql("doc_id")} AS _sk
    FROM documents
    ORDER BY _sk, doc_id
    LIMIT {SAMPLE_N}
),
numbered AS (
    SELECT *, row_number() OVER (ORDER BY _sk, doc_id) AS rn
    FROM sampled
),
built AS (
    SELECT doc_id,
           lpad(CAST(rn AS VARCHAR), 4, '0') || '_' ||
           substr(replace(trim(regexp_replace('document_' || CAST(doc_id AS VARCHAR),
                 '[^a-zA-Z0-9 \-_]', '_', 'g')), ' ', '_'), 1, 100) || '.md'
               AS filename,
           concat_ws(chr(10), '---',
               CASE WHEN doc_id IS NOT NULL AND length(CAST(doc_id AS VARCHAR)) < {FRONTMATTER_VALUE_CAP}
                    THEN 'doc_id: ' || CAST(doc_id AS VARCHAR) END,
               CASE WHEN lang IS NOT NULL AND length(CAST(lang AS VARCHAR)) < {FRONTMATTER_VALUE_CAP}
                    THEN 'lang: ' || CAST(lang AS VARCHAR) END,
               CASE WHEN source IS NOT NULL AND length(CAST(source AS VARCHAR)) < {FRONTMATTER_VALUE_CAP}
                    THEN 'source: ' || CAST(source AS VARCHAR) END,
               CASE WHEN n_chars IS NOT NULL AND length(CAST(n_chars AS VARCHAR)) < {FRONTMATTER_VALUE_CAP}
                    THEN 'n_chars: ' || CAST(n_chars AS VARCHAR) END,
               '---') AS frontmatter,
           text,
           'document_' || CAST(doc_id AS VARCHAR) AS title
    FROM numbered
)
SELECT doc_id, filename, frontmatter,
       md5(frontmatter || chr(10) || chr(10) || '# ' || title
           || chr(10) || chr(10) || text) AS body_md5
FROM built
ORDER BY doc_id
"""


def sampled_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic sample itself, as an oracle-checkable query
    (SURVEY L1): proves exact-N seeded sampling reproducibility."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        deterministic_sample(docs, "doc_id", SAMPLE_N)
        .select("doc_id", F.col("_sk").alias("sample_key"))
        .orderBy("doc_id")
    )


SAMPLED_DOC_IDS_SQL = rf"""
SELECT doc_id, {sample_key_sql("doc_id")} AS sample_key
FROM documents
ORDER BY sample_key, doc_id
LIMIT {SAMPLE_N}
"""


def extract_any_parquet(
    spark: SparkSession,
    parquet_path: str,
    n: int = SAMPLE_N,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """The reference CLI's true contract (main.py:9-105): extract from
    an ARBITRARY parquet file whose schema is unknown until read.

    Roles come from the resolver; because there is no guaranteed id
    column, the deterministic sample key is the portable content hash
    mixed with the seed (same exact-N / seed-stable semantics as the
    fixture path). Returns (filename, body) rows for the markdown sink.
    """
    df = spark.read.parquet(parquet_path)
    roles = resolve_roles(df)
    key = (portable_hash64(F.col(roles.content)) + F.lit(seed)) % F.lit(MOD)
    # fallback naming parity with main.py:77-83
    title = F.concat(F.lit("paper_"), F.col("rn").cast("string"))
    if roles.title:
        named = F.nullif(F.col(roles.title).cast("string"), F.lit(""))
        title = F.coalesce(named, title)
    rows = _markdown_rows(df, roles, key, roles.content, n, title)
    return rows.select("filename", "body")
