"""Corpus analysis — the reference's only true analytics query
(analyze_wikir_dataset, api.py:491-579), rebuilt as one distributed
hash-aggregate.

The reference loops documents in Python, keeps EVERY per-doc token
count in a list just to take min/max (api.py:515,533 — O(N) driver
memory). Here the same answer is a single partial+final aggregation:
constant memory per executor, one shuffle of 32 partial rows, scales
to any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.text import token_count, tokenize
from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, local_frame, spread


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (api.py:532: tokenize_text + len).

    Column-pruned scan: only doc_id + text are read from parquet.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )


DOC_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(
            regexp_split_to_array(
                regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
            x -> x != '')) AS BIGINT) AS n_tokens
FROM documents
"""


def corpus_stats(
    spark: SparkSession, sf_dir: str, limit: int | None = None
) -> DataFrame:
    """Flagship: count/sum/avg/min/max token stats (api.py:548-564)
    in ONE pass — partial aggregates map-side, 1-row result.

    ``limit`` mirrors the reference's optional analyze cap
    (api.py:539-541): stats over the first N documents only.
    """
    counts = doc_token_counts(spark, sf_dir)
    if limit is not None:
        counts = counts.limit(limit)
    return counts.agg(
        F.count("*").alias("document_count"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("average_tokens_per_doc"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


CORPUS_STATS_SQL = r"""
WITH counts AS (
    SELECT CAST(len(list_filter(
               regexp_split_to_array(
                   regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT count(*)                        AS document_count,
       CAST(sum(n_tokens) AS BIGINT)   AS total_tokens,
       round(avg(n_tokens), 4)   AS average_tokens_per_doc,
       min(n_tokens)             AS min_tokens,
       max(n_tokens)             AS max_tokens
FROM counts
"""


def tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by extension of the corpus analyzer (SURVEY A7): the same
    stats per language — partial+final hash-agg keyed on ``lang``
    (low cardinality → no skew concern; AQE coalesces the shuffle)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = docs.select(
        "lang", token_count("text").cast("bigint").alias("n_tokens")
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.count("*").alias("document_count"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("average_tokens_per_doc"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("lang")
    )


TOKENS_PER_LANG_SQL = r"""
WITH counts AS (
    SELECT lang,
           CAST(len(list_filter(
               regexp_split_to_array(
                   regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT lang,
       count(*)                        AS document_count,
       CAST(sum(n_tokens) AS BIGINT)   AS total_tokens,
       round(avg(n_tokens), 4)   AS average_tokens_per_doc,
       min(n_tokens)             AS min_tokens,
       max(n_tokens)             AS max_tokens
FROM counts
GROUP BY lang
ORDER BY lang
"""


TOP_DOCS_K = 20


def top_docs_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TOP_DOCS_K longest documents (SURVEY L6) — Spark plans this
    as TakeOrderedAndProject: per-partition heaps, no global sort."""
    counts = doc_token_counts(spark, sf_dir)
    return counts.orderBy(F.desc("n_tokens"), F.asc("doc_id")).limit(
        TOP_DOCS_K
    )


TOP_DOCS_BY_TOKENS_SQL = rf"""
SELECT doc_id,
       CAST(len(list_filter(
            regexp_split_to_array(
                regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
            x -> x != '')) AS BIGINT) AS n_tokens
FROM documents
ORDER BY n_tokens DESC, doc_id ASC
LIMIT {TOP_DOCS_K}
"""


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix drift: KL divergence of each source's token
    distribution against the corpus-wide distribution — the standard
    check that one slice of a crawl hasn't drifted from the blend.

    Shape for scale: explode → partial-agg per (source, token); the
    corpus-wide token counts re-aggregate FROM the per-source counts
    (no second scan), and the per-token corpus table joins back on the
    token key. On the fixture vocabulary this join broadcasts; at a
    100 TB vocabulary it degrades gracefully to a shuffle join on the
    same token hash both aggregations already produced. Every source
    token appears in the corpus by construction, so q > 0 and the KL
    term is always finite."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(tokenize("text")).alias("tok")
    )
    per_src = tok.groupBy("source", "tok").agg(F.count("*").alias("c_s"))
    src_totals = per_src.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    corpus = per_src.groupBy("tok").agg(F.sum("c_s").alias("c_all"))
    corpus_total = corpus.agg(F.sum("c_all").alias("n_all"))
    return (
        per_src.join(corpus, "tok")
        .join(F.broadcast(src_totals), "source")
        .join(F.broadcast(corpus_total))
        .select(
            "source",
            (
                (F.col("c_s") / F.col("n_s"))
                * F.log(
                    (F.col("c_s") / F.col("n_s"))
                    / (F.col("c_all") / F.col("n_all"))
                )
            ).alias("term"),
        )
        .groupBy("source")
        .agg(F.round(F.sum("term"), 6).alias("kl_divergence"))
        .orderBy("source")
    )


SOURCE_TOKEN_KL_SQL = r"""
WITH tok AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS tok
    FROM documents
),
per_src AS (
    SELECT source, tok, count(*) AS c_s FROM tok GROUP BY 1, 2
),
src_totals AS (
    SELECT source, sum(c_s) AS n_s FROM per_src GROUP BY 1
),
corpus AS (
    SELECT tok, sum(c_s) AS c_all FROM per_src GROUP BY 1
),
corpus_total AS (
    SELECT sum(c_all) AS n_all FROM corpus
)
SELECT source,
       round(sum((c_s / n_s) * ln((c_s / n_s) / (c_all / n_all))), 6)
           AS kl_divergence
FROM per_src
JOIN corpus USING (tok)
JOIN src_totals USING (source)
CROSS JOIN corpus_total
GROUP BY source
ORDER BY source
"""


def source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen: exact two-sample Kolmogorov-Smirnov
    statistic between each source's document-length (n_chars)
    distribution and the corpus blend — the complement of
    source_token_kl (which drifts on vocabulary; this drifts on
    shape). A source whose KS spikes between crawls changed its
    length profile: truncation bug, boilerplate injection, new
    document type.

    Exact, no sampling: ECDFs are evaluated on the full corpus length
    support. The max runs over |cum_s·n_all − cum_all·n_s| in
    DECIMAL(38,0) (one division at the end): the products reach
    ~n_docs² and would wrap a 64-bit long near 3e9 documents, while
    decimal stays exact to 1e38 — matching DuckDB's HUGEINT promotion
    bit for bit.

    Shape for scale: lengths pre-aggregate to (source, x) counts —
    the largest shuffle carries |sources|×|distinct lengths| partial
    rows, NOT documents. The evaluation grid is that same bounded
    support crossed with the (tiny) source list; per-source running
    sums are windows partitioned by source, and BOTH corpus-side
    quantities (cumulative and total) re-aggregate from the
    per-source columns via one window over x (state: one partial per
    source) — no unpartitioned window and no separate corpus-total
    branch. The three column-pruned (source, n_chars) scans feeding
    counts / support / source-list are each width-2 projections of
    the same parquet footprint.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    cs = (
        docs.groupBy("source", F.col("n_chars").alias("x"))
        .agg(F.count("*").alias("c"))
    )
    support = cs.select("x").distinct()
    sources = cs.select("source").distinct()
    grid = support.crossJoin(F.broadcast(sources))
    filled = grid.join(cs, ["source", "x"], "left").select(
        "source", "x", F.coalesce("c", F.lit(0)).alias("c")
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src = Window.partitionBy("source")
    cum = filled.select(
        "source",
        "x",
        F.sum("c").over(w_run).alias("cum_s"),
        F.sum("c").over(w_src).alias("n_s"),
    )
    # at any fixed x, Σ_sources n_s = corpus total — so n_all rides
    # the same per-x window as cum_all, with no extra scan branch
    w_x = Window.partitionBy("x")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    both = cum.select(
        "source",
        "x",
        "cum_s",
        "n_s",
        F.sum("cum_s").over(w_x).alias("cum_all"),
        F.sum("n_s").over(w_x).alias("n_all"),
    )
    return (
        both.groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.round(
                F.max(
                    F.abs(
                        dec("cum_s") * dec("n_all")
                        - dec("cum_all") * dec("n_s")
                    )
                ).cast("double")
                / (
                    F.max("n_s").cast("double")
                    * F.max("n_all").cast("double")
                ),
                6,
            ).alias("ks_stat"),
        )
        .orderBy("source")
    )


SOURCE_LENGTH_KS_SQL = r"""
WITH cs AS (
    SELECT source, n_chars AS x, count(*) AS c
    FROM documents GROUP BY 1, 2
),
grid AS (
    SELECT s.source, p.x
    FROM (SELECT DISTINCT x FROM cs) p
    CROSS JOIN (SELECT DISTINCT source FROM cs) s
),
filled AS (
    SELECT g.source, g.x, coalesce(cs.c, 0) AS c
    FROM grid g LEFT JOIN cs ON cs.source = g.source AND cs.x = g.x
),
cum AS (
    SELECT source, x,
           sum(c) OVER (PARTITION BY source ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum_s,
           sum(c) OVER (PARTITION BY source) AS n_s
    FROM filled
),
both_cdf AS (
    SELECT source, x, cum_s, n_s,
           sum(cum_s) OVER (PARTITION BY x) AS cum_all,
           sum(n_s) OVER (PARTITION BY x) AS n_all
    FROM cum
)
SELECT source,
       CAST(max(n_s) AS BIGINT) AS n_docs,
       round(CAST(max(abs(cum_s * n_all - cum_all * n_s)) AS DOUBLE)
             / (CAST(max(n_s) AS DOUBLE) * CAST(max(n_all) AS DOUBLE)),
             6) AS ks_stat
FROM both_cdf
GROUP BY source
ORDER BY source
"""


def source_length_mannwhitney(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact two-sample Mann-Whitney U between every pair of sources
    on document length (n_chars) — the rank-based companion to
    source_length_ks: KS flags ANY distribution change, U/AUC answers
    the directional question "does source A write longer documents
    than source B, and by how much" (AUC = P(len_a > len_b) + ½
    P(tie), the common-language effect size). A pipeline uses this to
    rank sources by length profile before mixing or truncation-budget
    decisions (cf. the reference's per-corpus length stats,
    api.py:515-533, generalized to pairwise tests).

    INTEGER-EXACT: everything is computed on the doubled statistic
    u2 = 2·U = Σ_x c_a(x)·(2·below_b(x) + c_b(x)), which is integer
    arithmetic over histogram counts (ties contribute the exact ½ via
    the +c_b term). The single division at the end is the micro-unit
    integer div: auc_micro = u2·1e6 div (2·n_a·n_b). Exact while
    2·n_a·n_b·1e6 fits int64 — up to ~2.1e6 docs per source; beyond
    that the documented micro-convention bound applies (promote the
    final div to DECIMAL as in source_length_ks).

    Shape for scale: identical skeleton to source_length_ks — lengths
    pre-aggregate to (source, x) counts, so the largest shuffle
    carries |sources|×|support| histogram rows, NOT documents; the
    pairwise comparison is an EQUI-join on x (each x bucket holds
    |sources| rows per side — bounded fan-out, no cartesian, no
    broadcast of anything document-sized). Adding sources grows the
    join quadratically in |sources| only, which is the tiny dimension.
    Output: one row per unordered pair (source_a < source_b).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    cs = (
        docs.groupBy("source", F.col("n_chars").alias("x"))
        .agg(F.count("*").alias("c"))
    )
    support = cs.select("x").distinct()
    sources = cs.select("source").distinct()
    grid = support.crossJoin(F.broadcast(sources))
    filled = grid.join(cs, ["source", "x"], "left").select(
        "source", "x", F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src = Window.partitionBy("source")
    cum = filled.select(
        "source",
        "x",
        "c",
        (F.sum("c").over(w_run) - F.col("c")).alias("below"),
        F.sum("c").over(w_src).alias("n"),
    )
    a, b = cum.alias("a"), cum.alias("b")
    pairs = a.join(
        b,
        (F.col("a.x") == F.col("b.x"))
        & (F.col("a.source") < F.col("b.source")),
    )
    return (
        pairs.groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.max("a.n").cast("bigint").alias("n_a"),
            F.max("b.n").cast("bigint").alias("n_b"),
            F.sum(
                F.col("a.c") * (F.lit(2) * F.col("b.below") + F.col("b.c"))
            ).cast("bigint").alias("u2_a"),
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "u2_a",
            F.expr(
                "CAST(u2_a * 1000000L div (2L * n_a * n_b) AS BIGINT)"
            ).alias("auc_micro"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_LENGTH_MANNWHITNEY_SQL = r"""
WITH cs AS (
    SELECT source, n_chars AS x, count(*) AS c
    FROM documents GROUP BY 1, 2
),
grid AS (
    SELECT s.source, p.x
    FROM (SELECT DISTINCT x FROM cs) p
    CROSS JOIN (SELECT DISTINCT source FROM cs) s
),
filled AS (
    SELECT g.source, g.x, CAST(coalesce(cs.c, 0) AS BIGINT) AS c
    FROM grid g LEFT JOIN cs ON cs.source = g.source AND cs.x = g.x
),
cum AS (
    SELECT source, x, c,
           sum(c) OVER (PARTITION BY source ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - c AS below,
           sum(c) OVER (PARTITION BY source) AS n
    FROM filled
)
SELECT a.source AS source_a,
       b.source AS source_b,
       CAST(max(a.n) AS BIGINT) AS n_a,
       CAST(max(b.n) AS BIGINT) AS n_b,
       CAST(sum(a.c * (2 * b.below + b.c)) AS BIGINT) AS u2_a,
       CAST(CAST(sum(a.c * (2 * b.below + b.c)) AS BIGINT) * 1000000
            // (2 * CAST(max(a.n) AS BIGINT) * max(b.n)) AS BIGINT)
           AS auc_micro
FROM cum a JOIN cum b ON a.x = b.x AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


LOG_ODDS_PRIOR = 1000.0  # Dirichlet prior pseudo-token mass (a0)
LOG_ODDS_TOP = 5  # distinguishing terms kept per source


def source_log_odds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinguishing terms per source by log-odds ratio with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008) — the
    standard "what vocabulary makes this slice different" audit,
    more robust than raw tf-idf because the prior shrinks rare-term
    noise toward the corpus distribution.

    For term w in source s vs the rest r, with prior a_w scaled from
    corpus frequency (a_w = a0·c_w/N):
        delta  = ln((y_sw+a_w)/(n_s+a0-y_sw-a_w))
               - ln((y_rw+a_w)/(n_r+a0-y_rw-a_w))
        var    = 1/(y_sw+a_w) + 1/(y_rw+a_w)
        z      = delta / sqrt(var)

    Shape for scale: identical to source_token_kl — one explode +
    partial agg per (source, term); corpus marginals re-aggregate from
    the per-source counts; the join back is vocabulary-keyed (AQE
    broadcasts at fixture scale, shuffle-joins beyond). The z-score is
    pointwise arithmetic on exact integer counts (no accumulation
    ordering), so both engines produce bit-identical doubles. Top-K
    per source via a window over source partitions.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(tokenize("text")).alias("term"))
    per_src = tok.groupBy("source", "term").agg(F.count("*").alias("y_sw"))
    src_totals = per_src.groupBy("source").agg(F.sum("y_sw").alias("n_s"))
    corpus = per_src.groupBy("term").agg(F.sum("y_sw").alias("c_w"))
    corpus_total = corpus.agg(F.sum("c_w").alias("n_all"))
    a0 = F.lit(LOG_ODDS_PRIOR)
    joined = (
        per_src.join(corpus, "term")
        .join(F.broadcast(src_totals), "source")
        .join(F.broadcast(corpus_total))
    )
    a_w = a0 * F.col("c_w") / F.col("n_all")
    y_sw = F.col("y_sw").cast("double")
    y_rw = (F.col("c_w") - F.col("y_sw")).cast("double")
    n_s = F.col("n_s").cast("double")
    n_r = (F.col("n_all") - F.col("n_s")).cast("double")
    delta = F.log((y_sw + a_w) / (n_s + a0 - y_sw - a_w)) - F.log(
        (y_rw + a_w) / (n_r + a0 - y_rw - a_w)
    )
    var = 1.0 / (y_sw + a_w) + 1.0 / (y_rw + a_w)
    scored = joined.select(
        "source",
        "term",
        F.col("y_sw").alias("n_in_source"),
        F.round(delta / F.sqrt(var), 6).alias("z_score"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("z_score"), "term")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= LOG_ODDS_TOP)
        .drop("_rn")
        .orderBy("source", F.desc("z_score"), "term")
    )


SOURCE_LOG_ODDS_TERMS_SQL = rf"""
WITH tok AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS term
    FROM documents
),
per_src AS (
    SELECT source, term, count(*) AS y_sw FROM tok GROUP BY 1, 2
),
src_totals AS (
    SELECT source, sum(y_sw) AS n_s FROM per_src GROUP BY 1
),
corpus AS (
    SELECT term, sum(y_sw) AS c_w FROM per_src GROUP BY 1
),
corpus_total AS (
    SELECT sum(c_w) AS n_all FROM corpus
),
scored AS (
    SELECT source, term, y_sw AS n_in_source,
           round(
             (ln((y_sw + {LOG_ODDS_PRIOR} * c_w / n_all)
                 / (n_s + {LOG_ODDS_PRIOR} - y_sw
                    - {LOG_ODDS_PRIOR} * c_w / n_all))
              - ln((c_w - y_sw + {LOG_ODDS_PRIOR} * c_w / n_all)
                   / (n_all - n_s + {LOG_ODDS_PRIOR} - (c_w - y_sw)
                      - {LOG_ODDS_PRIOR} * c_w / n_all)))
             / sqrt(1.0 / (y_sw + {LOG_ODDS_PRIOR} * c_w / n_all)
                    + 1.0 / (c_w - y_sw
                             + {LOG_ODDS_PRIOR} * c_w / n_all)),
             6) AS z_score
    FROM per_src
    JOIN corpus USING (term)
    JOIN src_totals USING (source)
    CROSS JOIN corpus_total
)
SELECT source, term, n_in_source, z_score
FROM scored
QUALIFY row_number() OVER (PARTITION BY source
                           ORDER BY z_score DESC, term) <= {LOG_ODDS_TOP}
ORDER BY source, z_score DESC, term
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution histogram per language: 50-char bins over
    n_chars. width_bucket-style binning as a pure expression; one
    partial+final agg on (lang, bin)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    bin_col = (F.floor(F.col("n_chars") / 50) * 50).cast("bigint")
    return (
        docs.groupBy("lang", bin_col.alias("char_bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang", "char_bin")
    )


DOC_LENGTH_HISTOGRAM_SQL = r"""
SELECT lang,
       CAST(floor(n_chars / 50) * 50 AS BIGINT) AS char_bin,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY 1, 2
ORDER BY lang, char_bin
"""


QUANTILES = (0.5, 0.9, 0.99)


def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated length percentiles (p50/p90/p99) per lang.

    Uses Spark's exact ``percentile`` aggregate (linear interpolation
    between order statistics — the same definition as DuckDB's
    ``quantile_cont``), so the oracle comparison is exact. The exact
    aggregate sorts within each (small, bounded: one per lang) group;
    at 100 TB swap to ``percentile_approx`` — same call shape,
    t-digest state, no sort — and drop the oracle to an error-bound
    test (the approx twin is pinned that way in
    tests/test_properties.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    aggs = [
        F.round(
            F.percentile(F.col("n_chars").cast("double"), F.lit(q)), 4
        ).alias(f"p{int(q * 100)}")
        for q in QUANTILES
    ]
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), *aggs)
        .orderBy("lang")
    )


DOC_LENGTH_QUANTILES_SQL = r"""
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) AS p90,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.99), 4) AS p99
FROM documents
GROUP BY lang
ORDER BY lang
"""


def doc_length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH path for quantiles (the scale twin of
    doc_length_quantiles) with a driver-checkable output: each engine
    runs its own approximate-quantile sketch (Spark: Greenwald-Khanna
    via ``approx_percentile``; DuckDB: t-digest via
    ``approx_quantile``) alongside the exact interpolated percentile
    and emits the deterministic band verdict — sketch estimates are
    not bit-identical across engines, booleans about their accuracy
    are. Same contract shape as events_approx_users (SURVEY A8).
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.round(
            F.percentile(F.col("n_chars").cast("double"), F.lit(0.5)), 4
        ).alias("p50"),
        F.round(
            F.percentile(F.col("n_chars").cast("double"), F.lit(0.9)), 4
        ).alias("p90"),
        F.expr("approx_percentile(n_chars, 0.5, 1000)").alias("_a50"),
        F.expr("approx_percentile(n_chars, 0.9, 1000)").alias("_a90"),
    )
    return g.select(
        "lang",
        "p50",
        "p90",
        (
            (F.abs(F.col("_a50") - F.col("p50")) <= 0.05 * F.col("p50"))
            & (F.abs(F.col("_a90") - F.col("p90")) <= 0.05 * F.col("p90"))
        ).alias("sketch_within_5pct"),
    ).orderBy("lang")


DOC_LENGTH_QUANTILE_SKETCH_SQL = r"""
SELECT lang,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) AS p90,
       abs(approx_quantile(CAST(n_chars AS DOUBLE), 0.5)
           - quantile_cont(CAST(n_chars AS DOUBLE), 0.5))
           <= 0.05 * quantile_cont(CAST(n_chars AS DOUBLE), 0.5)
       AND
       abs(approx_quantile(CAST(n_chars AS DOUBLE), 0.9)
           - quantile_cont(CAST(n_chars AS DOUBLE), 0.9))
           <= 0.05 * quantile_cont(CAST(n_chars AS DOUBLE), 0.9)
           AS sketch_within_5pct
FROM documents
GROUP BY lang
ORDER BY lang
"""


def label_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain profile joining the embedding space to the text
    corpus (FIXTURES.md: embeddings.vec_id joins documents.doc_id) —
    per embedding label: how many documents, average token count, and
    the dominant language (ties toward the alphabetically-first lang,
    deterministic in both engines).

    Plan: the embeddings side carries only (vec_id, label), so the
    join is a broadcast of a 2-column projection at fixture scale and
    a shuffle join on id at 100 TB (no hint — AQE decides); token
    counting is map-side; both aggs are partial+final.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    joined = docs.join(emb, "doc_id").select(
        "doc_id", "label", "lang", token_count("text").alias("n_tokens")
    )
    # ONE aggregation of the join feeds both outputs: the (label,
    # lang) rollup carries counts AND token sums, so the label-level
    # stats derive from it (sum-of-sums / sum-of-counts == avg over
    # the joined rows, same long operands, same double division)
    # instead of re-scanning and re-joining both tables.
    per_lang = joined.groupBy("label", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_lang"),
        F.sum("n_tokens").alias("tok_sum"),
    )
    # single second-level aggregation: the dominant lang is
    # min_by(lang, (-count, lang)) — same most-docs-then-alphabetical
    # rule the oracle's window expresses — so per_lang is consumed
    # once and the whole query is one scan of each table
    return (
        per_lang.groupBy("label")
        .agg(
            F.sum("n_docs_lang").cast("bigint").alias("n_docs"),
            F.round(F.sum("tok_sum") / F.sum("n_docs_lang"), 4).alias(
                "avg_tokens"
            ),
            F.min_by(
                "lang",
                F.struct(
                    (-F.col("n_docs_lang")).alias("neg_n"),
                    F.col("lang").alias("lang"),
                ),
            ).alias("top_lang"),
        )
        .select("label", "n_docs", "avg_tokens", "top_lang")
        .orderBy("label")
    )


LABEL_TEXT_PROFILE_SQL = r"""
WITH joined AS (
    SELECT d.doc_id, e.label, d.lang,
           len(list_filter(regexp_split_to_array(
               regexp_replace(lower(d.text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS n_tokens
    FROM documents d
    JOIN embeddings e ON e.vec_id = d.doc_id
),
per_lang AS (
    SELECT label, lang, count(*) AS n_docs_lang
    FROM joined GROUP BY 1, 2
),
top_lang AS (
    SELECT label, lang AS top_lang FROM (
        SELECT label, lang,
               row_number() OVER (PARTITION BY label
                                  ORDER BY n_docs_lang DESC, lang ASC) AS rn
        FROM per_lang
    ) WHERE rn = 1
),
stats AS (
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_tokens), 4) AS avg_tokens
    FROM joined GROUP BY label
)
SELECT s.label, s.n_docs, s.avg_tokens, t.top_lang
FROM stats s JOIN top_lang t USING (label)
ORDER BY s.label
"""


# ── n-gram diversity (distinct-n) ────────────────────────────────────


def source_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 per source (Li et al. 2016's diversity
    metric, the standard screen for template-generated or synthetic
    text): unique n-grams over total n-grams. A source whose
    distinct-2 collapses is recycling phrasing — the signal used to
    down-weight or drop machine-generated sources before training.

    Plan shape: unigrams and bigrams fan out map-side from the token
    array (sequence/transform — no self-join), then ONE shuffle per
    n-gram order keyed by source with partial aggregation;
    count_distinct is Spark's two-phase distinct agg, volume bounded
    by vocabulary per source, never corpus size. Ratios are exact
    integer divisions rounded at 6dp.
    Output: (source, n_tokens, distinct_1, n_bigrams, distinct_2).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", tokenize("text").alias("ts"))
    uni = toks.select("source", F.explode("ts").alias("g"))
    uni_stats = uni.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("g").alias("u1"),
    )
    bi = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ts")),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i - 1), F.element_at("ts", i)
                ),
            )
        ).alias("g"),
    )
    bi_stats = bi.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("g").alias("u2"),
    )
    return (
        uni_stats.join(bi_stats, "source")
        .select(
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("u1") / F.col("n_tokens"), 6).alias("distinct_1"),
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(F.col("u2") / F.col("n_bigrams"), 6).alias("distinct_2"),
        )
        .orderBy("source")
    )


SOURCE_NGRAM_DIVERSITY_SQL = r"""
WITH toks AS (
    SELECT source,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS ts
    FROM documents
),
uni AS (
    SELECT source, t.g
    FROM toks, unnest(ts) AS t(g)
),
uni_stats AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           count(DISTINCT g) AS u1
    FROM uni GROUP BY source
),
bi AS (
    SELECT source, ts[i - 1] || ' ' || ts[i] AS g
    FROM toks, unnest(range(2, len(ts) + 1)) AS u(i)
),
bi_stats AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           count(DISTINCT g) AS u2
    FROM bi GROUP BY source
)
SELECT source,
       n_tokens,
       round(u1 / CAST(n_tokens AS DOUBLE), 6) AS distinct_1,
       n_bigrams,
       round(u2 / CAST(n_bigrams AS DOUBLE), 6) AS distinct_2
FROM uni_stats JOIN bi_stats USING (source)
ORDER BY source
"""


# ── parquet footer statistics (metadata-only table profiling) ────────

# key column whose footer min/max stats profile each table
FOOTER_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the crawl still adding information? Fraction of per-doc
    distinct bigrams seen for the FIRST time, bucketed by corpus
    order (doc_id deciles) — the saturation curve a data team reads
    before paying for more of the same source: a flat-high curve
    means new docs keep contributing novel phrasing, a collapsing
    tail means the crawl is re-reading itself (and dedup alone won't
    show it, because near-identical phrasing across distinct docs is
    below the document-level radar).

    Plan shape: per-doc DISTINCT bigrams fan out map-side; ONE
    shuffle keyed by bigram finds each bigram's first-owner doc (a
    min agg with map-side combine — never a self-join), one doc_id
    shuffle rolls up per-doc counts, and the decile bucket is a
    map-side integer expression against a broadcast 1-row min/max.
    Novelty is a truncating integer micro-division, engine-exact.
    Docs with fewer than two tokens carry no bigrams and drop out of
    the curve in both engines.
    Output: (decile, n_docs, n_bigrams, n_novel, novelty_micro).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokenize("text").alias("ts"))
    bi = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                # NULL (no rows) below two tokens: sequence(2, 0) counts down
                F.when(F.size("ts") >= 2, F.sequence(F.lit(2), F.size("ts"))),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i - 1), F.element_at("ts", i)
                ),
            )
        ).alias("g"),
    ).distinct()
    first = bi.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        bi.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("int")
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    return (
        per_doc.join(F.broadcast(bounds), how="cross")
        .select(
            F.expr(
                "CAST(least(9, ((doc_id - lo) * 10) DIV (hi - lo + 1)) "
                "AS BIGINT)"
            ).alias("decile"),
            "n_bigrams",
            "n_novel",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
        )
        .select(
            "decile",
            "n_docs",
            "n_bigrams",
            "n_novel",
            F.expr("(n_novel * 1000000) DIV n_bigrams")
            .cast("bigint")
            .alias("novelty_micro"),
        )
        .orderBy("decile")
    )


CORPUS_NOVELTY_CURVE_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS ts
    FROM documents
),
bi AS (
    SELECT DISTINCT doc_id, ts[i - 1] || ' ' || ts[i] AS g
    FROM toks, unnest(range(2, len(ts) + 1)) AS u(i)
),
first AS (
    SELECT g, min(doc_id) AS first_doc FROM bi GROUP BY g
),
per_doc AS (
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM bi b JOIN first f ON f.g = b.g
    GROUP BY b.doc_id
),
bounds AS (
    SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
)
SELECT CAST(least(9, ((p.doc_id - b.lo) * 10) // (b.hi - b.lo + 1))
            AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(sum(p.n_novel) AS BIGINT) AS n_novel,
       CAST((sum(p.n_novel) * 1000000) // sum(p.n_bigrams) AS BIGINT)
           AS novelty_micro
FROM per_doc p CROSS JOIN bounds b
GROUP BY 1
ORDER BY decile
"""


def parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile every table from parquet FOOTERS alone — row counts
    and key-column min/max read from row-group statistics without
    scanning a single data page. At 100 TB this is the "describe the
    lake" query: cost is O(files), not O(bytes), because the footer
    carries exact counts and (for these untruncated int stats) exact
    min/max. The footer walk runs executor-side (mapInPandas over
    the file list — here one file per table, on a real lake the
    listing fans out the same way).

    The ORACLE recomputes the identical numbers the slow way — full
    COUNT/MIN/MAX scans over the registered views — so the driver
    cross-checks that the metadata fast path tells the truth about
    the data. Output: (table_name, n_rows, key_min, key_max)."""
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    rows = [
        (t, os.path.join(sf_dir, f"{t}.parquet"), k)
        for t, k in sorted(FOOTER_KEYS.items())
    ]
    files = local_frame(
        spark,
        rows, "table_name string, path string, key string"
    ).repartition(len(rows))

    schema = StructType(
        [
            StructField("table_name", StringType(), False),
            StructField("n_rows", LongType(), False),
            StructField("key_min", LongType(), False),
            StructField("key_max", LongType(), False),
        ]
    )

    def _footers(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        for pdf in batches:
            out = {"table_name": [], "n_rows": [], "key_min": [], "key_max": []}
            for t, path, key in zip(
                pdf["table_name"], pdf["path"], pdf["key"]
            ):
                md = _pq.ParquetFile(path).metadata
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                ki = names.index(key)
                mins, maxs = [], []
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(ki).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(f"{path}: footer lacks stats")
                    mins.append(int(st.min))
                    maxs.append(int(st.max))
                out["table_name"].append(t)
                out["n_rows"].append(int(md.num_rows))
                out["key_min"].append(min(mins))
                out["key_max"].append(max(maxs))
            yield _pd.DataFrame(out)

    return files.mapInPandas(_footers, schema).orderBy("table_name")


PARQUET_FOOTER_STATS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,\n"
    f"       CAST(min({k}) AS BIGINT) AS key_min,\n"
    f"       CAST(max({k}) AS BIGINT) AS key_max FROM {t}"
    for t, k in sorted(FOOTER_KEYS.items())
) + "\nORDER BY table_name"


def source_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document template detection: the top-3 bigrams per source
    by DOCUMENT frequency, with the share of the source's documents
    containing each. A boilerplate header/footer/disclaimer shows up
    as one n-gram present in most of a source's documents — the
    cross-doc complement of repetition_scores (intra-doc) and
    source_ngram_diversity (vocabulary collapse); CCNet/C4-style
    pipelines run exactly this screen before line-level boilerplate
    removal.

    Plan shape: per-doc DISTINCT bigrams fan out map-side from the
    token array (no self-join); ONE shuffle keyed (source, gram) with
    partial aggregation (volume bounded by vocabulary x sources, not
    corpus size — the distinct-per-doc cap means a gram counts once
    per doc); per-source doc totals reaggregate from a skinny
    projection and broadcast back; the top-3 is a window over the
    per-source gram counts (each source's gram list is
    vocabulary-bounded, so no skewed total sort). Ties break on the
    gram string so both engines rank identically.
    Output: (source, gram, n_docs_with, doc_share, rank).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "source", tokenize("text").alias("ts"))
    # guard single-token docs: sequence(2, 1) would DESCEND into
    # element_at(ts, 0), which is an index error, not an empty list
    bigrams = F.when(
        F.size("ts") >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(2), F.size("ts")),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i - 1), F.element_at("ts", i)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select(
        "doc_id", "source", F.explode(bigrams).alias("gram")
    )
    df_counts = grams.groupBy("source", "gram").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_docs_with").desc(), F.col("gram").asc()
    )
    return (
        df_counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "gram",
            F.col("n_docs_with").cast("bigint").alias("n_docs_with"),
            F.round(F.col("n_docs_with") / F.col("n_docs"), 6).alias(
                "doc_share"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("source", "rank")
    )


SOURCE_BOILERPLATE_NGRAMS_SQL = r"""
WITH toks AS (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS ts
    FROM documents
),
grams AS (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(ts) - 1, 0) + 1),
               i -> array_to_string(ts[i:i+1], ' ')))) AS gram
    FROM toks
),
df_counts AS (
    SELECT source, gram, count(*) AS n_docs_with
    FROM grams GROUP BY source, gram
),
totals AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
ranked AS (
    SELECT source, gram, n_docs_with,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_docs_with DESC, gram ASC) AS rank
    FROM df_counts
)
SELECT r.source, r.gram,
       CAST(r.n_docs_with AS BIGINT) AS n_docs_with,
       round(r.n_docs_with / t.n_docs, 6) AS doc_share,
       CAST(r.rank AS INTEGER) AS rank
FROM ranked r JOIN totals t ON r.source = t.source
WHERE r.rank <= 3
ORDER BY r.source, r.rank
"""


def corpus_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity release gate between the text corpus and
    its embedding table (FIXTURES.md: embeddings.vec_id joins the
    documents.doc_id domain): duplicate-id counts on each side, docs
    without an embedding, embeddings without a doc, and the coverage
    fraction. The check a pipeline runs BEFORE spending GPU time on a
    corpus whose embedding pass silently dropped a shard — the
    integrity sibling of k_anonymity_audit / decontamination_report.

    Plan shape: distinct id sets full-outer-joined once, with ALL the
    orphan/match counts from ONE conditional aggregate over the join
    flags (the curation_funnel r07 pattern — no union of aggregates,
    no repeated scans); per-side duplicate counts ride the same two
    skinny scans as 1-row aggregates joined in. Shuffles carry bare
    ids; output is one row.
    """
    doc_ids = (
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    vec_ids = (
        load_table(spark, sf_dir, "embeddings").select("vec_id")
    )
    d_stats = doc_ids.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("doc_id").cast("bigint").alias("n_doc_ids"),
    )
    v_stats = vec_ids.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.countDistinct("vec_id").cast("bigint").alias("n_vec_ids"),
    )
    j = doc_ids.distinct().alias("d").join(
        vec_ids.distinct().alias("v"),
        F.col("d.doc_id") == F.col("v.vec_id"),
        "full_outer",
    )
    matched = F.col("d.doc_id").isNotNull() & F.col("v.vec_id").isNotNull()
    joined = j.agg(
        F.sum(F.when(matched, 1).otherwise(0)).cast("bigint").alias(
            "n_matched"
        ),
        F.sum(F.when(F.col("v.vec_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_without_vec"),
        F.sum(F.when(F.col("d.doc_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_vecs_without_doc"),
    )
    return (
        d_stats.join(v_stats)
        .join(joined)
        .select(
            "n_docs",
            (F.col("n_docs") - F.col("n_doc_ids")).alias("n_dup_doc_ids"),
            "n_vecs",
            (F.col("n_vecs") - F.col("n_vec_ids")).alias("n_dup_vec_ids"),
            "n_matched",
            "n_docs_without_vec",
            "n_vecs_without_doc",
            F.round(F.col("n_matched") / F.col("n_doc_ids"), 6).alias(
                "coverage_frac"
            ),
        )
    )


CORPUS_INTEGRITY_AUDIT_SQL = r"""
WITH d_stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_doc_ids
    FROM documents
),
v_stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vec_ids
    FROM embeddings
),
joined AS (
    SELECT CAST(sum(CASE WHEN d.doc_id IS NOT NULL
                          AND v.vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN v.vec_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs_without_vec,
           CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_vecs_without_doc
    FROM (SELECT DISTINCT doc_id FROM documents) d
    FULL OUTER JOIN (SELECT DISTINCT vec_id FROM embeddings) v
      ON d.doc_id = v.vec_id
)
SELECT n_docs,
       n_docs - n_doc_ids AS n_dup_doc_ids,
       n_vecs,
       n_vecs - n_vec_ids AS n_dup_vec_ids,
       n_matched,
       n_docs_without_vec,
       n_vecs_without_doc,
       round(n_matched / CAST(n_doc_ids AS DOUBLE), 6) AS coverage_frac
FROM d_stats CROSS JOIN v_stats CROSS JOIN joined
"""


# ── n-gram novelty profile (corpus ordering diagnostic) ──────────────

NOVELTY_N = 3  # token n-gram width
NOVELTY_DECILES = 10  # doc-order buckets in the output


def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve over corpus order: for each doc-order decile, the
    fraction of its documents' distinct token 3-grams that were never
    seen in ANY earlier document (first-occurrence attribution by min
    doc_id). A healthy fresh crawl shows a slowly decaying curve; a
    curve that collapses toward zero means later ingest is re-crawling
    what the corpus already holds — the standard "are we still adding
    information?" diagnostic for incremental corpus growth (the
    corpus-level complement of per-doc dedup).

    Shape for scale: ONE shuffle keyed by the gram — per gram,
    ``min(doc_id)`` attributes the gram to its introducing document
    and the same aggregation's group count is the novel-gram count per
    introducing doc. Per-doc distinct-gram totals come from the same
    exploded frame (doc-keyed partial agg), joined to the novel counts
    on doc_id. The decile is a pure map-side expression
    ``floor(doc_id * 10 / max_id+1)`` using the 1-row max broadcast —
    NO global ntile window (a single-partition sort would be the
    scale-killer here). State is O(vocabulary of grams), the same
    budget the dedup shingle tier already pays.

    Output per decile: n_docs, total_grams (sum of per-doc distinct),
    novel_grams, novelty_micro = floor(novel*1e6/total).
    """
    from parquet_extractor_spark.functions.text import word_ngrams

    docs = spread(load_table(spark, sf_dir, "documents"))
    # materialize: both the per-doc totals and the first-occurrence
    # aggregate consume this fan-out; unpersisted, the tokenize +
    # shingle explode ran twice (r12).
    grams = materialize(
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngrams(tokenize("text"), NOVELTY_N))
            ).alias("gram"),
        )
    )
    per_doc_total = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    novel_per_doc = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    bounds = docs.agg(F.max("doc_id").alias("max_id"))
    per_doc = (
        per_doc_total.join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .join(F.broadcast(bounds), how="cross")
        .select(
            F.floor(
                F.col("doc_id")
                * F.lit(NOVELTY_DECILES)
                / (F.col("max_id") + 1)
            ).cast("bigint").alias("decile"),
            "n_grams",
            "n_novel",
        )
    )
    return (
        per_doc.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("total_grams"),
            F.sum("n_novel").cast("bigint").alias("novel_grams"),
        )
        .select(
            "decile",
            "n_docs",
            "total_grams",
            "novel_grams",
            F.floor(
                F.col("novel_grams") * F.lit(1_000_000) / F.col("total_grams")
            ).cast("bigint").alias("novelty_micro"),
        )
        .orderBy("decile")
    )


NGRAM_NOVELTY_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS tokens
    FROM documents
),
grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(tokens) - {NOVELTY_N - 1}, sign(len(tokens))) + 1),
               i -> array_to_string(tokens[i:i+{NOVELTY_N - 1}], ' '))))
           AS gram
    FROM toks
),
per_doc_total AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
    FROM grams GROUP BY doc_id
),
novel_per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
    FROM (SELECT gram, min(doc_id) AS doc_id FROM grams GROUP BY gram) f
    GROUP BY doc_id
),
bounds AS (SELECT max(doc_id) AS max_id FROM documents),
per_doc AS (
    SELECT CAST(floor(t.doc_id * {NOVELTY_DECILES}
                      / (b.max_id + 1.0)) AS BIGINT) AS decile,
           t.n_grams,
           CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel
    FROM per_doc_total t
    LEFT JOIN novel_per_doc n ON t.doc_id = n.doc_id
    CROSS JOIN bounds b
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_novel) AS BIGINT) AS novel_grams,
       CAST(floor(sum(n_novel) * 1000000.0 / sum(n_grams)) AS BIGINT)
           AS novelty_micro
FROM per_doc
GROUP BY decile
ORDER BY decile
"""


def source_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source — the vocabulary-richness
    triple a corpus datasheet reports next to the Zipf fit:

    - type-token ratio V/N (vocabulary size over token count),
    - hapax share H/V (terms occurring exactly once — the Heaps'-law
      frontier; a source whose hapax share collapses is template spam),
    - Simpson repeat probability Σ n_i(n_i−1) / (N(N−1)) — the chance
      two random tokens are the same type (higher = more repetitive).

    INTEGER-EXACT: all three are ratios of exact counts with one
    micro-div each; Σ n_i(n_i−1) and N(N−1) run in DECIMAL(38,0)
    (DuckDB HUGEINT) since they square token counts.

    Shape for scale: one tokenize+explode pass into a (source, term)
    partial+final agg (the same vocabulary-bounded shuffle every
    vocab operator pays); per-source reduction re-aggregates those
    group rows — no second pass over tokens, no distinct on the raw
    stream. Output: |sources| rows.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("source", F.explode(tokenize("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    dec = "decimal(38,0)"
    return (
        tf.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
            F.sum((F.col("n") == 1).cast("bigint"))
            .cast("bigint")
            .alias("hapax_count"),
            F.sum(
                F.col("n").cast(dec) * (F.col("n") - 1).cast(dec)
            ).alias("_rep"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            "hapax_count",
            F.expr(
                "CAST(vocab_size * 1000000L div n_tokens AS BIGINT)"
            ).alias("ttr_micro"),
            F.expr(
                "CAST(hapax_count * 1000000L div vocab_size AS BIGINT)"
            ).alias("hapax_share_micro"),
            F.expr(
                "CAST(CASE WHEN n_tokens > 1 THEN _rep * 1000000 div "
                "(CAST(n_tokens AS decimal(38,0)) * (n_tokens - 1)) "
                "ELSE 0 END AS BIGINT)"
            ).alias("simpson_micro"),
        )
        .orderBy("source")
    )


SOURCE_LEXICAL_DIVERSITY_SQL = r"""
WITH tf AS (
    SELECT source, tok AS term, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT source, unnest(list_filter(regexp_split_to_array(
            regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
            x -> x != '')) AS tok
        FROM documents
    )
    GROUP BY 1, 2
),
agg AS (
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CAST(n = 1 AS BIGINT)) AS BIGINT) AS hapax_count,
           sum(CAST(n AS HUGEINT) * (n - 1)) AS rep
    FROM tf GROUP BY source
)
SELECT source, n_tokens, vocab_size, hapax_count,
       CAST(vocab_size * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
       CAST(hapax_count * 1000000 // vocab_size AS BIGINT)
           AS hapax_share_micro,
       CAST(CASE WHEN n_tokens > 1 THEN rep * 1000000
                 // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                 ELSE 0 END AS BIGINT) AS simpson_micro
FROM agg
ORDER BY source
"""
