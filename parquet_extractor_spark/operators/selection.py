"""Data-selection operators for training-corpus curation.

Four published-recipe operators a large-scale LLM data pipeline runs
beyond dedup/quality filtering (reference scope: the corpus analyzer at
api.py:470-579 — the reference has no selection stage at all; these are
the north-star extensions):

- **DSIR importance weights** (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): hashed-n-gram importance
  log-weights of a raw corpus against a target domain.
- **BM25 retrieval** (Robertson/Sparck Jones): classic lexical top-k
  scoring of documents against a query term set — the standard
  "find me more like this" selection primitive.
- **Duplicate span detection** (Lee et al. 2022, "Deduplicating
  Training Data Makes Language Models Better", approximated): repeated
  token windows across documents, the shingle-pileup approximation of
  suffix-array substring dedup.
- **Bigram-LM surprisal** (the CCNet perplexity-filter recipe,
  Wenzek et al. 2020, with a hashed count-based LM standing in for
  KenLM): per-doc average −ln P(cur|prev) as a quality signal.

Scale notes (100 TB):

- All three are explode → hash-aggregate shapes: one scan of
  (doc_id, text[, lang]), shuffles bounded by token/shingle counts,
  partial aggregation map-side, tiny distribution tables broadcast.
- Float discipline: every cross-engine score is fixed to integer
  micro-units (``CAST(round(x * 1e6) AS BIGINT)``) *before* the final
  per-doc sum, so the aggregation is exact integer arithmetic in both
  engines and immune to summation-order last-ulp drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_extractor_spark.functions.windows import bounded_global_window

from parquet_extractor_spark.functions.text import (
    portable_hash64,
    tokenize,
    word_ngrams,
)
from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, spread

# ── DSIR ────────────────────────────────────────────────────────────
DSIR_BUCKETS = 64  # hashed-feature buckets (paper uses 10k; fixture-sized)
DSIR_TARGET_LANG = "en"  # target domain: English docs

# ── BM25 ────────────────────────────────────────────────────────────
BM25_TERMS = ("join", "merge", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

# ── hashed bigram LM (perplexity proxy) ─────────────────────────────
LM_BUCKETS = 4096  # hashed bigram/unigram count buckets

# ── duplicate spans ─────────────────────────────────────────────────
SPAN_TOKENS = 8  # Lee et al. use 50-token windows; fixture docs are ~40 tokens
SPAN_TOP = 200
SPAN_SAMPLE_DOCS = 5
# Occurrence key doc_id·BASE + pos: positions fit under BASE (docs are
# context-length bounded), doc_ids under 2^63 / BASE ≈ 9.2e9.
SPAN_KEY_BASE = 1_000_000_000

_TOKENS_SQL = (
    r"list_filter(regexp_split_to_array("
    r"regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'), x -> x != '')"
)
_PHASH_SQL = "CAST('0x' || substr(md5({0}), 1, 15) AS BIGINT)"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-unigram DSIR importance log-weights vs the English slice.

    ``log w(d) = Σ_tok  log p_target(bucket(tok)) − log p_raw(bucket(tok))``
    with Laplace-smoothed bucket distributions. Docs whose token mix
    looks like the target domain score high; resampling by these
    weights is the DSIR selection recipe.

    Plan shape: ONE tokenize+explode pass feeds both the distribution
    build and the scoring (Catalyst reuses the exchange); the bucket
    distribution is DSIR_BUCKETS rows — broadcast. Per-bucket log
    ratios are snapped to integer micro-units before the per-doc sum,
    so the score aggregation is exact BIGINT math in any engine.
    Output: (doc_id, lang, n_tokens, log_weight_micro) sorted by doc_id.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("tok")
    ).withColumn("bucket", F.pmod(portable_hash64(F.col("tok")), F.lit(DSIR_BUCKETS)))

    # bucket distribution over raw corpus and target slice (64 rows)
    dist = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1)).otherwise(F.lit(0))
        ).alias("tgt_cnt"),
    )
    totals = dist.agg(
        F.sum("raw_cnt").alias("raw_total"), F.sum("tgt_cnt").alias("tgt_total")
    )
    lr = (
        dist.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("tgt_cnt") + 1) / (F.col("tgt_total") + DSIR_BUCKETS))
                    - F.log(
                        (F.col("raw_cnt") + 1) / (F.col("raw_total") + DSIR_BUCKETS)
                    )
                )
                * F.lit(1_000_000.0)
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )

    per_doc_bucket = toks.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_doc_bucket.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lr_micro")).cast("bigint").alias(
                "log_weight_micro"
            ),
        )
        .orderBy("doc_id")
    )


DSIR_IMPORTANCE_WEIGHTS_SQL = rf"""
WITH toks AS (
    SELECT doc_id, lang,
           {_PHASH_SQL.format('t.tok')} % {DSIR_BUCKETS} AS bucket
    FROM documents, unnest({_TOKENS_SQL}) AS t(tok)
),
dist AS (
    SELECT bucket,
           count(*) AS raw_cnt,
           sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS tgt_cnt
    FROM toks GROUP BY bucket
),
totals AS (
    SELECT sum(raw_cnt) AS raw_total, sum(tgt_cnt) AS tgt_total FROM dist
),
lr AS (
    SELECT bucket,
           CAST(round((ln((tgt_cnt + 1) / CAST(tgt_total + {DSIR_BUCKETS} AS DOUBLE))
                      - ln((raw_cnt + 1) / CAST(raw_total + {DSIR_BUCKETS} AS DOUBLE)))
                      * 1000000.0) AS BIGINT) AS lr_micro
    FROM dist CROSS JOIN totals
),
per_doc AS (
    SELECT doc_id, lang, bucket, count(*) AS cnt
    FROM toks GROUP BY doc_id, lang, bucket
)
SELECT p.doc_id, p.lang,
       CAST(sum(p.cnt) AS BIGINT) AS n_tokens,
       CAST(sum(p.cnt * lr.lr_micro) AS BIGINT) AS log_weight_micro
FROM per_doc p JOIN lr USING (bucket)
GROUP BY p.doc_id, p.lang
ORDER BY p.doc_id
"""


def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query term set.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))``
    with ``idf = ln(1 + (N − df + ½)/(df + ½))``.

    Plan shape (r03): doc length is the SIZE of the token array —
    map-side, no explode, no shuffle (empty docs filtered out to match
    the exploded form the oracle uses); the term-frequency explode
    filters the token array to the query terms BEFORE generating rows,
    so the only exploded rows are actual term hits — the tf shuffle
    carries hits, not the corpus. Corpus stats (N, avgdl — 1 row) and
    per-term df (|terms| rows) are broadcast. Per-term partial scores
    snap to micro-units before the doc-level sum (exact cross-engine
    BIGINT). Output: top BM25_TOP_K of (doc_id, score_micro, rank).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))

    # materialize both shared frames (r13; the r12 multi-reference
    # pattern, guide §5): `dl` feeds the corpus stats AND the scoring
    # join, `tf` feeds the per-term df AND the scoring join —
    # unpersisted, each reference re-runs the corpus scan + tokenize
    # (4 tokenize passes for a 2-pass query). dl is (doc_id, len)
    # rows, tf is query-term hits only.
    dl = materialize(
        docs.select(
            "doc_id", F.size(tokenize("text")).cast("bigint").alias("dl")
        ).filter(F.col("dl") > 0)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = materialize(
        docs.select(
            "doc_id",
            F.explode(
                F.filter(tokenize("text"), lambda t: t.isin(*BM25_TERMS))
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score_micro",
            F.round(
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("term_score_micro").cast("bigint").alias("score_micro")
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps, no global sort); the rank window then runs over only
    # BM25_TOP_K rows, so the unpartitioned WindowExec is bounded.
    top = per_doc.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(BM25_TOP_K)
    w = bounded_global_window(F.desc("score_micro"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint")).orderBy("rank")
    )


_TERMS_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

BM25_DOC_SCORES_SQL = rf"""
WITH toks AS (
    SELECT doc_id, t.tok
    FROM documents, unnest({_TOKENS_SQL}) AS t(tok)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, tok, count(*) AS tf FROM toks
    WHERE tok IN ({_TERMS_IN}) GROUP BY doc_id, tok
),
df_t AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS (
    SELECT tf.doc_id,
           CAST(round(ln(1.0 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
                * (tf.tf * ({BM25_K1} + 1))
                / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
                * 1000000.0) AS BIGINT) AS term_score_micro
    FROM tf JOIN df_t USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
),
per_doc AS (
    SELECT doc_id, CAST(sum(term_score_micro) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT)
               AS rank
    FROM per_doc
)
SELECT doc_id, score_micro, rank FROM ranked
WHERE rank <= {BM25_TOP_K} ORDER BY rank
"""


def lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring with a hashed bigram LM
    (the CCNet recipe: score text against a corpus LM, filter or
    bucket by perplexity — here the LM is count-based over hashed
    n-gram buckets, so it needs no external model artifact).

    ``surprisal(d) = −(1/|bigrams|) Σ ln P(cur|prev)`` with
    ``P(cur|prev) ≈ (C(bucket(bigram)) + 1) / (C(bucket(prev)) + B)``.
    Low surprisal = predictable, in-distribution text; high =
    gibberish or out-of-domain — the standard filter signal.

    Plan shape: bigrams are built map-side from the token array (no
    self-join); the two count tables are LM_BUCKETS rows each —
    broadcast. Per-bigram log-probs snap to integer micro-units before
    the per-doc sum (exact BIGINT math in any engine); only the final
    per-doc average is a double division of two exact integers.
    Output: (doc_id, lang, n_bigrams, avg_surprisal_micro) by doc_id.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "lang", tokenize("text").alias("ts"))
    bigrams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ts")),
                lambda i: F.struct(
                    F.concat_ws(
                        " ", F.element_at("ts", i - 1), F.element_at("ts", i)
                    ).alias("bg"),
                    F.element_at("ts", i - 1).alias("prev"),
                ),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(portable_hash64(F.col("p.bg")), F.lit(LM_BUCKETS)).alias("bb"),
        F.pmod(portable_hash64(F.col("p.prev")), F.lit(LM_BUCKETS)).alias("pb"),
    )
    uni = docs.select(F.explode(tokenize("text")).alias("tok")).select(
        F.pmod(portable_hash64(F.col("tok")), F.lit(LM_BUCKETS)).alias("pb")
    )
    big_counts = bigrams.groupBy("bb").agg(F.count(F.lit(1)).alias("cb"))
    uni_counts = uni.groupBy("pb").agg(F.count(F.lit(1)).alias("cp"))

    lp_micro = F.round(
        F.log(
            (F.col("cb") + 1).cast("double") / (F.col("cp") + LM_BUCKETS)
        )
        * F.lit(1_000_000.0)
    ).cast("bigint")
    # The broadcast joins are map-side, so aggregating STRAIGHT to
    # (doc_id, lang) — one shuffle, good partial-agg compression —
    # beats the r03 shape, which pre-grouped on (doc_id, lang, bb, pb):
    # near-input-cardinality keys made that partial agg pure overhead
    # and added a shuffle of ~|bigrams| rows (r03 verdict item 3).
    return (
        bigrams.join(F.broadcast(big_counts), "bb")
        .join(F.broadcast(uni_counts), "pb")
        .withColumn("lp_micro", lp_micro)
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum("lp_micro").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("avg_surprisal_micro"),
        )
        .orderBy("doc_id")
    )


LM_BIGRAM_SURPRISAL_SQL = rf"""
WITH toks AS (
    SELECT doc_id, lang, {_TOKENS_SQL} AS ts FROM documents
),
bigrams AS (
    SELECT doc_id, lang,
           {_PHASH_SQL.format("(ts[i - 1] || ' ' || ts[i])")} % {LM_BUCKETS} AS bb,
           {_PHASH_SQL.format('ts[i - 1]')} % {LM_BUCKETS} AS pb
    FROM toks, unnest(range(2, len(ts) + 1)) AS u(i)
),
uni AS (
    SELECT {_PHASH_SQL.format('t.tok')} % {LM_BUCKETS} AS pb
    FROM documents, unnest({_TOKENS_SQL}) AS t(tok)
),
big_counts AS (SELECT bb, count(*) AS cb FROM bigrams GROUP BY bb),
uni_counts AS (SELECT pb, count(*) AS cp FROM uni GROUP BY pb),
per_doc_pair AS (
    SELECT doc_id, lang, bb, pb, count(*) AS cnt
    FROM bigrams GROUP BY doc_id, lang, bb, pb
),
scored AS (
    SELECT p.doc_id, p.lang, p.cnt,
           CAST(round(ln(CAST(bc.cb + 1 AS DOUBLE) / (uc.cp + {LM_BUCKETS}))
                      * 1000000.0) AS BIGINT) AS lp_micro
    FROM per_doc_pair p
    JOIN big_counts bc USING (bb)
    JOIN uni_counts uc USING (pb)
)
SELECT doc_id, lang,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(round(-CAST(sum(cnt * lp_micro) AS DOUBLE) / sum(cnt)) AS BIGINT)
           AS avg_surprisal_micro
FROM scored
GROUP BY doc_id, lang
ORDER BY doc_id
"""


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated token windows across documents (substring-dedup signal).

    Lee et al. dedup exact repeated 50-token substrings via a suffix
    array — a sequential, memory-bound structure. The distributed
    approximation: shingle every doc into SPAN_TOKENS-token windows
    (stride 1), hash each window, and pile up hashes seen in more than
    one document. Span text is carried as ``min(span)`` (identical for
    all members modulo hash collision).

    Plan shape: one scan, map-side shingle fan-out (array expression,
    no UDF), ONE shuffle keyed by span hash with partial aggregation.
    Shuffle volume ≈ tokens × 1 hash — linear in corpus size, never
    pairwise. Top SPAN_TOP by (n_docs, n_occurrences) keeps output
    bounded at any scale.
    Output: (span_hash, n_docs, n_occurrences, sample_doc_ids, span_text).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    spans = docs.select(
        "doc_id",
        F.explode(word_ngrams(tokenize("text"), SPAN_TOKENS)).alias("span"),
    ).withColumn("span_hash", portable_hash64(F.col("span")))
    agg = (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_set("doc_id")),
                        1,
                        SPAN_SAMPLE_DOCS,
                    ),
                    lambda d: d.cast("string"),
                ),
            ).alias("sample_doc_ids"),
            F.min("span").alias("span_text"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return (
        agg.orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span_hash")
        )
        .limit(SPAN_TOP)
    )


DUPLICATE_SPANS_SQL = rf"""
WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents
),
spans AS (
    SELECT doc_id,
           list_aggregate(ts[i:i + {SPAN_TOKENS} - 1], 'string_agg', ' ') AS span
    FROM toks, unnest(range(1, greatest(len(ts) - {SPAN_TOKENS - 1}, sign(len(ts))) + 1))
         AS u(i)
),
hashed AS (
    SELECT doc_id, span, {_PHASH_SQL.format('span')} AS span_hash FROM spans
),
agg AS (
    SELECT span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           list_aggregate(list_transform(
               list_sort(list_distinct(list(doc_id)))[1:{SPAN_SAMPLE_DOCS}],
               x -> CAST(x AS VARCHAR)), 'string_agg', ',')
               AS sample_doc_ids,
           min(span) AS span_text
    FROM hashed GROUP BY span_hash
    HAVING count(DISTINCT doc_id) > 1
)
SELECT * FROM agg
ORDER BY n_docs DESC, n_occurrences DESC, span_hash ASC
LIMIT {SPAN_TOP}
"""


CURRICULUM_QUANTILES = (0.25, 0.5, 0.75)  # 4 difficulty phases


def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: documents bucketed into
    four difficulty phases by their bigram-LM surprisal (easy → hard,
    the order a curriculum schedule feeds them to training).

    The scale-safe shape: a global ``ntile`` would total-sort the
    corpus through one partition; instead the three quartile cutoffs
    are ONE broadcast 1-row aggregate and the phase is a map-side
    comparison — the same decorrelation the TPC-H scalar subqueries
    use. Scores are the exact integer micro-units of
    lm_bigram_surprisal, so bucket boundaries are engine-independent
    (cutoffs are exact interpolations of integers).
    Output: (doc_id, lang, avg_surprisal_micro, phase 1..4).
    """
    # materialize: the quartile-cutoff aggregate and the phase
    # projection both consume the scored frame; unpersisted, the whole
    # lm_bigram_surprisal scoring pipeline ran twice (r12 — the ccnet
    # fix, same upstream). One row per doc.
    scores = materialize(
        lm_bigram_surprisal(spark, sf_dir).select(
            "doc_id", "lang", "avg_surprisal_micro"
        )
    )
    cuts = scores.agg(
        *[
            F.percentile(F.col("avg_surprisal_micro").cast("double"), F.lit(q)).alias(
                f"c{int(q * 100)}"
            )
            for q in CURRICULUM_QUANTILES
        ]
    )
    phase = (
        F.lit(1)
        + (F.col("avg_surprisal_micro") > F.col("c25")).cast("int")
        + (F.col("avg_surprisal_micro") > F.col("c50")).cast("int")
        + (F.col("avg_surprisal_micro") > F.col("c75")).cast("int")
    )
    return (
        scores.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "lang",
            "avg_surprisal_micro",
            phase.cast("bigint").alias("phase"),
        )
        .orderBy("doc_id")
    )


def _curriculum_oracle() -> str:
    base = LM_BIGRAM_SURPRISAL_SQL.replace("ORDER BY doc_id", "").strip()
    return f"""
WITH scored AS ({base}),
cuts AS (
    SELECT quantile_cont(CAST(avg_surprisal_micro AS DOUBLE), 0.25) AS c25,
           quantile_cont(CAST(avg_surprisal_micro AS DOUBLE), 0.5) AS c50,
           quantile_cont(CAST(avg_surprisal_micro AS DOUBLE), 0.75) AS c75
    FROM scored
)
SELECT doc_id, lang, avg_surprisal_micro,
       CAST(1 + CAST(avg_surprisal_micro > c25 AS INT)
              + CAST(avg_surprisal_micro > c50 AS INT)
              + CAST(avg_surprisal_micro > c75 AS INT) AS BIGINT) AS phase
FROM scored, cuts
ORDER BY doc_id
"""


CURRICULUM_PHASES_SQL = _curriculum_oracle()


def span_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove duplicated spans from documents (the write side of
    ``duplicate_spans``; Lee et al. 2022 ExactSubstr-dedup semantics).

    For every SPAN_TOKENS-token window whose hash occurs in more than
    one document, keep only the canonical occurrence — the one with the
    smallest (doc_id, position) — and delete the tokens of every other
    occurrence, then reassemble each document from its surviving
    tokens. Overlapping duplicated windows merge naturally because
    removal is position-wise.

    Plan shape: one scan, map-side shingle fan-out, shuffle(span_hash)
    with partial agg to find duplicated hashes + canonical keys, a
    second shuffle(span_hash) joining occurrences to those hashes
    (duplicated hashes only — the join input is pre-filtered), then
    shuffle(doc_id) to assemble per-doc removal sets. All volumes are
    linear in token count; nothing is pairwise. The per-token
    ``array_contains`` membership test against the doc's removal set is
    O(|removed|) per token — quadratic only within a single document,
    which is context-length bounded, never corpus bounded.
    Output: (doc_id, n_tokens, n_removed, scrubbed_text) by doc_id.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokenize("text").alias("ts"))
    # materialize: the occurrence frame feeds both the duplicate-hash
    # aggregate and the removal join below; unpersisted, the tokenize
    # + span fan-out + md5-per-position pipeline ran twice (r12).
    # Linear in corpus tokens, spills to disk.
    occ = materialize(
        toks.select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("ts"), SPAN_TOKENS)).alias("p0", "span"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("bigint").alias("pos"),
            portable_hash64(F.col("span")).alias("span_hash"),
        )
        .withColumn("okey", F.col("doc_id") * F.lit(SPAN_KEY_BASE) + F.col("pos"))
    )
    dup = (
        occ.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("okey").alias("canon_key"),
        )
        .filter(F.col("n_docs") > 1)
        .select("span_hash", "canon_key")
    )
    rm_sets = (
        occ.join(dup, "span_hash")
        .filter(F.col("okey") != F.col("canon_key"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_TOKENS - 1))
            ).alias("rp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("rp").alias("rm"))
    )
    return (
        toks.join(rm_sets, "doc_id", "left")
        .withColumn(
            "kept",
            F.when(F.col("rm").isNull(), F.col("ts")).otherwise(
                F.expr("filter(ts, (x, i) -> NOT array_contains(rm, CAST(i + 1 AS BIGINT)))")
            ),
        )
        .select(
            "doc_id",
            F.size("ts").cast("bigint").alias("n_tokens"),
            (F.size("ts") - F.size("kept")).cast("bigint").alias("n_removed"),
            F.array_join("kept", " ").alias("scrubbed_text"),
        )
        .orderBy("doc_id")
    )


SPAN_SCRUBBED_DOCS_SQL = rf"""
WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents
),
occ AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           {_PHASH_SQL.format(
               f"list_aggregate(ts[i:i + {SPAN_TOKENS} - 1], 'string_agg', ' ')"
           )} AS span_hash
    FROM toks, unnest(range(1, greatest(len(ts) - {SPAN_TOKENS - 1}, sign(len(ts))) + 1))
         AS u(i)
),
dup AS (
    SELECT span_hash,
           min(doc_id * {SPAN_KEY_BASE} + pos) AS canon_key
    FROM occ GROUP BY span_hash
    HAVING count(DISTINCT doc_id) > 1
),
rm_sets AS (
    SELECT doc_id, list(DISTINCT pos + off) AS rm
    FROM occ o
    JOIN dup d USING (span_hash),
         unnest(range(0, {SPAN_TOKENS})) AS v(off)
    WHERE o.doc_id * {SPAN_KEY_BASE} + o.pos != d.canon_key
    GROUP BY doc_id
),
rebuilt AS (
    SELECT t.doc_id, t.ts,
           CASE WHEN r.rm IS NULL THEN t.ts
                ELSE list_filter(t.ts, (x, i) -> NOT list_contains(r.rm, i))
           END AS kept
    FROM toks t LEFT JOIN rm_sets r USING (doc_id)
)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(len(ts) - len(kept) AS BIGINT) AS n_removed,
       coalesce(array_to_string(kept, ' '), '') AS scrubbed_text
FROM rebuilt
ORDER BY doc_id
"""


HYBRID_QUERY_VEC = 0  # query embedding: vec_id 0 (present at every sf)
HYBRID_RRF_K = 60  # Cormack et al. 2009 reciprocal-rank-fusion constant
HYBRID_TOP_K = 20


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal rank fusion (Cormack, Clarke &
    Buettcher 2009) of the BM25 lexical ranking and a cosine vector
    ranking — the standard first-stage retriever of a RAG / data-
    curation stack, where neither signal alone is trusted.

    ``rrf(d) = Σ_lists 1/(K + rank_list(d))`` over the lists that
    contain d (K=60). The lexical list is bm25_doc_scores' top-K for
    the fixed query terms; the vector list is the exact cosine top-K
    around the HYBRID_QUERY_VEC embedding (ids are shared between
    documents and embeddings per FIXTURES.md). Both ranks ride along
    (0 = absent from that list).

    Scale: the two branch top-Ks are TakeOrderedAndProject /
    bounded-window plans (see bm25_doc_scores, knn_bruteforce); the
    fusion join touches ≤ 2·K rows — driver-trivial at any corpus
    size. rrf is a sum of two exactly-representable doubles, so
    round(6) is engine-stable.
    """
    from parquet_extractor_spark.operators.similarity import cosine

    lex = bm25_doc_scores(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("q_emb")
    )
    sims = (
        emb.filter(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos"
            ),
        )
    )
    vec_top = sims.orderBy(F.desc("cos"), F.asc("id")).limit(HYBRID_TOP_K)
    wv = bounded_global_window(F.desc("cos"), F.asc("id"))
    vec = vec_top.select(
        "id", F.row_number().over(wv).cast("bigint").alias("vec_rank")
    )
    fused = (
        lex.join(vec, "id", "full_outer")
        .select(
            "id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
        )
        .withColumn(
            "rrf_score",
            F.round(
                F.when(
                    F.col("lex_rank") > 0,
                    1.0 / (F.lit(float(HYBRID_RRF_K)) + F.col("lex_rank")),
                ).otherwise(F.lit(0.0))
                + F.when(
                    F.col("vec_rank") > 0,
                    1.0 / (F.lit(float(HYBRID_RRF_K)) + F.col("vec_rank")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("id")).limit(
        HYBRID_TOP_K
    )


HYBRID_SEARCH_RRF_SQL = rf"""
WITH lex AS (
    SELECT doc_id AS id, rank AS lex_rank FROM ({BM25_DOC_SCORES_SQL})
),
q AS (
    SELECT embedding AS q_emb FROM embeddings
    WHERE vec_id = {HYBRID_QUERY_VEC}
),
sims AS (
    SELECT e.vec_id AS id,
           round(
             list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.q_emb,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS cos
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != {HYBRID_QUERY_VEC}
),
vec AS (
    SELECT id,
           CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS BIGINT)
               AS vec_rank
    FROM sims
    ORDER BY cos DESC, id ASC
    LIMIT {HYBRID_TOP_K}
),
fused AS (
    SELECT coalesce(lex.id, vec.id) AS id,
           coalesce(lex.lex_rank, 0) AS lex_rank,
           coalesce(vec.vec_rank, 0) AS vec_rank
    FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
)
SELECT id, lex_rank, vec_rank,
       round(
         (CASE WHEN lex_rank > 0
               THEN 1.0 / ({HYBRID_RRF_K}.0 + lex_rank) ELSE 0.0 END)
       + (CASE WHEN vec_rank > 0
               THEN 1.0 / ({HYBRID_RRF_K}.0 + vec_rank) ELSE 0.0 END),
       6) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, id ASC
LIMIT {HYBRID_TOP_K}
"""


def surprisal_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored domain reweighting from LM excess loss: score
    every source's text under the corpus bigram LM (the
    lm_bigram_surprisal machinery), and up-weight sources whose
    average surprisal EXCEEDS the corpus average — the "spend more
    sampling mass on domains the reference model finds hard" recipe,
    with the count-based hashed LM standing in for the reference
    model so the operator needs no external artifact.

    All arithmetic after the per-bigram log-prob snap is exact BIGINT:
    per-source and corpus averages use integer division (DIV) of
    micro-unit sums, excess clips at zero and adds one micro so every
    source keeps nonzero mass, and the final weights are
    floor(excess*1e6 / total_excess) — engine-exact, no doubles.

    Plan shape: the two LM count tables are LM_BUCKETS rows each —
    broadcast; scoring is map-side; the only data shuffle is the
    partial+final agg onto ~|sources| keys. The corpus average and
    weight normalizer re-enter via broadcast 1-row cross joins. At
    100 TB this is one scan + one tiny agg — the same shape as
    temperature_mixing_weights.
    Output: (source, n_bigrams, avg_surprisal_micro, excess_micro,
    weight_micro) by source.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", tokenize("text").alias("ts"))
    bigrams = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ts")),
                lambda i: F.struct(
                    F.concat_ws(
                        " ", F.element_at("ts", i - 1), F.element_at("ts", i)
                    ).alias("bg"),
                    F.element_at("ts", i - 1).alias("prev"),
                ),
            )
        ).alias("p"),
    ).select(
        "source",
        F.pmod(portable_hash64(F.col("p.bg")), F.lit(LM_BUCKETS)).alias("bb"),
        F.pmod(portable_hash64(F.col("p.prev")), F.lit(LM_BUCKETS)).alias(
            "pb"
        ),
    )
    uni = docs.select(F.explode(tokenize("text")).alias("tok")).select(
        F.pmod(portable_hash64(F.col("tok")), F.lit(LM_BUCKETS)).alias("pb")
    )
    # Pre-aggregate the exploded bigrams to (source, bb, pb) → count
    # and persist: the tokenize + explode + md5 fan-out previously ran
    # once under big_counts and AGAIN under the per-source scoring
    # join (78 Exchanges in the composed plan — r12). The grouped
    # frame is bounded by |sources| × LM_BUCKETS² and every downstream
    # quantity is an exact integer fold over it: cb = Σ cnt by bb,
    # n_bigrams = Σ cnt, s_micro = −Σ cnt·lp_micro (identical to the
    # per-row sum — lp_micro is constant within a (bb, pb) group).
    grp = materialize(
        bigrams.groupBy("source", "bb", "pb").agg(F.count(F.lit(1)).alias("cnt"))
    )
    big_counts = grp.groupBy("bb").agg(F.sum("cnt").alias("cb"))
    uni_counts = uni.groupBy("pb").agg(F.count(F.lit(1)).alias("cp"))
    lp_micro = F.round(
        F.log(
            (F.col("cb") + 1).cast("double") / (F.col("cp") + LM_BUCKETS)
        )
        * F.lit(1_000_000.0)
    ).cast("bigint")
    # materialize the |sources|-row result: the tot/wsum branches
    # below reference it repeatedly, and each reference re-executed
    # the whole scoring pipeline when it was only lineage.
    per_src = materialize(
        grp.join(F.broadcast(big_counts), "bb")
        .join(F.broadcast(uni_counts), "pb")
        .withColumn("lp_micro", lp_micro)
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            (-F.sum(F.col("lp_micro") * F.col("cnt")))
            .cast("bigint")
            .alias("s_micro"),
        )
        .withColumn(
            "avg_surprisal_micro", F.expr("s_micro DIV n_bigrams")
        )
    )
    tot = per_src.agg(
        F.sum("s_micro").alias("ts_micro"),
        F.sum("n_bigrams").alias("tn"),
    )
    with_excess = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn(
            "excess_micro",
            F.greatest(
                F.col("avg_surprisal_micro")
                - F.expr("ts_micro DIV tn"),
                F.lit(0),
            ).cast("bigint")
            + 1,
        )
    )
    wsum = with_excess.agg(F.sum("excess_micro").alias("we"))
    return (
        with_excess.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            "n_bigrams",
            "avg_surprisal_micro",
            "excess_micro",
            F.expr("(excess_micro * 1000000) DIV we")
            .cast("bigint")
            .alias("weight_micro"),
        )
        .orderBy("source")
    )


SURPRISAL_MIXING_WEIGHTS_SQL = rf"""
WITH toks AS (
    SELECT source, {_TOKENS_SQL} AS ts FROM documents
),
bigrams AS (
    SELECT source,
           {_PHASH_SQL.format("(ts[i - 1] || ' ' || ts[i])")} % {LM_BUCKETS} AS bb,
           {_PHASH_SQL.format('ts[i - 1]')} % {LM_BUCKETS} AS pb
    FROM toks, unnest(range(2, len(ts) + 1)) AS u(i)
),
uni AS (
    SELECT {_PHASH_SQL.format('t.tok')} % {LM_BUCKETS} AS pb
    FROM documents, unnest({_TOKENS_SQL}) AS t(tok)
),
big_counts AS (SELECT bb, count(*) AS cb FROM bigrams GROUP BY bb),
uni_counts AS (SELECT pb, count(*) AS cp FROM uni GROUP BY pb),
per_src AS (
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(-sum(CAST(round(ln(CAST(bc.cb + 1 AS DOUBLE)
                                    / (uc.cp + {LM_BUCKETS}))
                               * 1000000.0) AS BIGINT)) AS BIGINT)
               AS s_micro
    FROM bigrams b
    JOIN big_counts bc USING (bb)
    JOIN uni_counts uc USING (pb)
    GROUP BY b.source
),
avgs AS (
    SELECT source, n_bigrams, s_micro,
           s_micro // n_bigrams AS avg_surprisal_micro
    FROM per_src
),
tot AS (
    SELECT sum(s_micro) // sum(n_bigrams) AS corpus_avg FROM avgs
),
ex AS (
    SELECT a.source, a.n_bigrams, a.avg_surprisal_micro,
           CAST(greatest(a.avg_surprisal_micro - t.corpus_avg, 0) + 1
                AS BIGINT) AS excess_micro
    FROM avgs a, tot t
),
wsum AS (SELECT sum(excess_micro) AS we FROM ex)
SELECT e.source, e.n_bigrams, e.avg_surprisal_micro, e.excess_micro,
       CAST((e.excess_micro * 1000000) // w.we AS BIGINT) AS weight_micro
FROM ex e, wsum w
ORDER BY e.source
"""


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-level
    "how much do these two crawls overlap" diagnostic a mixing/dedup
    pipeline reads before deciding whether cross-source dedup is
    worth a pass (compare cross_source_dedup_candidates, which finds
    the individual pairs; this is the cheap aggregate screen).

    Plan shape: the (source, token) frame is DISTINCT-reduced first
    (vocabulary-bounded: |V| x |sources| rows max, shuffle-compressed
    by the partial distinct), then self-joined on token. Per-token
    fan-out is at most |sources| per side, so join work is
    O(|V| x |sources|^2) worst case with TINY constants — never a
    function of corpus size. Per-source vocabulary sizes broadcast
    back onto the ~|sources|^2/2 result rows. Jaccard snaps to
    integer micro-units via BIGINT division.
    Output: (src_a, src_b, n_common, n_a, n_b, jaccard_micro)
    ordered by jaccard desc then pair.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab = docs.select(
        "source", F.explode(tokenize("text")).alias("tok")
    ).distinct()
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # r13 (guide §2.3): one sorted source-set per token + map-side
    # pair fan-out replaces the vocab self-join on tok — same counts
    # (vocab is DISTINCT (source, tok); sort_array's binary string
    # order == the old a.source < b.source filter), half the vocab
    # shuffles and no join explosion. Same restructure as
    # source_vocab_kmv_jaccard's exact tier.
    common = (
        vocab.groupBy("tok")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.src_a").alias("src_a"),
            F.col("p.src_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("(n_common * 1000000) DIV (n_a + n_b - n_common)")
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy(F.desc("jaccard_micro"), "src_a", "src_b")
    )


# KMV (bottom-k) sketch size: estimator std error ~ 1/sqrt(K) ≈ 9%.
KMV_K = 128


def source_vocab_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch estimate of pairwise vocabulary Jaccard,
    graded against the exact join — the sketch twin of
    source_vocab_overlap, and the trust-before-deploy eval for it
    (the lsh_quality_eval pattern): at 100 TB the exact vocabulary
    self-join is the expensive pass, and this query measures what the
    constant-size sketch would have answered.

    The sketch: per source, the KMV_K smallest portable 60-bit hashes
    of the word-BIGRAM vocabulary — a bottom-k signature (Bar-Yossef
    et al.; the K-minimum-values / theta-sketch family). Bigrams, not
    unigrams, deliberately: the fixture sources share ~97% of their
    unigram vocabulary (every pair's Jaccard ≈ 1, nothing to
    estimate), while bigram Jaccard spans ~0.56-0.71 — a signal the
    estimator has to actually earn. Pair estimate: take the K
    smallest hashes of the UNION of two sketches and count how many
    appear in BOTH — an unbiased Jaccard estimator with ~1/sqrt(K)
    error.

    Plan shape: the (source, bigram) frame DISTINCT-reduces exactly
    as the exact query, then ONE source-partitioned window truncates
    each source to K rows — from there everything is bounded by
    |sources| × K rows regardless of corpus size: the ~|sources|²/2
    pair frame broadcasts, per-pair union ranking and the hit count
    shuffle at most pairs × 2K rows. The exact bigram tier is
    recomputed here only to grade the sketch (sampled stratum at
    scale, like every eval harness in the repo). Integer division
    keeps micro-units engine-exact.
    Output: (src_a, src_b, jaccard_micro_exact, kmv_jaccard_micro,
    abs_err_micro, k_used) ordered by pair.
    """
    from pyspark.sql.window import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    # materialize the distinct bigram vocabulary: the sketch path, the
    # size table and BOTH sides of the exact grading join consume it
    # (4 scans otherwise) — the ngram_jaccard_pairs postings pattern;
    # bounded by |V_bigram| × |sources|
    vocab = materialize(
        docs.select(
            "source",
            F.explode(word_ngrams(tokenize("text"), 2)).alias("tok"),
        ).distinct()
    )
    hashed = vocab.select(
        "source", portable_hash64(F.col("tok")).alias("h")
    ).distinct()
    wk = Window.partitionBy("source").orderBy(F.asc("h"))
    sketch = (
        hashed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= KMV_K)
        .select("source", "h")
    )
    srcs = sketch.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
    )
    sides = (
        sketch.join(
            F.broadcast(pairs),
            (F.col("source") == F.col("src_a"))
            | (F.col("source") == F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "h")
        .agg(F.countDistinct("source").alias("n_sides"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy(F.asc("h"))
    est = (
        sides.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_both"),
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
        )
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # Exact grading tier, r13 (guide §2.3 aggregate-before-shuffle;
    # r12 verdict item 6): pre-aggregate the vocabulary to one sorted
    # source-set per bigram and fan the (src_a < src_b) pairs out
    # map-side, instead of self-joining the |V|×|sources| frame on tok
    # (two shuffles of the full vocab + the joined pair stream into
    # the agg). Same count per pair: vocab is DISTINCT (source, tok),
    # sort_array uses the same binary string ordering as the old
    # a.source < b.source filter, and every unordered pair appears
    # exactly once (b ranges over the suffix after a).
    common = (
        vocab.groupBy("tok")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.src_a").alias("src_a"),
            F.col("p.src_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    exact = (
        common.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_a"), F.col("n").alias("n_a")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"), F.col("n").alias("n_b")
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.expr("(n_common * 1000000) DIV (n_a + n_b - n_common)")
            .cast("bigint")
            .alias("jaccard_micro_exact"),
        )
    )
    return (
        est.join(F.broadcast(exact), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("jaccard_micro_exact"), F.lit(0))
            .cast("bigint")
            .alias("jaccard_micro_exact"),
            F.expr("(n_both * 1000000) DIV k_used")
            .cast("bigint")
            .alias("kmv_jaccard_micro"),
            F.abs(
                F.coalesce(F.col("jaccard_micro_exact"), F.lit(0))
                - F.expr("(n_both * 1000000) DIV k_used")
            )
            .cast("bigint")
            .alias("abs_err_micro"),
            "k_used",
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_VOCAB_KMV_JACCARD_SQL = rf"""
WITH toks AS (
    SELECT source, {_TOKENS_SQL} AS ts FROM documents
),
vocab AS (
    SELECT DISTINCT source,
           list_aggregate(ts[i:i + 1], 'string_agg', ' ') AS tok
    FROM toks, unnest(range(1, greatest(len(ts) - 1, sign(len(ts))) + 1)) AS u(i)
),
hashed AS (
    SELECT DISTINCT source, {_PHASH_SQL.format('tok')} AS h FROM vocab
),
sketch AS (
    SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM hashed
    ) WHERE rk <= {KMV_K}
),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM (SELECT DISTINCT source FROM sketch) a
    JOIN (SELECT DISTINCT source FROM sketch) b ON a.source < b.source
),
sides AS (
    SELECT p.src_a, p.src_b, s.h,
           count(DISTINCT s.source) AS n_sides
    FROM pairs p JOIN sketch s ON s.source IN (p.src_a, p.src_b)
    GROUP BY 1, 2, 3
),
est AS (
    SELECT src_a, src_b,
           CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
           CAST(count(*) AS BIGINT) AS k_used
    FROM (
        SELECT src_a, src_b, n_sides,
               row_number() OVER (PARTITION BY src_a, src_b
                                  ORDER BY h) AS rk
        FROM sides
    ) WHERE rk <= {KMV_K}
    GROUP BY 1, 2
),
sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY source
),
common AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
),
exact AS (
    SELECT c.src_a, c.src_b,
           CAST((c.n_common * 1000000) // (sa.n + sb.n - c.n_common)
                AS BIGINT) AS jaccard_micro_exact
    FROM common c
    JOIN sizes sa ON sa.source = c.src_a
    JOIN sizes sb ON sb.source = c.src_b
)
SELECT e.src_a, e.src_b,
       CAST(coalesce(x.jaccard_micro_exact, 0) AS BIGINT)
           AS jaccard_micro_exact,
       CAST((e.n_both * 1000000) // e.k_used AS BIGINT)
           AS kmv_jaccard_micro,
       CAST(abs(coalesce(x.jaccard_micro_exact, 0)
                - (e.n_both * 1000000) // e.k_used) AS BIGINT)
           AS abs_err_micro,
       e.k_used
FROM est e
LEFT JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
ORDER BY e.src_a, e.src_b
"""


SOURCE_VOCAB_OVERLAP_SQL = rf"""
WITH vocab AS (
    SELECT DISTINCT source, t.tok
    FROM documents, unnest({_TOKENS_SQL}) AS t(tok)
),
sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY source
),
common AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT c.src_a, c.src_b, c.n_common,
       sa.n AS n_a, sb.n AS n_b,
       CAST((c.n_common * 1000000) // (sa.n + sb.n - c.n_common)
            AS BIGINT) AS jaccard_micro
FROM common c
JOIN sizes sa ON sa.source = c.src_a
JOIN sizes sb ON sb.source = c.src_b
ORDER BY jaccard_micro DESC, c.src_a, c.src_b
"""


def lm_count_arrays(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], list[int]]:
    """The hashed bigram LM's two count tables as dense LM_BUCKETS
    arrays — the "frozen reference model" artifact a scoring job
    loads at start. Persisted per (data dir, code version) like the Bloom
    bitset; bounded by construction (2 x LM_BUCKETS ints)."""
    from parquet_extractor_spark.store import memo_artifact

    def build() -> tuple[list[int], list[int]]:
        docs = spread(load_table(spark, sf_dir, "documents"))
        toks = docs.select(tokenize("text").alias("ts"))
        bb = toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size("ts")),
                    lambda i: F.pmod(
                        portable_hash64(
                            F.concat_ws(
                                " ",
                                F.element_at("ts", i - 1),
                                F.element_at("ts", i),
                            )
                        ),
                        F.lit(LM_BUCKETS),
                    ),
                )
            ).alias("b")
        ).groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        pb = toks.select(F.explode("ts").alias("tok")).select(
            F.pmod(portable_hash64(F.col("tok")), F.lit(LM_BUCKETS)).alias(
                "b"
            )
        ).groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        cb = [0] * LM_BUCKETS
        for r in bb.collect():
            cb[int(r.b)] = int(r.c)
        cp = [0] * LM_BUCKETS
        for r in pb.collect():
            cp[int(r.b)] = int(r.c)
        return cb, cp

    return memo_artifact(spark, sf_dir, "lm_counts", build)


def surprisal_probe_columns(
    docs: DataFrame, cb: list[int], cp: list[int]
) -> DataFrame:
    """Per-document LM surprisal as a PURE PROJECTION against the
    count-table literals: zero joins, zero aggregation state — the
    stream-composable form of lm_bigram_surprisal, the same
    batch-vs-stream split bloom_probe_columns draws for the Bloom
    probe. Batch prefers the broadcast-join form (codegen'd joins
    beat interpreted HOF lambdas); a stream prefers THIS shape
    because statelessness means no watermark and no state store.

    Emits exactly lm_bigram_surprisal's schema and values for every
    doc with >= 2 tokens: per-bigram log-probs snap to micro-units
    before the per-doc sum, and the average mirrors the batch
    expression term for term.
    """
    cb_lit = F.expr(
        "array(" + ",".join(str(v) for v in cb) + ")"
    )
    cp_lit = F.expr(
        "array(" + ",".join(str(v) for v in cp) + ")"
    )

    def lp_at(i):  # factory, not default-arg capture (lambda arity)
        bg = F.concat_ws(
            " ", F.element_at("ts", i - 1), F.element_at("ts", i)
        )
        prev = F.element_at("ts", i - 1)
        bbi = F.pmod(portable_hash64(bg), F.lit(LM_BUCKETS)).cast("int")
        pbi = F.pmod(portable_hash64(prev), F.lit(LM_BUCKETS)).cast("int")
        num = (F.element_at(cb_lit, bbi + 1) + 1).cast("double")
        den = (F.element_at(cp_lit, pbi + 1) + F.lit(LM_BUCKETS)).cast(
            "double"
        )
        return F.round(F.log(num / den) * F.lit(1_000_000.0)).cast(
            "bigint"
        )

    def acc_fn(acc, i):
        return acc + lp_at(i)

    with_ts = docs.select(
        "doc_id", "lang", tokenize("text").alias("ts")
    ).filter(F.size("ts") >= 2)
    s_micro = F.aggregate(
        F.sequence(F.lit(2), F.size("ts")),
        F.lit(0).cast("bigint"),
        acc_fn,
    )
    n_bigrams = (F.size("ts") - 1).cast("bigint")
    return with_ts.select(
        "doc_id",
        "lang",
        n_bigrams.alias("n_bigrams"),
        F.round(-s_micro.cast("double") / n_bigrams)
        .cast("bigint")
        .alias("avg_surprisal_micro"),
    )


# ── CCNet per-language perplexity buckets ────────────────────────────


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): within
    EACH language, cut the corpus into perplexity tertiles against the
    language model — head (most in-distribution) is what CCNet ships
    as high-quality pre-training data; tail is the junk drawer.

    Differs from curriculum_phases on both axes that make it CCNet:
    the cutoffs are PER-LANGUAGE (a global cut would let a verbose
    language flood another's head bucket) and the output is the
    release report per (lang, bucket), not a per-doc assignment.

    Plan shape: lm_bigram_surprisal's scoring pass, then the tertile
    cutoffs are one grouped aggregate over |langs| rows — broadcast
    back, so bucketing is a map-side comparison; NO per-language
    total sort (CCNet's own implementation sorts each language's
    shard — the rank form — which at 100 TB would funnel every
    language through one partition; broadcast quantile cutoffs give
    the same thirds without the skew hazard). Final report is one
    partial+final agg on (lang, bucket).
    Output: (lang, bucket, n_docs, n_bigrams, doc_share) sorted.
    """
    # materialize: the scored frame feeds both the per-language cutoff
    # aggregate and the bucketing join below; unpersisted, the whole
    # lm_bigram_surprisal scoring pipeline ran twice (r12). One row
    # per doc.
    scores = materialize(
        lm_bigram_surprisal(spark, sf_dir).select(
            "lang", "n_bigrams", "avg_surprisal_micro"
        )
    )
    cuts = scores.groupBy("lang").agg(
        F.percentile(
            F.col("avg_surprisal_micro").cast("double"), F.lit(1.0 / 3.0)
        ).alias("c33"),
        F.percentile(
            F.col("avg_surprisal_micro").cast("double"), F.lit(2.0 / 3.0)
        ).alias("c67"),
        F.count(F.lit(1)).alias("lang_docs"),
    )
    bucket = (
        F.when(F.col("avg_surprisal_micro") <= F.col("c33"), "head")
        .when(F.col("avg_surprisal_micro") <= F.col("c67"), "middle")
        .otherwise("tail")
    )
    return (
        scores.join(F.broadcast(cuts), "lang")
        .select("lang", "n_bigrams", "lang_docs", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(
                F.count(F.lit(1)) / F.first("lang_docs"), 6
            ).alias("doc_share"),
        )
        .orderBy("lang", "bucket")
    )


def _ccnet_oracle() -> str:
    base = LM_BIGRAM_SURPRISAL_SQL.replace("ORDER BY doc_id", "").strip()
    return f"""
WITH scored AS ({base}),
cuts AS (
    SELECT lang,
           quantile_cont(CAST(avg_surprisal_micro AS DOUBLE), 1.0/3.0)
               AS c33,
           quantile_cont(CAST(avg_surprisal_micro AS DOUBLE), 2.0/3.0)
               AS c67,
           count(*) AS lang_docs
    FROM scored GROUP BY lang
),
tagged AS (
    SELECT s.lang, s.n_bigrams, c.lang_docs,
           CASE WHEN s.avg_surprisal_micro <= c.c33 THEN 'head'
                WHEN s.avg_surprisal_micro <= c.c67 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN cuts c USING (lang)
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       round(count(*) / CAST(any_value(lang_docs) AS DOUBLE), 6)
           AS doc_share
FROM tagged
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


CCNET_PERPLEXITY_BUCKETS_SQL = _ccnet_oracle()


# ── longest duplicated span per document (pow2 resolution) ──────────
#
# The per-document form of Lee et al.'s exact-substring signal that
# duplicate_spans (fixed 8-token windows, global top-N) doesn't give:
# "how LONG is the longest token span of THIS doc that also occurs
# elsewhere in the corpus?" — the number a dedup policy thresholds on
# (Lee et al. remove ≥50-token matches). Exact answers at every
# length need a suffix array (sequential); the distributed form here
# probes a geometric ladder of window sizes and reports the largest
# power-of-two length with a corpus-wide repeat — a 2× lower bound on
# the true maximum, which is exactly the precision a threshold policy
# needs (any true span ≥ 2k has a duplicated k-window inside it, so
# thresholding at k never misses a 2k span).

DUP_SPAN_LEVELS = (2, 4, 8, 16, 32, 64)


def longest_dup_span_pow2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: token count and the largest k in DUP_SPAN_LEVELS such
    that some k-token window of the doc occurs ≥2 times corpus-wide
    (0 if none). Docs shorter than k don't participate at level k
    (word_ngrams would otherwise emit a short catch-all shingle and
    fabricate full-text matches at long levels).

    Scale shape: per level, one map-side shingle fan-out hashed to
    60-bit keys (shuffle ships (doc_id, hash), never span text), one
    partial+final count keyed by hash, and one semi join back — all
    linear in corpus tokens, no global sort anywhere; the ladder is
    |levels| = 6 such passes over one persisted token frame. This is
    the prefix-doubling cost profile without the cross-level joins
    (regenerating k-grams map-side is cheaper on Spark than carrying
    rank state through log(n) shuffles).
    """
    from pyspark.sql.window import Window

    toks = materialize(
        spread(load_table(spark, sf_dir, "documents")).select(
            "doc_id", tokenize("text").alias("toks")
        )
    )
    # ONE fused pass over all 6 ladder levels (r12): the per-level
    # loop ran explode → hash → count-agg → semi-join per k, and the
    # unpersisted gram frame was evaluated TWICE per level (once under
    # the duplicate-count aggregate, once as the semi-join probe) —
    # 12 md5 passes and 12+ exchanges for 6 levels. Here every
    # (level, position) gram is emitted once, tagged with its k, so
    # the whole ladder is one explode, one (k, gh, doc) aggregate,
    # one (k, gh)-windowed total and one per-doc max — the hash runs
    # once per gram and the shuffle count no longer scales with
    # |levels|. Flag semantics are identical: a doc carries level k
    # iff one of its k-grams occurs ≥ 2 times corpus-wide.
    def _level_entries(k: int) -> F.Column:
        tagged = F.transform(
            word_ngrams(F.col("toks"), k),
            lambda g: F.struct(
                F.lit(k).alias("k"), portable_hash64(g).alias("gh")
            ),
        )
        return F.when(F.size("toks") >= k, tagged).otherwise(
            F.array().cast("array<struct<k:int,gh:bigint>>")
        )

    grams = toks.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.array(*[_level_entries(k) for k in DUP_SPAN_LEVELS])
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.k").alias("k"), F.col("e.gh").alias("gh"))
    occ = grams.groupBy("k", "gh", "doc_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("k", "gh")
    flagged = (
        occ.withColumn("tot", F.sum("cnt").over(w))
        .where(F.col("tot") >= 2)
        .select("doc_id", F.col("k").cast("bigint").alias("k"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.max("k").alias("longest_dup_pow2")
    )
    return (
        toks.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("longest_dup_pow2"), F.lit(0))
            .cast("bigint")
            .alias("longest_dup_pow2"),
        )
        .orderBy("doc_id")
    )


def _dup_span_oracle() -> str:
    levels = "\nUNION ALL\n".join(
        f"""SELECT doc_id, {k} AS k
FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5(array_to_string(
               tokens[i:i+{k - 1}], ' ')), 1, 15)) AS BIGINT) AS gh
    FROM pos WHERE len(tokens) >= {k} AND i <= len(tokens) - {k - 1}
)
QUALIFY count(*) OVER (PARTITION BY gh) >= 2"""
        for k in DUP_SPAN_LEVELS
    )
    return rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS tokens
    FROM documents
),
pos AS (
    SELECT doc_id, tokens,
           unnest(generate_series(1, len(tokens))) AS i
    FROM toks
),
flagged AS (
    SELECT DISTINCT doc_id, k FROM (
{levels}
    )
),
per_doc AS (
    SELECT doc_id, max(k) AS longest_dup_pow2 FROM flagged GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.tokens) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.longest_dup_pow2, 0) AS BIGINT)
           AS longest_dup_pow2
FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
"""


LONGEST_DUP_SPAN_POW2_SQL = _dup_span_oracle()
