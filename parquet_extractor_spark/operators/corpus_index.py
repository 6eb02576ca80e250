"""Corpus-level index/statistics operators over the documents table.

The reference's analyzer stops at per-document token counts
(api.py:470-579); these are the corpus-wide structures an LLM data
pipeline builds next: an inverted index (term -> postings, the basis
of BM25 retrieval and lexical decontamination), PMI co-occurrence
pairs (collocation mining / phrase detection), and Zipf fit
statistics (corpus health check: a natural-language corpus has a
log-log token rank/frequency slope near -1; a scraped-boilerplate or
template-heavy corpus does not).

All three are pure DataFrame expression pipelines — no UDFs — with
DuckDB oracle SQL mirroring the exact arithmetic.

Scale notes (100 TB):
- inverted_index shuffles (term, doc_id) partials once; per-term
  state is bounded by POSTING_K via a pre-window, so the Zipf head
  ("the" appearing in every document) never materializes a full
  posting list on one executor.
- pmi_top_pairs generates pairs MAP-SIDE from per-doc capped distinct
  token arrays (≤ PMI_CAP·(PMI_CAP-1)/2 pairs per doc), so the
  shuffle carries bounded pair counts, never a cross join.
- zipf_token_stats aggregates the full vocabulary to (term, freq)
  partials, then fits on the top ZIPF_RANKS rows — driver-side state
  is one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.windows import bounded_global_window

from parquet_extractor_spark.functions.text import (
    portable_hash64_sql,
    tokenize,
    tokenize_sql,
)
from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, spread

MIN_TERM_LEN = 4  # stopword-ish guard, same role as textprep's
POSTING_K = 5  # doc ids kept per term in the index sample
INDEX_TOP = 100  # terms returned, by total term frequency
PMI_CAP = 12  # distinct tokens per doc entering pair generation
PMI_MIN_COOC = 2  # min co-occurring docs for a pair to score
PMI_TOP = 50
ZIPF_RANKS = 100  # head ranks used for the log-log fit
PHRASE = ("table", "value")  # default 2-term phrase query
PHRASE_TOP = 25  # docs returned per phrase search


def _terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.explode(
            F.filter(tokenize("text"), lambda t: F.length(t) >= MIN_TERM_LEN)
        ).alias("term"),
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term dictionary + bounded posting-list sample.

    explode -> tf per (term, doc) [one shuffle, map-side partials] ->
    per-term stats; postings are the POSTING_K smallest doc_ids taken
    via a row_number window BEFORE collect_list, so the collected
    array is ≤ POSTING_K elements regardless of document frequency.
    Output: (term, n_docs, total_tf, top_postings).
    """
    # materialize: `tf` feeds the per-term stats AND the postings
    # window (r13; the r12 multi-reference pattern, guide §5) —
    # unpersisted, the corpus explode + (term, doc) agg executes
    # twice. Postings-bounded rows.
    tf = materialize(
        _terms(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count("*").alias("n_docs"), F.sum("tf").alias("total_tf")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        tf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= POSTING_K)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("top_postings")
        )
    )
    return (
        stats.join(postings, "term")
        .select("term", "n_docs", "total_tf", "top_postings")
        .orderBy(F.desc("total_tf"), "term")
        .limit(INDEX_TOP)
    )


INVERTED_INDEX_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter({tokenize_sql('text')}, x -> len(x) >= {MIN_TERM_LEN}) AS toks
    FROM documents
),
terms AS (
    SELECT doc_id, unnest(toks) AS term FROM toks
),
tf AS (
    SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2
)
SELECT term,
       count(*) AS n_docs,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       array_to_string(
           list_transform(list_sort(list(doc_id ORDER BY doc_id))[1:{POSTING_K}],
                          x -> CAST(x AS VARCHAR)), ',') AS top_postings
FROM tf
GROUP BY term
ORDER BY total_tf DESC, term
LIMIT {INDEX_TOP}
"""


def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information.

    Per doc: distinct long tokens, sorted, capped to PMI_CAP; all
    i<j pairs generated map-side from the capped array (a codegen'd
    nested transform — the cap makes the fan-out a constant, which is
    what keeps this linear at crawl scale). One shuffle counts pair
    document-frequency; marginal token document-frequencies come from
    the same capped arrays so numerator and denominators live in one
    probability space. pmi = ln(n_ab·N / (n_a·n_b)) over documents.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    # in-plan scalar subquery, not an eager build-time count() job
    n_total = (
        load_table(spark, sf_dir, "documents")
        .select(F.count("*").cast("double"))
        .scalar()
    )
    capped = materialize(
        docs.select(
            "doc_id",
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.filter(
                            tokenize("text"),
                            lambda t: F.length(t) >= MIN_TERM_LEN,
                        )
                    )
                ),
                1,
                PMI_CAP,
            ).alias("toks"),
        )
    )
    # ^ materialize (r13, guide §5): `capped` feeds the pair fan-out AND
    # the marginal counts — unpersisted, the tokenize + sort + cap
    # pipeline runs once per reference. PMI_CAP-bounded per doc.
    n = F.size("toks")
    pair_arr = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + F.lit(1), n),
                    lambda j: F.struct(
                        F.element_at(F.col("toks"), i).alias("t1"),
                        F.element_at(F.col("toks"), j).alias("t2"),
                    ),
                ),
            )
        ),
    )
    pairs = (
        capped.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_COOC)
    )
    marg = materialize(  # joined twice (t1 and t2 sides); |vocab| rows
        capped.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n_t"))
    )
    # marg is keyed by the (capped) vocabulary — O(|vocab|) rows. No
    # forced broadcast: at web scale the vocabulary outgrows broadcast
    # limits, and an explicit hint would pin the doomed plan. AQE
    # broadcasts it at fixture scale and shuffle-joins beyond.
    return (
        pairs.join(marg.withColumnRenamed("t", "t1"), "t1")
        .withColumnRenamed("n_t", "n_a")
        .join(marg.withColumnRenamed("t", "t2"), "t2")
        .withColumnRenamed("n_t", "n_b")
        .select(
            "t1",
            "t2",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab")
                    * n_total
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "t1", "t2")
        .limit(PMI_TOP)
    )


PMI_TOP_PAIRS_SQL = rf"""
WITH capped AS (
    SELECT doc_id,
           list_sort(list_distinct(list_filter(
               {tokenize_sql('text')}, x -> len(x) >= {MIN_TERM_LEN}
           )))[1:{PMI_CAP}] AS toks
    FROM documents
),
pair_lists AS (
    SELECT flatten(list_transform(range(1, len(toks)),
               i -> list_transform(range(i + 1, len(toks) + 1),
                                   j -> [toks[i], toks[j]]))) AS ps
    FROM capped
),
pairs AS (
    SELECT p[1] AS t1, p[2] AS t2, count(*) AS n_ab
    FROM (SELECT unnest(ps) AS p FROM pair_lists)
    GROUP BY 1, 2
    HAVING count(*) >= {PMI_MIN_COOC}
),
marg AS (
    SELECT t, count(*) AS n_t
    FROM (SELECT unnest(toks) AS t FROM capped)
    GROUP BY 1
),
total AS (SELECT count(*) AS n FROM documents)
SELECT t1, t2, n_ab,
       round(ln(n_ab * (SELECT CAST(n AS DOUBLE) FROM total)
                / (a.n_t * b.n_t)), 6) AS pmi
FROM pairs
JOIN marg a ON a.t = t1
JOIN marg b ON b.t = t2
ORDER BY pmi DESC, t1, t2
LIMIT {PMI_TOP}
"""


def zipf_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit: regress ln(freq) on ln(rank) over the top
    ZIPF_RANKS tokens (all lengths — the Zipf head IS the stopwords).

    slope = cov(ln r, ln f) / var(ln r), computed with the population
    covariance aggregates both engines implement identically over the
    same 100 rows (ties broken by term so both engines pick the same
    head). One row out: vocabulary size, token count, slope,
    intercept.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    vocab = freq.agg(
        F.count("*").alias("n_terms"),
        F.sum("freq").alias("total_tokens"),
    )
    # Distributed top-k first (TakeOrderedAndProject), THEN rank: the
    # unpartitioned row_number window only ever sees ZIPF_RANKS rows,
    # so the single-partition WindowExec is bounded by a constant, not
    # by vocabulary size.
    w = bounded_global_window(F.desc("freq"), "term")
    head = (
        freq.orderBy(F.desc("freq"), "term")
        .limit(ZIPF_RANKS)
        .withColumn("rank", F.row_number().over(w))
        .select(
            F.log(F.col("rank").cast("double")).alias("lx"),
            F.log(F.col("freq").cast("double")).alias("ly"),
        )
    )
    fit = head.agg(
        F.round(
            (F.covar_pop("lx", "ly") / F.var_pop("lx")), 6
        ).alias("zipf_slope"),
        F.round(
            F.avg("ly") - (F.covar_pop("lx", "ly") / F.var_pop("lx")) * F.avg("lx"),
            6,
        ).alias("zipf_intercept"),
    )
    return vocab.crossJoin(fit).select(
        "n_terms", "total_tokens", "zipf_slope", "zipf_intercept"
    )


def phrase_search(
    spark: SparkSession,
    sf_dir: str,
    phrase: tuple[str, ...] = PHRASE,
) -> DataFrame:
    """Exact phrase search through a positional inverted index.

    The retrieval path a lexical engine runs at scale: posexplode the
    token stream into positional postings, FILTER the postings down to
    the phrase's own terms BEFORE anything shuffles (so the join
    volume is the term frequency of the query words, not the corpus),
    then chain equi-joins on (doc_id, position+offset) — adjacency as
    a hash-join key, never a positional scan of non-matching
    documents. Output: top PHRASE_TOP docs by occurrence count with
    the first match position (1-based).

    Scale (100 TB): postings for a selective phrase are a vanishing
    fraction of the corpus; each adjacency join is an equi-join on
    (doc_id, pos) with both sides pre-filtered, and AQE broadcasts
    the smaller term's postings when it fits. A stopword-only phrase
    degrades to the terms' full posting lists — the same bound BM25
    accepts; the per-term df cap used by dedup would bolt on
    unchanged if needed.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    postings = docs.select(
        "doc_id",
        F.posexplode(tokenize("text")).alias("pos", "term"),
    )
    return _phrase_match(postings, phrase)


def _phrase_match(postings: DataFrame, phrase: tuple[str, ...]) -> DataFrame:
    """Shared adjacency-match pipeline over a (doc_id, pos, term)
    posting frame — used by both the on-the-fly phrase_search and the
    persisted-index search_phrase_index. Postings of the first word
    anchor the match; each later word equi-joins on
    (doc_id, anchor_pos + offset)."""
    if len(phrase) < 2:
        raise ValueError("phrase needs >= 2 terms")
    pos = postings.filter(F.col("term").isin(*phrase))
    matched = pos.filter(F.col("term") == phrase[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for off, word in enumerate(phrase[1:], start=1):
        nxt = pos.filter(F.col("term") == word).select(
            "doc_id", (F.col("pos") - off).alias("p0")
        )
        matched = matched.join(nxt, ["doc_id", "p0"])
    return (
        matched.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            (F.min("p0") + 1).alias("first_pos"),  # 1-based
        )
        .orderBy(F.desc("n_hits"), "doc_id")
        .limit(PHRASE_TOP)
    )


_PHRASE_COND = " AND ".join(
    f"toks[i + {off}] = '{w}'" for off, w in enumerate(PHRASE)
)

PHRASE_SEARCH_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS toks
    FROM documents
),
hits AS (
    SELECT doc_id,
           list_filter(range(1, len(toks) - {len(PHRASE) - 2}),
                       i -> {_PHRASE_COND}) AS starts
    FROM toks
)
SELECT doc_id,
       len(starts) AS n_hits,
       list_min(starts) AS first_pos
FROM hits
WHERE len(starts) > 0
ORDER BY n_hits DESC, doc_id
LIMIT {PHRASE_TOP}
"""


ZIPF_TOKEN_STATS_SQL = rf"""
WITH terms AS (
    SELECT unnest({tokenize_sql('text')}) AS term
    FROM documents
),
freq AS (
    SELECT term, count(*) AS freq FROM terms GROUP BY 1
),
vocab AS (
    SELECT count(*) AS n_terms, CAST(sum(freq) AS BIGINT) AS total_tokens
    FROM freq
),
head AS (
    SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term) AS DOUBLE)) AS lx,
           ln(CAST(freq AS DOUBLE)) AS ly
    FROM freq
    QUALIFY row_number() OVER (ORDER BY freq DESC, term) <= {ZIPF_RANKS}
),
fit AS (
    SELECT round(covar_pop(lx, ly) / var_pop(lx), 6) AS zipf_slope,
           round(avg(ly) - (covar_pop(lx, ly) / var_pop(lx)) * avg(lx), 6)
               AS zipf_intercept
    FROM head
)
SELECT n_terms, total_tokens, zipf_slope, zipf_intercept
FROM vocab, fit
"""


TEXT_INDEX_BUCKETS = 32


def build_text_index(
    spark: SparkSession, sf_dir: str, table_name: str = "text_index"
) -> None:
    """Persist the positional inverted index as a catalog table
    bucketed on doc_id.

    Build once, search many — the index-maintenance half of a lexical
    search engine. Postings are (doc_id, pos, term) rows; the write
    pays the doc_id hash partitioning ONCE, so every later
    per-document operation — phrase adjacency self-joins on
    (doc_id, pos), document-length aggregations, tf grouping —
    runs WITHOUT a shuffle (asserted in tests: the phrase plan over
    the index has zero Exchange nodes). Term filters still push down
    to the parquet scan as predicates, and sortBy(doc_id, pos) makes
    each bucket file adjacency-ordered for the merge join.

    At 100 TB the bucket count is sized so one bucket fits an
    executor core (same rule as write_bucketed documents); index
    refresh is an append of new doc_id ranges, not a rebuild.
    """
    from parquet_extractor_spark.sinks.dataset import write_bucketed

    docs = spread(load_table(spark, sf_dir, "documents"))
    postings = docs.select(
        "doc_id",
        F.posexplode(tokenize("text")).alias("pos", "term"),
    )
    write_bucketed(
        postings,
        table_name,
        ["doc_id"],
        n_buckets=TEXT_INDEX_BUCKETS,
        sort_by=["doc_id", "pos"],
    )


def search_phrase_index(
    spark: SparkSession,
    phrase: tuple[str, ...] = PHRASE,
    table_name: str = "text_index",
) -> DataFrame:
    """phrase_search's plan over the PERSISTED index: same adjacency
    equi-joins, but both join sides read the doc_id-bucketed posting
    table, so the whole match pipeline — joins on (doc_id, pos),
    per-doc hit count — is exchange-free; the only movement is the
    final bounded top-k. Results are identical to phrase_search run
    against the raw corpus (equality-tested)."""
    return _phrase_match(spark.table(table_name), phrase)


def append_text_index(
    spark: SparkSession, docs: DataFrame, table_name: str = "text_index"
) -> None:
    """Incremental index refresh: append postings for NEW documents
    (a crawl increment) to the persisted index. The append writes into
    the existing bucket layout (same bucket count and sort), so
    searches over the refreshed index keep the exchange-free plan —
    refresh cost is proportional to the increment, never a rebuild.
    ``docs`` must carry (doc_id, text) with doc_ids disjoint from the
    indexed corpus (the caller's contract, same as any append-only
    ingest)."""
    from parquet_extractor_spark.sinks.dataset import write_bucketed

    postings = docs.select(
        "doc_id",
        F.posexplode(tokenize("text")).alias("pos", "term"),
    )
    write_bucketed(
        postings,
        table_name,
        ["doc_id"],
        n_buckets=TEXT_INDEX_BUCKETS,
        sort_by=["doc_id", "pos"],
        mode="append",
    )


# ── count-min sketch heavy hitters ──────────────────────────────────
# Bounded-memory frequency estimation (Cormode & Muthukrishnan 2005):
# the sketch is a D×W counter grid — constant size no matter how many
# distinct tokens the corpus has, which is the property that matters
# when the vocabulary of a 100 TB crawl outgrows a hash-agg. This
# query is the sketch-quality eval (the lsh_quality_eval pattern):
# build the sketch distributedly, estimate the exact top-K tokens'
# counts from it, and report estimate vs truth — count-min guarantees
# est ≥ exact, overshoot bounded by e·N/W with prob 1−e^{−D}.
CM_DEPTH = 4
CM_WIDTH = 512
CM_TOP = 20


def _cm_pos(tok_col, d: int):
    """Row-d bucket of one token: phash(tok ‖ '#d') mod W — the
    md5-prefix hash both engines reproduce byte-identically."""
    from parquet_extractor_spark.functions.text import portable_hash64

    return F.pmod(
        portable_hash64(F.concat(tok_col, F.lit(f"#{d}"))), F.lit(CM_WIDTH)
    )


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-CM_TOP tokens with their count-min estimates.

    Plan shape: ONE token explode feeds both sides. The sketch is a
    groupBy over (d, pos) — D rows per token map-side, partial-agg
    compressed to ≤ D×W rows total, bounded by construction → the
    estimate join broadcasts it. The exact top-K comes from the
    ordinary token hash-agg via TakeOrderedAndProject. Estimation is
    min over the token's D bucket counters. Output: (token, exact_cnt,
    cm_estimate, overestimate ≥ 0), ordered by exact count.
    """
    toks = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(F.explode(tokenize("text")).alias("tok"))
        .filter(F.length("tok") >= MIN_TERM_LEN)
    )
    sketch = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            _cm_pos(F.col("tok"), d).alias("pos"),
                        )
                        for d in range(CM_DEPTH)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.d", "c.pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(CM_TOP)
    )
    probes = top.select(
        "tok",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cm_pos(F.col("tok"), d).alias("pos"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("tok", "exact_cnt", "c.d", "c.pos")
    return (
        probes.join(F.broadcast(sketch), ["d", "pos"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("cm_estimate"))
        .select(
            F.col("tok").alias("token"),
            "exact_cnt",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
    )


COUNTMIN_HEAVY_HITTERS_SQL = rf"""
WITH toks AS (
    SELECT unnest(list_filter({tokenize_sql('text')}, x -> len(x) >= {MIN_TERM_LEN}))
               AS tok
    FROM documents
),
cells AS (
    SELECT tok, d, {portable_hash64_sql("tok || '#' || d")} % {CM_WIDTH} AS pos
    FROM toks, unnest(range(0, {CM_DEPTH})) AS u(d)
),
sketch AS (
    SELECT d, pos, count(*) AS cnt FROM cells GROUP BY d, pos
),
top AS (
    SELECT tok, count(*) AS exact_cnt
    FROM toks GROUP BY tok
    ORDER BY exact_cnt DESC, tok ASC LIMIT {CM_TOP}
),
probes AS (
    SELECT t.tok, t.exact_cnt, u.d,
           {portable_hash64_sql("t.tok || '#' || d")} % {CM_WIDTH} AS pos
    FROM top t, unnest(range(0, {CM_DEPTH})) AS u(d)
)
SELECT p.tok AS token,
       p.exact_cnt,
       CAST(min(s.cnt) AS BIGINT) AS cm_estimate,
       CAST(min(s.cnt) - p.exact_cnt AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON p.d = s.d AND p.pos = s.pos
GROUP BY p.tok, p.exact_cnt
ORDER BY p.exact_cnt DESC, token ASC
"""
