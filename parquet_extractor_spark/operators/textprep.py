"""Training-data text preparation operators.

Beyond the reference's corpus analyzer (api.py:470-579), these are the
standard ops a large-scale LLM training pipeline runs over a document
table: windowed chunking (context-length packing), TF-IDF salient
terms (quality/topic signals), and deterministic stratified sampling
(mixture control). All pure DataFrame expressions, all
oracle-checked in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.text import (
    portable_hash64,
    portable_hash64_sql,
    tokenize,
    tokenize_sql,
)
from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, local_frame, spread

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks

TFIDF_TOP_K = 3
MIN_TERM_LEN = 4  # skip stopword-ish short tokens

STRATIFIED_N = 20  # docs kept per lang


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking with overlap (context packing).

    tokens → window starts 1, 1+stride, 1+2·stride, … → slice each
    window back to text. Everything is a codegen'd array expression:
    the chunk fan-out happens map-side with no shuffle at all, so the
    operator scales linearly with corpus size. Short docs yield one
    chunk. Output: (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("toks") - F.lit(CHUNK_TOKENS - CHUNK_STRIDE), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice("toks", s, CHUNK_TOKENS), " ").alias("chunk_text"),
            F.least(
                F.size("toks") - s + F.lit(1), F.lit(CHUNK_TOKENS)
            ).alias("n_chunk_tokens"),
        ),
    )
    return (
        toks.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("c.n_chunk_tokens").cast("bigint").alias("n_chunk_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


DOC_CHUNKS_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS toks
    FROM documents
),
starts AS (
    SELECT doc_id, toks,
           generate_series(1,
               greatest(len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}, 1),
               {CHUNK_STRIDE}) AS ss
    FROM toks
)
SELECT doc_id,
       CAST(s_idx - 1 AS BIGINT) AS chunk_id,
       CAST(least(len(toks) - ss[s_idx] + 1, {CHUNK_TOKENS}) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(toks[ss[s_idx]:ss[s_idx] + {CHUNK_TOKENS - 1}], ' ')
           AS chunk_text
FROM starts, unnest(range(1, len(ss) + 1)) AS u(s_idx)
ORDER BY doc_id, chunk_id
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K salient terms per document by TF-IDF.

    Inverted-index shape in one term shuffle: explode tokens →
    ``repartition("term")`` → tf per (term, doc) and df per term as a
    ``count(*)`` over ``Window.partitionBy("term")`` of those tf rows.
    Both are satisfied by the one term-hash exchange, so the postings
    are neither cached, rescanned nor joined back to a df table. A
    range exchange on ``doc_id`` then feeds the per-doc top-K window
    and the final ``orderBy("doc_id", "rank")`` alike (one exchange,
    one sampling job, no second sort shuffle). 7 Spark jobs per
    collect at sf0.01 on local[4] with a warm store, against 12 for
    the persist + df-aggregate + broadcast-join + doc-hash +
    range-sort plan it replaces.

    Skew: every posting of a term lands in that term's partition of
    the term shuffle, so a hot term makes one long task, and with no
    partial aggregation before the exchange the raw (doc, term) rows
    travel. The old ``tf ⋈ df`` join was term-partitioned too, so the
    hot-key exposure is unchanged; MIN_TERM_LEN plays the role of a
    stopword list and drops exactly the hottest keys before any
    shuffle.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    # in-plan scalar subquery: an eager count() would submit a Spark
    # job while the query is still being built
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .select(F.count("*").cast("double"))
        .scalar()
    )
    terms = docs.select(
        "doc_id",
        F.explode(
            F.filter(tokenize("text"), lambda t: F.length(t) >= MIN_TERM_LEN)
        ).alias("term"),
    )
    tf = (
        terms.repartition("term")
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).withColumn(
        "tfidf", F.round(F.col("tf") * F.log(n_docs / F.col("df")), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.repartitionByRange("doc_id")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


TFIDF_TOP_TERMS_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(
               {tokenize_sql('text')}, x -> len(x) >= {MIN_TERM_LEN}
           )) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
df_ AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df_.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df_.df), 6) AS tfidf
    FROM tf JOIN df_ USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly STRATIFIED_N docs per
    language, chosen by a portable content-hash order (mixture control
    for training sets — same rows on every engine and every run).

    One shuffle (the per-lang window); at scale the window partitions
    by a low-cardinality key, so AQE's skew handling matters more than
    partition count — and the alternative (df.stat.sampleBy) gives
    only approximate strata sizes.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "lang", portable_hash64(F.col("text")).alias("sk")
    )
    w = Window.partitionBy("lang").orderBy("sk", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= STRATIFIED_N)
        .select("lang", F.col("rn").alias("pick"), "doc_id")
        .orderBy("lang", "pick")
    )


STRATIFIED_SAMPLE_SQL = rf"""
WITH keyed AS (
    SELECT doc_id, lang,
           {portable_hash64_sql('text')} AS sk
    FROM documents
),
ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rn
    FROM keyed
)
SELECT lang, rn AS pick, doc_id
FROM ranked WHERE rn <= {STRATIFIED_N}
ORDER BY lang, pick
"""


FUZZY_KEY_LIMIT = 300  # compact, non-vacuous result at every sf
FUZZY_MAX_DIST = 1


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity resolution): customer-name pairs
    within Levenshtein distance FUZZY_MAX_DIST.

    The naive form is an O(n²) cross join with an edit-distance
    filter; the scale form used here BLOCKS first — equi-join on a
    cheap blocking key (the name minus its last two characters), so
    candidate pairs exist only within a block and the shuffle is an
    ordinary hash join on the key. Real pipelines use several blocking
    passes (prefixes, phonetic codes, length buckets) union'd; one
    suffices for the fixture's fixed-format names. levenshtein() is a
    JVM builtin with an identical definition in DuckDB.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < FUZZY_KEY_LIMIT)
        .select("c_name")
    )
    blocked = cust.withColumn(
        "block", F.expr("substring(c_name, 1, length(c_name) - 2)")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.c_name") < F.col("b.c_name")),
        )
        .select(
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .orderBy("name_a", "name_b")
    )


FUZZY_NAME_PAIRS_SQL = rf"""
WITH cust AS (
    SELECT c_name,
           substring(c_name, 1, length(c_name) - 2) AS block
    FROM customer
    WHERE c_custkey < {FUZZY_KEY_LIMIT}
)
SELECT a.c_name AS name_a,
       b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM cust a JOIN cust b
  ON a.block = b.block AND a.c_name < b.c_name
WHERE levenshtein(a.c_name, b.c_name) <= {FUZZY_MAX_DIST}
ORDER BY name_a, name_b
"""


# per-lang keep probabilities for the weighted sampling demo —
# a training-mixture spec (e.g. downsample dominant languages)
LANG_WEIGHTS = {"en": 0.8, "de": 0.5, "fr": 0.5, "es": 0.3, "pt": 0.2}
WEIGHT_SCALE = 10_000


def weighted_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (mixture) sampling: each document is
    kept with its language's probability, decided by a portable
    content-hash threshold instead of rand() — so the same rows
    survive on every engine, every run, and every retry (executor
    retries with rand() produce DIFFERENT samples; hash-threshold
    sampling is the idempotent form a training pipeline needs).

    Pure map-side predicate: no shuffle, composes with pushdown.
    """
    docs = load_table(spark, sf_dir, "documents")
    weight = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(int(w * WEIGHT_SCALE)))
            for lang, w in sorted(LANG_WEIGHTS.items())
        ],
        F.lit(0),
    )
    bucket = F.pmod(portable_hash64(F.col("text")), F.lit(WEIGHT_SCALE))
    return (
        docs.filter(bucket < weight)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _weighted_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {int(w * WEIGHT_SCALE)}"
        for lang, w in sorted(LANG_WEIGHTS.items())
    )
    return rf"""
SELECT doc_id, lang
FROM documents
WHERE (({portable_hash64_sql('text')} % {WEIGHT_SCALE})
       + {WEIGHT_SCALE}) % {WEIGHT_SCALE}
      < (CASE {cases} ELSE 0 END)
ORDER BY doc_id
"""


WEIGHTED_SAMPLE_SQL = _weighted_sql()


BPE_MERGE_TOP = 40


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First iteration of BPE tokenizer training, distributed: count
    adjacent character pairs over the corpus and rank merge candidates
    (Sennrich et al. 2016's algorithm; the quality.bpe_token_counts
    query APPLIES a BPE-ish segmentation — this is the step that would
    LEARN it).

    The classic trainer trick makes this sublinear in corpus size:
    aggregate to DISTINCT words first (one shuffle, partial-agg'd —
    vocabulary-sized output), then fan adjacent pairs out per distinct
    word map-side (codegen'd substring transform, no UDF) weighted by
    word frequency, and aggregate pair counts (second shuffle, also
    vocabulary-bounded). At 100 TB the corpus scan dominates and both
    shuffles stay ~|vocab|; no state ever scales with document count.
    Output: top BPE_MERGE_TOP of (left_sym, right_sym, pair_count).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.struct(
                F.col("w").substr(i, F.lit(1)).alias("left_sym"),
                F.col("w").substr(i + 1, F.lit(1)).alias("right_sym"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left_sym:string,right_sym:string>>"))
    return (
        words.select(F.explode(pair_arr).alias("p"), "freq")
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(BPE_MERGE_TOP)
    )


BPE_MERGE_CANDIDATES_SQL = rf"""
WITH words AS (
    SELECT t AS w, count(*) AS freq
    FROM (
        SELECT unnest({tokenize_sql('text')}) AS t
        FROM documents
    )
    GROUP BY 1
),
pairs AS (
    SELECT substr(w, i, 1) AS left_sym,
           substr(w, i + 1, 1) AS right_sym,
           freq
    FROM words, unnest(range(1, len(w))) AS u(i)
)
SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_count
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {BPE_MERGE_TOP}
"""


BPE_TRAIN_ROUNDS = 8


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word frequency table — the classic BPE trainer's
    state: one corpus scan, then every merge round is vocabulary-
    sized."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-round BPE tokenizer training, distributed (Sennrich
    et al. 2016 — ``bpe_merge_candidates`` is round one of this loop;
    this runs BPE_TRAIN_ROUNDS rounds, applying each learned merge
    before counting the next).

    Scale shape: the corpus is scanned ONCE into a distinct-word
    frequency table (one shuffle, partial-agg'd, |vocab|-sized
    output); every training round after that is an adjacent-pair
    count over that vocabulary table (map-side fan-out, one
    |pairs|-bounded shuffle) plus a single-row argmax to the driver —
    the same plan-time-literal hop as kmeans_refine's centroids. At
    100 TB the corpus scan dominates and the 8-round loop still works
    on a table of ~|vocab| rows; per-round state never scales with
    document count. Only the word table is materialized, truncated
    (once, like dedup_components' label rounds): each round adds ONE
    codegen replace() to the lineage, so unlike join-iterating
    algorithms the plan stays flat and re-running k replaces over a vocabulary-sized cached table is
    cheaper than a checkpoint job per round (measured: per-round
    checkpoints cost ~15 s flat at ANY sf; lazy rounds run in ~3 s).

    Merge application is pure codegen — no UDF: each word's symbol
    sequence is kept as a DOUBLE-space-joined string with
    single-space sentinels (``"  h  e  y  "``), and one
    ``F.replace(seq, " l  r ", " lr ")`` pass merges exactly the
    occurrences the textbook greedy left-to-right scan would.  Why
    one pass suffices: the pattern consumes only ONE of the two
    separator spaces on each side, so a match never steals the
    boundary of the occurrence immediately after it — the same
    non-consuming-boundary effect as the reference implementation's
    ``(?<!\\S)l r(?!\\S)`` lookaround re.sub, which RE2 (DuckDB) has
    no lookbehind to express.  A merged token can never equal either
    of its parents, so a pass also cannot create new occurrences of
    its own pair.  Property-tested against a Python greedy-scan
    reference in tests/test_textprep.py (500k random cases in dev; a
    seeded subset in CI).

    Output: (merge_rank, left_sym, right_sym, pair_count) — the
    learned merge table, one row per round, the artifact a tokenizer
    trainer ships. Oracle: BPE_TRAIN_MERGES_SQL, the same 8 rounds
    unrolled as a DuckDB CTE chain.
    """
    return local_frame(
        spark,
        _run_bpe_training(spark, sf_dir),
        "merge_rank bigint, left_sym string, right_sym string, pair_count bigint",
    ).orderBy("merge_rank")


def _run_bpe_training(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The BPE_TRAIN_ROUNDS training loop itself, returning the merge
    list to the driver (8 rows — the same constant-size hop as
    kmeans_refine's centroids). Shared by bpe_train_merges (which
    ships the table) and bpe_encode_corpus (which re-enters the
    merges as plan-time literals to segment the corpus)."""
    words = materialize(_bpe_words(spark, sf_dir), truncate=True)
    seq0 = F.concat(
        F.lit("  "),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ),
            "  ",
        ),
        F.lit("  "),
    )
    cur = words.select(seq0.alias("seq"), "freq")
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, BPE_TRAIN_ROUNDS + 1):
        syms = F.split(F.btrim(F.col("seq")), "  ")
        pairs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            cur.select(F.explode(pairs).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rank, l, r, cnt))
        merged = F.replace(
            F.col("seq"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")
        )
        cur = cur.select(merged.alias("seq"), "freq")
    return merges


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-ENCODE: run the BPE_TRAIN_ROUNDS trainer, then
    segment every document with the learned merges and report the
    tokenizer's effect per language — docs, whitespace word count,
    and post-merge BPE token count (their ratio is the "fertility"
    a tokenizer team watches per language). This is the apply side
    of bpe_train_merges, the way quality.bpe_token_counts is the
    apply side of a FIXED segmentation (reference api.py:489 counts
    whitespace tokens only; the trainer/encoder pair is the
    LLM-pipeline extension).

    Scale shape: training is the |vocab|-bounded loop documented on
    bpe_train_merges; the 8 learned merges hop to the driver
    (constant-size) and re-enter the ENCODE pass as plan-time
    literals, so segmentation is a single map-side codegen chain —
    one replace() per merge over each document's symbol string —
    followed by a 5-row per-language partial+final agg. No UDF, no
    joins, no per-document state; at 100 TB the encode pass is
    embarrassingly parallel and the only shuffle is the tiny final
    agg.

    Document symbol strings reuse the trainer's boundary-space
    encoding per word ("  h  e  y  " — see bpe_train_merges for why
    ONE replace pass == the textbook greedy merge), with words joined
    by FOUR spaces: a merge pattern needs exactly two spaces between
    its symbols, so no pattern can ever bridge a word boundary, and
    replaces consume at most one boundary space from each side
    (leaving >= 3), preserving that invariant across all 8 rounds.

    Oracle: BPE_ENCODE_CORPUS_SQL — the trainer's unrolled CTE chain
    extended with the same encode: per-document symbol strings, the
    8 replaces applied via cross join against each round's 1-row
    argmax, then the per-language roll-up.
    """
    merges = _run_bpe_training(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokenize("text")
    word_seq = lambda w: F.array_join(  # noqa: E731 — HOF factory
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: w.substr(i, F.lit(1)),
        ),
        "  ",
    )
    seq = F.when(
        F.size(toks) > 0,
        F.concat(
            F.lit("  "), F.array_join(F.transform(toks, word_seq), "    "), F.lit("  ")
        ),
    ).otherwise(F.lit(""))
    for _rank, l, r, _cnt in merges:
        seq = F.replace(seq, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    bpe_tokens = F.when(seq == "", F.lit(0)).otherwise(
        F.size(F.split(F.btrim(seq), " {2,}"))
    )
    return (
        docs.select(
            "lang",
            F.size(toks).alias("word_tokens"),
            bpe_tokens.alias("bpe_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("word_tokens").cast("bigint").alias("word_tokens"),
            F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        )
        .orderBy("lang")
    )


def _bpe_train_ctes() -> list[str]:
    """The trainer's CTE chain (words, w0, then p{k}/b{k}/w{k} per
    round) — shared by the bpe_train_merges oracle and the
    bpe_encode_corpus oracle, which extends it with the encode
    CTEs."""
    words = rf"""words AS (
    SELECT t AS w, count(*) AS freq
    FROM (
        SELECT unnest({tokenize_sql('text')}) AS t
        FROM documents
    )
    GROUP BY 1
)"""
    ctes = [
        words,
        "w0 AS (\n    SELECT '  ' || array_to_string(list_transform("
        "range(1, length(w) + 1), i -> w[i]), '  ') || '  ' AS seq, freq"
        "\n    FROM words\n)",
    ]
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"""p{k} AS (
    SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
    FROM (SELECT string_split(trim(seq), '  ') AS syms, freq FROM w{k - 1}),
         unnest(range(1, len(syms))) AS u(i)
    GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"b{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"w{k} AS (\n    SELECT replace(w.seq, ' ' || b.l || '  ' || b.r || ' ',"
            f" ' ' || b.l || b.r || ' ') AS seq, w.freq AS freq\n"
            f"    FROM w{k - 1} AS w, b{k} AS b\n)"
        )
    return ctes


def _bpe_train_sql() -> str:
    """DuckDB oracle for bpe_train_merges: the identical algorithm
    with the round loop unrolled into a CTE chain — round k = pair
    counts over w{k-1}, a 1-row argmax b{k}, and one boundary-space
    replace() producing w{k}. Single-pass-equals-greedy holds for the
    same structural reason as the Spark side (see bpe_train_merges)."""
    ctes = _bpe_train_ctes()
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, cnt AS pair_count FROM b{k}"
        for k in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT * FROM (\n    {unions}\n)\nORDER BY merge_rank"
    )


BPE_TRAIN_MERGES_SQL = _bpe_train_sql()


def _bpe_encode_sql() -> str:
    """DuckDB oracle for bpe_encode_corpus: the trainer chain
    (_bpe_train_ctes) plus the encode — per-document symbol strings
    in the same boundary-space layout (words joined by four spaces),
    one replace() per round applied via cross join against that
    round's 1-row argmax b{k}, then the per-language roll-up."""
    ctes = _bpe_train_ctes()
    ctes.append(
        rf"""d0 AS (
    SELECT lang, len(toks) AS word_tokens,
           CASE WHEN len(toks) = 0 THEN '' ELSE
               '  ' || array_to_string(list_transform(toks,
                   t -> array_to_string(list_transform(
                       range(1, length(t) + 1), i -> t[i]), '  ')),
                   '    ') || '  '
           END AS seq
    FROM (
        SELECT lang, {tokenize_sql('text')} AS toks
        FROM documents
    )
)"""
    )
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"d{k} AS (\n    SELECT d.lang, d.word_tokens,"
            f" replace(d.seq, ' ' || b.l || '  ' || b.r || ' ',"
            f" ' ' || b.l || b.r || ' ') AS seq\n"
            f"    FROM d{k - 1} AS d, b{k} AS b\n)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(word_tokens) AS BIGINT) AS word_tokens,
       CAST(sum(CASE WHEN seq = '' THEN 0
                ELSE len(regexp_split_to_array(trim(seq), ' {{2,}}')) END)
            AS BIGINT) AS bpe_tokens
FROM d{BPE_TRAIN_ROUNDS}
GROUP BY lang
ORDER BY lang
"""
    )


BPE_ENCODE_CORPUS_SQL = _bpe_encode_sql()


def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility / compression eval per language — the
    standard multilingual-mix diagnostic (how many BPE tokens per
    whitespace word, how many UTF-8 bytes each BPE token covers) that
    feeds UniMax-style mixing decisions (training.unimax_mixing_
    budgets): a language whose fertility is high pays more sequence
    budget per word, so its token share under- represents its text
    share. Metrics as integer micro-units (fp-exact cross-engine):

      fertility_micro        = bpe_tokens * 1e6 div word_tokens
      bytes_per_token_micro  = utf8_bytes * 1e6 div bpe_tokens
      compression_micro      = utf8_bytes * 1e6 div word_tokens

    Scale shape: the trainer is the |vocab|-bounded loop documented on
    bpe_train_merges; the encode pass is the same map-side codegen
    replace() chain as bpe_encode_corpus plus one octet_length column;
    the only shuffle is the 5-row per-language partial+final agg. The
    micro divisions happen AFTER aggregation on per-language BIGINT
    totals (corpus bytes × 1e6 ≈ 1e20 would overflow at the 100 TB
    scale if folded per-row first — divide-at-the-end also avoids the
    r07 micro-overflow defect class).
    """
    merges = _run_bpe_training(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokenize("text")
    word_seq = lambda w: F.array_join(  # noqa: E731 — HOF factory
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: w.substr(i, F.lit(1)),
        ),
        "  ",
    )
    seq = F.when(
        F.size(toks) > 0,
        F.concat(
            F.lit("  "), F.array_join(F.transform(toks, word_seq), "    "), F.lit("  ")
        ),
    ).otherwise(F.lit(""))
    for _rank, l, r, _cnt in merges:
        seq = F.replace(seq, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    bpe_tokens = F.when(seq == "", F.lit(0)).otherwise(
        F.size(F.split(F.btrim(seq), " {2,}"))
    )
    totals = (
        docs.select(
            "lang",
            F.octet_length("text").cast("bigint").alias("n_bytes"),
            F.size(toks).alias("word_tokens"),
            bpe_tokens.alias("bpe_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_bytes").cast("bigint").alias("utf8_bytes"),
            F.sum("word_tokens").cast("bigint").alias("word_tokens"),
            F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        )
    )
    return totals.select(
        "lang",
        "docs",
        "utf8_bytes",
        "word_tokens",
        "bpe_tokens",
        F.expr("bpe_tokens * 1000000 div nullif(word_tokens, 0)")
        .cast("bigint")
        .alias("fertility_micro"),
        F.expr("utf8_bytes * 1000000 div nullif(bpe_tokens, 0)")
        .cast("bigint")
        .alias("bytes_per_token_micro"),
        F.expr("utf8_bytes * 1000000 div nullif(word_tokens, 0)")
        .cast("bigint")
        .alias("compression_micro"),
    ).orderBy("lang")


def _tokenizer_fertility_sql() -> str:
    """DuckDB oracle: the trainer chain + the encode chain from
    _bpe_encode_sql with UTF-8 byte counts (strlen) carried through,
    micro divisions on the aggregated BIGINT totals (// == div here:
    all operands non-negative)."""
    ctes = _bpe_train_ctes()
    ctes.append(
        rf"""e0 AS (
    SELECT lang, strlen(text) AS n_bytes, len(toks) AS word_tokens,
           CASE WHEN len(toks) = 0 THEN '' ELSE
               '  ' || array_to_string(list_transform(toks,
                   t -> array_to_string(list_transform(
                       range(1, length(t) + 1), i -> t[i]), '  ')),
                   '    ') || '  '
           END AS seq
    FROM (
        SELECT lang, text, {tokenize_sql('text')} AS toks
        FROM documents
    )
)"""
    )
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"e{k} AS (\n    SELECT e.lang, e.n_bytes, e.word_tokens,"
            f" replace(e.seq, ' ' || b.l || '  ' || b.r || ' ',"
            f" ' ' || b.l || b.r || ' ') AS seq\n"
            f"    FROM e{k - 1} AS e, b{k} AS b\n)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
totals AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_bytes) AS BIGINT) AS utf8_bytes,
           CAST(sum(word_tokens) AS BIGINT) AS word_tokens,
           CAST(sum(CASE WHEN seq = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(seq), ' {{2,}}')) END)
                AS BIGINT) AS bpe_tokens
    FROM e{BPE_TRAIN_ROUNDS}
    GROUP BY lang
)
SELECT lang, docs, utf8_bytes, word_tokens, bpe_tokens,
       CAST(bpe_tokens * 1000000 // nullif(word_tokens, 0) AS BIGINT)
           AS fertility_micro,
       CAST(utf8_bytes * 1000000 // nullif(bpe_tokens, 0) AS BIGINT)
           AS bytes_per_token_micro,
       CAST(utf8_bytes * 1000000 // nullif(word_tokens, 0) AS BIGINT)
           AS compression_micro
FROM totals
ORDER BY lang
"""
    )


TOKENIZER_FERTILITY_BY_LANG_SQL = _tokenizer_fertility_sql()


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at CHUNK granularity — the sequence-level pass a
    training pipeline runs after document-level dedup (boilerplate
    headers/footers repeat across otherwise-distinct documents and
    survive doc-level hashing).

    Composition: doc_chunks' map-side window fan-out feeds a
    content-hash groupBy — same one-shuffle profile as
    dedup.exact_dedup, just over chunk rows (tokens/stride × docs).
    Output: one row per duplicated chunk text (n_copies > 1), with the
    surviving (doc_id, chunk_id) = the lexicographically first owner.
    """
    chunks = doc_chunks(spark, sf_dir)
    return (
        chunks.select(
            "doc_id", "chunk_id", F.md5("chunk_text").alias("chunk_md5")
        )
        .groupBy("chunk_md5")
        .agg(
            F.min(F.struct("doc_id", "chunk_id")).alias("keep"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "chunk_md5",
            F.col("keep.doc_id").alias("keep_doc_id"),
            F.col("keep.chunk_id").alias("keep_chunk_id"),
            "n_copies",
        )
        .orderBy("chunk_md5")
    )


CHUNK_DEDUP_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS toks
    FROM documents
),
starts AS (
    SELECT doc_id, toks,
           generate_series(1,
               greatest(len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}, 1),
               {CHUNK_STRIDE}) AS ss
    FROM toks
),
chunks AS (
    SELECT doc_id,
           CAST(s_idx - 1 AS BIGINT) AS chunk_id,
           md5(array_to_string(
               toks[ss[s_idx]:ss[s_idx] + {CHUNK_TOKENS - 1}], ' '))
               AS chunk_md5
    FROM starts, unnest(range(1, len(ss) + 1)) AS u(s_idx)
),
grouped AS (
    SELECT chunk_md5,
           min(struct_pack(doc_id := doc_id, chunk_id := chunk_id)) AS keep,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM chunks GROUP BY chunk_md5
    HAVING count(*) > 1
)
SELECT chunk_md5,
       keep.doc_id AS keep_doc_id,
       keep.chunk_id AS keep_chunk_id,
       n_copies
FROM grouped
ORDER BY chunk_md5
"""


def nfc_normalized_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization audit: per document, the md5 of
    the NFC-normalized text plus whether normalization changed
    anything — the pre-dedup canonicalization step for multilingual
    corpora (composed vs decomposed accents hash differently and
    silently defeat exact dedup).

    The normalize kernel is an Arrow pandas_udf
    (functions/unicode_norm.py) — map-side, zero shuffle; everything
    else is codegen'd. The oracle runs DuckDB's nfc_normalize, the
    same Unicode algorithm, so hashes match byte-for-byte. On a
    pure-ASCII fixture ``changed`` is all-false by construction; the
    non-ASCII path is pinned in tests with a synthetic decomposed
    corpus.
    Output: (doc_id, n_chars_in, n_chars_nfc, changed, nfc_md5).
    """
    from parquet_extractor_spark.functions.unicode_norm import nfc_normalize

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            "text",
            F.length("text").cast("bigint").alias("n_chars_in"),
            nfc_normalize(F.col("text")).alias("_nfc"),
        )
        .select(
            "doc_id",
            "n_chars_in",
            F.length("_nfc").cast("bigint").alias("n_chars_nfc"),
            (F.col("_nfc") != F.col("text")).alias("changed"),
            F.md5("_nfc").alias("nfc_md5"),
        )
        .orderBy("doc_id")
    )


NFC_NORMALIZED_HASHES_SQL = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_in,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
       nfc_normalize(text) != text AS changed,
       md5(nfc_normalize(text)) AS nfc_md5
FROM documents
ORDER BY doc_id
"""
