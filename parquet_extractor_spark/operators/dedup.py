"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame expressions (no Python in the hot
path), each designed around its 100 TB shuffle profile:

- **Exact** — hash-groupBy on a content digest. One shuffle keyed on
  the digest; survivors picked with min(doc_id). Digest (md5) is
  computed map-side so the shuffle carries 32-byte keys, not documents.
- **N-gram Jaccard** — explode distinct shingles → group per shingle
  into a DF-capped doc list → generate candidate pairs map-side →
  jaccard from shared counts. One shuffle of the exploded shingles;
  at 100 TB the shingle explode is the cost driver, which is why the
  MinHash tier exists (bounded signature size).
- **MinHash + LSH** — fixed-size signatures (NUM_HASHES portable
  hashes) computed entirely MAP-SIDE as array min-folds (r03: zero
  shuffle — and therefore directly reusable on a streaming frame),
  banded into NUM_BANDS buckets; only docs sharing a band bucket
  become candidate pairs. Shuffle volume is O(docs × bands),
  independent of document length.
- **SimHash** — one 32-bit fingerprint per doc from token hashes;
  near-dups differ in few bits. Fingerprinting is a single map-side
  expression — no shuffle at all until the pair search.

Hashes use functions.text.portable_hash64 (md5-derived) so every tier
is reproducible in DuckDB for the oracle check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.text import (
    char_ngrams,
    portable_hash64,
    tokenize,
    word_ngrams,
)
from parquet_extractor_spark.session import materialize, release
from parquet_extractor_spark.sources.tables import load_table, spread

# MinHash geometry: 16 hashes in 4 bands of 4 rows — catches
# jaccard ≳ 0.5 pairs with high probability at toy scale; at
# production scale you'd raise NUM_HASHES to 128+.
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

JACCARD_THRESHOLD = 0.1
NGRAM_N = 3

# Shingles appearing in more than MAX_SHINGLE_DF documents are dropped
# BEFORE the self-join (and before the per-doc size counts, so the
# Jaccard denominator is consistent). This is the skew guard: ubiquitous
# shingles contribute ~nothing to near-dup detection but quadratic rows
# to the join. Applied identically in the DuckDB oracle.
MAX_SHINGLE_DF = 50


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5(text) → keep min doc_id. Returns
    one row per distinct text with the surviving id and copy count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


EXACT_DEDUP_SQL = r"""
SELECT md5(text) AS text_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keep_doc_id
"""


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + exploded DISTINCT word-3-gram shingles."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(tokenize("text"), NGRAM_N))
        ).alias("shingle"),
    )


def _pair_overlap_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, na, nb) for every pair of documents
    sharing ≥1 rare shingle — the exact-overlap tier behind BOTH the
    symmetric Jaccard query and the asymmetric containment query.
    Plan shape documented on ngram_jaccard_pairs (unchanged).

    MATERIALIZED via store.ensure_tier so the two registry consumers
    (ngram_jaccard_pairs, dedup_containment_scores — plus
    lsh_quality_eval through _ngram_pairs_tier) share ONE derivation;
    the grouped-postings persist that feeds the build is dropped as
    soon as the tier's parquet write completes, so a full-registry
    sweep no longer carries session-lifetime cached postings copies.
    """
    from parquet_extractor_spark.store import ensure_tier

    to_release: list[DataFrame] = []
    out = ensure_tier(
        spark,
        sf_dir,
        "pair_overlap",
        lambda: _pair_overlap_plan(spark, sf_dir, to_release),
    )
    # the tier's write consumed the postings (a failed build leaves
    # them to the query scope or, unscoped, the release_cached sweep)
    for df in to_release:
        release(df)
    return out


def _pair_overlap_plan(
    spark: SparkSession, sf_dir: str, to_release: list[DataFrame]
) -> DataFrame:
    """The pair-overlap tier's build plan. The grouped postings it
    persists are appended to ``to_release`` for the caller to free
    once the plan has run."""
    all_sh = _doc_shingles(spark, sf_dir)
    hot = (
        all_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    grouped = materialize(
        all_sh.join(hot, "shingle", "left_anti")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    to_release.append(grouped)
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_arr = F.flatten(
        F.transform(
            "ds",
            lambda a: F.transform(
                "ds",
                lambda b: F.struct(
                    a.alias("doc_a"),
                    b.alias("doc_b"),
                ),
            ),
        )
    )
    shared = (
        grouped.select(
            F.explode(
                F.filter(pair_arr, lambda p: p.doc_a < p.doc_b)
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
            ),
            "doc_b",
        )
    )



def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard similarity.

    Plan shape: explode distinct shingles → pre-aggregate shingle
    document frequency (map-side partial count, so this first shuffle
    carries (shingle, count) partials, not the exploded rows) →
    anti-join out the HOT set (df > MAX_SHINGLE_DF — the skew guard:
    hot shingles produce quadratic pairs and carry no near-dup signal)
    BEFORE collecting doc lists → group the
    surviving rows by shingle into bounded doc-id lists → generate
    same-shingle doc pairs MAP-SIDE → count shared shingles per pair
    → jaccard from |A|,|B|,|A∩B|.

    Versus the textbook self-equi-join on shingle, this shuffles the
    exploded (doc_id, shingle) rows ONCE (the groupBy) instead of
    twice (both join sides), and the pair explosion is a codegen'd
    array transform bounded by MAX_SHINGLE_DF² per shingle. The
    pre-count means no executor ever materializes a ubiquitous
    shingle's full doc list (r01 verdict item 6): per-group state is
    bounded by MAX_SHINGLE_DF by construction. The hot-set anti-join
    carries no broadcast hint: AQE broadcasts it while it fits and
    plans a shuffle anti-join when the Zipf head of a 100 TB crawl
    outgrows memory — or use the MinHash tier, whose shuffle volume
    is independent of document frequency.

    Jaccard denominators need each doc's surviving-shingle count.
    That is a SIZES table — one row per doc, derived by re-exploding
    the grouped postings (persisted only for the duration of the
    tier build — see _pair_overlap_tier — so there is no second
    corpus scan and no session-lifetime cache) — joined
    onto the (much smaller, threshold-filtered) pair table twice,
    UNHINTED: AQE broadcasts it while it fits executor memory and
    falls back to a shuffle join beyond, which is the whole point of
    leaving the hint off (r02/r03 lesson — the r03 attempt to make
    the count "ride along" via Window.partitionBy(doc_id) added a
    full shuffle+sort of every exploded (doc_id, shingle) row and
    benched 2.6× slower). The joins are keyed on doc_id against a
    table whose cardinality is n_docs, not n_shingles, so they stay
    cheap at any scale.
    """
    t = _pair_overlap_tier(spark, sf_dir)
    return (
        t.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
    )


NGRAM_JACCARD_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS tokens
    FROM documents
),
shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(tokens) - {NGRAM_N - 1}, sign(len(tokens))) + 1),
               i -> array_to_string(tokens[i:i+{NGRAM_N - 1}], ' '))) AS shingles
    FROM toks
),
exploded_all AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM shingled
),
rare AS (
    SELECT shingle FROM exploded_all
    GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
),
exploded AS (
    SELECT doc_id, e.shingle
    FROM exploded_all e JOIN rare USING (shingle)
),
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM exploded GROUP BY doc_id
),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM exploded a JOIN exploded b ON a.shingle = b.shingle
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_shared / (sa.n_shingles + sb.n_shingles - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_shared / (sa.n_shingles + sb.n_shingles - n_shared) >= {JACCARD_THRESHOLD}
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
"""


# Universal-hash family over a Mersenne prime: h_i(x) = (a_i·h0 + b_i) mod P
# where h0 = portable 60-bit md5 hash mod P. ONE md5 per shingle, then
# NUM_HASHES cheap multiply-mods inside a single aggregation pass —
# this is the formulation that scales (explode → partial min map-side →
# one shuffle of NUM_HASHES longs per doc).
MERSENNE_P = 2147483647
HASH_A = [(2654435761 * (i + 1)) % MERSENNE_P for i in range(NUM_HASHES)]
HASH_B = [(40503 * (i + 1) + 7) % MERSENNE_P for i in range(NUM_HASHES)]


def signature_frame(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Map-side MinHash signatures over an arbitrary documents frame:
    shingle → hash → NUM_HASHES affine min-folds, all array
    expressions inside two stacked projections — ZERO shuffle. (The
    r02 form exploded shingles and paid a full groupBy exchange; the
    per-doc shingle array is context-length bounded, so the array form
    is strictly better at any corpus size, and — being stateless — it
    is also directly usable on a STREAMING frame.)

    The shingle-hash array is staged as its own projection so the md5
    per shingle is computed once, not once per hash function
    (CollapseProject keeps non-cheap expressions from being inlined
    into multiple consumers). Every doc yields ≥1 shingle (empty text
    → one '' shingle), so no documents are lost.
    """
    docs = spread(docs)
    shingles = F.array_distinct(word_ngrams(tokenize("text"), NGRAM_N))
    hs = F.transform(
        shingles, lambda s: portable_hash64(s) % F.lit(MERSENNE_P)
    )
    staged = docs.select("doc_id", *carry, hs.alias("hs"))
    cols = [
        F.array_min(
            F.transform(
                F.col("hs"),
                _affine_mod(HASH_A[i], HASH_B[i]),
            )
        ).alias(f"mh{i}")
        for i in range(NUM_HASHES)
    ]
    return staged.select("doc_id", *carry, *cols)


def _affine_mod(a: int, b: int):
    """(a·h + b) mod P as a unary lambda — a factory, because Spark's
    HOF arity inference forbids default-arg captures on the lambda."""
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature columns mh0..mh{NUM_HASHES-1}."""
    return signature_frame(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def _minhash_sql_exprs() -> str:
    return ",\n       ".join(
        f"min(({HASH_A[i]} * h0 + {HASH_B[i]}) % {MERSENNE_P}) AS mh{i}"
        for i in range(NUM_HASHES)
    )


MINHASH_SIGNATURES_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS tokens
    FROM documents
),
shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(tokens) - {NGRAM_N - 1}, sign(len(tokens))) + 1),
               i -> array_to_string(tokens[i:i+{NGRAM_N - 1}], ' '))) AS shingles
    FROM toks
),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(unnest(shingles)), 1, 15)) AS BIGINT)
               % {MERSENNE_P} AS h0
    FROM shingled
)
SELECT doc_id,
       {_minhash_sql_exprs()}
FROM hashed
GROUP BY doc_id
ORDER BY doc_id
"""


def _band_buckets(sig: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, band, bucket[, *carry]) from a signature frame: one
    md5 digest per band, exploded map-side."""
    bands = []
    for b in range(NUM_BANDS):
        cols = [
            F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
            for r in range(ROWS_PER_BAND)
        ]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    return sig.select(
        "doc_id", *carry, F.explode(F.array(*bands)).alias("bb")
    ).select(
        "doc_id",
        *carry,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def band_join(a: DataFrame, b: DataFrame, extra: Column) -> DataFrame:
    """Join two band-bucket frames on (band, bucket) plus a caller
    condition, aliased ``a``/``b`` — THE candidate-pair geometry every
    LSH tier (batch self-join, cross-source, streaming probe) shares;
    changing the banding key means changing it here once."""
    return a.alias("a").join(
        b.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & extra,
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the MinHash signatures: docs agreeing on ALL
    rows of any band become candidate pairs. The join key is the band
    digest — shuffle volume O(docs × NUM_BANDS), never O(pairs)."""
    buckets = _band_buckets(
        signature_frame(load_table(spark, sf_dir, "documents"))
    )
    return (
        band_join(buckets, buckets, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _lsh_pairs_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-LSH candidate pairs as a MATERIALIZED shared tier
    (store.ensure_tier): dedup_components, dedup_graph_pagerank and
    lsh_quality_eval all consume this exact pair set, and before the
    tier layer each re-ran the shingle -> MinHash -> banding pipeline
    from the raw corpus. The first consumer writes the pairs once
    (a bounded table: candidate pairs, not the corpus) and the rest
    scan the files — the "persist the dedup index" shape a 100 TB
    pipeline uses across jobs."""
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        sf_dir,
        "lsh_pairs",
        lambda: minhash_lsh_candidates(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
    )


def _ngram_pairs_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs as a materialized shared tier —
    the ground-truth side of lsh_quality_eval and the most expensive
    tier to derive (an exact pairwise Jaccard over grouped postings).
    """
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        sf_dir,
        "ngram_pairs",
        lambda: ngram_jaccard_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
    )


def _components_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels as a materialized shared tier:
    dedup_reduction_report and training.dedup_canonical both consume
    the full (doc_id, component) labeling. The builder itself reads
    the lsh_pairs tier (nested ensure_tier — the lock is reentrant),
    so a sweep derives the pair graph exactly once end to end."""
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        sf_dir,
        "components",
        lambda: dedup_components(spark, sf_dir),
    )


def _exact_keep_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup survivor set (keep_doc_id per content hash) as a
    materialized shared tier for the report queries."""
    from parquet_extractor_spark.store import ensure_tier

    return ensure_tier(
        spark,
        sf_dir,
        "exact_keep",
        lambda: exact_dedup(spark, sf_dir).select(
            F.col("keep_doc_id").alias("doc_id")
        ),
    )


def cross_source_dedup_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental-ingest dedup: near-duplicate candidate pairs whose
    two documents come from DIFFERENT sources — the "dedup the new
    crawl against the existing corpus" step of a rolling training-data
    pipeline (the corpus-scale cousin of the reference's skip-existing
    sink, api.py:248-254).

    Same banded-LSH shuffle geometry as minhash_lsh_candidates —
    joining the new batch against an indexed corpus stays
    O(docs × bands), never a cross-corpus product. The source label
    rides the (map-side) signature projection directly — since r03's
    zero-shuffle signature_frame there is no signature/source join at
    all; the cross-source filter sits in the bucket self-join
    condition, pruning same-source pairs before the distinct.
    """
    sig = signature_frame(
        load_table(spark, sf_dir, "documents"), carry=("source",)
    )
    # persist: both sides of the band self-join consume this frame and
    # the planner does not recognize the two scans as shareable (no
    # ReusedExchange in the before-plan — r12), so the whole MinHash
    # signature pass ran twice. docs × NUM_BANDS rows of (doc_id,
    # band, bucket, source).
    buckets = materialize(_band_buckets(sig, carry=("source",)))
    return (
        band_join(
            buckets,
            buckets,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _minhash_lsh_oracle() -> str:
    """DuckDB oracle for minhash_lsh_candidates, with the banding
    unrolled as a UNION ALL (portable, no lateral tricks)."""
    sig_cte = MINHASH_SIGNATURES_SQL.replace("ORDER BY doc_id", "").strip()
    band_selects = []
    for b in range(NUM_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sig AS ({sig_cte}),
buckets AS (
{bands_union}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


MINHASH_LSH_SQL = _minhash_lsh_oracle()


def _cross_source_oracle() -> str:
    sig_cte = MINHASH_SIGNATURES_SQL.replace("ORDER BY doc_id", "").strip()
    band_selects = []
    for b in range(NUM_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT sig.doc_id, src.source, {b} AS band, md5({cols}) AS bucket "
            "FROM sig JOIN src ON sig.doc_id = src.doc_id"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sig AS ({sig_cte}),
src AS (SELECT doc_id, source FROM documents),
buckets AS (
{bands_union}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.source AS source_a, b.source AS source_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bucket = b.bucket
 AND a.doc_id < b.doc_id AND a.source != b.source
ORDER BY doc_a, doc_b
"""


CROSS_SOURCE_DEDUP_SQL = _cross_source_oracle()

SIMHASH_BITS = 32


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash: sign-sum of token-hash bits.

    Formulated as explode → hash once per token → ONE aggregation pass
    (partial aggregation runs map-side, so the shuffle carries a few
    ints per doc, never the tokens). Documents with no tokens get
    simhash 0. Near-dup pairs differ in few bits (xor+popcount
    downstream).

    The vote algebra: with n hashed tokens and set_b = count of
    tokens with bit b set, the classic ±1 vote sum is
    v_b = set_b − (n − set_b) = 2·set_b − n, so bit b of the
    fingerprint is set iff 2·set_b > n. That identity lets the agg
    carry BIT COUNTS instead of signed votes, and bit counts pack:
    each of 16 lanes sums bit b in its low 32 bits and bit b+16 in
    the high 32 (no cross-lane carry — a doc's distinct-token count
    can't reach 2^32). The agg is therefore 16 branch-free bitwise
    sums + one count, not SIMHASH_BITS conditional sums — the
    previous 32-wide sum(when) form was the repo's heaviest
    whole-stage-codegen unit and its most inflation-prone query in
    long driver sweeps (r10/r11 adjudications). Values are identical
    (2·set_b > n ⟺ v_b > 0 for all integers), so the oracle and
    every downstream consumer are unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    # explode_outer keeps token-less documents as one NULL-token row,
    # so the groupBy loses no doc_ids — ONE scan, no join-back (the
    # earlier left-join formulation scanned documents twice).
    tok = spread(docs).select(
        "doc_id",
        F.explode_outer(F.array_distinct(tokenize("text"))).alias("token"),
    )
    hashed = tok.select("doc_id", portable_hash64(F.col("token")).alias("h"))
    # NULL h (token-less doc) is skipped by sum() and count("h") alike.
    lanes = [
        F.sum(
            F.expr(
                f"(shiftright(h, {b}) & 1) | "
                f"shiftleft(shiftright(h, {b + 16}) & 1, 32)"
            )
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS // 2)
    ]
    counts = hashed.groupBy("doc_id").agg(
        F.count("h").alias("n"), *lanes
    )
    sums = ",".join(
        f"coalesce(s{b}, CAST(0 AS BIGINT))"
        for b in range(SIMHASH_BITS // 2)
    )
    simhash = F.expr(
        f"aggregate(zip_with(array({sums}), "
        f"sequence(0, {SIMHASH_BITS // 2 - 1}), (s, i) -> "
        "(CASE WHEN 2 * (s & 4294967295) > n "
        " THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END) "
        "+ (CASE WHEN 2 * shiftright(s, 32) > n "
        " THEN shiftleft(CAST(1 AS BIGINT), i + 16) "
        " ELSE CAST(0 AS BIGINT) END)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return counts.select("doc_id", simhash.alias("simhash")).orderBy("doc_id")


def _simhash_oracle() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    total = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS tokens
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(unnest(tokens)), 1, 15)) AS BIGINT) AS h
    FROM toks
),
votes AS (
    SELECT doc_id,
           {votes}
    FROM hashed
    GROUP BY doc_id
),
sig AS (
    SELECT doc_id, {total} AS simhash FROM votes
)
SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
FROM documents d LEFT JOIN sig s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


SIMHASH_SQL = _simhash_oracle()


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate-pair graph — the
    final step of a dedup pipeline: transitive near-dup groups, each
    labeled by its minimum doc_id (the canonical survivor).

    This is the engine's iterative-algorithm pattern: min-label
    propagation where EACH round is one distributed join+aggregate and
    only the convergence check (a count) touches the driver. Rounds
    needed = graph diameter (near-dup clusters are shallow; single
    digits in practice). A truncating ``materialize`` cuts the lineage
    each round so plans don't grow with iteration count — the standard
    guard for iterative DataFrame algorithms. State per round is one
    (doc_id, label) row per document: O(docs), never O(pairs).
    """
    from parquet_extractor_spark.functions.graph import (
        min_label_components,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _lsh_pairs_tier(spark, sf_dir)
    labels = min_label_components(
        docs,
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        id_col="doc_id",
        label_col="component",
    )
    return labels.orderBy("doc_id")


def _dedup_components_oracle() -> str:
    """DuckDB oracle: reachability via a recursive CTE; a node's
    component is the minimum doc_id among everything reachable."""
    pairs_sql = MINHASH_LSH_SQL.replace("ORDER BY doc_a, doc_b", "").strip()
    return f"""
WITH RECURSIVE pairs AS (
    SELECT * FROM ({pairs_sql}) t
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lbl
    FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lbl) AS component
FROM reach
GROUP BY node
ORDER BY doc_id
"""


DEDUP_COMPONENTS_SQL = _dedup_components_oracle()


# PageRank over the candidate graph: damping in percent and rank mass
# in integer micro-units, so every iteration is exact integer math —
# commutative sums, floor divisions — and bit-identical in any engine
# (a float PageRank's Σ r/deg depends on summation order).
PAGERANK_DAMP_PCT = 85
PAGERANK_ITERS = 2
PAGERANK_MASS = 1_000_000


def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the LSH near-dup candidate graph — the
    "which document anchors this duplicate neighborhood" signal: high
    rank = shared spans with many other highly-connected docs (a
    boilerplate/template hub), the doc a curator inspects first.

    The iterative-join pattern beyond dedup_components' min-label
    propagation: PAGERANK_ITERS unrolled rounds of
    ``r' = teleport + damp · Σ_in (r div deg)`` where each round is
    one shuffle-join (edges ⋈ ranks on src) plus one aggregation
    (sum per dst) — state O(nodes), traffic O(edges), the textbook
    distributed PageRank shape. Integer fixed-point keeps it
    oracle-exact; mass lost to floor-division is the documented
    price of determinism, not a bug.
    Output: (doc_id, rank_micro, degree) for every graph node,
    ordered by rank desc then doc_id.
    """
    pairs = _lsh_pairs_tier(spark, sf_dir)
    # Truncated: the PAGERANK_ITERS unrolled rounds below reference
    # edges 2x and deg 3x each, so the plan grows with the round
    # count; cutting the lineage keeps every round a join over cached
    # blocks instead of re-running the LSH banding self-join. Same
    # iterative-join guard dedup_components uses.
    edges = materialize(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        ),
        truncate=True,
    )
    deg = materialize(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        ),
        truncate=True,
    )
    n = deg.count()
    if n == 0:
        raise ValueError("pagerank: candidate graph is empty")
    init = PAGERANK_MASS // n
    teleport = (PAGERANK_MASS * (100 - PAGERANK_DAMP_PCT) // 100) // n

    ranks = deg.select("node", "degree", F.lit(init).alias("rank_micro"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst"),
                F.expr("rank_micro DIV degree").alias("c"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .select(
                "node",
                "degree",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"(CAST({PAGERANK_DAMP_PCT} AS BIGINT) "
                        f"* coalesce(in_sum, CAST(0 AS BIGINT))) DIV 100"
                    )
                ).alias("rank_micro"),
            )
        )
    return (
        ranks.select(
            F.col("node").alias("doc_id"),
            F.col("rank_micro").cast("bigint").alias("rank_micro"),
            F.col("degree").cast("bigint").alias("degree"),
        )
        .orderBy(F.desc("rank_micro"), "doc_id")
    )


def _pagerank_oracle() -> str:
    pairs_sql = MINHASH_LSH_SQL.replace("ORDER BY doc_a, doc_b", "").strip()
    return f"""
WITH pairs AS (
    SELECT * FROM ({pairs_sql}) t
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM edges GROUP BY src
),
consts AS (
    SELECT (SELECT count(*) FROM deg) AS n
),
r0 AS (
    SELECT node, degree,
           CAST({PAGERANK_MASS} // (SELECT n FROM consts) AS BIGINT)
               AS rank_micro
    FROM deg
),
r1 AS (
    SELECT d.node, d.degree,
           ({PAGERANK_MASS} * {100 - PAGERANK_DAMP_PCT} // 100)
               // (SELECT n FROM consts)
           + ({PAGERANK_DAMP_PCT} * coalesce(s.in_sum, 0)) // 100
               AS rank_micro
    FROM deg d LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_micro // r.degree) AS in_sum
        FROM edges e JOIN r0 r ON e.src = r.node
        GROUP BY e.dst
    ) s ON s.node = d.node
),
r2 AS (
    SELECT d.node, d.degree,
           ({PAGERANK_MASS} * {100 - PAGERANK_DAMP_PCT} // 100)
               // (SELECT n FROM consts)
           + ({PAGERANK_DAMP_PCT} * coalesce(s.in_sum, 0)) // 100
               AS rank_micro
    FROM deg d LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_micro // r.degree) AS in_sum
        FROM edges e JOIN r1 r ON e.src = r.node
        GROUP BY e.dst
    ) s ON s.node = d.node
)
SELECT node AS doc_id,
       CAST(rank_micro AS BIGINT) AS rank_micro,
       degree
FROM r2
ORDER BY rank_micro DESC, doc_id
"""


DEDUP_GRAPH_PAGERANK_SQL = _pagerank_oracle()


def lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the LSH tier: precision/recall of the banded
    candidate pairs against exact n-gram Jaccard ground truth (pairs
    at or above JACCARD_THRESHOLD) — the measurement a pipeline runs
    before trusting approximate dedup with deletions at scale.

    "Ground truth" carries ngram_jaccard_pairs' own documented
    approximation: shingles with DF > MAX_SHINGLE_DF are dropped
    before Jaccard, so pairs similar ONLY through ubiquitous
    boilerplate shingles are absent from the truth set and recall is
    measured relative to the filtered universe — an upper bound on
    unfiltered recall, not an exact figure. (LSH hashes all shingles,
    so the two tiers' shingle universes differ exactly on that Zipf
    head.)

    Both pair sets are the engine's own operators; the comparison is
    three 1-row aggregates (exact count, candidate count, inner-join
    hit count) combined through broadcast cross joins — no new shuffle
    geometry, output is ONE row of integer micro-unit ratios (floor of
    a correctly-rounded double division: engine-exact).

    At 100 TB ground truth over the full corpus is unaffordable —
    production samples a stratum and runs this query on the sample;
    the plan is identical, only the input frame shrinks.
    Output: (n_exact_pairs, n_candidate_pairs, n_hits,
    precision_micro, recall_micro).

    Both upstream pair sets come from the MATERIALIZED tier store
    (store.py): each tier is derived from the corpus at most once per
    session — by this query or by whichever dedup consumer ran first
    — and re-reads here are parquet scans of a bounded pair table.
    Each tier feeds two consumers below (its own 1-row count and the
    semi-join); scanning the materialized files twice replaces the
    persist()-based sharing this query used before round 6.
    """
    exact = _ngram_pairs_tier(spark, sf_dir)
    cand = _lsh_pairs_tier(spark, sf_dir)
    hits = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        ne.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact_pairs",
            "n_candidate_pairs",
            "n_hits",
            F.expr(
                "CASE WHEN n_candidate_pairs = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(floor(n_hits * 1000000.0 / n_candidate_pairs) "
                "AS BIGINT) END"
            ).alias("precision_micro"),
            F.expr(
                "CASE WHEN n_exact_pairs = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(floor(n_hits * 1000000.0 / n_exact_pairs) "
                "AS BIGINT) END"
            ).alias("recall_micro"),
        )
    )


def _lsh_quality_oracle() -> str:
    exact_sql = NGRAM_JACCARD_SQL.replace(
        "ORDER BY jaccard DESC, doc_a ASC, doc_b ASC", ""
    ).strip()
    cand_sql = MINHASH_LSH_SQL.replace("ORDER BY doc_a, doc_b", "").strip()
    return f"""
WITH exact_pairs AS (
    SELECT doc_a, doc_b FROM ({exact_sql}) e
),
cand_pairs AS (
    SELECT doc_a, doc_b FROM ({cand_sql}) c
),
counts AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact_pairs)
               AS n_exact_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_pairs)
               AS n_candidate_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM exact_pairs e
            WHERE EXISTS (SELECT 1 FROM cand_pairs c
                          WHERE c.doc_a = e.doc_a AND c.doc_b = e.doc_b))
               AS n_hits
)
SELECT n_exact_pairs, n_candidate_pairs, n_hits,
       CASE WHEN n_candidate_pairs = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(n_hits * 1000000.0 / n_candidate_pairs)
                      AS BIGINT) END AS precision_micro,
       CASE WHEN n_exact_pairs = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(n_hits * 1000000.0 / n_exact_pairs)
                      AS BIGINT) END AS recall_micro
FROM counts
"""


LSH_QUALITY_EVAL_SQL = _lsh_quality_oracle()


def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup clusters — the shape a
    curator reads before trusting any reduction number: a corpus
    whose duplication lives in two mega-clusters needs different
    handling (template/boilerplate hubs, maybe a crawler bug) than
    one with many pairs, even at the same overall dup rate.

    Cluster sizes come from the shared components tier (computed once
    per session); singletons are included, so the doc shares
    partition the corpus. Buckets are powers of two, computed with
    INTEGER arithmetic — bucket = 1 << (bit_length(size) - 1) via
    ``length(bin(size))`` in both engines — so no libm log2 boundary
    can ever disagree between Spark and DuckDB; shares are truncating
    integer micro-units.

    Plan shape: one component-keyed partial+final count over the
    bounded tier scan, a map-side bucket expression, a second tiny
    agg on ~log2(max cluster) groups, and a 1-row total broadcast.
    Output: (cluster_size_bucket, n_clusters, n_docs, doc_share_micro).
    """
    labels = _components_tier(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    bucketed = sizes.select(
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), "
            "length(bin(sz)) - 1) AS BIGINT)"
        ).alias("cluster_size_bucket"),
        "sz",
    )
    total = labels.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        bucketed.groupBy("cluster_size_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
        .join(F.broadcast(total), how="cross")
        .select(
            "cluster_size_bucket",
            "n_clusters",
            "n_docs",
            F.expr("(n_docs * 1000000) DIV n_total")
            .cast("bigint")
            .alias("doc_share_micro"),
        )
        .orderBy("cluster_size_bucket")
    )


def _dup_cluster_histogram_oracle() -> str:
    comp_sql = DEDUP_COMPONENTS_SQL.replace("ORDER BY doc_id", "").strip()
    return f"""
WITH labels AS ({comp_sql}),
sizes AS (
    SELECT component, CAST(count(*) AS BIGINT) AS sz
    FROM labels GROUP BY component
),
bucketed AS (
    SELECT CAST((CAST(1 AS BIGINT) << (length(bin(sz)) - 1)) AS BIGINT)
               AS cluster_size_bucket,
           sz
    FROM sizes
)
SELECT cluster_size_bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST((sum(sz) * 1000000)
            // (SELECT count(*) FROM documents) AS BIGINT)
           AS doc_share_micro
FROM bucketed
GROUP BY cluster_size_bucket
ORDER BY cluster_size_bucket
"""


DUP_CLUSTER_HISTOGRAM_SQL = _dup_cluster_histogram_oracle()


def dedup_reduction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline number every dedup pipeline reports: corpus size
    (docs and tokens) before dedup, after exact dedup, and after
    near-dup canonicalization — "we removed X% of tokens".

    Assembled from the engine's own tiers: exact survivors (min doc
    per content hash), then intersected with each LSH component's
    canonical member. Three stage aggregates (each partial+final over
    a per-doc token count) unioned into a 3-row report; stage keys are
    lexicographic so the output order is the pipeline order.

    The exact-keep set and component labels come from the
    MATERIALIZED tier store (store.py) — derived from the corpus at
    most once per dataset + code version across every dedup consumer
    (persistent tier store). The two
    per-query intermediates (per_doc token counts, exact survivors)
    are materialized: per_doc feeds all three stages and the
    survivor frame feeds two, and both die with this query.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = materialize(
        docs.select(
            "doc_id", F.size(tokenize("text")).cast("bigint").alias("n_tokens")
        )
    )
    exact_keep = _exact_keep_tier(spark, sf_dir)
    canonical = _components_tier(spark, sf_dir).filter(
        F.col("doc_id") == F.col("component")
    ).select("doc_id")

    def stage(name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )

    exact_survivors = materialize(
        per_doc.join(exact_keep, "doc_id", "left_semi")
    )
    raw = stage("1_raw", per_doc)
    exact = stage("2_exact_dedup", exact_survivors)
    near = stage(
        "3_near_dedup",
        exact_survivors.join(canonical, "doc_id", "left_semi"),
    )
    return raw.unionByName(exact).unionByName(near).orderBy("stage")


def _reduction_report_oracle() -> str:
    comp_sql = DEDUP_COMPONENTS_SQL.replace("ORDER BY doc_id", "").strip()
    return rf"""
WITH per_doc AS (
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '')) AS BIGINT) AS n_tokens
    FROM documents
),
exact_keep AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
canonical AS (
    SELECT doc_id FROM ({comp_sql}) c WHERE doc_id = component
)
SELECT '1_raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM per_doc
UNION ALL
SELECT '2_exact_dedup',
       CAST(count(*) AS BIGINT),
       CAST(sum(n_tokens) AS BIGINT)
FROM per_doc WHERE doc_id IN (SELECT doc_id FROM exact_keep)
UNION ALL
SELECT '3_near_dedup',
       CAST(count(*) AS BIGINT),
       CAST(sum(n_tokens) AS BIGINT)
FROM per_doc
WHERE doc_id IN (SELECT doc_id FROM exact_keep)
  AND doc_id IN (SELECT doc_id FROM canonical)
ORDER BY stage
"""


DEDUP_REDUCTION_REPORT_SQL = _reduction_report_oracle()


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the LSH near-dup candidate graph — the third graph diagnostic
    next to dedup_components (groups) and dedup_graph_pagerank
    (hubs). High clustering = tightly templated near-dup
    neighborhoods (safe to collapse aggressively); low clustering at
    high degree = chain-shaped similarity (collapse cautiously —
    transitive merges may span dissimilar endpoints).

    Distributed shape: the classic two-join triangle enumeration on
    the canonically ordered edge list (doc_a < doc_b, from the
    materialized lsh_pairs tier, so the pair pipeline itself is not
    re-run). Ordering each triangle (a < b < c) counts it exactly
    once; join traffic is bounded by Σ deg² over the candidate graph
    — the graph is LSH-sparse by construction, never the corpus.
    Degrees come from one agg over the same tier; the coefficient
    snaps to micro-units via exact BIGINT division.
    Output: (doc_id, degree, n_triangles, clustering_micro) for
    every node in a triangle, by n_triangles desc, doc_id.
    """
    p = _lsh_pairs_tier(spark, sf_dir)
    e1, e2, e3 = p.alias("e1"), p.alias("e2"), p.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e1.doc_a") == F.col("e3.doc_a"))
            & (F.col("e2.doc_b") == F.col("e3.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    deg = (
        p.select(F.col("doc_a").alias("doc_id"))
        .unionAll(p.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return (
        per_node.join(deg, "doc_id")
        .select(
            "doc_id",
            "degree",
            "n_triangles",
            F.expr(
                "CASE WHEN degree < 2 THEN CAST(0 AS BIGINT) "
                "ELSE (n_triangles * 2000000) DIV (degree * (degree - 1)) "
                "END"
            )
            .cast("bigint")
            .alias("clustering_micro"),
        )
        .orderBy(F.desc("n_triangles"), "doc_id")
    )


def _triangles_oracle() -> str:
    pairs_sql = MINHASH_LSH_SQL.replace("ORDER BY doc_a, doc_b", "").strip()
    return f"""
WITH pairs AS ({pairs_sql}),
tri AS (
    SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
    FROM pairs e1
    JOIN pairs e2 ON e1.doc_b = e2.doc_a
    JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
per_node AS (
    SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM tri, unnest([tri.a, tri.b, tri.c]) AS u(doc_id)
    GROUP BY u.doc_id
),
deg AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT doc_a AS doc_id FROM pairs
          UNION ALL SELECT doc_b FROM pairs)
    GROUP BY doc_id
)
SELECT p.doc_id, d.degree, p.n_triangles,
       CASE WHEN d.degree < 2 THEN CAST(0 AS BIGINT)
            ELSE CAST((p.n_triangles * 2000000)
                      // (d.degree * (d.degree - 1)) AS BIGINT)
       END AS clustering_micro
FROM per_node p JOIN deg d USING (doc_id)
ORDER BY p.n_triangles DESC, p.doc_id
"""


DEDUP_GRAPH_TRIANGLES_SQL = _triangles_oracle()


def cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity of every multi-document near-dup cluster — the
    audit that catches a dedup pipeline conflating translations or
    code-switched boilerplate with true duplicates: a shingle-based
    LSH should produce language-pure clusters, so a component whose
    purity drops below 1.0 is either a translation pair (which a
    crawl dedup must NOT collapse — that is content the model needs
    once per language) or a tokenizer artifact worth inspecting.

    Per component of size ≥ 2: member count, distinct languages, the
    majority language and its count (ties broken to the
    lexicographically largest language, identically in both engines
    via max-over-equal-count rather than an unspecified arg_max), and
    purity = top_count/size in exact micro units.

    Shape for scale: reuses the session-memoized component labels
    (state O(docs)); the lang join is doc-keyed; the rollup is a
    (component, lang) partial+final agg — output bounded by clusters
    × languages, and the two windows run over that reduction, never
    over documents.
    """
    comps = dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    per_lang = (
        comps.join(docs, "doc_id")
        .groupBy("component", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_c = Window.partitionBy("component")
    return (
        per_lang.withColumn("n_docs", F.sum("cnt").over(w_c))
        .withColumn("n_langs", F.count(F.lit(1)).over(w_c))
        .withColumn("top_count", F.max("cnt").over(w_c))
        .withColumn(
            "top_lang",
            F.max(
                F.when(F.col("cnt") == F.col("top_count"), F.col("lang"))
            ).over(w_c),
        )
        .filter(
            (F.col("n_docs") >= 2) & (F.col("lang") == F.col("top_lang"))
        )
        .select(
            F.col("component").cast("bigint").alias("component"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_langs").cast("bigint").alias("n_langs"),
            "top_lang",
            F.col("top_count").cast("bigint").alias("top_count"),
            F.expr("CAST(top_count * 1000000L div n_docs AS BIGINT)").alias(
                "purity_micro"
            ),
        )
        .orderBy("component")
    )


def _cluster_lang_purity_oracle() -> str:
    head, _, _tail = DEDUP_COMPONENTS_SQL.strip().rpartition("ORDER BY")
    return f"""
WITH comps AS ({head.strip()}),
per_lang AS (
    SELECT c.component, d.lang, CAST(count(*) AS BIGINT) AS cnt
    FROM comps c JOIN documents d ON c.doc_id = d.doc_id
    GROUP BY 1, 2
),
rolled AS (
    SELECT component, lang, cnt,
           sum(cnt) OVER (PARTITION BY component) AS n_docs,
           count(*) OVER (PARTITION BY component) AS n_langs,
           max(cnt) OVER (PARTITION BY component) AS top_count
    FROM per_lang
),
topped AS (
    SELECT *,
           max(CASE WHEN cnt = top_count THEN lang END)
               OVER (PARTITION BY component) AS top_lang
    FROM rolled
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       top_lang,
       CAST(top_count AS BIGINT) AS top_count,
       CAST(top_count * 1000000 // n_docs AS BIGINT) AS purity_micro
FROM topped
WHERE n_docs >= 2 AND lang = top_lang
ORDER BY component
"""


CLUSTER_LANG_PURITY_SQL = _cluster_lang_purity_oracle()


CONTAINMENT_THRESHOLD_MICRO = 800_000  # flag pairs with C(A,B) ≥ 0.8


def dedup_containment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT for overlapping document pairs
    — C(A,B) = |A∩B|/|A| — the quote/embedding detector symmetric
    Jaccard is blind to: a short doc fully quoted inside a long one
    has C ≈ 1 but Jaccard ≈ |A|/|B|, far below any near-dup
    threshold (Broder's original resemblance/containment pairing).
    Pairs where max(C_ab, C_ba) clears CONTAINMENT_THRESHOLD_MICRO
    are reported with both directions plus the symmetric Jaccard;
    ``asymmetric`` marks exactly the pairs the Jaccard query
    (threshold {JACCARD_THRESHOLD}) would ALSO have surfaced or not.

    INTEGER-EXACT: shared/size counts are exact; the three ratios are
    micro-unit integer divs.

    Shape for scale: the same _pair_overlap_tier the Jaccard query
    uses (DF-capped postings, map-side pair explosion bounded by
    MAX_SHINGLE_DF² per shingle — see ngram_jaccard_pairs) plus pure
    map-side arithmetic; no new shuffle.
    """
    t = _pair_overlap_tier(spark, sf_dir)
    return (
        t.select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.expr("CAST(n_shared * 1000000L div na AS BIGINT)").alias(
                "containment_a_micro"
            ),
            F.expr("CAST(n_shared * 1000000L div nb AS BIGINT)").alias(
                "containment_b_micro"
            ),
            F.expr(
                "CAST(n_shared * 1000000L div (na + nb - n_shared)"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
        )
        .filter(
            F.expr(
                "greatest(containment_a_micro, containment_b_micro)"
                f" >= {CONTAINMENT_THRESHOLD_MICRO}"
            )
        )
        .withColumn(
            "asymmetric",
            F.expr(
                f"CAST(jaccard_micro < {int(JACCARD_THRESHOLD * 1e6)}"
                " AS BIGINT)"
            ),
        )
        .orderBy(
            F.desc(
                F.greatest("containment_a_micro", "containment_b_micro")
            ),
            "doc_a",
            "doc_b",
        )
    )


DEDUP_CONTAINMENT_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               x -> x != '') AS tokens
    FROM documents
),
shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(tokens) - {NGRAM_N - 1}, sign(len(tokens))) + 1),
               i -> array_to_string(tokens[i:i+{NGRAM_N - 1}], ' '))) AS shingles
    FROM toks
),
exploded_all AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM shingled
),
rare AS (
    SELECT shingle FROM exploded_all
    GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
),
exploded AS (
    SELECT doc_id, e.shingle
    FROM exploded_all e JOIN rare USING (shingle)
),
sizes AS (
    SELECT doc_id, count(*) AS n FROM exploded GROUP BY doc_id
),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM exploded a JOIN exploded b ON a.shingle = b.shingle
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT doc_a, doc_b, n_shared,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_shared * 1000000 // sa.n AS BIGINT)
               AS containment_a_micro,
           CAST(n_shared * 1000000 // sb.n AS BIGINT)
               AS containment_b_micro,
           CAST(n_shared * 1000000 // (sa.n + sb.n - n_shared)
               AS BIGINT) AS jaccard_micro
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
)
SELECT *, CAST(jaccard_micro < {int(JACCARD_THRESHOLD * 1e6)} AS BIGINT)
           AS asymmetric
FROM scored
WHERE greatest(containment_a_micro, containment_b_micro)
      >= {CONTAINMENT_THRESHOLD_MICRO}
ORDER BY greatest(containment_a_micro, containment_b_micro) DESC,
         doc_a, doc_b
"""


def simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-balance diagnostic of the SimHash family: per bit
    position, the share of documents with that bit set. An unbiased
    hash keeps every bit near 0.5; a skewed bit makes every
    Hamming-ball bucket it feeds lopsided, degrading
    simhash-LSH recall/cost guarantees — this is the eval you run
    BEFORE trusting simhash buckets at scale (the lsh_quality_eval
    pattern applied to the hash itself rather than the candidates).

    INTEGER-EXACT: bit extraction and counts are integer; the share
    and the deviation from the ideal 500000 are micro divs.

    Shape for scale: rides the simhash tier (one scan + one agg —
    see simhash_fingerprints), then an in-row explode of the
    SIMHASH_BITS positions into a partial+final agg with exactly
    SIMHASH_BITS output groups.
    """
    sig = simhash_fingerprints(spark, sf_dir)
    bits = sig.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
        ).alias("bit"),
        "simhash",
    ).select(
        F.col("bit").cast("bigint").alias("bit"),
        F.expr(
            "CAST(shiftright(simhash, CAST(bit AS INT)) & 1 AS BIGINT)"
        ).alias("is_set"),
    )
    return (
        bits.groupBy("bit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_set").cast("bigint").alias("n_set"),
        )
        .select(
            "bit",
            "n_docs",
            "n_set",
            F.expr("CAST(n_set * 1000000L div n_docs AS BIGINT)").alias(
                "share_micro"
            ),
            F.expr(
                "CAST(abs(n_set * 1000000L div n_docs - 500000)"
                " AS BIGINT)"
            ).alias("bias_micro"),
        )
        .orderBy("bit")
    )


def _simhash_bit_balance_oracle() -> str:
    head, _, _tail = SIMHASH_SQL.strip().rpartition("ORDER BY")
    return f"""
WITH sig AS ({head.strip()}),
bits AS (
    SELECT CAST(b.bit AS BIGINT) AS bit,
           CAST((simhash >> b.bit) & 1 AS BIGINT) AS is_set
    FROM sig,
         (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit) b
)
SELECT bit,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_set) AS BIGINT) AS n_set,
       CAST(sum(is_set) * 1000000 // count(*) AS BIGINT) AS share_micro,
       CAST(abs(sum(is_set) * 1000000 // count(*) - 500000) AS BIGINT)
           AS bias_micro
FROM bits
GROUP BY bit
ORDER BY bit
"""


SIMHASH_BIT_BALANCE_SQL = _simhash_bit_balance_oracle()
