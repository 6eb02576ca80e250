"""Benchmark decontamination: flag corpus documents that share word
n-grams with a held-out benchmark set.

The real-world shape this models: evaluation benchmarks are tiny
relative to a 100 TB training corpus, so the benchmark's distinct
n-gram set is collected and BROADCAST; the corpus side streams through
a map-side hash probe and never shuffles for the membership test. The
only corpus-wide exchanges are the per-doc partial-aggregated counts
(one row per doc). This is the standard 13-gram-overlap
decontamination recipe (GPT-3 appendix C / Gopher §A.5.2) with n
scaled down to the fixture's short synthetic docs.

The "benchmark" here is a deterministic slice of the documents table
(doc_id % 50 == 0) — self-contained and reproducible in the DuckDB
oracle; swapping in a real benchmark table changes one line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_extractor_spark.functions.text import (
    portable_hash64_sql,
    tokenize,
    tokenize_sql,
    word_ngrams,
    word_ngrams_sql,
)
from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, spread

DECONTAM_NGRAM = 4
BENCH_MOD = 50


def _all_doc_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g): every doc's per-doc-distinct word 4-grams,
    exploded — the shared upstream of BOTH decontamination tiers
    (exact join and Bloom). decontamination_report persists one
    instance of this frame and threads it into both."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(tokenize("text"), DECONTAM_NGRAM))
        ).alias("g"),
    )


def ngram_decontamination(
    spark: SparkSession, sf_dir: str, grams: DataFrame | None = None
) -> DataFrame:
    """Documents sharing ≥1 distinct word 4-gram with the benchmark
    slice, with their contamination fraction (shared / total distinct
    grams). Benchmark gram set → distinct → broadcast; corpus side is
    scan + map-side probe + one partial agg keyed by doc_id.
    ``grams`` lets a caller (decontamination_report) supply an
    already-persisted gram frame instead of rebuilding it."""
    if grams is None:
        # materialize (r13; the r12 multi-reference pattern, guide §5):
        # standalone, this frame is referenced THREE times (bench
        # grams, per-doc totals, hit counts) and the tokenize + 4-gram
        # fan-out ran once per reference. decontamination_report
        # already threads its own persisted instance through here.
        grams = materialize(_all_doc_grams(spark, sf_dir))
    bench = (
        grams.filter((F.col("doc_id") % BENCH_MOD) == 0).select("g").distinct()
    )
    corpus = grams.filter((F.col("doc_id") % BENCH_MOD) != 0)
    totals = corpus.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        hits.join(totals, "doc_id")
        .select(
            "doc_id",
            "n_shared",
            "n_grams",
            F.round(F.col("n_shared") / F.col("n_grams"), 4).alias(
                "contamination_frac"
            ),
        )
        .orderBy("doc_id")
    )


NGRAM_DECONTAMINATION_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS tokens
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           unnest({word_ngrams_sql('tokens', DECONTAM_NGRAM)}) AS g
    FROM toks
),
bench AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0
),
corpus AS (
    SELECT doc_id, g FROM grams WHERE doc_id % {BENCH_MOD} <> 0
),
totals AS (
    SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1
),
hits AS (
    SELECT doc_id, count(*) AS n_shared
    FROM corpus JOIN bench USING (g)
    GROUP BY 1
)
SELECT doc_id, n_shared, n_grams,
       round(n_shared / n_grams, 4) AS contamination_frac
FROM hits JOIN totals USING (doc_id)
ORDER BY doc_id
"""


# ── Bloom-filter decontamination ────────────────────────────────────
# The constant-memory form of the same membership test: instead of
# broadcasting the benchmark's distinct GRAMS (which costs their full
# string bytes per executor), broadcast a fixed-size bitset. At a real
# benchmark suite's scale the gram set is already small — the point of
# this tier is the PROBE side: membership becomes a pure map-side
# bit test over a plan-time literal, with zero join in the plan at
# all, which composes into any hot path for free. False positives are
# the documented price (rate ~ (1 - e^{-K·n/M})^K); the exact-join
# tier above stays the ground truth, and the pytest suite pins the
# superset property between the two.
BLOOM_BITS = 8192  # M
BLOOM_HASHES = 3  # K
_BLOOM_WORDS = BLOOM_BITS // 32


def _bloom_positions_expr(gram_col) -> list:
    """The K bit positions of one gram, as Column expressions:
    pos_i = (h1 + i·h2) mod M. The hashes are 60-bit md5 prefixes
    the DuckDB twin mirrors literally (i·h2 + h1 < 2^62 — no BIGINT
    overflow)."""
    from parquet_extractor_spark.functions.text import portable_hash64

    g = F.col(gram_col) if isinstance(gram_col, str) else gram_col
    h1 = portable_hash64(g)
    h2 = portable_hash64(F.concat(g, F.lit("#2")))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_BITS)) for i in range(BLOOM_HASHES)
    ]


def build_bloom_bitset(
    spark: SparkSession,
    sf_dir: str,
    grams: DataFrame | None = None,
) -> list[int]:
    """The benchmark slice's Bloom bitset as _BLOOM_WORDS ints: gram
    bit positions aggregated DISTINCT and collected — bounded by
    construction (≤ BLOOM_BITS positions, and a real benchmark suite
    is a fixed artifact) — then folded into words driver-side.
    ``grams`` reuses a caller-persisted (doc_id, g) frame.

    Persisted per (data dir, code version): the bitset is a pure
    function of the benchmark slice, so bloom_decontamination, the
    streaming probe and decontamination_report share one build. The
    ``grams`` frame only matters on a cold build — a warm memo
    returns the identical words either way."""
    from parquet_extractor_spark.store import memo_artifact

    def build() -> list[int]:
        g = grams if grams is not None else _all_doc_grams(spark, sf_dir)
        bench_pos = (
            g.filter((F.col("doc_id") % BENCH_MOD) == 0)
            .select(
                F.explode(
                    F.array(*_bloom_positions_expr("g"))
                ).alias("pos")
            )
            .distinct()
        )
        words = [0] * _BLOOM_WORDS
        for r in bench_pos.collect():
            words[r.pos // 32] |= 1 << (r.pos % 32)
        return words

    return memo_artifact(spark, sf_dir, "bloom_bitset", build)


def bloom_hit_lambda(words: list[int]):
    """g -> Column membership test against the bitset literal, usable
    inside F.filter/F.aggregate lambdas (single-param callable — the
    Spark HOF arity contract) and on plain columns."""
    bitset = F.array(*[F.lit(w) for w in words])

    def hit(g):
        t = None
        for p in _bloom_positions_expr(g):
            test = (
                F.getbit(
                    F.element_at(bitset, (p / 32).cast("int") + 1),
                    F.pmod(p, F.lit(32)),
                )
                == 1
            )
            t = test if t is None else (t & test)
        return t

    return hit


def bloom_probe_columns(docs: DataFrame, words: list[int]) -> DataFrame:
    """The probe as a PURE PROJECTION: per-row gram array → filter by
    the bitset test → counts. Zero shuffle, zero join, no aggregation
    state — which is why it composes onto a structured stream
    unchanged (streaming/documents.py). For BATCH use prefer
    bloom_decontamination's explode form: F.filter lambdas are
    CodegenFallback (interpreted per gram), and the measured 100×
    cost is 60 s here vs 24 s for the exploded codegen'd bit test —
    statelessness is worth that price only where state is the
    constraint."""
    gs = F.array_distinct(word_ngrams(tokenize("text"), DECONTAM_NGRAM))
    hits = F.size(F.filter(gs, bloom_hit_lambda(words)))
    return docs.select(
        "doc_id",
        F.size(gs).cast("bigint").alias("n_grams"),
        hits.cast("bigint").alias("n_bloom_hits"),
        (hits > 0).alias("flagged"),
    )


def bloom_decontamination(
    spark: SparkSession, sf_dir: str, grams: DataFrame | None = None
) -> DataFrame:
    """Map-side Bloom membership screen of corpus grams against the
    benchmark slice.

    Build: the benchmark grams' bit positions fold into a BLOOM_BITS
    bitset embedded as a plan-time array<int> literal, exactly the
    IVF-centroid-literal pattern (build_bloom_bitset).

    Probe: explode the distinct grams and run the bit test as a
    plain codegen'd column expression, then one partial agg keyed by
    doc_id. Still NO join anywhere in the plan — corpus cost is one
    scan + one bounded shuffle regardless of benchmark size. (The
    zero-shuffle HOF-projection form exists as bloom_probe_columns
    for the stateless streaming twin, but F.filter lambdas are
    interpreted per gram: 60 s vs 24 s at the 100× check, so batch
    takes the exploded codegen path.)

    Output: (doc_id, n_grams, n_bloom_hits, flagged) for every
    non-benchmark doc; flagged docs are a SUPERSET of
    ngram_decontamination's (Bloom has false positives, no false
    negatives). ``grams`` reuses a caller-persisted (doc_id, g)
    frame for both the bitset build and the probe.
    """
    if grams is None:
        grams = _all_doc_grams(spark, sf_dir)
    words = build_bloom_bitset(spark, sf_dir, grams=grams)
    corpus = grams.filter((F.col("doc_id") % BENCH_MOD) != 0)
    hit = bloom_hit_lambda(words)(F.col("g"))
    return (
        corpus.select("doc_id", hit.cast("int").alias("h"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("h").cast("bigint").alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_hits",
            (F.col("n_bloom_hits") > 0).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# the oracle carries the bench POSITION SET explicitly: "all K bits
# set" ≡ "each position was set by some bench gram", which is the
# bitset semantics without needing DuckDB to build the literal words
_BLOOM_POS = ", ".join(
    f"""({portable_hash64_sql('g')} + {i} * {portable_hash64_sql("g || '#2'")})"""
    f" % {BLOOM_BITS}"
    for i in range(BLOOM_HASHES)
)

BLOOM_DECONTAMINATION_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS tokens
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           unnest({word_ngrams_sql('tokens', DECONTAM_NGRAM)}) AS g
    FROM toks
),
gram_bits AS (
    SELECT doc_id, g, unnest([{_BLOOM_POS}]) AS bitpos
    FROM grams
),
bench_bits AS (
    SELECT DISTINCT bitpos FROM gram_bits WHERE doc_id % {BENCH_MOD} = 0
),
corpus_hits AS (
    SELECT gb.doc_id, gb.g,
           count(*) = {BLOOM_HASHES}
               AND count(bb.bitpos) = {BLOOM_HASHES} AS hit
    FROM gram_bits gb LEFT JOIN bench_bits bb USING (bitpos)
    WHERE gb.doc_id % {BENCH_MOD} <> 0
    GROUP BY gb.doc_id, gb.g
)
SELECT doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0 AS flagged
FROM corpus_hits
GROUP BY doc_id
ORDER BY doc_id
"""


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust-but-verify for the Bloom tier (the lsh_quality_eval
    pattern): exact-join flag counts vs Bloom flag counts and the
    realized false-positive rate, ONE summary row. At 100 TB this is
    the figure that decides whether BLOOM_BITS is sized right before
    the screen gates real data.

    Both sides are the engine's own operators; the comparison is two
    1-row aggregates joined by broadcast cross join. Bloom has no
    false negatives by construction, so flagged_exact ≤ flagged_bloom
    and fp = flagged_bloom − flagged_exact.

    The shared upstream — documents scan + tokenize + 4-gram explode
    — is built ONCE, materialized (the ngram_jaccard_pairs pattern),
    and threaded into both tiers via their ``grams`` parameter;
    without it the explode pipeline ran three times (exact probe,
    bitset build, Bloom probe).
    """
    grams = materialize(_all_doc_grams(spark, sf_dir))
    exact_docs = ngram_decontamination(spark, sf_dir, grams=grams).select(
        "doc_id"
    )
    bloom = bloom_decontamination(spark, sf_dir, grams=grams)
    ne = exact_docs.agg(F.count(F.lit(1)).alias("flagged_exact"))
    nb = bloom.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("flagged").cast("int")).cast("bigint").alias(
            "flagged_bloom"
        ),
    )
    return nb.crossJoin(F.broadcast(ne)).select(
        "n_docs",
        "flagged_exact",
        "flagged_bloom",
        (F.col("flagged_bloom") - F.col("flagged_exact"))
        .cast("bigint")
        .alias("false_positives"),
        F.expr(
            "CASE WHEN n_docs - flagged_exact = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(floor((flagged_bloom - flagged_exact) * 1000000.0 "
            "/ (n_docs - flagged_exact)) AS BIGINT) END"
        ).alias("fp_rate_micro"),
    )


DECONTAMINATION_REPORT_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           {tokenize_sql('text')} AS tokens
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           unnest({word_ngrams_sql('tokens', DECONTAM_NGRAM)}) AS g
    FROM toks
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % {BENCH_MOD} <> 0),
exact_flagged AS (
    SELECT count(DISTINCT c.doc_id) AS flagged_exact
    FROM corpus c JOIN bench USING (g)
),
gram_bits AS (
    SELECT doc_id, g, unnest([{_BLOOM_POS}]) AS bitpos FROM grams
),
bench_bits AS (
    SELECT DISTINCT bitpos FROM gram_bits WHERE doc_id % {BENCH_MOD} = 0
),
bloom_hits AS (
    SELECT gb.doc_id, gb.g,
           count(*) = {BLOOM_HASHES}
               AND count(bb.bitpos) = {BLOOM_HASHES} AS hit
    FROM gram_bits gb LEFT JOIN bench_bits bb USING (bitpos)
    WHERE gb.doc_id % {BENCH_MOD} <> 0
    GROUP BY gb.doc_id, gb.g
),
bloom_docs AS (
    SELECT doc_id, max(CASE WHEN hit THEN 1 ELSE 0 END) AS flagged
    FROM bloom_hits GROUP BY doc_id
),
bloom_agg AS (
    SELECT count(*) AS n_docs,
           CAST(sum(flagged) AS BIGINT) AS flagged_bloom
    FROM bloom_docs
)
SELECT n_docs, flagged_exact, flagged_bloom,
       CAST(flagged_bloom - flagged_exact AS BIGINT) AS false_positives,
       CASE WHEN n_docs - flagged_exact = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor((flagged_bloom - flagged_exact) * 1000000.0
                 / (n_docs - flagged_exact)) AS BIGINT) END AS fp_rate_micro
FROM bloom_agg CROSS JOIN exact_flagged
"""


# ── cross-snapshot contamination gate ────────────────────────────────
#
# The incremental form of decontamination a rolling corpus runs: when
# snapshot v2 lands, only the docs that ARRIVED or CHANGED since v1
# (the added/modified delta from the version diff) need re-screening
# against the benchmark — history was screened when it was ingested.
# Composes versioning.snapshot_v1/v2's digest-diff semantics with the
# n-gram broadcast probe above (VERDICT r07 stretch item).


def contamination_v2_docs(docs: DataFrame) -> DataFrame:
    """The v2-snapshot text projection (same hash-driven revision as
    versioning.snapshot_v2, text retained). Pure column expressions —
    stream-safe."""
    from parquet_extractor_spark.functions.text import portable_hash64

    h = portable_hash64(F.col("doc_id").cast("string"))
    revised = F.when(
        h % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    return docs.where(h % 10 != 9).select(
        "doc_id", "source", revised.alias("text")
    )


def contamination_v1_digests(docs: DataFrame) -> DataFrame:
    """v1 digest table: (doc_id, digest) — the broadcastable static
    side of the delta classification."""
    from parquet_extractor_spark.functions.text import portable_hash64

    h = portable_hash64(F.col("doc_id").cast("string"))
    return docs.where(h % 10 != 0).select(
        "doc_id", F.md5("text").alias("digest")
    )


def contamination_delta(v2: DataFrame, v1: DataFrame) -> DataFrame:
    """Classify arriving v2 docs against v1 digests and keep only the
    re-screen candidates: added/modified, benchmark slice excluded.
    Stateless join + filters — usable stream-static inside a
    foreachBatch stage (streaming/versioning.py twin)."""
    return (
        v2.join(v1, "doc_id", "left")
        .withColumn(
            "change_type",
            F.when(F.col("digest").isNull(), "added")
            .when(F.md5("text") != F.col("digest"), "modified")
            .otherwise("unchanged"),
        )
        .where(
            (F.col("change_type") != "unchanged")
            & (F.col("doc_id") % BENCH_MOD != 0)
        )
    )


def benchmark_grams(v2: DataFrame) -> DataFrame:
    """Distinct word n-grams of the benchmark slice — the KB-scale
    broadcast side of the screen."""
    return (
        v2.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(
            F.explode(
                F.array_distinct(
                    word_ngrams(tokenize("text"), DECONTAM_NGRAM)
                )
            ).alias("g")
        )
        .distinct()
    )


def contamination_doc_screen(
    delta: DataFrame, bench: DataFrame
) -> DataFrame:
    """Per-doc screen of a delta against the broadcast benchmark
    grams: (doc_id, source, change_type, n_grams, n_shared). Each doc
    is screened independently — no cross-doc state — which is exactly
    why the foreachBatch twin can run this per micro-batch and the
    union of batch outputs equals the one-shot batch screen."""
    grams = delta.select(
        "doc_id",
        "source",
        "change_type",
        F.explode(
            F.array_distinct(word_ngrams(tokenize("text"), DECONTAM_NGRAM))
        ).alias("g"),
    )
    per_doc = grams.groupBy("doc_id", "source", "change_type").agg(
        F.count("*").alias("n_grams")
    )
    hits = (
        grams.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return per_doc.join(hits, "doc_id", "left").na.fill(0, ["n_shared"])


def contamination_rollup(doc_level: DataFrame) -> DataFrame:
    """(source, change_type) report over doc-level screen rows."""
    return (
        doc_level.groupBy("source", "change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("n_shared") > 0).cast("int"))
            .cast("bigint")
            .alias("n_contaminated"),
            F.sum("n_shared").cast("bigint").alias("shared_grams"),
            F.max(F.expr("n_shared * 1000000 div n_grams"))
            .cast("bigint")
            .alias("max_contam_micro"),
        )
        .orderBy("source", "change_type")
    )


def snapshot_contamination_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(source, change_type) contamination report over the v1→v2
    document delta: how many added/modified docs share word 4-grams
    with the CURRENT snapshot's benchmark slice, the total shared-gram
    volume, and the worst per-doc contamination fraction (micro).
    Composed from the stage functions above; the streaming twin
    (streaming/versioning.run_contamination_gate_stream) runs the same
    stages per micro-batch and is equality-tested against this form.

    Scale shape: the delta classification is one digest LEFT join
    (map-side md5, the exchange ships 32-hex digests); gram screening
    touches ONLY the delta — at 100 TB that is the day's crawl, not
    the corpus; the benchmark gram set broadcasts exactly as in
    ngram_decontamination; the rollup is a partial agg on
    low-cardinality (source, change_type). cf. reference api.py's
    skip-existing sink (api.py:248-254) for the only-new-work shape.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    v2 = contamination_v2_docs(docs)
    v1 = contamination_v1_digests(docs)
    delta = contamination_delta(v2, v1)
    bench = benchmark_grams(v2)
    return contamination_rollup(contamination_doc_screen(delta, bench))


SNAPSHOT_CONTAMINATION_GATE_SQL = rf"""
WITH hashed AS (
    SELECT doc_id, source, text,
           {portable_hash64_sql('CAST(doc_id AS VARCHAR)')} AS h
    FROM documents
),
v2 AS (
    SELECT doc_id, source,
           CASE WHEN h % 7 = 0 THEN text || ' v2' ELSE text END AS text
    FROM hashed WHERE h % 10 != 9
),
v1 AS (
    SELECT doc_id, md5(text) AS digest FROM hashed WHERE h % 10 != 0
),
delta AS (
    SELECT v2.doc_id, v2.source, v2.text,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN md5(v2.text) != v1.digest THEN 'modified'
                ELSE 'unchanged' END AS change_type
    FROM v2 LEFT JOIN v1 ON v2.doc_id = v1.doc_id
),
screen AS (
    SELECT * FROM delta
    WHERE change_type != 'unchanged' AND doc_id % {BENCH_MOD} != 0
),
toks AS (
    SELECT doc_id, source, change_type,
           {tokenize_sql('text')} AS tokens
    FROM screen
),
grams AS (
    SELECT DISTINCT doc_id, source, change_type,
           unnest({word_ngrams_sql('tokens', DECONTAM_NGRAM)}) AS g
    FROM toks
),
btoks AS (
    SELECT {tokenize_sql('text')} AS tokens
    FROM v2 WHERE doc_id % {BENCH_MOD} = 0
),
bench AS (
    SELECT DISTINCT unnest({word_ngrams_sql('tokens', DECONTAM_NGRAM)}) AS g
    FROM btoks
),
per_doc AS (
    SELECT doc_id, source, change_type, count(*) AS n_grams
    FROM grams GROUP BY 1, 2, 3
),
hits AS (
    SELECT doc_id, count(*) AS n_shared
    FROM grams JOIN bench USING (g)
    GROUP BY 1
),
doc_level AS (
    SELECT p.doc_id, p.source, p.change_type, p.n_grams,
           coalesce(h.n_shared, 0) AS n_shared
    FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
)
SELECT source, change_type,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       CAST(sum(n_shared) AS BIGINT) AS shared_grams,
       CAST(max(n_shared * 1000000 // n_grams) AS BIGINT)
           AS max_contam_micro
FROM doc_level
GROUP BY source, change_type
ORDER BY source, change_type
"""
