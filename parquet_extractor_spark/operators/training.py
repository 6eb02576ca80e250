"""Training-data assembly operators: the steps between a curated
corpus and a training run (driver north star — beyond the reference's
own surface, which stops at per-document extraction, main.py:9-105).

Four operators, each a pure DataFrame plan with a DuckDB oracle:

- :func:`pack_sequences` — greedy-offset sequence packing: assign
  docs to fixed token-budget bins per source stream (the "pack to
  context length" step of LLM data prep).
- :func:`train_val_test_split` — deterministic hash-based split with
  per-split accounting; reproducible in any engine via the portable
  md5 hash, so resharding the corpus never moves a doc across splits.
- :func:`source_mixing_weights` — per-source natural token shares →
  sampling rates toward a target mixture (the Pile/ROOTS-style
  mixture table).
- :func:`dedup_canonical` — keep/drop verdict per doc from the
  connected-components labels (the materialized end of the dedup
  pipeline: exact → MinHash LSH → components → canonical survivor).

Scale notes are per-operator; the common theme is that every shuffle
key here is (source | split | component), never raw text.
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
from parquet_extractor_spark.sources.tables import load_table, spread

SEQ_BUDGET = 256  # tokens per packed sequence (context-window budget)
SPLIT_SALT = "split-v1"  # version the split; changing it reshuffles
TRAIN_PCT, VAL_PCT = 80, 10  # remainder is test


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each doc to a packed-sequence bin of SEQ_BUDGET tokens,
    greedily in doc_id order within each source stream.

    bin = floor(start_offset / budget) where start_offset is the
    running token total BEFORE the doc — the standard streaming
    concatenate-then-chunk packing (docs may straddle a boundary;
    ``crosses_boundary`` flags those).

    Scale: the window partitions by SOURCE, so no global total order
    exists anywhere in the plan — each source stream packs
    independently, which is how a 100 TB corpus is packed in practice
    (per input shard). Skew bound = tokens in the largest source; for
    a corpus with one giant source, sub-bucket doc_id ranges per
    source.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    running = toks.withColumn(
        "start_offset",
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("bigint"),
        ),
    )
    return (
        running.select(
            "doc_id",
            "source",
            "n_tokens",
            (F.col("start_offset") / SEQ_BUDGET)
            .cast("bigint")
            .alias("seq_id"),
            (
                (F.col("start_offset") / SEQ_BUDGET).cast("bigint")
                != ((F.col("start_offset") + F.col("n_tokens") - 1) / SEQ_BUDGET).cast("bigint")
            ).alias("crosses_boundary"),
        )
        .orderBy("doc_id")
    )


PACK_SEQUENCES_SQL = rf"""
WITH toks AS (
    SELECT doc_id, source,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens
    FROM documents
),
running AS (
    SELECT doc_id, source, n_tokens,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS start_offset
    FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST(floor(start_offset / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
       CAST(floor(start_offset / {SEQ_BUDGET}) AS BIGINT)
         != CAST(floor((start_offset + n_tokens - 1) / {SEQ_BUDGET}) AS BIGINT)
           AS crosses_boundary
FROM running
ORDER BY doc_id
"""


def nosplit_fold(
    ns, budget: int = SEQ_BUDGET, bin_id: int = 1, fill: int = 0
):
    """The no-split greedy fold, shared by the batch packer and the
    streaming state machine (streaming/documents.py): given clamped
    token counts in packing order and the carried (bin_id, fill)
    state, return (bin ids, final bin_id, final fill). Pure function
    so the recurrence is property-testable without a SparkSession."""
    import numpy as np

    bins = np.empty(len(ns), dtype=np.int64)
    for i, n in enumerate(ns):
        if fill + n > budget and fill > 0:
            bin_id += 1
            fill = 0
        bins[i] = bin_id
        fill += int(n)
    return bins, bin_id, fill


def pack_sequences_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy NO-SPLIT sequence packing — the "fewer truncations"
    alternative to pack_sequences' concatenate-then-chunk: docs fill a
    SEQ_BUDGET-token bin in doc_id order within each source, and a doc
    that would overflow CLOSES the bin and opens the next. Documents
    never straddle a sequence boundary; the padding left in each
    closed bin is the price, and comparing the two packers' waste is
    exactly what a training team does before choosing one.

    Unlike pack_sequences' prefix sum, the no-split fold is a true
    recurrence — each doc's bin depends on the padding decisions of
    every predecessor — so this is the §2.11 applyInPandas case (the
    user_longest_streak pattern): ONE shuffle on source, a linear
    numpy-backed pass per group, O(1) rolling state. At 100 TB packing
    runs per input shard in exactly this shape; a giant source
    sub-shards by doc_id range to bound group size (the pack_sequences
    note applies unchanged). Docs longer than the budget truncate to
    it and are flagged (fixture max length is far below SEQ_BUDGET, so
    the flag pins the rule, not the data).

    Oracle: PACK_SEQUENCES_NOSPLIT_SQL replays the identical fold
    row-by-row per source with a recursive CTE — depth = docs in the
    largest source, fine at oracle scale, never run at bench scale.
    Output: (doc_id, source, n_tokens_packed, bin_id, truncated),
    bin_id 1-based per source.
    """
    import numpy as np
    import pandas as pd

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        raw = pdf["n_tokens"].to_numpy()
        ns = np.minimum(raw, SEQ_BUDGET)
        bins, _b, _fill = nosplit_fold(ns)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "source": pdf["source"].to_numpy(),
                "n_tokens_packed": ns,
                "bin_id": bins,
                "truncated": raw > SEQ_BUDGET,
            }
        )

    return (
        toks.groupBy("source")
        .applyInPandas(
            _pack,
            "doc_id long, source string, n_tokens_packed long, "
            "bin_id long, truncated boolean",
        )
        .orderBy("doc_id")
    )


PACK_SEQUENCES_NOSPLIT_SQL = rf"""
WITH RECURSIVE toks AS (
    SELECT doc_id, source,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens
    FROM documents
),
ordered AS (
    SELECT doc_id, source,
           least(n_tokens, {SEQ_BUDGET}) AS n_packed,
           n_tokens > {SEQ_BUDGET} AS truncated,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM toks
),
pack AS (
    SELECT doc_id, source, n_packed, truncated, rn,
           CAST(1 AS BIGINT) AS bin_id, n_packed AS fill
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.doc_id, o.source, o.n_packed, o.truncated, o.rn,
           CASE WHEN p.fill + o.n_packed > {SEQ_BUDGET} AND p.fill > 0
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + o.n_packed > {SEQ_BUDGET} AND p.fill > 0
                THEN o.n_packed ELSE p.fill + o.n_packed END
    FROM pack p
    JOIN ordered o ON o.source = p.source AND o.rn = p.rn + 1
)
SELECT doc_id, source, n_packed AS n_tokens_packed, bin_id, truncated
FROM pack
ORDER BY doc_id
"""


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {TRAIN_PCT}/{VAL_PCT}/rest split by portable hash
    of (salt, doc_id): per-split doc and token accounting.

    The assignment is a pure map-side expression of the doc_id — no
    randomness, no state — so it is stable under any repartitioning,
    re-ingestion order, or engine, which is the property that keeps
    eval sets honest across pipeline versions. The only shuffle is
    the 3-group final aggregation.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            _split_column().alias("split"),
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split")
    )


def _split_case_sql(col: str) -> str:
    """DuckDB twin of :func:`_split_column` parameterized on the hash
    key — the exact salted-md5 80/10/10 rule, so any engine assigns
    the same doc (or cluster) to the same split."""
    h = portable_hash64_sql(f"'{SPLIT_SALT}' || CAST({col} AS VARCHAR)") + " % 100"
    return (
        f"CASE WHEN {h} < {TRAIN_PCT} THEN 'train' "
        f"WHEN {h} < {TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END"
    )


TRAIN_VAL_TEST_SPLIT_SQL = rf"""
WITH assigned AS (
    SELECT {_split_case_sql('doc_id')} AS split,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM assigned
GROUP BY split
ORDER BY split
"""


def _split_column() -> F.Column:
    """The train/val/test assignment as a reusable map-side expression
    (the exact train_val_test_split rule — portable salted hash of
    doc_id mod 100 against the 80/10 cut points)."""
    pct = portable_hash64(
        F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))
    ) % 100
    return (
        F.when(pct < TRAIN_PCT, "train")
        .when(pct < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the train/val/test boundary —
    the eval-hygiene hole a hash split cannot see: a random split is
    clean at the DOCUMENT level by construction, but if two near-
    identical documents land on opposite sides, the eval set is
    contaminated anyway (the Lee et al. dedup paper's motivating
    failure). This query joins the banded MinHash-LSH candidate
    pairs (the shared dedup tier — computed once per dataset) with
    the split assignment and counts pairs per ordered split
    combination; any (train, val/test) row with n_pairs > 0 is
    leakage the release notes must disclose — or dedup_canonical
    must remove before splitting.

    Plan shape: the pair tier is a bounded parquet scan; the split is
    a map-side expression on the documents scan projected to
    (doc_id, split); two doc_id-keyed joins attach both sides' splits
    and a 6-group partial+final agg reports. Nothing here scales
    beyond the candidate-pair tier at any corpus size.
    Output: (split_lo, split_hi, n_pairs, is_leak) — is_leak marks
    combinations that cross the train boundary.
    """
    from parquet_extractor_spark.operators.dedup import _lsh_pairs_tier

    docs = spread(load_table(spark, sf_dir, "documents"))
    splits = docs.select("doc_id", _split_column().alias("split"))
    pairs = _lsh_pairs_tier(spark, sf_dir)
    tagged = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("split_a"),
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("split_b"),
            ),
            "doc_b",
        )
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
    )
    return (
        tagged.groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (
                (F.col("split_lo") != F.col("split_hi"))
                & (
                    (F.col("split_lo") == "train")
                    | (F.col("split_hi") == "train")
                )
            ).alias("is_leak"),
        )
        .orderBy("split_lo", "split_hi")
    )


def _split_leakage_oracle() -> str:
    from parquet_extractor_spark.operators.dedup import MINHASH_LSH_SQL

    pairs_sql = MINHASH_LSH_SQL.replace("ORDER BY doc_a, doc_b", "").strip()
    return f"""
WITH pairs AS ({pairs_sql}),
tagged AS (
    SELECT least({_split_case_sql('doc_a')},
                 {_split_case_sql('doc_b')}) AS split_lo,
           greatest({_split_case_sql('doc_a')},
                    {_split_case_sql('doc_b')}) AS split_hi
    FROM pairs
)
SELECT split_lo, split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       (split_lo != split_hi
        AND (split_lo = 'train' OR split_hi = 'train')) AS is_leak
FROM tagged
GROUP BY split_lo, split_hi
ORDER BY split_lo, split_hi
"""


SPLIT_LEAKAGE_AUDIT_SQL = _split_leakage_oracle()


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — CLOSES the hole
    :func:`split_leakage_audit` reports: the split is assigned by the
    portable salted hash of the near-dup COMPONENT representative
    (min-label over the MinHash-LSH candidate graph, dedup.py), not of
    the document itself, so every near-duplicate cluster moves across
    the split boundary as a unit and no candidate pair can straddle
    train/eval (the Lee et al. eval-contamination failure is
    impossible by construction, not merely detected after the fact).

    Plan shape: the components tier is the shared session-memoized
    labels frame (O(docs) state, see dedup_components); the split is a
    map-side expression on the component column; accounting is one
    partial+final agg keyed by split (3 groups). The leak check joins
    the candidate-pair tier to the per-doc assignment twice on doc_id
    and counts cross-split pairs per split — provably zero here, but
    computed honestly from the data so a regression in the components
    tier (a pair whose endpoints get different labels) fails the
    oracle rather than being asserted away.

    Output: (split, n_docs, n_clusters, n_tokens, n_leak_pairs),
    ordered by split. Cites reference intent: the reference's
    skip-existing write dedup (api.py:248-254) keeps one copy per
    title; this is the split-hygiene generalization a training
    pipeline needs at corpus scale.
    """
    from parquet_extractor_spark.operators.dedup import (
        _components_tier,
        _lsh_pairs_tier,
    )

    labels = _components_tier(spark, sf_dir)  # (doc_id, component)
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.size(tokenize("text")).cast("bigint").alias("n_tokens")
    )
    comp_pct = portable_hash64(
        F.concat(F.lit(SPLIT_SALT), F.col("component").cast("string"))
    ) % 100
    assigned = (
        docs.join(labels, "doc_id")
        .select(
            "doc_id",
            "component",
            "n_tokens",
            F.when(comp_pct < TRAIN_PCT, "train")
            .when(comp_pct < TRAIN_PCT + VAL_PCT, "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    acct = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("component").cast("bigint").alias("n_clusters"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    doc_split = assigned.select("doc_id", "split")
    pairs = _lsh_pairs_tier(spark, sf_dir)
    tagged = pairs.join(
        doc_split.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
        ),
        "doc_a",
    ).join(
        doc_split.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
        ),
        "doc_b",
    )
    cross = tagged.filter(F.col("split_a") != F.col("split_b"))
    leaks = (
        cross.select(F.col("split_a").alias("split"))
        .union(cross.select(F.col("split_b").alias("split")))
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leak_pairs"))
    )
    return (
        acct.join(leaks, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_tokens",
            F.coalesce("n_leak_pairs", F.lit(0)).cast("bigint").alias(
                "n_leak_pairs"
            ),
        )
        .orderBy("split")
    )


def _leakage_safe_split_oracle() -> str:
    from parquet_extractor_spark.operators.dedup import (
        DEDUP_COMPONENTS_SQL,
        MINHASH_LSH_SQL,
    )

    labels_sql = DEDUP_COMPONENTS_SQL.strip().replace("ORDER BY doc_id", "")
    pairs_sql = MINHASH_LSH_SQL.replace("ORDER BY doc_a, doc_b", "").strip()
    return rf"""
WITH labels AS (
{labels_sql}
),
toks AS (
    SELECT doc_id,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens
    FROM documents
),
assigned AS (
    SELECT l.doc_id, l.component, t.n_tokens,
           {_split_case_sql('l.component')} AS split
    FROM labels l JOIN toks t ON l.doc_id = t.doc_id
),
acct AS (
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY split
),
pairs AS ({pairs_sql}),
tagged AS (
    SELECT a.split AS split_a, b.split AS split_b
    FROM pairs p
    JOIN assigned a ON p.doc_a = a.doc_id
    JOIN assigned b ON p.doc_b = b.doc_id
),
cross_pairs AS (
    SELECT split_a AS split FROM tagged WHERE split_a != split_b
    UNION ALL
    SELECT split_b AS split FROM tagged WHERE split_a != split_b
),
leaks AS (
    SELECT split, CAST(count(*) AS BIGINT) AS n_leak_pairs
    FROM cross_pairs GROUP BY split
)
SELECT acct.split, acct.n_docs, acct.n_clusters, acct.n_tokens,
       CAST(coalesce(l.n_leak_pairs, 0) AS BIGINT) AS n_leak_pairs
FROM acct LEFT JOIN leaks l ON acct.split = l.split
ORDER BY acct.split
"""


LEAKAGE_SAFE_SPLIT_SQL = _leakage_safe_split_oracle()


TRUNC_CONTEXTS = (32, 64, 128)  # context-window budgets to profile


def truncation_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source truncation-waste profile: for each candidate context
    length L, the tokens a train-time "truncate at L" policy would
    discard — the standard diagnostic for choosing between truncation
    and document chunking/packing per source (long-document sources
    waste most of their tokens under naive truncation; short-document
    sources lose nothing).

    One map-side explode of the |TRUNC_CONTEXTS|=3 budget constants
    per document row, then a single partial+final aggregation keyed by
    (source, ctx) — the tripled pre-agg stream combines map-side, so
    the shuffle carries |sources|×3 rows regardless of corpus size.

    Output per (source, ctx): n_docs, n_docs_truncated, total_tokens,
    kept_tokens, waste_micro = floor((total-kept)*1e6/total).
    """
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "source", F.size(tokenize("text")).cast("bigint").alias("n_tokens")
    )
    exploded = docs.select(
        "source",
        "n_tokens",
        F.explode(
            F.array(*[F.lit(c) for c in TRUNC_CONTEXTS])
        ).alias("ctx"),
    )
    return (
        exploded.groupBy("source", "ctx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("n_tokens") > F.col("ctx"), 1).otherwise(0)
            ).cast("bigint").alias("n_docs_truncated"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.least(F.col("n_tokens"), F.col("ctx").cast("bigint")))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .select(
            "source",
            F.col("ctx").cast("bigint").alias("ctx"),
            "n_docs",
            "n_docs_truncated",
            "total_tokens",
            "kept_tokens",
            F.floor(
                (F.col("total_tokens") - F.col("kept_tokens"))
                * F.lit(1_000_000)
                / F.col("total_tokens")
            ).cast("bigint").alias("waste_micro"),
        )
        .orderBy("source", "ctx")
    )


def _truncation_waste_oracle() -> str:
    ctxs = ", ".join(str(c) for c in TRUNC_CONTEXTS)
    return rf"""
WITH toks AS (
    SELECT source,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens
    FROM documents
),
exploded AS (
    SELECT source, n_tokens, CAST(ctx AS BIGINT) AS ctx
    FROM toks CROSS JOIN (SELECT unnest([{ctxs}]) AS ctx) c
),
agg AS (
    SELECT source, ctx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tokens > ctx THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_truncated,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(least(n_tokens, ctx)) AS BIGINT) AS kept_tokens
    FROM exploded GROUP BY source, ctx
)
SELECT source, ctx, n_docs, n_docs_truncated, total_tokens, kept_tokens,
       CAST(floor((total_tokens - kept_tokens) * 1000000.0
                  / total_tokens) AS BIGINT) AS waste_micro
FROM agg
ORDER BY source, ctx
"""


TRUNCATION_WASTE_SQL = _truncation_waste_oracle()


def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture table toward a UNIFORM target over sources: natural
    token share per source, target share, and the per-source sampling
    rate (target/natural, scaled so the largest rate is 1.0 — i.e.
    downsample everything else rather than upsample).

    One partial+final aggregation over (source); the share/rate
    arithmetic runs on the handful of aggregated rows via a broadcast
    of the single-row totals."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    per_source = (
        docs.select(
            "source", F.size(tokenize("text")).cast("bigint").alias("n_tokens")
        )
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("source_tokens"))
    )
    totals = per_source.agg(
        F.sum("source_tokens").alias("all_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    shared = per_source.join(F.broadcast(totals), how="cross")
    rated = shared.select(
        "source",
        "source_tokens",
        F.round(F.col("source_tokens") / F.col("all_tokens"), 6).alias(
            "natural_share"
        ),
        F.round(F.lit(1.0) / F.col("n_sources"), 6).alias("target_share"),
        (
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("source_tokens") / F.col("all_tokens"))
        ).alias("_raw_rate"),
    )
    max_rate = rated.agg(F.max("_raw_rate").alias("max_rate"))
    return (
        rated.join(F.broadcast(max_rate), how="cross")
        .select(
            "source",
            "source_tokens",
            "natural_share",
            "target_share",
            F.round(F.col("_raw_rate") / F.col("max_rate"), 6).alias(
                "sampling_rate"
            ),
        )
        .orderBy("source")
    )


SOURCE_MIXING_WEIGHTS_SQL = rf"""
WITH per_source AS (
    SELECT source,
           CAST(sum(CAST(len({tokenize_sql('text')}) AS BIGINT)) AS BIGINT) AS source_tokens
    FROM documents
    GROUP BY source
),
shared AS (
    SELECT source, source_tokens,
           source_tokens / (SELECT sum(source_tokens) FROM per_source) AS nat,
           1.0 / (SELECT count(*) FROM per_source) AS tgt
    FROM per_source
)
SELECT source, source_tokens,
       round(nat, 6) AS natural_share,
       round(tgt, 6) AS target_share,
       round((tgt / nat) / (SELECT max(tgt / nat) FROM shared), 6)
           AS sampling_rate
FROM shared
ORDER BY source
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized dedup verdict: each doc's component label (from
    min-label propagation over the MinHash-LSH graph, dedup.py) plus
    whether the doc IS the canonical survivor (the component's min
    doc_id). ``keep`` is just ``doc_id == component`` — min-label
    propagation already labels every component by its minimum, so no
    second aggregation is needed; the operator adds zero shuffles on
    top of the components computation.

    Cites reference intent: the reference dedups per-title at write
    time (api.py:248-254 skip-existing); this is the corpus-scale
    generalization.
    """
    from parquet_extractor_spark.operators.dedup import _components_tier

    labels = _components_tier(spark, sf_dir)
    return (
        labels.select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("component")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _dedup_canonical_oracle() -> str:
    from parquet_extractor_spark.operators.dedup import DEDUP_COMPONENTS_SQL

    inner = DEDUP_COMPONENTS_SQL.strip().rstrip()
    return f"""
WITH labels AS (
{inner}
)
SELECT doc_id, component, doc_id = component AS keep
FROM labels
ORDER BY doc_id
"""


DEDUP_CANONICAL_SQL = _dedup_canonical_oracle()


def canonical_by_quality(
    labels: DataFrame, quality: DataFrame
) -> DataFrame:
    """Quality-keep canonical selection over dedup clusters: given
    (doc_id, component) labels and (doc_id, quality_micro) scores,
    keep the HIGHEST-quality member of each duplicate cluster
    (tie-break: min doc_id) instead of blindly keeping min(doc_id).

    Implemented as one combinable aggregation — per component,
    ``max(struct(quality_micro, -doc_id))`` — then a component-keyed
    join back, NOT a per-component window sort: max() partial-aggs
    map-side, so a pathological boilerplate cluster with millions of
    members never forces a single-partition sort (the skew case a
    100 TB dedup run actually hits).

    Cites reference intent: the reference keeps the FIRST-written doc
    per title (api.py:248-254 skip-existing); picking the best-quality
    representative is the corpus-scale generalization a real pipeline
    ships (cf. CCNet/Gopher keep-best-of-cluster practice)."""
    scored = labels.join(quality, "doc_id")
    winners = scored.groupBy("component").agg(
        F.max(
            F.struct(
                F.col("quality_micro").alias("q"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("w")
    )
    return scored.join(winners, "component").select(
        "doc_id",
        "component",
        "quality_micro",
        (F.col("doc_id") == -F.col("w.neg_id")).alias("keep"),
    )


def dedup_canonical_by_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry face of :func:`canonical_by_quality`: components from
    the MinHash-LSH label tier (dedup.py) joined with the shared
    quality heuristics (quality.quality_columns), scores folded to
    integer micro-units so the argmax ordering is fp-exact in both
    engines. Output per doc: (doc_id, component, quality_micro, keep).

    tests/test_training.py plants a fixture where the quality-keep
    representative differs from min-doc_id-keep, pinning that this is
    NOT dedup_canonical under another name."""
    from parquet_extractor_spark.operators.dedup import _components_tier
    from parquet_extractor_spark.operators.quality import quality_columns

    labels = _components_tier(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    c = quality_columns()
    quality = docs.select(
        "doc_id",
        F.round(c["quality_score"] * 100)
        .cast("bigint")
        .alias("quality_micro"),
    )
    return canonical_by_quality(labels, quality).orderBy("doc_id")


def _dedup_canonical_by_quality_oracle() -> str:
    from parquet_extractor_spark.operators.dedup import DEDUP_COMPONENTS_SQL
    from parquet_extractor_spark.operators.quality import QUALITY_SCORES_SQL

    labels = DEDUP_COMPONENTS_SQL.replace("ORDER BY doc_id", "").strip()
    quality = QUALITY_SCORES_SQL.replace("ORDER BY doc_id", "").strip()
    return f"""
WITH labels AS (
{labels}
),
qs AS (
{quality}
),
scored AS (
    SELECT l.doc_id, l.component,
           CAST(round(q.quality_score * 100) AS BIGINT) AS quality_micro
    FROM labels l JOIN qs q ON l.doc_id = q.doc_id
),
winners AS (
    SELECT component, max(quality_micro) AS mq FROM scored
    GROUP BY component
),
best AS (
    SELECT s.component, min(s.doc_id) AS keep_id
    FROM scored s JOIN winners w
      ON s.component = w.component AND s.quality_micro = w.mq
    GROUP BY s.component
)
SELECT s.doc_id, s.component, s.quality_micro,
       s.doc_id = b.keep_id AS keep
FROM scored s JOIN best b ON s.component = b.component
ORDER BY s.doc_id
"""


DEDUP_CANONICAL_BY_QUALITY_SQL = _dedup_canonical_by_quality_oracle()


N_SHARDS = 8  # fixture-scale; a 100 TB run uses O(10k) shards
SHARD_SALT = "shard-v1"


def shard_column(seed: str = SHARD_SALT, n_shards: int = N_SHARDS) -> F.Column:
    """Portable shard assignment for global training-data shuffling:
    ``pmod(md5-hash(salt || doc_id), n_shards)``.

    The salted hash IS the shuffle — documents land in a
    pseudo-random but deterministic shard independent of their input
    order or partitioning, which is how a 100 TB corpus gets globally
    shuffled without a ``orderBy(rand())`` total sort. Bumping the
    salt reshuffles every epoch reproducibly.
    """
    h = portable_hash64(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))
    )
    return F.pmod(h, F.lit(n_shards))


def shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard accounting of the global-shuffle assignment: doc and
    token totals plus order-independent checksums (sum and bit_xor of
    doc_id) proving the partition is exactly a disjoint cover.

    Map-side expression + one n_shards-group aggregation; nothing
    here depends on corpus size except the partial-agg width.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            shard_column().alias("shard"),
            "doc_id",
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("doc_id").alias("doc_id_sum"),
            F.bit_xor("doc_id").alias("doc_id_xor"),
        )
        .orderBy("shard")
    )


SHARD_ASSIGNMENTS_SQL = rf"""
WITH assigned AS (
    SELECT {portable_hash64_sql(f"'{SHARD_SALT}:' || CAST(doc_id AS VARCHAR)")}
               % {N_SHARDS} AS shard,
           doc_id,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       bit_xor(doc_id) AS doc_id_xor
FROM assigned
GROUP BY shard
ORDER BY shard
"""


def write_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = N_SHARDS,
    seed: str = SHARD_SALT,
) -> None:
    """Materialize the globally-shuffled corpus as one directory per
    shard (the training-loader layout). ``repartition`` on the shard
    column co-locates each shard's rows before the partitioned write,
    so every shard directory is written by exactly one task instead
    of every task appending a sliver to every shard (the small-files
    failure mode at 10k shards × 10k tasks).
    """
    (
        docs.withColumn("shard", shard_column(seed, n_shards))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


MIX_TOKEN_BUDGET = 12_000  # fixture-scale global budget; production = 1e11+
MIX_SALT = "mix-v1"  # versioned: changing it redraws the sample


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble a fixed-token-budget training mixture: every source
    gets an equal share of MIX_TOKEN_BUDGET (the uniform target
    source_mixing_weights rates toward) and fills it greedily in
    deterministic salted-hash order — "give me an N-token mix at these
    weights" is the final materialization step of a data recipe.

    Scale shape: token counts are map-side; the per-source allocation
    is ONE broadcast 1-row aggregate (budget DIV n_sources — integer,
    engine-exact); the cumulative fill is a window partitioned by
    source (low-cardinality keys lean on AQE skew splitting like the
    existing lang windows); the prefix filter bounds output by the
    BUDGET, not the corpus. The doc that would cross its source's
    allocation is excluded (strict prefix), so kept tokens ≤ budget
    always holds.
    Output: (doc_id, source, n_tokens, cum_tokens) by (source, cum).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    skey = portable_hash64(
        F.concat(F.lit(MIX_SALT), F.col("doc_id").cast("string"))
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        skey.alias("skey"),
    )
    alloc = toks.agg(
        F.expr(
            f"CAST({MIX_TOKEN_BUDGET} AS BIGINT) "
            f"DIV count(DISTINCT source)"
        ).alias("alloc")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .crossJoin(F.broadcast(alloc))
        .filter(F.col("cum_tokens") <= F.col("alloc"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


TOKEN_BUDGET_SAMPLE_SQL = rf"""
WITH t AS (
    SELECT doc_id, source,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n_tokens,
           {portable_hash64_sql(f"'{MIX_SALT}' || CAST(doc_id AS VARCHAR)")} AS skey
    FROM documents
),
a AS (
    SELECT CAST({MIX_TOKEN_BUDGET} // count(DISTINCT source) AS BIGINT)
        AS alloc
    FROM t
),
cum AS (
    SELECT doc_id, source, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source ORDER BY skey, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM t
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum, a
WHERE cum_tokens <= alloc
ORDER BY source, cum_tokens
"""


# ── temperature-scaled mixing (multilingual up/down-sampling) ───────
# The exponential-smoothing mixture recipe (mBERT / XLM-R: sample
# source s with probability ∝ p_s^ALPHA) — the standard low-resource
# upweighting knob; ALPHA=1 is natural sampling, ALPHA→0 uniform.
MIX_ALPHA = 0.7


def temperature_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-smoothed sampling shares.

    Same single partial+final aggregation as source_mixing_weights;
    the pow/normalize arithmetic runs on the handful of per-source
    rows against a broadcast 1-row total. pow() is libm on both
    engines — shares round at 6dp, the label_centroids acceptance.
    Output: (source, source_tokens, natural_share, temp_share,
    boost) where boost = temp/natural (>1 = upsampled).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    per_source = (
        docs.select(
            "source", F.size(tokenize("text")).cast("bigint").alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").alias("source_tokens"))
    )
    tot = per_source.agg(F.sum("source_tokens").alias("all_tokens"))
    shared = per_source.join(F.broadcast(tot), how="cross").withColumn(
        "p", F.col("source_tokens") / F.col("all_tokens")
    )
    zsum = shared.agg(
        F.sum(F.pow(F.col("p"), F.lit(MIX_ALPHA))).alias("z")
    )
    return (
        shared.join(F.broadcast(zsum), how="cross")
        .select(
            "source",
            "source_tokens",
            F.round(F.col("p"), 6).alias("natural_share"),
            F.round(
                F.pow(F.col("p"), F.lit(MIX_ALPHA)) / F.col("z"), 6
            ).alias("temp_share"),
            F.round(
                F.pow(F.col("p"), F.lit(MIX_ALPHA)) / F.col("z") / F.col("p"),
                6,
            ).alias("boost"),
        )
        .orderBy("source")
    )


TEMPERATURE_MIXING_SQL = rf"""
WITH toks AS (
    SELECT source,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n
    FROM documents
),
per_source AS (
    SELECT source, CAST(sum(n) AS BIGINT) AS source_tokens
    FROM toks GROUP BY source
),
tot AS (SELECT sum(source_tokens) AS all_tokens FROM per_source),
shared AS (
    SELECT source, source_tokens,
           source_tokens / all_tokens AS p
    FROM per_source CROSS JOIN tot
),
zs AS (SELECT sum(pow(p, {MIX_ALPHA})) AS z FROM shared)
SELECT source,
       source_tokens,
       round(p, 6) AS natural_share,
       round(pow(p, {MIX_ALPHA}) / z, 6) AS temp_share,
       round(pow(p, {MIX_ALPHA}) / z / p, 6) AS boost
FROM shared CROSS JOIN zs
ORDER BY source
"""


# ── sequence-length bucketing (padding-efficiency report) ───────────


def length_bucketing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length buckets with padding-waste accounting —
    the batch-assembly question ("how much compute does padding burn
    if we bucket sequences by length?") answered from one token-count
    aggregation. Bucket id = bit width of the token count (integer
    floor(log2): computed from the BINARY STRING length, not float
    log, so both engines bucket identically at every boundary).

    Output per bucket: doc count, real vs padded token totals (padded
    = n_docs × bucket max — every sequence padded to its bucket's
    longest), and the waste fraction; plus the bucket's
    [min_len, max_len] observed range. One partial+final agg; the
    waste arithmetic runs on ≤ log2(max_len) rows.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.size(tokenize("text")).cast("bigint").alias("n")
    ).filter(F.col("n") > 0)
    bucketed = toks.withColumn(
        "bucket", (F.length(F.bin(F.col("n"))) - 1).cast("int")
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
            (F.col("n_docs") * F.col("max_tokens")).alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("total_tokens") / (F.col("n_docs") * F.col("max_tokens")),
                6,
            ).alias("waste_frac"),
        )
        .orderBy("bucket")
    )


LENGTH_BUCKETING_SQL = rf"""
WITH toks AS (
    SELECT CAST(len({tokenize_sql('text')}) AS BIGINT) AS n
    FROM documents
),
bucketed AS (
    SELECT n, CAST(length(printf('%b', n)) - 1 AS INTEGER) AS bucket
    FROM toks WHERE n > 0
),
agg AS (
    SELECT bucket, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           min(n) AS min_tokens, max(n) AS max_tokens
    FROM bucketed GROUP BY bucket
)
SELECT bucket, n_docs, total_tokens, min_tokens, max_tokens,
       n_docs * max_tokens AS padded_tokens,
       round(1.0 - total_tokens / (n_docs * max_tokens), 6) AS waste_frac
FROM agg
ORDER BY bucket
"""


def write_shards_with_manifest(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_shards: int = N_SHARDS,
    seed: str = SHARD_SALT,
) -> dict:
    """write_shards + a committed ``_manifest.json`` (underscore prefix: Spark data readers skip it, the _SUCCESS convention): per-shard doc and
    token counts and order-independent doc_id checksums (sum, xor),
    computed DISTRIBUTED (one n_shards-group aggregation — the
    shard_assignments shape) and collected as n_shards bounded rows.
    The manifest is what a training loader checks before trusting an
    export, and what ``verify_shards`` re-derives from the written
    files — any dropped/duplicated/corrupted shard shows up as a
    checksum mismatch without re-reading text."""
    import json
    import os

    write_shards(docs, out_dir, n_shards=n_shards, seed=seed)
    stats = (
        docs.select(
            shard_column(seed, n_shards).alias("shard"),
            "doc_id",
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("doc_id").alias("doc_id_sum"),
            F.bit_xor("doc_id").alias("doc_id_xor"),
        )
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "salt": seed,
        "shards": {
            int(r.shard): {
                "n_docs": int(r.n_docs),
                "total_tokens": int(r.total_tokens),
                "doc_id_sum": int(r.doc_id_sum),
                "doc_id_xor": int(r.doc_id_xor),
            }
            for r in stats
        },
    }
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def verify_shards(spark: SparkSession, out_dir: str) -> dict:
    """Re-derive the manifest's per-shard accounting from the WRITTEN
    parquet and compare. Returns the manifest on success; raises
    ValueError naming every mismatched shard otherwise. One scan of
    the export, one bounded aggregation — cheap enough to run as the
    loader's preflight."""
    import json
    import os

    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    got = {
        int(r.shard): {
            "n_docs": int(r.n_docs),
            "total_tokens": int(r.total_tokens),
            "doc_id_sum": int(r.doc_id_sum),
            "doc_id_xor": int(r.doc_id_xor),
        }
        for r in (
            spark.read.parquet(out_dir)
            .select(
                "shard",
                "doc_id",
                F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.sum("doc_id").alias("doc_id_sum"),
                F.bit_xor("doc_id").alias("doc_id_xor"),
            )
            .collect()
        )
    }
    want = {int(k): v for k, v in manifest["shards"].items()}
    bad = sorted(
        {k for k in want if want[k] != got.get(k)}
        | (set(got) - set(want))
    )
    if bad:
        raise ValueError(f"shard verification failed for shards {bad}")
    return manifest


# ── UniMax epoch-capped budget allocation ────────────────────────────

UNIMAX_EPOCH_CAP = 2  # no source repeats more than this many epochs
# token budget = 95% of the capped corpus (NUM/DEN of all_tokens ×
# cap) — deliberately between "one epoch of everything" and "cap ×
# everything" so the waterfill boundary is exercised: the smallest
# sources hit the epoch cap, the larger ones share the remainder.
UNIMAX_BUDGET_NUM = UNIMAX_EPOCH_CAP * 95
UNIMAX_BUDGET_DEN = 100


def unimax_mixing_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax (Chung et al. 2023) budget allocation: closest-to-uniform
    per-source token budgets subject to a per-source epoch cap.

    The published algorithm is a sequential greedy waterfill —
    ascending by capacity, give each source min(cap, remaining/left).
    Closed form used here (provable because caps are visited
    ascending): a source is CAPPED iff
    ``cap_i·(n−i+1) + prefix_{i−1} ≤ B`` (all integers — exact on
    both engines), and every uncapped source receives the identical
    share ``(B − Σ capped caps) / n_uncapped``; once one source is
    uncapped all later ones are (the condition is monotone), so the
    sequential recurrence collapses to one window pass + one
    aggregate. B < Σ caps by construction, so ≥1 source is always
    uncapped and the division is safe.

    Plan shape: one scan → per-source agg (constant cardinality), a
    bounded global window over the ~|sources| rows for (rank, prefix
    sum), one 1-row aggregate broadcast back. Nothing scales with
    corpus size after the first agg. Only the final share division is
    floating point; the cap decision itself is integer-exact, so the
    engines cannot disagree on WHICH sources cap.
    Output: (source, source_tokens, cap_tokens, is_capped,
    allocated_tokens, epochs) by source.
    """
    from parquet_extractor_spark.functions.windows import (
        bounded_global_window,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    per_source = (
        docs.select(
            "source", F.size(tokenize("text")).cast("bigint").alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").alias("source_tokens"))
    )
    tot = per_source.agg(
        F.sum("source_tokens").alias("all_tokens"),
        F.count(F.lit(1)).alias("n_src"),
    )
    w = bounded_global_window(F.asc("cap_tokens"), F.asc("source"))
    shared = (
        per_source.withColumn(
            "cap_tokens", F.col("source_tokens") * UNIMAX_EPOCH_CAP
        )
        .join(F.broadcast(tot), how="cross")
        .withColumn(
            "budget",
            F.expr(
                f"all_tokens * {UNIMAX_BUDGET_NUM} div {UNIMAX_BUDGET_DEN}"
            ),
        )
        .withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cprefix",
            F.sum("cap_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "is_capped",
            (
                F.col("cap_tokens") * (F.col("n_src") - F.col("i") + 1)
                + F.col("cprefix")
                - F.col("cap_tokens")
            )
            <= F.col("budget"),
        )
    )
    fills = shared.agg(
        F.sum(
            F.when(F.col("is_capped"), F.col("cap_tokens")).otherwise(
                F.lit(0)
            )
        ).alias("capped_sum"),
        F.sum(F.when(F.col("is_capped"), 1).otherwise(0)).alias("n_capped"),
    )
    share = (F.col("budget") - F.col("capped_sum")) / (
        F.col("n_src") - F.col("n_capped")
    )
    return (
        shared.join(F.broadcast(fills), how="cross")
        .select(
            "source",
            "source_tokens",
            "cap_tokens",
            "is_capped",
            F.round(
                F.when(
                    F.col("is_capped"), F.col("cap_tokens").cast("double")
                ).otherwise(share),
                6,
            ).alias("allocated_tokens"),
            F.round(
                F.when(
                    F.col("is_capped"),
                    F.lit(float(UNIMAX_EPOCH_CAP)),
                ).otherwise(share / F.col("source_tokens")),
                6,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


UNIMAX_MIXING_BUDGETS_SQL = rf"""
WITH toks AS (
    SELECT source,
           CAST(len({tokenize_sql('text')}) AS BIGINT) AS n
    FROM documents
),
per_source AS (
    SELECT source, CAST(sum(n) AS BIGINT) AS source_tokens
    FROM toks GROUP BY source
),
tot AS (
    SELECT CAST(sum(source_tokens) AS BIGINT) AS all_tokens,
           CAST(count(*) AS BIGINT) AS n_src
    FROM per_source
),
shared AS (
    SELECT source, source_tokens,
           source_tokens * {UNIMAX_EPOCH_CAP} AS cap_tokens,
           all_tokens, n_src,
           (all_tokens * {UNIMAX_BUDGET_NUM}) // {UNIMAX_BUDGET_DEN}
               AS budget,
           CAST(row_number() OVER (
               ORDER BY source_tokens * {UNIMAX_EPOCH_CAP} ASC, source ASC
           ) AS BIGINT) AS i,
           sum(source_tokens * {UNIMAX_EPOCH_CAP}) OVER (
               ORDER BY source_tokens * {UNIMAX_EPOCH_CAP} ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cprefix
    FROM per_source CROSS JOIN tot
),
flagged AS (
    SELECT *,
           cap_tokens * (n_src - i + 1) + cprefix - cap_tokens <= budget
               AS is_capped
    FROM shared
),
fills AS (
    SELECT CAST(sum(CASE WHEN is_capped THEN cap_tokens ELSE 0 END)
                AS BIGINT) AS capped_sum,
           CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END)
                AS BIGINT) AS n_capped
    FROM flagged
)
SELECT source,
       source_tokens,
       cap_tokens,
       is_capped,
       round(CASE WHEN is_capped THEN CAST(cap_tokens AS DOUBLE)
             ELSE CAST(budget - capped_sum AS DOUBLE)
                  / CAST(n_src - n_capped AS DOUBLE) END, 6)
           AS allocated_tokens,
       round(CASE WHEN is_capped THEN CAST({UNIMAX_EPOCH_CAP} AS DOUBLE)
             ELSE CAST(budget - capped_sum AS DOUBLE)
                  / CAST(n_src - n_capped AS DOUBLE)
                  / CAST(source_tokens AS DOUBLE) END, 6)
           AS epochs
FROM flagged CROSS JOIN fills
ORDER BY source
"""


RESHARD_FROM = 8  # shard count before the resize
RESHARD_TO = 10  # shard count after
RESHARD_SALT = "hrw-v1"  # versioned: changing it redraws placements
# HRW weights fold to 55 bits so weight*16+shard stays inside int64
_HRW_CAP = 1 << 55


def reshard_movement_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of the corpus moves when the shard count scales
    RESHARD_FROM → RESHARD_TO, under two placement strategies:

    - ``mod``: shard = hash(doc) % N. Simple, but resizing remaps
      almost everything (for 8→10, exactly the residues r<8 of
      r mod 40 stay — an expected ~80% of documents move).
    - ``rendezvous``: highest-random-weight hashing — each doc goes
      to argmax_s hash(doc, s). Resizing N→M only moves docs whose
      argmax lands in the new shards: expected movement 1 − N/M
      (20% for 8→10), the minimum any consistent placement achieves.

    This is the standard justification for consistent placement of
    training shards / cache keys; the report makes the gap measurable
    on the actual corpus rather than asserted.

    INTEGER-EXACT: placements come from the portable 60-bit md5 hash;
    the HRW argmax is max over wkey = (weight mod 2^55)·16 + shard
    (shard < 16, so the composite is collision-free and fits int64);
    the movement share is the micro-unit integer div.

    Shape for scale: the mod path is a pure map + 1-row agg. The HRW
    path fans each doc_id out ×RESHARD_TO via an in-row explode (no
    join), and ONE partial+final agg per doc computes both argmaxes
    (old = max over shard<FROM, new = max over all) — the shuffle
    carries doc_id-keyed partials, and the final strategy agg is
    2 rows. Only doc_id is scanned (column-pruned).
    """
    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    h_mod = portable_hash64(
        F.concat(F.lit("mod-v1:"), F.col("doc_id").cast("string"))
    )
    mod = docs.select(
        F.lit("mod").alias("strategy"),
        (
            F.pmod(h_mod, F.lit(RESHARD_FROM))
            != F.pmod(h_mod, F.lit(RESHARD_TO))
        ).cast("int").alias("moved"),
    )
    hrw = (
        docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(RESHARD_TO - 1))
            ).alias("shard"),
        )
        .select(
            "doc_id",
            "shard",
            (
                F.pmod(
                    portable_hash64(
                        F.concat(
                            F.lit(RESHARD_SALT + ":"),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("shard").cast("string"),
                        )
                    ),
                    F.lit(_HRW_CAP),
                )
                * F.lit(16)
                + F.col("shard")
            ).alias("wkey"),
        )
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("shard") < RESHARD_FROM, F.col("wkey"))
            ).alias("old_key"),
            F.max("wkey").alias("new_key"),
        )
        .select(
            F.lit("rendezvous").alias("strategy"),
            (
                F.pmod(F.col("old_key"), F.lit(16))
                != F.pmod(F.col("new_key"), F.lit(16))
            ).cast("int").alias("moved"),
        )
    )
    return (
        mod.unionByName(hrw)
        .groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("moved").cast("bigint").alias("n_moved"),
        )
        .select(
            "strategy",
            "n_docs",
            "n_moved",
            F.expr("CAST(n_moved * 1000000L div n_docs AS BIGINT)").alias(
                "moved_share_micro"
            ),
        )
        .orderBy("strategy")
    )


RESHARD_MOVEMENT_REPORT_SQL = rf"""
WITH mod_moves AS (
    SELECT 'mod' AS strategy,
           CAST(h % {RESHARD_FROM} != h % {RESHARD_TO} AS INT) AS moved
    FROM (
        SELECT {portable_hash64_sql("'mod-v1:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    )
),
hrw_keys AS (
    SELECT doc_id, shard,
           ({portable_hash64_sql(
               f"'{RESHARD_SALT}:' || CAST(doc_id AS VARCHAR) || ':' || "
               "CAST(shard AS VARCHAR)"
           )} % {_HRW_CAP}) * 16 + shard AS wkey
    FROM documents,
         (SELECT unnest(generate_series(0, {RESHARD_TO - 1})) AS shard)
),
hrw_moves AS (
    SELECT 'rendezvous' AS strategy,
           CAST(max(CASE WHEN shard < {RESHARD_FROM} THEN wkey END) % 16
                != max(wkey) % 16 AS INT) AS moved
    FROM hrw_keys
    GROUP BY doc_id
),
all_moves AS (
    SELECT * FROM mod_moves UNION ALL SELECT * FROM hrw_moves
)
SELECT strategy,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(moved) AS BIGINT) AS n_moved,
       CAST(sum(moved) * 1000000 // count(*) AS BIGINT)
           AS moved_share_micro
FROM all_moves
GROUP BY strategy
ORDER BY strategy
"""
