"""Dataset versioning: diff two corpus snapshots by content hash.

A rolling training-data pipeline re-materializes its corpus on every
crawl/curation cycle and must answer "what changed since the last
snapshot?" before deciding whether downstream tiers (dedup index,
tokenizer counts, mixing weights) need rebuilding. The corpus-scale
primitive is a full outer join of the two snapshots on the document
key comparing a content DIGEST — the batch cousin of the reference's
skip-existing sink (reference api.py:248-254, which diffs one output
directory against incoming rows by filename).

Scale shape: each snapshot is reduced MAP-SIDE to
(doc_id, source, md5(text)) before the join, so the shuffle carries
~50-byte rows, never document bodies; the join itself is a plain
hash join on the snapshot key that AQE re-plans per-partition. At
100 TB the diff costs two scans + one skinny shuffle — no text ever
moves.

The two snapshots are derived deterministically from the fixture's
``documents`` table so the query is self-contained and
oracle-checkable. Membership comes from the PORTABLE HASH of the
doc_id, not the raw id — the fixture assigns ``source = src(doc_id
% 20)``, so raw-modulus membership would make whole sources
"added"/"removed" and degenerate the per-source report. With
h = portable_hash64(doc_id): v1 drops h ≡ 0 (mod 10), v2 drops
h ≡ 9 (mod 10) and revises the text of h ≡ 0 (mod 7) — yielding
all four change classes (added / removed / modified / unchanged)
spread across every source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_extractor_spark.functions.text import (
    portable_hash64,
    portable_hash64_sql,
    tokenize_sql,
    word_ngrams_sql,
)
from parquet_extractor_spark.sources.tables import load_table


def snapshot_v1(docs: DataFrame) -> DataFrame:
    """First snapshot from any documents frame: (doc_id, source,
    digest). Pure column expressions — stream-safe."""
    h = portable_hash64(F.col("doc_id").cast("string"))
    return docs.where(h % 10 != 0).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )


def snapshot_v2(docs: DataFrame) -> DataFrame:
    """Second snapshot: drops a different decile and revises the text
    of hash-ids ≡ 0 (mod 7). Pure column expressions — stream-safe."""
    h = portable_hash64(F.col("doc_id").cast("string"))
    revised = F.when(
        h % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    return docs.where(h % 10 != 9).select(
        "doc_id", "source", F.md5(revised).alias("digest")
    )


def classify_v2_against_v1(v2: DataFrame, v1: DataFrame) -> DataFrame:
    """Per-document changelog for the v2 side: added / modified /
    unchanged, from a LEFT join of v2 against v1's digests. This is
    the stream-safe half of the diff (a stream of arriving v2 docs
    joined stream-static against the previous snapshot's digest
    table); 'removed' is inherently invisible to an insert stream and
    only the batch full-outer form reports it."""
    j = v2.alias("v2").join(
        v1.alias("v1"), F.col("v2.doc_id") == F.col("v1.doc_id"), "left"
    )
    return j.select(
        F.col("v2.doc_id").alias("doc_id"),
        F.col("v2.source").alias("source"),
        F.when(F.col("v1.doc_id").isNull(), "added")
        .when(F.col("v1.digest") != F.col("v2.digest"), "modified")
        .otherwise("unchanged")
        .alias("change_type"),
    )


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    return snapshot_v1(docs), snapshot_v2(docs)


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, change_type) document counts between two corpus
    snapshots: added / removed / modified / unchanged.

    Digest-compare full outer join on the document key; text is
    reduced to md5 map-side in each snapshot's projection, so the
    exchange ships (doc_id, source, 32-hex digest) only. The grouped
    rollup after the join is a partial-agg groupBy on low-cardinality
    keys. Output: (source, change_type, n_docs).
    """
    v1, v2 = _snapshots(spark, sf_dir)
    j = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.doc_id") == F.col("v2.doc_id"), "full_outer"
    )
    classified = j.select(
        F.coalesce(F.col("v1.source"), F.col("v2.source")).alias("source"),
        F.when(F.col("v1.doc_id").isNull(), "added")
        .when(F.col("v2.doc_id").isNull(), "removed")
        .when(F.col("v1.digest") != F.col("v2.digest"), "modified")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return (
        classified.groupBy("source", "change_type")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "change_type")
    )


def incremental_dedup_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate candidates between a crawl DELTA and the prior
    corpus' PERSISTED MinHash-LSH band index — the incremental form of
    dedup a rolling pipeline actually runs: the daily delta is
    shingled/hashed map-side and probed against the index built when
    the previous snapshot was materialized; history is never
    re-shingled (corpus-scale cousin of the reference's skip-existing
    sink, reference api.py:248-254).

    Membership reuses the snapshot split of corpus_version_diff: the
    prior corpus is v1 (portable-hash decile != 0) and the delta is
    the v2-added decile (hash ≡ 0 mod 10), so the two doc-id sets are
    disjoint by construction. The v1 band index is materialized once
    as a tier (``v1_band_index``: (doc_id, source, band, bucket) —
    docs × NUM_BANDS skinny rows, the artifact a 100 TB pipeline
    persists between crawls; bucket-partitioned on write it makes the
    probe a co-located join). The delta side is a pure map-side
    signature+banding projection, so per-crawl cost is
    O(delta × bands) shuffle against a static table — never a rescan
    of the corpus text, never an all-pairs product.

    Output: (doc_new, source_new, doc_prior, source_prior) distinct
    candidate pairs, ordered.
    """
    from parquet_extractor_spark.operators.dedup import (
        _band_buckets,
        band_join,
        signature_frame,
    )
    from parquet_extractor_spark.store import ensure_tier

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.col("doc_id").cast("string"))
    index_docs = docs.where(h % 10 != 0)
    delta_docs = docs.where(h % 10 == 0)
    index_buckets = ensure_tier(
        spark,
        sf_dir,
        "v1_band_index",
        lambda: _band_buckets(
            signature_frame(index_docs, carry=("source",)),
            carry=("source",),
        ),
    )
    probe = _band_buckets(
        signature_frame(delta_docs, carry=("source",)), carry=("source",)
    )
    return (
        band_join(probe, index_buckets, F.lit(True))
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("a.source").alias("source_new"),
            F.col("b.doc_id").alias("doc_prior"),
            F.col("b.source").alias("source_prior"),
        )
        .distinct()
        .orderBy("doc_new", "doc_prior")
    )


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 history (Kimball's warehouse
    recipe — the MERGE INTO semantics table formats provide, expressed
    as one declarative plan with no table format): given two versions
    of the customer dimension, emit the versioned history with
    validity ranges and a current flag.

    The two versions derive deterministically from the fixture (the
    corpus_version_diff membership pattern, keyed on the portable
    custkey hash): v2 drops hash-decile 9, adds decile 0, and revises
    c_mktsegment where hash ≡ 0 (mod 7). History semantics per key:
    unchanged → one row valid [1, ∞); modified → the v1 row closes at
    2 and a v2 row opens at 2; added → a v2 row opens at 2; removed →
    the v1 row closes at 2.

    Scale shape: ONE full-outer join on the dimension key (AQE
    re-plans skew), attributes reduced map-side to a digest for the
    change test, and the history rows come from exploding at most two
    version structs per key — output ≤ 2 rows/key, no window, no
    second scan. At 100 TB this runs per snapshot pair exactly once
    and appends to a versioned table (sinks/versioned.py).

    Output: (c_custkey, version, c_mktsegment, acctbal_micro,
    valid_from_version, valid_to_version (NULL = current),
    is_current), ordered.
    """
    cust = load_table(spark, sf_dir, "customer")
    h = portable_hash64(F.col("c_custkey").cast("string"))
    acct = F.floor(F.col("c_acctbal") * 1_000_000).cast("bigint")
    v1 = cust.where(h % 10 != 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        acct.alias("acct_micro"),
    )
    v2 = cust.where(h % 10 != 9).select(
        "c_custkey",
        F.when(h % 7 == 0, F.concat(F.col("c_mktsegment"), F.lit("_V2")))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        acct.alias("acct_micro"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.c_custkey") == F.col("b.c_custkey"),
        "full_outer",
    )
    in1 = F.col("a.c_custkey").isNotNull()
    in2 = F.col("b.c_custkey").isNotNull()
    changed = in1 & in2 & (F.col("a.seg") != F.col("b.seg"))

    def vrow(version, seg, acct_c, vfrom, vto):
        return F.struct(
            F.lit(version).cast("bigint").alias("version"),
            seg.alias("c_mktsegment"),
            acct_c.alias("acctbal_micro"),
            F.lit(vfrom).cast("bigint").alias("valid_from_version"),
            (F.lit(vto).cast("bigint") if vto is not None
             else F.lit(None).cast("bigint")).alias("valid_to_version"),
        )

    r1_closed = vrow(1, F.col("a.seg"), F.col("a.acct_micro"), 1, 2)
    r1_open = vrow(1, F.col("a.seg"), F.col("a.acct_micro"), 1, None)
    r2_open = vrow(2, F.col("b.seg"), F.col("b.acct_micro"), 2, None)
    rows = (
        F.when(changed, F.array(r1_closed, r2_open))
        .when(in1 & in2, F.array(r1_open))           # unchanged
        .when(in1 & ~in2, F.array(r1_closed))        # removed
        .otherwise(F.array(r2_open))                 # added
    )
    return (
        j.select(
            F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias(
                "c_custkey"
            ),
            F.explode(rows).alias("r"),
        )
        .select(
            "c_custkey",
            "r.version",
            "r.c_mktsegment",
            "r.acctbal_micro",
            "r.valid_from_version",
            "r.valid_to_version",
            F.col("r.valid_to_version").isNull().alias("is_current"),
        )
        .orderBy("c_custkey", "version")
    )


SCD2_CUSTOMER_HISTORY_SQL = f"""
WITH hashed AS (
    SELECT c_custkey, c_mktsegment,
           CAST(floor(c_acctbal * 1000000) AS BIGINT) AS acct_micro,
           {portable_hash64_sql('CAST(c_custkey AS VARCHAR)')} AS h
    FROM customer
),
v1 AS (
    SELECT c_custkey, c_mktsegment AS seg, acct_micro
    FROM hashed WHERE h % 10 != 0
),
v2 AS (
    SELECT c_custkey,
           CASE WHEN h % 7 = 0 THEN c_mktsegment || '_V2'
                ELSE c_mktsegment END AS seg,
           acct_micro
    FROM hashed WHERE h % 10 != 9
),
j AS (
    SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
           a.c_custkey IS NOT NULL AS in1,
           b.c_custkey IS NOT NULL AS in2,
           a.seg AS seg1, a.acct_micro AS acct1,
           b.seg AS seg2, b.acct_micro AS acct2
    FROM v1 a FULL OUTER JOIN v2 b ON a.c_custkey = b.c_custkey
),
hist AS (
    -- v1 row: closed when changed or removed, open when unchanged
    SELECT c_custkey, CAST(1 AS BIGINT) AS version, seg1 AS c_mktsegment,
           acct1 AS acctbal_micro, CAST(1 AS BIGINT) AS valid_from_version,
           CASE WHEN NOT in2 OR seg1 != seg2 THEN CAST(2 AS BIGINT) END
               AS valid_to_version
    FROM j WHERE in1
    UNION ALL
    -- v2 row: only when added or changed
    SELECT c_custkey, 2, seg2, acct2, 2, NULL
    FROM j WHERE in2 AND (NOT in1 OR seg1 != seg2)
)
SELECT *, valid_to_version IS NULL AS is_current
FROM hist
ORDER BY c_custkey, version
"""


def band_buckets_for(docs: DataFrame) -> DataFrame:
    """(doc_id, source, band, bucket) MinHash-LSH band rows for any
    documents frame — the unit the persisted dedup index stores."""
    from parquet_extractor_spark.operators.dedup import (
        _band_buckets,
        signature_frame,
    )

    return _band_buckets(
        signature_frame(docs, carry=("source",)), carry=("source",)
    )


def band_index_init(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Materialize the prior corpus' (v1) band index as snapshot 0 of
    a VERSIONED table (sinks/versioned.py) — the long-lived artifact
    an incremental pipeline maintains across crawl cycles. Idempotent
    via the commit tag."""
    from parquet_extractor_spark.sinks.versioned import commit_snapshot

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.col("doc_id").cast("string"))
    index_docs = docs.where(h % 10 != 0)
    return commit_snapshot(
        band_buckets_for(index_docs), table_dir, mode="overwrite",
        tag="base",
    )


def band_index_probe(
    spark: SparkSession, table_dir: str, delta_docs: DataFrame
) -> DataFrame:
    """Probe a crawl delta against the CURRENT snapshot of the
    versioned band index: map-side signature+banding of the delta,
    one (band, bucket) join against the index files — O(delta×bands)
    per crawl, history never re-shingled. Returns (doc_new,
    source_new, doc_prior, source_prior) distinct pairs."""
    from parquet_extractor_spark.operators.dedup import band_join
    from parquet_extractor_spark.sinks.versioned import read_snapshot

    index = read_snapshot(spark, table_dir)
    probe = band_buckets_for(delta_docs)
    return (
        band_join(probe, index, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("a.source").alias("source_new"),
            F.col("b.doc_id").alias("doc_prior"),
            F.col("b.source").alias("source_prior"),
        )
        .distinct()
        .orderBy("doc_new", "doc_prior")
    )


def band_index_append(
    spark: SparkSession,
    table_dir: str,
    delta_docs: DataFrame,
    tag: str,
) -> int:
    """After a delta is accepted into the corpus, append ITS band
    rows to the index as a new snapshot (immutable data files; the
    manifest union is the index update — no rewrite of history).
    The tag makes re-runs of the same crawl cycle no-ops."""
    from parquet_extractor_spark.sinks.versioned import commit_snapshot

    return commit_snapshot(
        band_buckets_for(delta_docs), table_dir, mode="append", tag=tag
    )


def ingest_crawl_cycle(
    spark: SparkSession,
    delta_docs: DataFrame,
    corpus_table: str,
    index_table: str,
    tag: str,
) -> dict:
    """One full incremental-ingest cycle of a rolling corpus pipeline,
    composed from the pieces above: probe the crawl delta against the
    versioned LSH band index, drop near-duplicates of anything already
    in the corpus, append the NOVEL documents to the snapshot-versioned
    corpus table, and append their band rows to the index — both
    commits idempotent under ``tag``, so replaying a crashed cycle
    cannot double-ingest.

    Scale shape: the probe is O(delta × bands) against the static
    index (see band_index_probe); the novelty filter is one left-anti
    join on doc_id; the two commits are distributed parquet writes
    plus KB-sized manifest links. Only the summary counts hop to the
    driver. History (corpus and index alike) stays time-travelable.
    """
    from parquet_extractor_spark.sinks.versioned import commit_snapshot

    pairs = band_index_probe(spark, index_table, delta_docs)
    dup_ids = pairs.select(F.col("doc_new").alias("doc_id")).distinct()
    novel = delta_docs.join(dup_ids, "doc_id", "left_anti")
    n_delta = delta_docs.count()
    n_novel = novel.count()
    corpus_v = commit_snapshot(novel, corpus_table, mode="append", tag=tag)
    index_v = band_index_append(spark, index_table, novel, tag=tag)
    return {
        "tag": tag,
        "delta_docs": n_delta,
        "novel_docs": n_novel,
        "near_dup_docs": n_delta - n_novel,
        "corpus_snapshot": corpus_v,
        "index_snapshot": index_v,
    }


def _incremental_dedup_oracle() -> str:
    """DuckDB oracle: the same snapshot split, MinHash, and banding,
    with side ('index'/'delta') carried through one shared shingle →
    signature pipeline and the bands unrolled as a UNION ALL."""
    from parquet_extractor_spark.operators.dedup import (
        MERSENNE_P,
        NGRAM_N,
        NUM_BANDS,
        ROWS_PER_BAND,
        _minhash_sql_exprs,
    )

    band_selects = []
    for b in range(NUM_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT side, source, doc_id, {b} AS band,"
            f" md5({cols}) AS bucket FROM sig"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    return rf"""
WITH hashed_ids AS (
    SELECT doc_id, source, text,
           {portable_hash64_sql('CAST(doc_id AS VARCHAR)')} AS hid
    FROM documents
),
corpus AS (
    SELECT 'index' AS side, doc_id, source, text
    FROM hashed_ids WHERE hid % 10 != 0
    UNION ALL
    SELECT 'delta' AS side, doc_id, source, text
    FROM hashed_ids WHERE hid % 10 = 0
),
toks AS (
    SELECT side, source, doc_id,
           {tokenize_sql('text')} AS tokens
    FROM corpus
),
shingled AS (
    SELECT side, source, doc_id,
           list_distinct({word_ngrams_sql('tokens', NGRAM_N)})
               AS shingles
    FROM toks
),
hashed AS (
    SELECT side, source, doc_id,
           {portable_hash64_sql('unnest(shingles)')}
               % {MERSENNE_P} AS h0
    FROM shingled
),
sig AS (
    SELECT side, source, doc_id,
           {_minhash_sql_exprs()}
    FROM hashed
    GROUP BY side, source, doc_id
),
buckets AS (
{bands_union}
)
SELECT DISTINCT d.doc_id AS doc_new, d.source AS source_new,
       i.doc_id AS doc_prior, i.source AS source_prior
FROM buckets d JOIN buckets i
  ON d.band = i.band AND d.bucket = i.bucket
WHERE d.side = 'delta' AND i.side = 'index'
ORDER BY doc_new, doc_prior
"""


INCREMENTAL_DEDUP_SQL = _incremental_dedup_oracle()


CORPUS_VERSION_DIFF_SQL = rf"""
WITH hashed AS (
    SELECT doc_id, source, text,
           {portable_hash64_sql('CAST(doc_id AS VARCHAR)')} AS h
    FROM documents
),
v1 AS (
    SELECT doc_id, source, md5(text) AS digest
    FROM hashed WHERE h % 10 != 0
),
v2 AS (
    SELECT doc_id, source,
           md5(CASE WHEN h % 7 = 0 THEN text || ' v2' ELSE text END)
               AS digest
    FROM hashed WHERE h % 10 != 9
),
classified AS (
    SELECT coalesce(v1.source, v2.source) AS source,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.digest != v2.digest THEN 'modified'
                ELSE 'unchanged' END AS change_type
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT source, change_type, count(*) AS n_docs
FROM classified
GROUP BY source, change_type
ORDER BY source, change_type
"""


# ── point-in-time (temporal) dimension join ──────────────────────────


def orders_point_in_time_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The warehouse-standard PIT join: each order joins the SCD2
    customer-history row that was VALID at the order's epoch, never
    the current row (the classic fact-to-Type-2-dimension lookup that
    naive joins get wrong by attributing old facts to new attribute
    values). Epochs map deterministically from o_orderdate: orders
    before 1998 belong to dimension version epoch 1, later orders to
    epoch 2 (the fixture spans 1995-2001, so both epochs are
    populated) — so a segment revised in v2 splits its order history
    across both spellings, and orders of customers REMOVED in v2 land
    in an 'orphaned' bucket (NULL segment) instead of silently
    matching stale attributes.

    Scale shape: one equi-join on the dimension key with the validity
    range as a residual condition (history ≤ 2 rows/key, so the join
    fan-out is bounded); revenue folds to integer micro-units
    map-side; the final rollup is a partial agg on (epoch, segment).
    Output: (order_epoch, c_mktsegment — NULL = orphaned, n_orders,
    revenue_micro), ordered.
    """
    hist = scd2_customer_history(spark, sf_dir).select(
        "c_custkey",
        "c_mktsegment",
        "valid_from_version",
        "valid_to_version",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.year("o_orderdate") < 1998, F.lit(1))
        .otherwise(F.lit(2))
        .cast("bigint")
        .alias("order_epoch"),
        F.floor(F.col("o_totalprice") * 1_000_000)
        .cast("bigint")
        .alias("price_micro"),
    )
    j = orders.join(
        hist,
        (orders.o_custkey == hist.c_custkey)
        & (hist.valid_from_version <= orders.order_epoch)
        & (
            hist.valid_to_version.isNull()
            | (orders.order_epoch < hist.valid_to_version)
        ),
        "left",
    )
    return (
        j.groupBy("order_epoch", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price_micro").cast("bigint").alias("revenue_micro"),
        )
        .orderBy("order_epoch", "c_mktsegment")
    )


ORDERS_POINT_IN_TIME_DIM_SQL = (
    SCD2_CUSTOMER_HISTORY_SQL.rsplit("SELECT *", 1)[0].rstrip()
    + """,
scd2 AS (
    SELECT c_custkey, c_mktsegment, valid_from_version,
           valid_to_version
    FROM hist
),
facts AS (
    SELECT o_custkey,
           CAST(CASE WHEN year(o_orderdate) < 1998 THEN 1 ELSE 2 END
               AS BIGINT) AS order_epoch,
           CAST(floor(o_totalprice * 1000000) AS BIGINT) AS price_micro
    FROM orders
)
SELECT f.order_epoch, s.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(f.price_micro) AS BIGINT) AS revenue_micro
FROM facts f
LEFT JOIN scd2 s
  ON f.o_custkey = s.c_custkey
 AND s.valid_from_version <= f.order_epoch
 AND (s.valid_to_version IS NULL OR f.order_epoch < s.valid_to_version)
GROUP BY f.order_epoch, s.c_mktsegment
ORDER BY f.order_epoch, s.c_mktsegment
"""
)
