"""Entity resolution (record linkage): blocking → set-similarity
join → connected components → golden record.

The reference dedups records by exact title at write time
(api.py:248-254 skip-existing); this module is the fuzzy-matching
generalization a real ingest pipeline needs: "Acme Corp." and "ACME
Corporation" are the same supplier even though no exact key agrees.

The scalable core is a PREFIX-FILTERED set-similarity self-join (the
public PPJoin/AllPairs family, Xiao et al. WWW'08; the same plan
shape Spark's own ML LSH joins and every warehouse ER system use):

1. normalize each name (lower, strip punctuation, token-sort) —
   pure column expressions;
2. shingle to distinct character trigrams;
3. order every record's trigram list by GLOBAL document frequency
   (rarest first, one partial+final agg over the exploded grams);
4. keep only each record's PREFIX — ``n - ceil(t*n) + 1`` grams: two
   sets with Jaccard >= t MUST share a prefix gram under any common
   total order (the prefix-filter lemma), so exploding prefixes and
   equi-joining on the gram generates a candidate superset at
   O(records x prefix) instead of O(records^2);
5. verify candidates EXACTLY with array_intersect/array_union on the
   carried trigram arrays (names are tiny; the arrays ride the row);
6. min-label connected components over verified matches (same
   iterative one-join-per-round pattern as dedup_components,
   dedup.py:641);
7. golden record per cluster by a combinable ``max(struct(...))``
   agg (longest raw name, tie min rec_id) — never a per-cluster
   sort, so a degenerate mega-cluster cannot single-partition us.

The DuckDB oracle deliberately runs the BRUTE-FORCE O(n^2) join over
the same fixture — a driver hash-match therefore proves the prefix
filter is lossless, not just internally consistent.

At 100 TB: steps 1-2 ride the scan (codegen); step 3 is one shuffle
keyed by gram; step 4's explode is bounded by prefix length (a few
grams per record); step 5's verify join is candidate-bounded with
frequency-ascending prefixes minimizing candidates exactly as PPJoin
prescribes; hot grams (e.g. "inc"/"llc" boilerplate) sit LAST in the
frequency order and never enter short prefixes — the skew guard is
the algorithm itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.text import (
    char_ngrams,
    tokenize,
    tokenize_sql,
)
from parquet_extractor_spark.sources.tables import load_table, local_frame

ER_JACCARD_T = 0.45
ER_JACCARD_T_MICRO = 450_000
ER_NGRAM = 3

# Messy-records fixture (same in-repo VALUES pattern as the crawl and
# PII audits): planted duplicate clusters {1,2,3} {4,5,6} {8,9}
# {14,15,16}, a near-miss pair (10 vs 1/8 stays below t), non-ASCII
# and single-char edge rows, and clean singletons.
ENTITY_ROWS: list[tuple] = [
    (1, "Acme Corporation", "New York"),
    (2, "ACME Corp.", "New York"),
    (3, "Acme Corp", "Boston"),
    (4, "John Smith", "Chicago"),
    (5, "Smith, John", "Chicago"),
    (6, "Jon Smith", "Detroit"),
    (7, "Smithson & Co", "Chicago"),
    (8, "Global Industries Ltd", "London"),
    (9, "Global Industries Limited", "London"),
    (10, "Acme Industries", "Austin"),
    (11, "Café München GmbH", "Munich"),
    (12, "X", "Nowhere"),
    (13, "X Y", "Nowhere"),
    (14, "Johnson Controls Inc", "Milwaukee"),
    (15, "Johnson Controls Incorporated", "Milwaukee"),
    (16, "Jonson Controls Incorporated", "Madison"),
    (17, "Pacific Rail Transport", "Seattle"),
    (18, "Quantum Data Systems", "Palo Alto"),
    (19, "Bright Horizon Media", "Denver"),
    (20, "Northern Lights Energy", "Oslo"),
]


def _entity_records(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        ENTITY_ROWS, schema="rec_id BIGINT, name STRING, city STRING"
    )


def _normalized_name(col: str = "name") -> F.Column:
    """lower -> strip punct -> token-sort -> rejoin: 'Smith, John' and
    'john smith' normalize identically (token-sort ratio trick), so
    trigram Jaccard only has to absorb typos, not word order."""
    return F.concat_ws(" ", F.sort_array(tokenize(col)))


def _with_grams(records: DataFrame) -> DataFrame:
    return records.select(
        "rec_id",
        "name",
        F.array_distinct(
            char_ngrams(_normalized_name(), ER_NGRAM)
        ).alias("grams"),
    )


def _prefix_len_expr() -> F.Column:
    """p = n - ceil(t*n - eps) + 1 over a ``grams`` column. The
    epsilon guards ceil() against float error when t*n is integral
    (0.45*20 = 9.000000000000002 must ceil to 9, not 10 — a too-short
    prefix could silently drop true matches)."""
    return (
        F.size("grams")
        - F.ceil(F.lit(ER_JACCARD_T) * F.size("grams") - F.lit(1e-9))
        + F.lit(1)
    )


def hash_prefix_grams(grammed: DataFrame) -> DataFrame:
    """Prefix grams under the HASH total order (xxhash64, tie gram) —
    the data-INDEPENDENT order the incremental/streaming form uses:
    it never changes as the corpus grows, so prefixes computed at
    insert time stay valid against every future batch (the prefix
    lemma needs one common total order on both sides at compare
    time). The batch form instead orders by global document frequency
    (fewer candidates, PPJoin's optimization) — that order drifts
    with the data, which is fine for a one-shot join and wrong for
    persistent state. Returns (rec_id, gram) exploded prefixes."""
    exploded = grammed.select("rec_id", F.explode("grams").alias("gram"))
    return (
        exploded.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("rec_id").orderBy(
                    F.xxhash64("gram"), "gram"
                )
            ),
        )
        .join(grammed.select("rec_id", "grams"), "rec_id")
        .filter(F.col("rn") <= _prefix_len_expr())
        .select("rec_id", "gram")
    )


def verify_candidate_pairs(
    cands: DataFrame, left_sides: DataFrame, right_sides: DataFrame
) -> DataFrame:
    """Exact trigram-Jaccard verification of (rec_a, rec_b) candidate
    pairs against the carried gram arrays; keeps pairs at or above
    the threshold. ``*_sides`` are (rec_id, grams) frames."""
    verified = (
        cands.join(
            left_sides.select(
                F.col("rec_id").alias("rec_a"), F.col("grams").alias("ga")
            ),
            "rec_a",
        )
        .join(
            right_sides.select(
                F.col("rec_id").alias("rec_b"), F.col("grams").alias("gb")
            ),
            "rec_b",
        )
        .select(
            "rec_a",
            "rec_b",
            # floor WITHOUT the +0.5 half-up: the accept rule must be
            # exactly J >= t (floor(J*1e6) >= t*1e6 <=> J >= t), never
            # J >= t - 5e-7 — the prefix filter only guarantees a
            # shared prefix gram for pairs AT OR ABOVE t, so a
            # half-up rounding slack would admit pairs the candidate
            # stage is allowed to drop, breaking losslessness
            F.floor(
                F.size(F.array_intersect("ga", "gb"))
                * F.lit(1_000_000.0)
                / F.size(F.array_union("ga", "gb"))
            ).cast("bigint").alias("jacc_micro"),
        )
    )
    return verified.filter(F.col("jacc_micro") >= ER_JACCARD_T_MICRO)


def _matched_pairs(grammed: DataFrame) -> DataFrame:
    """Prefix-filtered candidates, exactly verified. Returns
    (rec_a, rec_b, jacc_micro) with rec_a < rec_b."""
    exploded = grammed.select(
        "rec_id", F.explode("grams").alias("gram")
    )
    gram_df = exploded.groupBy("gram").agg(
        F.count(F.lit(1)).alias("df")
    )
    ranked = (
        exploded.join(gram_df, "gram")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("rec_id").orderBy("df", "gram")
            ),
        )
        .join(grammed.select("rec_id", "grams"), "rec_id")
        .filter(F.col("rn") <= _prefix_len_expr())
        .select("rec_id", "gram")
    )
    cands = (
        ranked.alias("a")
        .join(ranked.alias("b"), "gram")
        .filter(F.col("a.rec_id") < F.col("b.rec_id"))
        .select(
            F.col("a.rec_id").alias("rec_a"),
            F.col("b.rec_id").alias("rec_b"),
        )
        .distinct()
    )
    sides = grammed.select("rec_id", "grams")
    return verify_candidate_pairs(cands, sides, sides)


def _min_label_components(
    nodes: DataFrame, edges: DataFrame
) -> DataFrame:
    """Min-label propagation over (src, dst) edges; nodes is a
    1-column (rec_id) frame. Delegates to the shared
    functions.graph.min_label_components implementation (the same
    loop dedup_components runs over documents)."""
    from parquet_extractor_spark.functions.graph import (
        min_label_components,
    )

    return min_label_components(
        nodes, edges, id_col="rec_id", label_col="cluster"
    )


def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ER over the planted fixture: per record its cluster
    label (min rec_id of its transitive match group), the cluster's
    golden record (longest raw name, tie min rec_id) and size.

    ``sf_dir`` is unused: the fixture is in-repo (the same soundness
    argument as the crawl/PII audits — a literal oracle needs a
    literal input), and the brute-force oracle proves the prefix
    filter drops nothing.
    """
    del sf_dir
    records = _entity_records(spark)
    grammed = _with_grams(records)
    pairs = _matched_pairs(grammed)
    labels = _min_label_components(
        records.select("rec_id"),
        pairs.select(
            F.col("rec_a").alias("src"), F.col("rec_b").alias("dst")
        ),
    )
    labeled = records.join(labels, "rec_id")
    return golden_report(labeled)


def golden_report(labeled: DataFrame) -> DataFrame:
    """(rec_id, name, cluster) → the full resolution report with the
    golden record per cluster (longest raw name, tie min rec_id) via
    a combinable max(struct(...)) agg — shared by the batch operator
    and the streaming state reader."""
    winners = (
        labeled.groupBy("cluster")
        .agg(
            F.max(
                F.struct(
                    F.length("name").alias("len"),
                    (-F.col("rec_id")).alias("neg_id"),
                )
            ).alias("w"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        )
        .select(
            "cluster",
            (-F.col("w.neg_id")).cast("bigint").alias("canonical_id"),
            "cluster_size",
        )
    )
    canon_names = labeled.select(
        F.col("rec_id").alias("canonical_id"),
        F.col("name").alias("canonical_name"),
    )
    return (
        labeled.join(winners, "cluster")
        .join(canon_names, "canonical_id")
        .select(
            "rec_id",
            "name",
            "cluster",
            "canonical_id",
            "canonical_name",
            "cluster_size",
        )
        .orderBy("rec_id")
    )


def _values_clause(rows: list[tuple]) -> str:
    def _lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    return ",\n    ".join(
        "(" + ", ".join(_lit(v) for v in row) + ")" for row in rows
    )


def _entity_resolution_oracle() -> str:
    """Brute-force O(n^2) DuckDB twin: every pair, exact trigram
    Jaccard, recursive-CTE reachability, window-ranked golden record.
    No prefix filter on this side — equality with the Spark plan is
    the losslessness proof."""
    return rf"""
WITH RECURSIVE raw(rec_id, name, city) AS (VALUES
    {_values_clause(ENTITY_ROWS)}
),
norm AS (
    SELECT rec_id, name,
           array_to_string(list_sort({tokenize_sql('name')}), ' ') AS nm
    FROM raw
),
grams AS (
    SELECT rec_id, name,
           list_distinct(list_transform(
               range(1, greatest(len(nm) - {ER_NGRAM - 1}, 1) + 1),
               i -> substr(nm, i, {ER_NGRAM}))) AS g
    FROM norm
),
pairs AS (
    SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
           CAST(floor(
               len(list_intersect(a.g, b.g)) * 1000000.0
               / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
               ) AS BIGINT) AS jacc_micro
    FROM grams a JOIN grams b ON a.rec_id < b.rec_id
),
matched AS (
    SELECT rec_a, rec_b FROM pairs
    WHERE jacc_micro >= {ER_JACCARD_T_MICRO}
),
edges AS (
    SELECT rec_a AS src, rec_b AS dst FROM matched
    UNION ALL
    SELECT rec_b AS src, rec_a AS dst FROM matched
),
reach(node, lbl) AS (
    SELECT rec_id, rec_id FROM raw
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
    SELECT node AS rec_id, min(lbl) AS cluster
    FROM reach GROUP BY node
),
ranked AS (
    SELECT l.cluster, r.rec_id, r.name,
           row_number() OVER (
               PARTITION BY l.cluster
               ORDER BY len(r.name) DESC, r.rec_id ASC) AS rn,
           count(*) OVER (PARTITION BY l.cluster) AS cluster_size
    FROM labels l JOIN raw r ON l.rec_id = r.rec_id
),
canon AS (
    SELECT cluster, rec_id AS canonical_id, name AS canonical_name,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
)
SELECT r.rec_id, r.name, l.cluster,
       CAST(c.canonical_id AS BIGINT) AS canonical_id,
       c.canonical_name, c.cluster_size
FROM raw r
JOIN labels l ON r.rec_id = l.rec_id
JOIN canon c ON l.cluster = c.cluster
ORDER BY r.rec_id
"""


ENTITY_RESOLUTION_SQL = _entity_resolution_oracle()


# ── sf-scaled ER: fuzzy customer-name resolution over the real table ─
#
# entity_resolution proves prefix-filter losslessness on a literal
# fixture; this query exercises the SAME blocking → edges → min-label
# CC → golden-record pipeline at data scale, so blocking selectivity
# and the component loop are measured by the bench instead of only
# unit-tested. Names are blocked on everything but their last two
# characters (the fuzzy_name_pairs key); an edge is a blocked pair
# within Levenshtein distance 1.

CUSTOMER_ER_MAX_DIST = 1


def customer_entity_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Golden records from fuzzy customer-name resolution over the
    full ``customer`` table: block on the name minus its last two
    characters (equi-join — the shuffle is an ordinary hash join on
    the blocking key, never O(n²)), connect pairs within edit
    distance CUSTOMER_ER_MAX_DIST, label transitive groups by minimum
    custkey (the dedup_components min-label loop: one join+agg per
    round, O(nodes) state, truncated lineage), and
    reduce each cluster to one golden row.

    Emits per cluster: the canonical key/name (minimum member — names
    are fixed-format so min name ≡ min key), member count, merged
    account balance in exact cents, and distinct nations absorbed —
    the survivorship columns a real MDM pipeline materializes.

    Shape for scale: blocks are bounded by the name format (≤100
    members: the two varied characters), so per-block edge counts are
    constant-bounded and total edges are O(customers); every stage is
    an equi-join or partial+final agg on bounded keys. The DuckDB
    oracle recomputes reachability with a recursive CTE, proving the
    distributed label propagation equals true transitive closure.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    # Pin the pair stage's parallelism (r13, guide §2.5 input skew /
    # §2.6): the block-keyed self-join shuffles only a few MB of
    # names, so AQE's byte-based coalescing folds the post-shuffle
    # stage to 1-2 partitions — and that stage carries the CPU-dense
    # levenshtein over ~50 pairs per row (measured 4.9-7.2 s on 2
    # tasks vs 0.8-1.6 s pinned at sf0.1). Hashing the blocking key
    # into defaultParallelism partitions stays balanced at any scale
    # (block cardinality ≈ |customers|/100 ≫ cores) and only affects
    # this stage: the component loop's joins re-shuffle by key anyway.
    blocked = cust.withColumn(
        "block", F.expr("substring(c_name, 1, length(c_name) - 2)")
    ).repartition(spark.sparkContext.defaultParallelism, "block")
    a, b = blocked.alias("a"), blocked.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
            <= CUSTOMER_ER_MAX_DIST
        )
        .select(
            F.col("a.c_custkey").alias("src"),
            F.col("b.c_custkey").alias("dst"),
        )
    )
    from parquet_extractor_spark.functions.graph import (
        min_label_components,
    )

    labels = min_label_components(
        cust.select("c_custkey"),
        edges,
        id_col="c_custkey",
        label_col="component",
    )
    return (
        cust.join(labels, "c_custkey")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("c_name").alias("canonical_name"),
            F.sum("cents").cast("bigint").alias("total_acctbal_cents"),
            F.countDistinct("c_nationkey")
            .cast("bigint")
            .alias("n_nations"),
        )
        .select(
            F.col("component").cast("bigint").alias("component"),
            "n_members",
            "canonical_name",
            "total_acctbal_cents",
            "n_nations",
        )
        .orderBy("component")
    )


CUSTOMER_ENTITY_RESOLUTION_SQL = rf"""
WITH RECURSIVE cust AS (
    SELECT c_custkey, c_name, c_nationkey,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
           substring(c_name, 1, length(c_name) - 2) AS block
    FROM customer
),
edges0 AS (
    SELECT a.c_custkey AS src, b.c_custkey AS dst
    FROM cust a JOIN cust b
      ON a.block = b.block AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {CUSTOMER_ER_MAX_DIST}
),
edges AS (
    SELECT src, dst FROM edges0
    UNION ALL
    SELECT dst, src FROM edges0
),
reach(node, lbl) AS (
    SELECT c_custkey, c_custkey FROM cust
    UNION
    SELECT e.dst, r.lbl
    FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
    SELECT node AS c_custkey, min(lbl) AS component
    FROM reach GROUP BY node
)
SELECT CAST(l.component AS BIGINT) AS component,
       CAST(count(*) AS BIGINT) AS n_members,
       min(c.c_name) AS canonical_name,
       CAST(sum(c.cents) AS BIGINT) AS total_acctbal_cents,
       CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS n_nations
FROM labels l JOIN cust c ON l.c_custkey = c.c_custkey
GROUP BY l.component
ORDER BY component
"""
