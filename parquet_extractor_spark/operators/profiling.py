"""Deequ-style data-quality profiling and constraint verification.

Two engine features a data platform runs before trusting any table
(Schelter et al., "Automating Large-Scale Data Quality Verification",
VLDB 2018 — the public Deequ recipe, re-expressed as plain Spark
aggregates):

* ``column_profile`` / ``events_profile`` — per-column completeness,
  exact distinctness, typed min/max, and string length stats, ALL
  from one scan: every per-column statistic is an expression inside a
  single ``agg`` (count-distincts expand map-side; at 100 TB swap
  ``approx_count_distinct`` in via the ``exact`` flag), producing ONE
  wide row that is exploded into per-column rows — no per-column
  scans, no driver loop.
* ``orders_constraint_checks`` — a declarative constraint suite
  (row-count, key uniqueness, non-null, value range, categorical
  domain, cross-table referential integrity) evaluated as conditional
  aggregates in one pass plus ONE anti-join for the foreign key; the
  verdict table is (constraint, violations, passed), the shape a CI
  gate consumes. Cross-engine determinism: all derived values are
  integers (micro-units / epoch seconds), never engine-formatted
  strings.

Both are the corpus-independent cousins of ``corpus_integrity_audit``
(which gates the docs↔embeddings pair specifically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, local_frame

_MICRO = 1_000_000


def _col_stats(df: DataFrame, name: str, exact: bool = True) -> list[Column]:
    """The per-column statistic expressions for one column — all
    usable inside a single agg over one scan."""
    c = F.col(name)
    dtype = dict(df.dtypes)[name]
    if dtype in ("timestamp", "timestamp_ntz"):
        cls, num = "timestamp", F.unix_timestamp(c) * _MICRO
    elif dtype in ("bigint", "int", "smallint", "tinyint"):
        # widen BEFORE scaling: int32 * 1e6 overflows the column's
        # native type above ~2147 (the timestamp branch already
        # computes in bigint via unix_timestamp)
        cls, num = "int", c.cast("bigint") * _MICRO
    elif dtype in ("double", "float"):
        cls, num = "float", F.floor(c * _MICRO).cast("bigint")
    else:
        cls, num = "string", None
    n_distinct = (
        F.count_distinct(c) if exact else F.approx_count_distinct(c)
    )
    stats = [
        F.count(F.lit(1)).cast("bigint").alias(f"{name}__n"),
        (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(
            f"{name}__nulls"
        ),
        n_distinct.cast("bigint").alias(f"{name}__distinct"),
    ]
    if num is not None:
        stats += [
            F.min(num).cast("bigint").alias(f"{name}__min"),
            F.max(num).cast("bigint").alias(f"{name}__max"),
            F.lit(None).cast("bigint").alias(f"{name}__avglen"),
        ]
    else:
        avglen = F.when(
            F.count(c) > 0,
            (F.sum(F.length(c)) * _MICRO).cast("bigint")
            / F.count(c).cast("bigint"),
        )
        stats += [
            F.lit(None).cast("bigint").alias(f"{name}__min"),
            F.lit(None).cast("bigint").alias(f"{name}__max"),
            F.floor(avglen).cast("bigint").alias(f"{name}__avglen"),
        ]
    return stats, cls


def column_profile(df: DataFrame, exact: bool = True) -> DataFrame:
    """Per-column quality profile of ANY DataFrame in one scan:
    (column, dtype_class, n_rows, n_nulls, n_distinct, min_micro,
    max_micro, avg_len_micro). Numeric/timestamp extrema are integer
    micro-units (timestamps: epoch seconds × 1e6), strings profile
    length instead — no engine-formatted value strings anywhere."""
    exprs: list[Column] = []
    classes: dict[str, str] = {}
    for name in df.columns:
        stats, cls = _col_stats(df, name, exact=exact)
        exprs += stats
        classes[name] = cls
    wide = df.agg(*exprs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column"),
                F.lit(classes[name]).alias("dtype_class"),
                F.col(f"{name}__n").alias("n_rows"),
                F.col(f"{name}__nulls").alias("n_nulls"),
                F.col(f"{name}__distinct").alias("n_distinct"),
                F.col(f"{name}__min").alias("min_micro"),
                F.col(f"{name}__max").alias("max_micro"),
                F.col(f"{name}__avglen").alias("avg_len_micro"),
            )
            for name in df.columns
        ]
    )
    return (
        wide.select(F.explode(rows).alias("p"))
        .select("p.*")
        .orderBy("column")
    )


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiling operator on the events table — one row per
    column. Scale shape: ONE scan; every statistic is a partial+final
    aggregate expression (the count-distincts are the only
    cardinality-bearing state — swap exact=False for HLL at corpus
    scale); the explode runs over a single 1-row frame."""
    return column_profile(load_table(spark, sf_dir, "events"), exact=True)


EVENTS_PROFILE_SQL = f"""
WITH stats AS (
    SELECT 'event_id' AS "column", 'int' AS dtype_class,
           count(*) AS n_rows, count(*) - count(event_id) AS n_nulls,
           count(DISTINCT event_id) AS n_distinct,
           min(event_id) * {_MICRO} AS min_micro,
           max(event_id) * {_MICRO} AS max_micro,
           CAST(NULL AS BIGINT) AS avg_len_micro
    FROM events
    UNION ALL
    SELECT 'ts', 'timestamp', count(*), count(*) - count(ts),
           count(DISTINCT ts),
           CAST(floor(epoch(min(ts))) AS BIGINT) * {_MICRO},
           CAST(floor(epoch(max(ts))) AS BIGINT) * {_MICRO},
           NULL
    FROM events
    UNION ALL
    SELECT 'user_id', 'int', count(*), count(*) - count(user_id),
           count(DISTINCT user_id),
           min(user_id) * {_MICRO}, max(user_id) * {_MICRO}, NULL
    FROM events
    UNION ALL
    SELECT 'event_type', 'string', count(*),
           count(*) - count(event_type), count(DISTINCT event_type),
           NULL, NULL,
           CASE WHEN count(event_type) > 0 THEN
               CAST(floor(CAST(sum(length(event_type)) * {_MICRO} AS DOUBLE)
                    / count(event_type)) AS BIGINT) END
    FROM events
    UNION ALL
    SELECT 'value', 'float', count(*), count(*) - count(value),
           count(DISTINCT value),
           min(CAST(floor(value * {_MICRO}) AS BIGINT)),
           max(CAST(floor(value * {_MICRO}) AS BIGINT)), NULL
    FROM events
    UNION ALL
    SELECT 'props', 'string', count(*), count(*) - count(props),
           count(DISTINCT props), NULL, NULL,
           CASE WHEN count(props) > 0 THEN
               CAST(floor(CAST(sum(length(props)) * {_MICRO} AS DOUBLE)
                    / count(props)) AS BIGINT) END
    FROM events
)
SELECT "column", dtype_class,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(min_micro AS BIGINT) AS min_micro,
       CAST(max_micro AS BIGINT) AS max_micro,
       CAST(avg_len_micro AS BIGINT) AS avg_len_micro
FROM stats
ORDER BY "column"
"""


def orders_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over orders: row count, primary
    key uniqueness, non-null, positive range, categorical domain,
    date window, and o_custkey → customer referential integrity.
    Output: (constraint, violations, passed), ordered.

    Scale shape: the six intra-table checks are conditional
    aggregates in ONE scan (one partial+final agg, 1-row output); the
    foreign-key check is ONE left-anti join on the key (AQE picks
    broadcast when the dim fits, shuffle otherwise) reduced to a
    count. The two 1-row frames cross-join (1×1) and explode into the
    verdict table — nothing driver-side, nothing quadratic."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("bigint")
        .alias("dup_keys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_cust"),
        F.sum(F.when(~(F.col("o_totalprice") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("bad_price"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2002-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_date"),
    )
    orphans = (
        orders.join(
            customer,
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
    )
    wide = base.crossJoin(orphans)
    checks = F.array(
        F.struct(
            F.lit("row_count_positive").alias("constraint"),
            F.when(F.col("n") > 0, F.lit(0).cast("bigint"))
            .otherwise(F.lit(1).cast("bigint"))
            .alias("violations"),
        ),
        F.struct(
            F.lit("unique_o_orderkey").alias("constraint"),
            F.col("dup_keys").alias("violations"),
        ),
        F.struct(
            F.lit("non_null_o_custkey").alias("constraint"),
            F.col("null_cust").alias("violations"),
        ),
        F.struct(
            F.lit("o_totalprice_positive").alias("constraint"),
            F.col("bad_price").alias("violations"),
        ),
        F.struct(
            F.lit("o_orderstatus_domain").alias("constraint"),
            F.col("bad_status").alias("violations"),
        ),
        F.struct(
            F.lit("o_orderdate_in_window").alias("constraint"),
            F.col("bad_date").alias("violations"),
        ),
        F.struct(
            F.lit("o_custkey_references_customer").alias("constraint"),
            F.col("orphans").alias("violations"),
        ),
    )
    return (
        wide.select(F.explode(checks).alias("c"))
        .select(
            "c.constraint",
            "c.violations",
            (F.col("c.violations") == 0).alias("passed"),
        )
        .orderBy("constraint")
    )


ORDERS_CONSTRAINT_CHECKS_SQL = """
WITH base AS (
    SELECT count(*) AS n,
           count(*) - count(DISTINCT o_orderkey) AS dup_keys,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
           sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
               AS bad_price,
           sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1
                    ELSE 0 END) AS bad_status,
           sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                      OR o_orderdate >= TIMESTAMP '2002-01-01'
                    THEN 1 ELSE 0 END) AS bad_date
    FROM orders
),
orph AS (
    SELECT count(*) AS orphans
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
    )
),
checks AS (
    SELECT 'row_count_positive' AS "constraint",
           CASE WHEN n > 0 THEN 0 ELSE 1 END AS violations
    FROM base
    UNION ALL SELECT 'unique_o_orderkey', dup_keys FROM base
    UNION ALL SELECT 'non_null_o_custkey', null_cust FROM base
    UNION ALL SELECT 'o_totalprice_positive', bad_price FROM base
    UNION ALL SELECT 'o_orderstatus_domain', bad_status FROM base
    UNION ALL SELECT 'o_orderdate_in_window', bad_date FROM base
    UNION ALL SELECT 'o_custkey_references_customer', orphans FROM orph
)
SELECT "constraint", CAST(violations AS BIGINT) AS violations,
       violations = 0 AS passed
FROM checks
ORDER BY "constraint"
"""


# ── Benford first-digit audit (data-quality / fraud screen) ──────────

# round(log10(1 + 1/d) * 1e6) for d = 1..9 — plan-time constants
# (they sum to exactly 1,000,000), so the runtime never touches a
# transcendental and the two engines cannot disagree on the expected
# distribution.
BENFORD_MICRO = (
    301_030, 176_091, 124_939, 96_910, 79_181,
    66_947, 57_992, 51_153, 45_757,
)


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: the distribution of
    first significant digits against log10(1 + 1/d) — the standard
    fabricated-data / broken-generator screen for financial columns
    (naturally-grown multiplicative amounts follow Benford; uniform
    or hand-picked ones don't).

    Digit extraction is INTEGER-ONLY: the amount becomes integer
    cents (round(x·100)), and the leading digit is
    ``cents div 10^(len(str(cents)) − 1)`` — integer-to-string
    formatting is engine-stable (unlike double formatting) and no
    log10 runs at runtime, so there is no libm edge at powers of ten.
    Expected shares are the BENFORD_MICRO plan literals. One map-side
    projection + a 9-group agg; the total joins back as a 1-row
    broadcast.

    Output per digit 1-9: n_amounts, obs_share_micro (n·1e6 div
    total), benford_micro, abs_diff_micro; the total-variation
    distance is sum(abs_diff)/2 — left to the reader since the
    9-row table carries it exactly.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.expr(
        "CAST(cents div CAST(pow(10, length(CAST(cents AS STRING)) - 1)"
        " AS BIGINT) AS BIGINT)"
    )
    digits = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(cents.alias("cents"))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_amounts"))
    )
    total = digits.agg(F.sum("n_amounts").alias("total"))
    bench = local_frame(
        spark,
        [(d + 1, m) for d, m in enumerate(BENFORD_MICRO)],
        "digit BIGINT, benford_micro BIGINT",
    )
    return (
        bench.join(digits, "digit", "left")
        .join(F.broadcast(total), how="cross")
        .select(
            "digit",
            F.coalesce("n_amounts", F.lit(0)).cast("bigint").alias(
                "n_amounts"
            ),
            F.expr(
                "CAST(coalesce(n_amounts, 0) * 1000000L div total "
                "AS BIGINT)"
            ).alias("obs_share_micro"),
            "benford_micro",
            F.expr(
                "CAST(abs(coalesce(n_amounts, 0) * 1000000L div total "
                "- benford_micro) AS BIGINT)"
            ).alias("abs_diff_micro"),
        )
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    bench_rows = ",\n    ".join(
        f"({d + 1}, {m})" for d, m in enumerate(BENFORD_MICRO)
    )
    return f"""
WITH cents AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
    FROM orders WHERE o_totalprice > 0
),
digits AS (
    SELECT CAST(c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 1)
               AS BIGINT) AS BIGINT) AS digit,
           CAST(count(*) AS BIGINT) AS n_amounts
    FROM cents GROUP BY 1
),
total AS (SELECT sum(n_amounts) AS total FROM digits),
bench(digit, benford_micro) AS (VALUES
    {bench_rows}
)
SELECT b.digit,
       CAST(coalesce(d.n_amounts, 0) AS BIGINT) AS n_amounts,
       CAST(coalesce(d.n_amounts, 0) * 1000000 // t.total AS BIGINT)
           AS obs_share_micro,
       CAST(b.benford_micro AS BIGINT) AS benford_micro,
       CAST(abs(coalesce(d.n_amounts, 0) * 1000000 // t.total
                - b.benford_micro) AS BIGINT) AS abs_diff_micro
FROM bench b LEFT JOIN digits d ON b.digit = d.digit
CROSS JOIN total t
ORDER BY b.digit
"""


ORDERS_BENFORD_AUDIT_SQL = _benford_oracle()


# (relationship name, child table, child key, parent table, parent key)
FK_RELATIONSHIPS = (
    ("orders.custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def warehouse_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every declared foreign key in
    the warehouse star schema — the cross-TABLE completion of the
    per-column Deequ-style checks (events_profile,
    orders_constraint_checks) and the relational twin of
    corpus_integrity_audit's docs↔embeddings gate. One row per
    relationship: child rows, distinct child keys, NULL keys (counted
    separately — a NULL FK is a modeling decision, not an orphan),
    orphan rows/keys (child keys with no parent), and the orphan
    share. A loader regression that drops a dimension partition shows
    up here before any join silently loses fact rows downstream. An
    empty child reports a zero row: every counter and the share are 0.

    Shape for scale: per relationship, the child reduces FIRST to
    (key, row_count) — so the anti-join against the parent key set is
    keyed on DISTINCT child keys, never fact rows; dimension parents
    broadcast, the two fact-sized parents (orders in rel 2) hash-join
    on the key both sides are already reduced to. The 7 one-row
    summaries union into a 7-row result; each relationship's plan is
    independent (no shared state), so the audit parallelizes across
    its relationships.
    """
    frames = []
    for name, child_t, child_k, parent_t, parent_k in FK_RELATIONSHIPS:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(parent_k).alias("_pk")
        ).distinct()
        keyed = (
            child.select(F.col(child_k).alias("_ck"))
            .groupBy("_ck")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_rows"))
        )
        # ONE left join + ONE aggregate per relationship (r12): the
        # previous shape evaluated `keyed` twice (an anti-join for the
        # orphan tally plus a separate totals aggregate, recombined by
        # cross join) — 98 Exchanges across the 7-relationship plan. A
        # left join against the distinct parent keys preserves keyed's
        # cardinality, so every counter is one conditional sum over it.
        orphan = F.col("_ck").isNotNull() & F.col("_pk").isNull()
        joined = keyed.join(parent, keyed._ck == parent._pk, "left")
        # coalesce(0): sum over an EMPTY child is NULL; the pre-r12
        # shape reported a zero-valued row there, and a loader
        # regression that empties a child is exactly what this audit
        # exists to catch (r12 advice).
        frames.append(
            joined.agg(
                F.coalesce(F.sum("_rows"), F.lit(0))
                .cast("bigint")
                .alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("_ck").isNotNull(), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_keys"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("_ck").isNull(), F.col("_rows"))
                        .otherwise(0)
                    ),
                    F.lit(0),
                ).cast("bigint").alias("n_null_rows"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("_rows")).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_orphan_rows"),
                F.coalesce(
                    F.sum(F.when(orphan, 1).otherwise(0)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_orphan_keys"),
            ).select(
                F.lit(name).alias("relationship"),
                "n_rows",
                "n_keys",
                "n_null_rows",
                "n_orphan_rows",
                "n_orphan_keys",
                # an empty child has no share: 0, not a division by zero
                F.expr(
                    "CAST(coalesce(n_orphan_rows * 1000000L"
                    " div nullif(n_rows, 0), 0) AS BIGINT)"
                ).alias("orphan_share_micro"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("relationship")


def _warehouse_fk_audit_oracle() -> str:
    parts = []
    for name, child_t, child_k, parent_t, parent_k in FK_RELATIONSHIPS:
        parts.append(f"""
SELECT '{name}' AS relationship,
       CAST(coalesce(sum(rows_), 0) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_keys,
       CAST(coalesce(sum(CASE WHEN ck IS NULL THEN rows_ ELSE 0 END), 0)
            AS BIGINT) AS n_null_rows,
       CAST(coalesce(sum(CASE WHEN ck IS NOT NULL AND ck NOT IN
                (SELECT {parent_k} FROM {parent_t}
                 WHERE {parent_k} IS NOT NULL)
                THEN rows_ ELSE 0 END), 0) AS BIGINT) AS n_orphan_rows,
       CAST(coalesce(sum(CASE WHEN ck IS NOT NULL AND ck NOT IN
                (SELECT {parent_k} FROM {parent_t}
                 WHERE {parent_k} IS NOT NULL)
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphan_keys,
       CAST(coalesce(sum(CASE WHEN ck IS NOT NULL AND ck NOT IN
                (SELECT {parent_k} FROM {parent_t}
                 WHERE {parent_k} IS NOT NULL)
                THEN rows_ ELSE 0 END) * 1000000
                // nullif(sum(rows_), 0), 0)
            AS BIGINT) AS orphan_share_micro
FROM (SELECT {child_k} AS ck, count(*) AS rows_
      FROM {child_t} GROUP BY 1)""")
    body = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{body}\n) u ORDER BY relationship"


WAREHOUSE_FK_AUDIT_SQL = _warehouse_fk_audit_oracle()


MAD_K = 5  # flag |x − median| > MAD_K · MAD (≈ 3.4σ for normal data)


def lineitem_price_mad_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust price-outlier screen per brand: median / MAD (median
    absolute deviation) instead of mean / stddev — the estimator pair
    with a 50% breakdown point, so a cluster of corrupt prices cannot
    mask itself by inflating the spread (exactly the failure mode of
    brand_price_stats' stddev and the z-score anomaly family). The
    row-level rule |x − med| > MAD_K·MAD is the standard "Hampel
    identifier".

    EXACT: prices fold to cents; both medians are LOWER medians
    (rank ⌈n/2⌉ — no interpolation float, same convention as
    brand_price_rank_assoc); the flag compare is pure integers. The
    MAD = 0 degenerate (>50% of a brand at one price) flags every
    deviating row, the documented Hampel behavior.

    Shape for scale: two ranking windows partitioned BY BRAND (each
    bounded by the brand's line count), one broadcast-joined median
    table between them, and a final per-brand agg. The part dim
    broadcasts onto the fact scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    # persist both shared frames (r12): `priced` feeds the median
    # window AND the deviation join; `dev` feeds the MAD window AND
    # the final aggregate — unpersisted, the fact scan + broadcast
    # join ran three times and the deviation join twice. Narrow
    # (brand, cents) rows.
    priced = materialize(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
            "p_brand",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy("cents")
    w_b = Window.partitionBy("p_brand")
    med = (
        priced.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w_b))
        .filter(F.expr("rn = (cnt + 1) div 2"))
        .select("p_brand", F.col("cents").alias("med_cents"))
    )
    dev = materialize(
        priced.join(F.broadcast(med), "p_brand").select(
            "p_brand",
            "cents",
            "med_cents",
            F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
        )
    )
    w_d = Window.partitionBy("p_brand").orderBy("adev")
    mad = (
        dev.withColumn("rn", F.row_number().over(w_d))
        .withColumn("cnt", F.count(F.lit(1)).over(w_b))
        .filter(F.expr("rn = (cnt + 1) div 2"))
        .select("p_brand", F.col("adev").alias("mad_cents"))
    )
    return (
        dev.join(F.broadcast(mad), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.first("med_cents").cast("bigint").alias("median_cents"),
            F.first("mad_cents").cast("bigint").alias("mad_cents"),
            F.sum(
                (F.col("adev") > F.lit(MAD_K) * F.col("mad_cents"))
                .cast("bigint")
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "p_brand",
            "n_items",
            "median_cents",
            "mad_cents",
            "n_outliers",
            F.expr(
                "CAST(n_outliers * 1000000L div n_items AS BIGINT)"
            ).alias("outlier_share_micro"),
        )
        .orderBy("p_brand")
    )


LINEITEM_PRICE_MAD_OUTLIERS_SQL = rf"""
WITH priced AS (
    SELECT p.p_brand,
           CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
med AS (
    SELECT p_brand, cents AS med_cents
    FROM (
        SELECT p_brand, cents,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY p_brand) AS cnt
        FROM priced
    )
    WHERE rn = (cnt + 1) // 2
),
dev AS (
    SELECT pr.p_brand, pr.cents, m.med_cents,
           abs(pr.cents - m.med_cents) AS adev
    FROM priced pr JOIN med m ON pr.p_brand = m.p_brand
),
mad AS (
    SELECT p_brand, adev AS mad_cents
    FROM (
        SELECT p_brand, adev,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY adev) AS rn,
               count(*) OVER (PARTITION BY p_brand) AS cnt
        FROM dev
    )
    WHERE rn = (cnt + 1) // 2
)
SELECT d.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(min(d.med_cents) AS BIGINT) AS median_cents,
       CAST(min(md.mad_cents) AS BIGINT) AS mad_cents,
       CAST(sum(CAST(d.adev > {MAD_K} * md.mad_cents AS BIGINT))
           AS BIGINT) AS n_outliers,
       CAST(sum(CAST(d.adev > {MAD_K} * md.mad_cents AS BIGINT))
            * 1000000 // count(*) AS BIGINT) AS outlier_share_micro
FROM dev d JOIN mad md ON d.p_brand = md.p_brand
GROUP BY d.p_brand
ORDER BY d.p_brand
"""
