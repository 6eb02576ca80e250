"""Relational operator surface (SURVEY.md §2.3-2.7: J3/J4, A7-A9, W1,
L5/L6, U2).

The reference has no joins, group-bys, windows, or sorts — this module
is the driver-mandated extension, expressed as declarative DataFrame
plans so Catalyst owns the physical strategy:

- Small dimensions (region/nation/supplier/part at any SF: they grow
  sub-linearly) are explicitly ``broadcast()`` — no shuffle of the fact
  table for those joins even at 100 TB.
- Fact-fact joins (orders⋈lineitem, orders⋈customer) shuffle on the
  join key; AQE handles skew and post-shuffle partition sizing.
- Filters appear before joins in the plan text but Catalyst pushes them
  into the parquet scan regardless (verify: ``PushedFilters`` in
  ``.explain("formatted")``).
- Top-k = ``orderBy().limit(k)`` → TakeOrderedAndProject (per-partition
  heaps + single merge, never a global sort).

Timestamps in oracle-compared outputs are emitted as epoch seconds
(bigint) — engine-neutral, avoids tz-normalization hash mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.windows import bounded_global_window

from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: scan-side filter
    (pushed to parquet), one hash-agg keyed on (returnflag, linestatus).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = r"""
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)      AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)      AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4)      AS avg_disc,
       count(*)                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: customer(filtered segment) ⋈ orders ⋈ lineitem,
    revenue per order, top 10. customer is small relative to the facts
    → broadcast; orders⋈lineitem shuffles on orderkey (the natural
    co-partition key — at scale both facts would be bucketed on it).
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15")
    )
    return (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = r"""
SELECT l_orderkey,
       epoch(o_orderdate)::BIGINT AS o_orderdate_epoch,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join. The dimension chain
    region→nation→customer/supplier is broadcast end-to-end; only
    orders⋈lineitem shuffles. Catalyst folds the two broadcast hash
    joins into the same stage as the fact scan."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = r"""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def top_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part ⋈ lineitem keyed on partkey — part is broadcast so the
    600k/600M-row fact never shuffles; agg on the low-cardinality
    brand key."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
    )


TOP_BRANDS_SQL = r"""
SELECT p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY revenue DESC, p_brand ASC
"""


def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function surface (SURVEY W1): rank each customer's orders
    by totalprice, keep the top one. Single shuffle on o_custkey; the
    rank filter is evaluated streaming within each partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("top_totalprice"),
        )
        .orderBy("o_custkey")
    )


TOP_ORDER_PER_CUSTOMER_SQL = r"""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS top_totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
)
WHERE rn = 1
ORDER BY o_custkey
"""


def customer_order_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame surface (W1): cumulative spend per customer over
    order dates — ROWS UNBOUNDED PRECEDING frame, plus lag for the gap
    to the previous order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            F.round(
                F.sum("o_totalprice").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ).alias("cum_spend"),
            F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


RUNNING_TOTALS_SQL = r"""
SELECT o_custkey,
       o_orderkey,
       epoch(o_orderdate)::BIGINT AS o_orderdate_epoch,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend,
       lag(o_orderkey, 1) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
FROM orders
ORDER BY o_custkey, o_orderkey
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface (SURVEY J1/J2/U2): customers with no orders
    in 1995 (every fixture customer has SOME order, so the unrestricted
    variant is vacuous). The distinct custkey set is aggregated before
    the join, so the anti-join's build side is small → broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01")
    )
    return (
        cust.join(
            orders.select("o_custkey").distinct(),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = r"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01')
ORDER BY c_custkey
"""


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join surface (J4): orders that have at least one late
    lineitem (shipdate > orderdate + 90 days), counted by priority."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
    return (
        orders.join(
            late.select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_SQL = r"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderkey IN (
    SELECT l_orderkey
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def segment_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (A9): rollup over (mktsegment, nation) —
    per-nation, per-segment subtotals and the grand total in one pass."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("c_mktsegment", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
        )
    )


SEGMENT_ROLLUP_SQL = r"""
SELECT c_mktsegment, n_name,
       count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (c_mktsegment, n_name)
ORDER BY c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events table (SURVEY F17 /
    ST1's batch shape): tumbling 1-hour windows via date_trunc. This is
    the exact aggregation the streaming module runs incrementally."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_epoch", "event_type")
    )


EVENTS_HOURLY_SQL = r"""
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY hour_epoch, event_type
"""


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (F17): pull props.k out of the JSON
    string column, aggregate per event_type. get_json_object is a
    codegen'd expression — no UDF."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = r"""
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def part_type_distinct_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregate surface (A8): exact distinct brand count per
    part type. (approx_count_distinct is exposed too but not
    oracle-compared — HLL sketches differ across engines.)"""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(
            F.countDistinct("p_brand").alias("n_brands"),
            F.count("*").alias("n_parts"),
        )
        .orderBy("p_type")
    )


PART_TYPE_DISTINCT_SQL = r"""
SELECT p_type,
       count(DISTINCT p_brand) AS n_brands,
       count(*) AS n_parts
FROM part
GROUP BY p_type
ORDER BY p_type
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets surface (SURVEY §2.5 A9, completing the
    rollup in segment_stats_rollup): all 4 grouping combinations of
    (event_type, day-of-week) in ONE pass — Catalyst expands the cube
    into an Expand node feeding a single hash aggregation, so the scan
    isn't repeated per grouping set.

    Spark dayofweek() is 1=Sunday; DuckDB's is 0=Sunday — the -1 shift
    aligns them. NULL grouping keys are coalesced to sentinel labels so
    the subtotal rows hash identically across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        "value",
    )
    return (
        base.cube("event_type", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("dow").cast("int").alias("g_dow"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "n_events",
            "total_value",
            "g_type",
            "g_dow",
        )
        .orderBy("g_type", "g_dow", "event_type", "dow")
    )


EVENTS_CUBE_SQL = r"""
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(dayofweek(ts), -1) AS dow,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       CAST(GROUPING(event_type) AS INTEGER) AS g_type,
       CAST(GROUPING(dayofweek(ts)) AS INTEGER) AS g_dow
FROM events
GROUP BY CUBE (event_type, dayofweek(ts))
ORDER BY g_type, g_dow, event_type, dow
"""


def events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (SURVEY §2.5 A8 scale path): HLL++ distinct
    users per event type. At 100 TB this replaces countDistinct's
    per-key exact dedup shuffle with fixed-size sketches merged
    map-side — memory O(1/rsd²) per key instead of O(distinct values).

    HLL sketch estimates aren't bit-identical across engines, so the
    raw estimate can't be oracle-hashed. Instead each engine computes
    its OWN sketch estimate alongside the exact count and emits the
    deterministic accuracy verdict ``approx_within_5pct`` — both
    engines' sketches sit well inside 5% at rsd=0.02, so the boolean
    (and the exact count) hash-match while the sketch path stays
    genuinely exercised. The tighter 2% empirical bound is asserted in
    tests/test_relational_oracle.py.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        )
        .select(
            "event_type",
            "n_users",
            (
                F.abs(F.col("_approx") - F.col("n_users"))
                <= 0.05 * F.col("n_users")
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


EVENTS_APPROX_USERS_SQL = r"""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
           <= 0.05 * count(DISTINCT user_id) AS approx_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (SURVEY §2.5 A8 exact path)
    — the oracle-able twin of :func:`events_approx_users`. Spark
    plans count(DISTINCT) as a two-stage expand+partial-agg (no
    driver-side dedup); at 100 TB the shuffle carries one row per
    (event_type, user_id) after map-side dedup, which is the best an
    exact answer can do. The sketch variant above is the scale path
    when 2% error is acceptable."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


EVENTS_DISTINCT_USERS_SQL = r"""
SELECT event_type,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue change from discount adjustments — a pure
    filter + global aggregate. The showcase pushdown query: all three
    range predicates reach the parquet scan (PushedFilters), the scan
    reads 4 of 11 lineitem columns, and the aggregate is one
    partial+final pass. At 100 TB this plan touches only row groups
    whose min/max stats overlap 1995 — the scan cost tracks the
    selected year, not the table."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


Q6_SQL = r"""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
  AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution bucketing windows (ntile + percent_rank): customers
    ranked by lifetime order value, split into quartiles, summarized
    per quartile. Two window passes over one spend aggregation, both
    on the same global ordering — Catalyst evaluates them in a single
    Window operator. The global (unpartitioned) window is fine HERE
    because the windowed input is one row per customer, already
    reduced by the groupBy; never run an unpartitioned window over raw
    fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    w = bounded_global_window(F.desc("total_spend"), F.asc("o_custkey"))
    ranked = spend.select(
        "o_custkey",
        "total_spend",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )
    return (
        ranked.groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("total_spend"), 2).alias("quartile_spend"),
            F.round(F.min("pct_rank"), 6).alias("min_pct_rank"),
        )
        .orderBy("quartile")
    )


CUSTOMER_VALUE_QUARTILES_SQL = r"""
WITH spend AS (
    SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
    FROM orders
    GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, total_spend,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank
    FROM spend
    WINDOW w AS (ORDER BY total_spend DESC, o_custkey ASC)
)
SELECT quartile,
       count(*) AS n_customers,
       round(sum(total_spend), 2) AS quartile_spend,
       round(min(pct_rank), 6) AS min_pct_rank
FROM ranked
GROUP BY quartile
ORDER BY quartile
"""


def customer_activity_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: per-customer order counts in 1995 vs
    2000, keeping customers active in EITHER year (nulls → 0 on the
    missing side). Shuffles both pre-aggregated sides on the join key;
    at scale both inputs are already reduced to one row per customer
    before the join, so the exchange carries counts, not orders."""
    orders = load_table(spark, sf_dir, "orders")

    def _per_year(year: int, alias: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    a = _per_year(1995, "n_1995")
    b = _per_year(2000, "n_2000")
    return (
        a.join(b, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("n_1995", F.lit(0)).alias("n_1995"),
            F.coalesce("n_2000", F.lit(0)).alias("n_2000"),
        )
        .orderBy("o_custkey")
    )


CUSTOMER_ACTIVITY_FULL_SQL = r"""
WITH a AS (
    SELECT o_custkey, count(*) AS n_1995
    FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
),
b AS (
    SELECT o_custkey, count(*) AS n_2000
    FROM orders WHERE year(o_orderdate) = 2000 GROUP BY o_custkey
)
SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
       coalesce(n_1995, 0) AS n_1995,
       coalesce(n_2000, 0) AS n_2000
FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
ORDER BY o_custkey
"""


def brand_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (TPC-H Q17): lineitems whose
    quantity is below 20% of their part's average quantity, revenue per
    brand. Decorrelated the Spark way: one hash-agg builds the per-part
    threshold (one row per part — sub-linear vs lineitem), then joins
    back to lineitem on l_partkey. Catalyst broadcasts the threshold
    table (verified: BroadcastHashJoin BuildRight), so the probe-side
    lineitem scan is never shuffled for the join; if thresholds outgrow
    the broadcast limit at extreme part counts, AQE falls back to a
    sort-merge join on the same l_partkey hash the aggregation already
    produced. part is explicitly broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    thresholds = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_small_lines"),
        )
        .orderBy("p_brand")
    )


BRAND_SMALL_QTY_SQL = r"""
WITH thresholds AS (
    SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
    FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_small_lines
FROM lineitem
JOIN thresholds USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < qty_threshold
GROUP BY p_brand
ORDER BY p_brand
"""


def orders_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.5 A9, completing rollup+cube):
    hand-picked sets ((priority, year), (year), ()) — the asymmetric
    case neither rollup nor cube expresses. Same single-pass execution:
    one Expand node feeding one partial+final hash-agg, so the orders
    scan is not repeated per set. NULL grouping keys are coalesced to
    sentinel labels so subtotal rows hash identically across engines."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        "o_totalprice",
    )
    return (
        base.groupingSets(
            [["o_orderpriority", "order_year"], ["order_year"], []],
            "o_orderpriority",
            "order_year",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("order_year").cast("int").alias("g_year"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("order_year", F.lit(-1)).alias("order_year"),
            "n_orders",
            "total_price",
            "g_priority",
            "g_year",
        )
        .orderBy("g_priority", "g_year", "o_orderpriority", "order_year")
    )


ORDERS_GROUPING_SETS_SQL = r"""
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(year(o_orderdate), -1) AS order_year,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, year(o_orderdate)),
                        (year(o_orderdate)), ())
ORDER BY g_priority, g_year, o_orderpriority, order_year
"""


def region_nation_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped string aggregation (listagg/string_agg): sorted
    comma-joined nation roster per region. Spark's listagg has
    nondeterministic intra-group order, so the deterministic
    cross-engine form is sort_array(collect_list(...)) + array_join —
    order-insensitive input, byte-identical output on both engines.
    collect_list state is bounded by group cardinality (25 nations);
    only safe for low-cardinality groups — unbounded groups should
    aggregate counts instead (see events_cube)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
        )
        .orderBy("r_name")
    )


REGION_NATION_ROSTER_SQL = r"""
SELECT r_name,
       count(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def part_affinity_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (Agrawal &
    Srikant's Apriori output shape at the pair level): for brand pairs
    co-purchased in the same order, directional support / confidence /
    lift. The retail cousin of pmi_top_pairs — co-occurrence lift over
    transactions instead of token windows.

    Scale shape: baskets are (order, brand) DISTINCT pairs — the part
    dim joins in as a broadcast; pair generation is a self-join on
    l_orderkey where each side of any order holds ≤ basket-size rows
    (TPC-H: ≤ 13), so the join output is bounded by orders × B², never
    a cross product. Counts roll up with partial aggs keyed by the
    bounded brand² space; the total-orders and per-brand tables are
    1-row / |brands|-row broadcasts. All three metrics are integer
    micro-units computed with BIGINT division (`div`) so both engines
    agree bit-for-bit — no float in the metric path.

    Output: (antecedent, consequent, pair_orders, support_micro,
    confidence_micro, lift_micro) for pairs seen in ≥ 3 orders.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # persist: the distinct basket frame feeds FOUR consumers below
    # (total, item, both sides of the pair self-join); unpersisted,
    # each re-ran the lineitem scan + broadcast join + distinct
    # shuffle (r12). Bounded by orders × brands-per-order.
    baskets = materialize(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    total = baskets.select(
        F.count_distinct("l_orderkey").cast("bigint").alias("total_orders")
    )
    item = baskets.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("brand_orders")
    )
    pairs = (
        baskets.alias("a")
        .join(
            baskets.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") != F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("antecedent"),
            F.col("b.brand").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_orders"))
        .where(F.col("pair_orders") >= 3)
    )
    ant = item.select(
        F.col("brand").alias("antecedent"),
        F.col("brand_orders").alias("ant_orders"),
    )
    cons = item.select(
        F.col("brand").alias("consequent"),
        F.col("brand_orders").alias("cons_orders"),
    )
    return (
        pairs.join(F.broadcast(ant), "antecedent")
        .join(F.broadcast(cons), "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "pair_orders",
            F.expr("pair_orders * 1000000 div total_orders")
            .cast("bigint")
            .alias("support_micro"),
            F.expr("pair_orders * 1000000 div ant_orders")
            .cast("bigint")
            .alias("confidence_micro"),
            F.expr(
                "pair_orders * total_orders * 1000000"
                " div (ant_orders * cons_orders)"
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("antecedent", "consequent")
    )


PART_AFFINITY_RULES_SQL = """
WITH baskets AS (
    SELECT DISTINCT l_orderkey, p_brand AS brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
total AS (
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS total_orders
    FROM baskets
),
item AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS brand_orders
    FROM baskets GROUP BY brand
),
pairs AS (
    SELECT a.brand AS antecedent, b.brand AS consequent,
           CAST(count(*) AS BIGINT) AS pair_orders
    FROM baskets a
    JOIN baskets b ON a.l_orderkey = b.l_orderkey
                   AND a.brand != b.brand
    GROUP BY 1, 2
    HAVING count(*) >= 3
)
SELECT antecedent, consequent, pair_orders,
       CAST(pair_orders * 1000000 // total_orders AS BIGINT)
           AS support_micro,
       CAST(pair_orders * 1000000 // ant.brand_orders AS BIGINT)
           AS confidence_micro,
       CAST(pair_orders * total_orders * 1000000
            // (ant.brand_orders * cons.brand_orders) AS BIGINT)
           AS lift_micro
FROM pairs
JOIN item ant ON ant.brand = antecedent
JOIN item cons ON cons.brand = consequent
CROSS JOIN total
ORDER BY antecedent, consequent
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (Hughes' recency/frequency/monetary recipe):
    per-customer last-order epoch, order count, and lifetime spend,
    each scored 1-4 against its own quartile cutoffs, plus a coarse
    segment label.

    Scale-safe scoring: a global ``ntile`` would total-sort customers
    through one partition; instead the nine quartile cutoffs (3
    metrics × 3 quantiles) are ONE broadcast 1-row aggregate and each
    score is a map-side comparison (the curriculum_phases shape).
    Spend folds to integer micro-units per row BEFORE summing so the
    aggregate is order-independent and engine-exact.

    Output: (o_custkey, last_order_epoch, n_orders, spend_micro,
    r_score, f_score, m_score, segment), one row per customer with
    orders.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate"))
        .cast("bigint")
        .alias("last_order_epoch"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
        .cast("bigint")
        .alias("spend_micro"),
    )
    metrics = ("last_order_epoch", "n_orders", "spend_micro")
    cuts = per_cust.agg(
        *[
            F.percentile(F.col(m).cast("double"), F.lit(q)).alias(
                f"{m}_c{int(q * 100)}"
            )
            for m in metrics
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(m: str) -> F.Column:
        return (
            F.lit(1)
            + (F.col(m) > F.col(f"{m}_c25")).cast("int")
            + (F.col(m) > F.col(f"{m}_c50")).cast("int")
            + (F.col(m) > F.col(f"{m}_c75")).cast("int")
        ).cast("bigint")

    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "last_order_epoch",
        "n_orders",
        "spend_micro",
        score("last_order_epoch").alias("r_score"),
        score("n_orders").alias("f_score"),
        score("spend_micro").alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") >= 3)
            & (F.col("f_score") >= 3)
            & (F.col("m_score") >= 3),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "recent")
        .otherwise("regular")
    )
    return scored.withColumn("segment", segment).orderBy("o_custkey")


CUSTOMER_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(floor(epoch(max(o_orderdate))) AS BIGINT)
               AS last_order_epoch,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT))
               AS BIGINT) AS spend_micro
    FROM orders
    GROUP BY o_custkey
),
cuts AS (
    SELECT
      quantile_cont(CAST(last_order_epoch AS DOUBLE), 0.25) AS r_c25,
      quantile_cont(CAST(last_order_epoch AS DOUBLE), 0.5)  AS r_c50,
      quantile_cont(CAST(last_order_epoch AS DOUBLE), 0.75) AS r_c75,
      quantile_cont(CAST(n_orders AS DOUBLE), 0.25) AS f_c25,
      quantile_cont(CAST(n_orders AS DOUBLE), 0.5)  AS f_c50,
      quantile_cont(CAST(n_orders AS DOUBLE), 0.75) AS f_c75,
      quantile_cont(CAST(spend_micro AS DOUBLE), 0.25) AS m_c25,
      quantile_cont(CAST(spend_micro AS DOUBLE), 0.5)  AS m_c50,
      quantile_cont(CAST(spend_micro AS DOUBLE), 0.75) AS m_c75
    FROM per_cust
),
scored AS (
    SELECT o_custkey, last_order_epoch, n_orders, spend_micro,
           CAST(1 + CAST(last_order_epoch > r_c25 AS INT)
                  + CAST(last_order_epoch > r_c50 AS INT)
                  + CAST(last_order_epoch > r_c75 AS INT) AS BIGINT)
               AS r_score,
           CAST(1 + CAST(n_orders > f_c25 AS INT)
                  + CAST(n_orders > f_c50 AS INT)
                  + CAST(n_orders > f_c75 AS INT) AS BIGINT) AS f_score,
           CAST(1 + CAST(spend_micro > m_c25 AS INT)
                  + CAST(spend_micro > m_c50 AS INT)
                  + CAST(spend_micro > m_c75 AS INT) AS BIGINT) AS m_score
    FROM per_cust, cuts
)
SELECT *,
       CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
                THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score >= 3 AND f_score <= 2 THEN 'recent'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY o_custkey
"""


def supplier_concentration_hhi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supply-chain concentration: the Herfindahl–Hirschman index of
    supplier quantity share per part type — the single-number "how
    fragile is this part's supply" risk signal (HHI ≥ 2500 micro-scale
    = concentrated, the DOJ threshold).

    Exactness across engines: per-(type, supplier) quantity folds to
    integer units map-side; each supplier's share is a BIGINT `div`
    micro-unit (qty·1e6 div total — total ≥ 1 always since
    l_quantity ≥ 1, so the divisor can never be 0) and the HHI is
    Σ share² div 1e6 — pure integer arithmetic end to end. Because
    shares are bounded by 1e6, Σ share² ≤ 1e12 regardless of scale
    factor: no intermediate can overflow BIGINT (the earlier
    Σ qty²·1e6 form could, and NULLed out when total < 1000).
    Shape: partial+final supplier agg, a window total over the
    supplier-bounded type partition, then a final type agg; the part
    dim broadcasts into the lineitem scan. Output: one row per type.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    per_supp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty")
        )
    )
    shares = per_supp.withColumn(
        "total_qty",
        F.sum("qty").over(Window.partitionBy("p_type")).cast("bigint"),
    ).withColumn(
        "share_micro", F.expr("qty * 1000000 div total_qty")
    )
    return (
        shares.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.max("total_qty").cast("bigint").alias("total_qty"),
            F.expr("sum(share_micro * share_micro) div 1000000")
            .cast("bigint")
            .alias("hhi_micro"),
        )
        .orderBy("p_type")
    )


SUPPLIER_CONCENTRATION_HHI_SQL = """
WITH per_supp AS (
    SELECT p_type, l_suppkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
),
shares AS (
    SELECT p_type, qty,
           CAST(sum(qty) OVER (PARTITION BY p_type) AS BIGINT) AS total_qty
    FROM per_supp
)
SELECT p_type,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(max(total_qty) AS BIGINT) AS total_qty,
       CAST(sum((qty * 1000000 // total_qty) * (qty * 1000000 // total_qty))
            // 1000000 AS BIGINT) AS hhi_micro
FROM shares
GROUP BY p_type
ORDER BY p_type
"""


def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile — the Pareto
    ("what share of customers produce 80% of revenue") report.

    Scale-safe shape: the naive form sorts every customer by revenue
    through one partition for a cumulative share; here the nine
    decile cutoffs come from ONE broadcast 1-row percentile aggregate
    over the per-customer reduction, decile assignment is a map-side
    comparison sum (the curriculum_phases / RFM decorrelation), and
    the cumulative share runs over the 10-row decile aggregate via
    the sanctioned bounded global window. Revenue folds to integer
    micro-units per row; shares are BIGINT `div` micro arithmetic.

    Output: (revenue_decile 1..10 ascending, n_customers,
    revenue_micro, share_micro, cum_share_micro).
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    qs = [i / 10 for i in range(1, 10)]
    cuts = per_cust.agg(
        *[
            F.percentile(F.col("rev").cast("double"), F.lit(q)).alias(
                f"c{int(q * 100)}"
            )
            for q in qs
        ]
    )
    decile = F.lit(1)
    for q in qs:
        decile = decile + (F.col("rev") > F.col(f"c{int(q * 100)}")).cast(
            "int"
        )
    by_decile = (
        per_cust.crossJoin(F.broadcast(cuts))
        .select(decile.cast("bigint").alias("revenue_decile"), "rev")
        .groupBy("revenue_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("rev").cast("bigint").alias("revenue_micro"),
        )
    )
    w = bounded_global_window("revenue_decile")
    return (
        by_decile.crossJoin(
            F.broadcast(
                per_cust.agg(
                    F.sum(F.expr("rev div 1000000"))
                    .cast("bigint")
                    .alias("total_units")
                )
            )
        )
        .select(
            "revenue_decile",
            "n_customers",
            "revenue_micro",
            F.expr(
                "(revenue_micro div 1000000) * 1000000 div total_units"
            )
            .cast("bigint")
            .alias("share_micro"),
            F.sum(F.expr("revenue_micro div 1000000"))
            .over(w)
            .alias("_cum_units"),
            F.col("total_units"),
        )
        .select(
            "revenue_decile",
            "n_customers",
            "revenue_micro",
            "share_micro",
            F.expr("_cum_units * 1000000 div total_units")
            .cast("bigint")
            .alias("cum_share_micro"),
        )
        .orderBy("revenue_decile")
    )


CUSTOMER_REVENUE_PARETO_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT))
               AS BIGINT) AS rev
    FROM orders
    GROUP BY o_custkey
),
cuts AS (
    SELECT
      quantile_cont(CAST(rev AS DOUBLE), 0.1) AS c10,
      quantile_cont(CAST(rev AS DOUBLE), 0.2) AS c20,
      quantile_cont(CAST(rev AS DOUBLE), 0.3) AS c30,
      quantile_cont(CAST(rev AS DOUBLE), 0.4) AS c40,
      quantile_cont(CAST(rev AS DOUBLE), 0.5) AS c50,
      quantile_cont(CAST(rev AS DOUBLE), 0.6) AS c60,
      quantile_cont(CAST(rev AS DOUBLE), 0.7) AS c70,
      quantile_cont(CAST(rev AS DOUBLE), 0.8) AS c80,
      quantile_cont(CAST(rev AS DOUBLE), 0.9) AS c90
    FROM per_cust
),
total AS (
    SELECT CAST(sum(rev // 1000000) AS BIGINT) AS total_units
    FROM per_cust
),
by_decile AS (
    SELECT CAST(1 + CAST(rev > c10 AS INT) + CAST(rev > c20 AS INT)
              + CAST(rev > c30 AS INT) + CAST(rev > c40 AS INT)
              + CAST(rev > c50 AS INT) + CAST(rev > c60 AS INT)
              + CAST(rev > c70 AS INT) + CAST(rev > c80 AS INT)
              + CAST(rev > c90 AS INT) AS BIGINT) AS revenue_decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev) AS BIGINT) AS revenue_micro
    FROM per_cust, cuts
    GROUP BY 1
)
SELECT revenue_decile, n_customers, revenue_micro,
       CAST((revenue_micro // 1000000) * 1000000 // total_units
            AS BIGINT) AS share_micro,
       CAST(sum(revenue_micro // 1000000) OVER (
               ORDER BY revenue_decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000 // total_units AS BIGINT) AS cum_share_micro
FROM by_decile, total
ORDER BY revenue_decile
"""


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each market
    segment — the single-number inequality complement to
    customer_revenue_pareto's decile curve (a segment whose Gini
    climbs between snapshots is concentrating into whales; a
    training-data pipeline runs the identical statistic over
    per-source token budgets to audit mixing skew).

    EXACT via the rank formula on ascending-sorted revenue x_1..x_n:
        G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x)
    The rank products are summed in DECIMAL(38,0) (DuckDB HUGEINT) —
    Σ i·x reaches n²·x̄, which wraps int64 near ~30M customers — and
    the single final division is the micro-unit integer div, so both
    engines agree bit for bit (same DECIMAL↔HUGEINT pairing as
    source_length_ks). Equal revenues: any permutation of tied x
    leaves Σ i·x unchanged, so the custkey tiebreak is determinism
    only, not a semantic choice.

    Shape for scale: one partial+final agg reduces orders to
    per-customer revenue; the segment join is key-partitioned; the
    rank is a window partitioned BY SEGMENT (bounded by the largest
    segment, never a global sort); the final agg emits |segments|
    rows. Revenue folds to whole currency units before ranking so the
    DECIMAL products stay far from the 1e38 ceiling.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
        .cast("bigint")
        .alias("rev_micro")
    )
    seg = per_cust.join(
        customer.select("c_custkey", "c_mktsegment"),
        per_cust.o_custkey == customer.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("mktsegment"),
        "o_custkey",
        F.expr("rev_micro div 1000000").cast("bigint").alias("x"),
    )
    w = Window.partitionBy("mktsegment").orderBy("x", "o_custkey")
    ranked = seg.withColumn("i", F.row_number().over(w).cast("bigint"))
    dec = "decimal(38,0)"
    return (
        ranked.groupBy("mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("x").cast("bigint").alias("revenue_units"),
            F.sum(F.col("i").cast(dec) * F.col("x").cast(dec)).alias("_six"),
        )
        .select(
            "mktsegment",
            "n_customers",
            "revenue_units",
            F.expr(
                "CAST(CASE WHEN revenue_units > 0 THEN "
                "(2 * _six - (CAST(n_customers AS decimal(38,0)) + 1)"
                " * revenue_units) * 1000000 "
                "div (CAST(n_customers AS decimal(38,0)) * revenue_units) "
                "ELSE 0 END AS BIGINT)"
            ).alias("gini_micro"),
        )
        .orderBy("mktsegment")
    )


CUSTOMER_REVENUE_GINI_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT))
               AS BIGINT) // 1000000 AS x
    FROM orders
    GROUP BY o_custkey
),
ranked AS (
    SELECT c.c_mktsegment AS mktsegment, p.x,
           CAST(row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY p.x, p.o_custkey) AS BIGINT) AS i
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
)
SELECT mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(x) AS BIGINT) AS revenue_units,
       CAST(CASE WHEN sum(x) > 0 THEN
            (2 * sum(CAST(i AS HUGEINT) * x)
             - (CAST(count(*) AS HUGEINT) + 1) * sum(x)) * 1000000
            // (CAST(count(*) AS HUGEINT) * sum(x))
            ELSE 0 END AS BIGINT) AS gini_micro
FROM ranked
GROUP BY mktsegment
ORDER BY mktsegment
"""
