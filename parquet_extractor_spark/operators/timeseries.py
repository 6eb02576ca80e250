"""Time-series operators the reference lacks entirely (SURVEY §2.3 J4,
§2.9): as-of join, sessionization, pivot, per-group distribution stats.

All formulated as window/aggregate plans that shuffle once on their
natural key (user_id / brand / day) — the partitioning a 100 TB events
table would already be bucketed by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.windows import bounded_global_window
from parquet_extractor_spark.sources.tables import load_table, local_frame

SESSION_GAP_MIN = 30


def asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the most recent prior (or
    simultaneous) 'view' event of the same user.

    Spark has no ASOF JOIN operator; the scalable formulation is the
    union-and-window trick: tag both streams, sort within user, carry
    the last view timestamp forward with last(ignorenulls) — ONE
    shuffle on user_id, no range-join explosion. (DuckDB's native
    ASOF JOIN would also work oracle-side; the window form is used in
    both engines so the plans are comparable.)
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("purchase_epoch"),
            F.unix_timestamp("last_view_ts").alias("last_view_epoch"),
            (
                F.unix_timestamp("ts") - F.unix_timestamp("last_view_ts")
            ).alias("gap_seconds"),
        )
        .orderBy("event_id")
    )


ASOF_SQL = r"""
WITH tagged AS (
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN event_type = 'view' THEN ts END AS view_ts
    FROM events
    WHERE event_type IN ('view', 'purchase')
),
carried AS (
    SELECT *,
           last_value(view_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
    FROM tagged
)
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch,
       CAST(floor(epoch(last_view_ts)) AS BIGINT) AS last_view_epoch,
       CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(last_view_ts)) AS BIGINT) AS gap_seconds
FROM carried
WHERE event_type = 'purchase'
ORDER BY event_id
"""


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: events within SESSION_GAP_MIN of each
    other (per user) belong to one session. lag → gap flag → running
    sum = session id; then one aggregate per session. Two window
    passes + one agg, all on the user_id shuffle. The streaming twin
    is streaming.events.run_sessionization_stream (session_window)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(
        F.lag("ts", 1).over(w)
    )
    sessioned = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("session_start_epoch"),
            F.unix_timestamp(F.max("ts")).alias("session_end_epoch"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


SESSIONIZED_SQL = rf"""
WITH gaps AS (
    SELECT user_id, event_id, ts, value,
           floor(epoch(ts)) - floor(epoch(lag(ts, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))) AS gap
    FROM events
),
flagged AS (
    SELECT *,
           CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MIN * 60} THEN 1 ELSE 0 END
               AS new_session
    FROM gaps
),
sessioned AS (
    SELECT *,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end_epoch,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM sessioned
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event counts, one column per event type. Explicit
    value list → single-pass pivot aggregation (no extra distinct-scan
    job, and stable output schema for the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("day_epoch")
    )


EVENTS_PIVOT_SQL = r"""
SELECT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS "view"
FROM events
GROUP BY 1
ORDER BY day_epoch
"""


def brand_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution stats per brand: interpolated median/quartiles,
    sample stddev, price-quantity correlation. Exact percentiles via
    F.percentile (same interpolation as DuckDB quantile_cont), with
    all three quantiles requested as ONE array argument — a single
    per-group sorted buffer instead of three (~2x on the agg stage)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75])).alias("q"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
        )
    )
    return g.select(
        "p_brand",
        "n_items",
        F.round(F.col("q")[1], 4).alias("median_price"),
        F.round(F.col("q")[0], 4).alias("p25_price"),
        F.round(F.col("q")[2], 4).alias("p75_price"),
        "stddev_price",
        "qty_price_corr",
    ).orderBy("p_brand")


BRAND_PRICE_STATS_SQL = r"""
SELECT p_brand,
       count(*) AS n_items,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
       round(stddev_samp(l_extendedprice), 4) AS stddev_price,
       round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


def part_types_sold_both_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (U2): part types with sales in BOTH 1995
    and 2000 (intersect), ordered."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)

    def _types(year: int) -> DataFrame:
        return (
            joined.filter(F.year("l_shipdate") == year)
            .select("p_type")
            .distinct()
        )

    return _types(1995).intersect(_types(2000)).orderBy("p_type")


PART_TYPES_BOTH_SQL = r"""
SELECT DISTINCT p_type
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = 1995
INTERSECT
SELECT DISTINCT p_type
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = 2000
ORDER BY p_type
"""


def orders_quarter_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (SURVEY §2.3 J4): orders matched to the
    calendar quarter whose [start, end) range contains o_orderdate,
    then revenue per quarter.

    Scale shape: the range dimension is tiny (27 quarters spanning the
    fixture's 1995-2001 order dates) and explicitly broadcast, so the
    non-equi condition executes as a BroadcastNestedLoopJoin — each
    executor probes its order rows against the in-memory range list
    with no shuffle of the fact table. The post-join groupBy shuffles
    only (quarter, partial-agg) rows. With a large range dimension
    you'd bucket both sides on a coarsened key first; for calendar
    buckets date_trunc alone would do — the point here is exercising
    the general range-predicate join.
    """
    orders = load_table(spark, sf_dir, "orders")
    quarters = spark.sql(
        "SELECT explode(sequence(to_date('1995-01-01'), to_date('2001-07-01'),"
        " interval 3 months)) AS q_start"
    ).withColumn("q_end", F.add_months("q_start", 3))
    return (
        orders.join(
            F.broadcast(quarters),
            (F.col("o_orderdate") >= F.col("q_start"))
            & (F.col("o_orderdate") < F.col("q_end")),
        )
        .groupBy(F.date_format("q_start", "yyyy-MM").alias("quarter"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
        .orderBy("quarter")
    )


ORDERS_QUARTER_RANGE_SQL = r"""
WITH quarters AS (
    SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-07-01',
                                  INTERVAL 3 MONTH)) AS q_start
)
SELECT strftime(q_start, '%Y-%m') AS quarter,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_revenue
FROM orders
JOIN quarters
  ON o_orderdate >= q_start AND o_orderdate < q_start + INTERVAL 3 MONTH
GROUP BY quarter
ORDER BY quarter
"""


def customers_lost_since_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op (SURVEY §2.7 U2, completing the intersect above):
    customers who ordered in 1995 but placed no order in 2000.

    Plan: two filtered distinct projections of the same orders scan →
    exceptAll (Catalyst compiles EXCEPT to a left-anti join on the
    distinct sets, shuffling only the key column)."""
    orders = load_table(spark, sf_dir, "orders")

    def _custkeys(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    return _custkeys(1995).exceptAll(_custkeys(2000)).orderBy("o_custkey")


CUSTOMERS_LOST_SQL = r"""
SELECT DISTINCT o_custkey
FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT DISTINCT o_custkey
FROM orders WHERE year(o_orderdate) = 2000
ORDER BY o_custkey
"""


def entity_union_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-with-dedup (SURVEY §2.7 U1 — the reference's multi-
    category append, api.py:686-711, as a relational op): one
    deduplicated directory of customer + supplier entities, counted
    per kind. unionByName aligns schemas by column name; dedup is by
    the entity key, exactly the `page.name not in titles` guard."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return (
        customer.unionByName(supplier)
        .dropDuplicates(["name", "kind"])
        .groupBy("kind")
        .agg(F.count("*").alias("n_entities"))
        .orderBy("kind")
    )


ENTITY_UNION_SQL = r"""
WITH u AS (
    SELECT DISTINCT c_name AS name, 'customer' AS kind FROM customer
    UNION
    SELECT DISTINCT s_name AS name, 'supplier' AS kind FROM supplier
)
SELECT kind, count(*) AS n_entities
FROM u
GROUP BY kind
ORDER BY kind
"""


def user_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive same-type events per user — the
    batch ``applyInPandas`` surface (SURVEY §2.11): procedural
    per-group logic running in Arrow-batched pandas, one group per
    user, shuffled once on the grouping key.

    (A gaps-and-islands window formulation exists — the DuckDB oracle
    uses it — but per-group procedural state is exactly the shape that
    outgrows window tricks, and this operator pins that path's
    correctness against the declarative answer.)
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )

    # Group by a HASH BUCKET of users, not per user (r12): per-user
    # groups paid one pandas DataFrame construction + one Arrow batch
    # per user — with tens of thousands of tiny groups the fixed
    # per-group cost dominated the stage (isolated 5.9 s at sf0.1).
    # A bucket packs ~1/B of the users into one vectorized numpy pass
    # (run-length over (user, type) change points), same single
    # shuffle, same answers. B only balances Arrow batch sizes; any
    # value gives identical output — production sizes it so a bucket's
    # events fit one worker (the per-group procedural escape hatch
    # this operator documents stays: _streaks is still applyInPandas).
    n_buckets = max(64, spark.sparkContext.defaultParallelism)

    def _streaks(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        u = pdf["user_id"].to_numpy()
        t = pdf["event_type"].to_numpy()
        new_run = np.empty(len(u), dtype=bool)
        new_run[0] = True
        new_run[1:] = (u[1:] != u[:-1]) | (t[1:] != t[:-1])
        starts = np.flatnonzero(new_run)
        run_len = np.diff(np.append(starts, len(u)))
        run_user = u[starts]
        first = np.empty(len(starts), dtype=bool)
        first[0] = True
        first[1:] = run_user[1:] != run_user[:-1]
        user_start = np.flatnonzero(first)
        return pd.DataFrame(
            {
                "user_id": run_user[user_start],
                "longest_streak": np.maximum.reduceat(
                    run_len, user_start
                ),
            }
        )

    return (
        ev.withColumn("_b", F.pmod(F.col("user_id"), F.lit(n_buckets)))
        .groupBy("_b")
        .applyInPandas(_streaks, "user_id bigint, longest_streak bigint")
        .orderBy("user_id")
    )


def user_longest_streak_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive same-type events per user — the
    DEFAULT, fully declarative gaps-and-islands formulation (two
    ranking windows + two hash aggregations, all JVM-side inside
    whole-stage codegen; same answer as the applyInPandas pin above).

    Plan shape: one shuffle on user_id serves both row_number windows
    (Catalyst reuses the partitioning; the second window only adds a
    sort on the extended key), then partial+final hash aggs — no
    Python worker, no Arrow hop. At 100 TB this is the form to run:
    the applyInPandas variant (``user_longest_streak``) is kept as the
    documented §2.11 escape hatch for per-group logic that genuinely
    outgrows window tricks, and the suite equality-tests the two.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    islands = (
        ev.withColumn(
            "island",
            F.row_number().over(w_all) - F.row_number().over(w_type),
        )
        .groupBy("user_id", "event_type", "island")
        .agg(F.count("*").alias("streak"))
    )
    return (
        islands.groupBy("user_id")
        .agg(F.max("streak").alias("longest_streak"))
        .orderBy("user_id")
    )


USER_LONGEST_STREAK_SQL = r"""
WITH ordered AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn_t
    FROM events
),
islands AS (
    SELECT user_id, count(*) AS streak
    FROM ordered
    GROUP BY user_id, event_type, rn - rn_t
)
SELECT user_id, max(streak) AS longest_streak
FROM islands
GROUP BY user_id
ORDER BY user_id
"""


def brand_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (SURVEY A-extension): OLS slope /
    intercept / r² of extendedprice on quantity per brand, via the
    built-in regr_* aggregate family — single partial+final hash-agg
    pass, same shuffle profile as any groupBy. Definitions are the
    SQL-standard closed forms, identical in DuckDB.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 4
            ).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 4
            ).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
        )
        .orderBy("p_brand")
    )


BRAND_PRICE_REGRESSION_SQL = r"""
SELECT p_brand,
       count(*) AS n_items,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on
    each subsequent active day (the standard product-analytics rollup).

    Two aggregations over one events scan: per-user first-seen day
    (shuffle on user_id), distinct active (user, day) pairs (same
    shuffle key — AQE reuses the exchange), then a user_id equi-join
    and a (cohort, offset) count. All keys are the table's natural
    partitioning; nothing is driver-side.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cohorts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohorts, "user_id")
        .groupBy(
            F.unix_timestamp("cohort_day").alias("cohort_epoch"),
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_epoch", "day_offset")
    )


USER_RETENTION_SQL = r"""
WITH days AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
cohorts AS (
    SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT CAST(floor(epoch(cohort_day)) AS BIGINT) AS cohort_epoch,
       CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
       count(DISTINCT d.user_id) AS n_active
FROM days d JOIN cohorts USING (user_id)
GROUP BY cohort_day, date_diff('day', cohort_day, day)
ORDER BY cohort_epoch, day_offset
"""


def events_hourly_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample: a DENSE (hour x event_type) grid
    over the table's full time range, zero-filled where no events
    occurred — the time-bucket/gap-fill operator a continuous
    aggregate needs (downstream charting/ML cannot tolerate missing
    buckets).

    The grid is generated IN-PLAN: a 1-row min/max aggregate
    cross-joined to an exploded hour sequence and the distinct type
    set — no driver collect, so the same plan works when the bounds
    come from a 100 TB scan. The aggregated per-hour counts (right
    side of the left join) are broadcast — a left-outer join can only
    build its right side, so hinting the grid would be ignored and
    fall back to a sort-merge join.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("v"),
    )
    return (
        grid.join(F.broadcast(counts), ["hour", "event_type"], "left")
        .select(
            F.unix_timestamp("hour").alias("hour_epoch"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("hour_epoch", "event_type")
    )


EVENTS_GAPFILL_SQL = r"""
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS h0,
           date_trunc('hour', max(ts)) AS h1
    FROM events
),
grid AS (
    SELECT g.hour, t.event_type
    FROM bounds b,
         unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS g(hour),
         (SELECT DISTINCT event_type FROM events) t
),
counts AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, round(sum(value), 4) AS v
    FROM events
    GROUP BY 1, 2
)
SELECT CAST(floor(epoch(grid.hour)) AS BIGINT) AS hour_epoch,
       grid.event_type AS event_type,
       coalesce(n, 0) AS n_events,
       coalesce(v, 0.0) AS total_value
FROM grid LEFT JOIN counts
  ON grid.hour = counts.hour AND grid.event_type = counts.event_type
ORDER BY hour_epoch, grid.event_type
"""


def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (sequence matching): per user, did a view, a
    later-or-equal click, and a later-or-equal purchase occur in that
    order? Counted as users per funnel stage.

    Sequence patterns over event logs reduce to per-key min/max
    timestamps with ordering predicates — one shuffle on user_id, no
    joins, no self-cross of the event stream. (General regex-style
    CEP needs the stateful streaming path; the common fixed funnel is
    exactly this aggregation.) Tie semantics: equal timestamps count
    as progression, matching the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "first_view"
            ),
            *[
                F.max(
                    F.when(F.col("event_type") == t, F.col("ts"))
                ).alias(f"last_{t}")
                for t in ("click", "purchase")
            ],
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("first_click"),
        )
    )
    # stage predicates: view; view then click; view then click then purchase
    s1 = F.col("first_view").isNotNull()
    s2 = s1 & F.col("last_click").isNotNull() & (
        F.col("last_click") >= F.col("first_view")
    )
    # the purchase must follow SOME click that follows the first view:
    # use the first qualifying click (>= first_view) as the anchor
    click_anchor = F.when(
        F.col("first_click") >= F.col("first_view"), F.col("first_click")
    ).otherwise(F.col("last_click"))
    s3 = s2 & F.col("last_purchase").isNotNull() & (
        F.col("last_purchase") >= click_anchor
    )
    return per_user.agg(
        F.sum(s1.cast("bigint")).alias("reached_view"),
        F.sum(s2.cast("bigint")).alias("reached_click"),
        F.sum(s3.cast("bigint")).alias("reached_purchase"),
    )


SESSION_FUNNEL_SQL = r"""
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
           max(CASE WHEN event_type = 'click' THEN ts END) AS last_click,
           max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase,
           min(CASE WHEN event_type = 'click' THEN ts END) AS first_click
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
    GROUP BY user_id
),
staged AS (
    SELECT
        (first_view IS NOT NULL) AS s1,
        (first_view IS NOT NULL AND last_click IS NOT NULL
         AND last_click >= first_view) AS s2,
        (first_view IS NOT NULL AND last_click IS NOT NULL
         AND last_click >= first_view AND last_purchase IS NOT NULL
         AND last_purchase >= (CASE WHEN first_click >= first_view
                               THEN first_click ELSE last_click END)) AS s3
    FROM per_user
)
SELECT CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
       CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
       CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
FROM staged
"""


def events_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) surface: the daily wide pivot folded back to
    long form. The oracle is the direct long-form aggregation, so this
    query proves pivot→unpivot is lossless — zero-filled wide cells
    are dropped on the way back (the long form never had them).
    unpivot is an Expand node like cube: one pass, no shuffle beyond
    the pivot's own aggregation."""
    wide = events_pivot_daily(spark, sf_dir)
    return (
        wide.unpivot(
            "day_epoch", EVENT_TYPES, "event_type", "n_events"
        )
        .filter(F.col("n_events") > 0)
        .orderBy("day_epoch", "event_type")
    )


EVENTS_PIVOT_ROUNDTRIP_SQL = r"""
SELECT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY day_epoch, event_type
"""


def events_daily_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frame (rowsBetween): 7-day moving average and
    sample stddev of daily event counts per type — the rolling-stats
    shape behind anomaly detection. One shuffle on event_type for the
    window; the frame is bounded (7 rows) so window state is O(1) per
    row regardless of history length."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_epoch")
        .rowsBetween(-6, Window.currentRow)
    )
    # RANGE frame over epoch seconds: unlike the ROWS frame, this
    # stays a true 7-calendar-day window even when days are missing
    # from the series
    wr = (
        Window.partitionBy("event_type")
        .orderBy("day_epoch")
        .rangeBetween(-6 * 86400, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day_epoch",
        "n_events",
        F.round(F.avg("n_events").over(w), 4).alias("ma7"),
        F.round(F.stddev_samp("n_events").over(w), 4).alias("sd7"),
        F.round(F.avg("n_events").over(wr), 4).alias("ma7_range"),
    ).orderBy("event_type", "day_epoch")


EVENTS_MOVING_AVG_SQL = r"""
WITH daily AS (
    SELECT event_type,
           epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
)
SELECT event_type, day_epoch, n_events,
       round(avg(n_events) OVER w, 4) AS ma7,
       round(stddev_samp(n_events) OVER w, 4) AS sd7,
       round(avg(n_events) OVER wr, 4) AS ma7_range
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_epoch
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY event_type ORDER BY day_epoch
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day_epoch
"""


def events_rolling_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU / trailing-7-day active users / stickiness per day — the
    product-analytics staple that needs a rolling DISTINCT (a plain
    window can't dedup users across days).

    Shape: reduce once to the DISTINCT (day, user) table, then (a)
    DAU is a count per day, and (b) each row fans out to the 7 days
    it keeps its user "active" for (explode of a 7-element sequence,
    map-side), so WAU7 is one count_distinct per target day — the
    standard exact formulation. Shuffle is bounded by
    active-(day,user) pairs × 7, never raw events. At 100 TB the
    swap-in is a per-day HLL sketch union over the trailing window
    (events_approx_users' sketch, merged 7-wise) — same plan shape,
    constant state.

    Output: (day_epoch, dau, wau7, stickiness_micro = ⌊dau·1e6/wau7⌋).
    Only days observed in the data appear (inner join).
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
        "user_id",
    ).distinct()
    dau = du.groupBy("day_epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    fan = du.select(
        "day_epoch",
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
    ).select(
        (F.col("day_epoch") + F.col("o") * 86400).alias("day_epoch"),
        "user_id",
    )
    wau = fan.groupBy("day_epoch").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau7")
    )
    return (
        dau.join(wau, "day_epoch")
        .select(
            "day_epoch",
            "dau",
            "wau7",
            F.floor(
                F.col("dau") * F.lit(1_000_000).cast("double")
                / F.col("wau7")
            )
            .cast("bigint")
            .alias("stickiness_micro"),
        )
        .orderBy("day_epoch")
    )


EVENTS_ROLLING_ACTIVE_USERS_SQL = r"""
WITH du AS (
    SELECT DISTINCT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
           user_id
    FROM events
),
dau AS (
    SELECT day_epoch, CAST(count(*) AS BIGINT) AS dau
    FROM du GROUP BY 1
),
fan AS (
    SELECT day_epoch + o * 86400 AS day_epoch, user_id
    FROM du, unnest(range(0, 7)) AS t(o)
),
wau AS (
    SELECT day_epoch, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
    FROM fan GROUP BY 1
)
SELECT d.day_epoch, d.dau, w.wau7,
       CAST(floor(d.dau * 1000000.0 / w.wau7) AS BIGINT)
           AS stickiness_micro
FROM dau d JOIN wau w USING (day_epoch)
ORDER BY day_epoch
"""


# Volume anomaly ranking: the days whose event count deviates most
# from the trailing window's mean. Deviation is an integer micro-unit
# ratio (floor(|n·trail_n − trail_sum|·1e6 / trail_sum) — every input
# exact, the one division correctly rounded then floored) so the
# ranking is engine-exact; a FIXED threshold would be scale-dependent
# (Poisson noise shrinks as volume grows — ±50% flags nothing at
# sf0.1), top-K is meaningful at any scale.
ANOMALY_TRAIL_DAYS = 7
ANOMALY_MIN_TRAIL = 3
ANOMALY_TOP_K = 10


def event_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-anomalous daily event volumes per event type — the
    monitoring primitive an ingest pipeline alarms on (a crawler stall
    shows as a drop, a bot flood as a spike).

    One shuffle to the per-(type, day) counts (partial+final), one
    window partitioned by event_type (natural key) with a bounded
    ROWS trailing frame — state per partition is ANOMALY_TRAIL_DAYS
    counts, horizon-bounded — then a TakeOrdered top-K over the
    deviation score (day rows are horizon-bounded, never corpus-
    bounded). Days with fewer than ANOMALY_MIN_TRAIL trailing
    observations are not judged (cold start).
    Output: top ANOMALY_TOP_K of (event_type, day_epoch, n_events,
    trail_sum, trail_n, dev_micro, direction).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_epoch")
        .rowsBetween(-ANOMALY_TRAIL_DAYS, -1)
    )
    t = daily.withColumn(
        "trail_sum", F.sum("n_events").over(w)
    ).withColumn("trail_n", F.count(F.lit(1)).over(w))
    diff = F.col("n_events") * F.col("trail_n") - F.col("trail_sum")
    dev = F.floor(
        F.abs(diff) * F.lit(1_000_000.0) / F.col("trail_sum")
    ).cast("bigint")
    return (
        t.filter(F.col("trail_n") >= ANOMALY_MIN_TRAIL)
        .select(
            "event_type",
            "day_epoch",
            "n_events",
            F.col("trail_sum").cast("bigint").alias("trail_sum"),
            F.col("trail_n").cast("bigint").alias("trail_n"),
            dev.alias("dev_micro"),
            F.when(diff > 0, F.lit("spike")).otherwise(F.lit("drop")).alias(
                "direction"
            ),
        )
        .orderBy(
            F.desc("dev_micro"), F.asc("event_type"), F.asc("day_epoch")
        )
        .limit(ANOMALY_TOP_K)
    )


EVENT_VOLUME_ANOMALIES_SQL = rf"""
WITH daily AS (
    SELECT event_type,
           epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
trailed AS (
    SELECT *,
           CAST(sum(n_events) OVER (PARTITION BY event_type
               ORDER BY day_epoch
               ROWS BETWEEN {ANOMALY_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)
               AS BIGINT) AS trail_sum,
           CAST(count(*) OVER (PARTITION BY event_type
               ORDER BY day_epoch
               ROWS BETWEEN {ANOMALY_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)
               AS BIGINT) AS trail_n
    FROM daily
)
SELECT event_type, day_epoch, n_events, trail_sum, trail_n,
       CAST(floor(abs(n_events * trail_n - trail_sum) * 1000000.0
                  / trail_sum) AS BIGINT) AS dev_micro,
       CASE WHEN n_events * trail_n - trail_sum > 0
            THEN 'spike' ELSE 'drop' END AS direction
FROM trailed
WHERE trail_n >= {ANOMALY_MIN_TRAIL}
ORDER BY dev_micro DESC, event_type ASC, day_epoch ASC
LIMIT {ANOMALY_TOP_K}
"""


def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over per-user
    streams — the Markov-chain view of user behavior (what follows a
    view? does click → purchase?), the aggregate behind next-action
    prediction and funnel discovery.

    Per user, events order by (ts, event_id) — event_id breaks
    timestamp ties deterministically in both engines — and each
    adjacent pair (prev_type, next_type) counts once. The transition
    probability divides two exact BIGINTs (per-pair count over the
    per-prev row total, the row-stochastic normalization), so
    round(6) is engine-stable.

    Shape for scale: one shuffle on user_id for the lag window (state:
    one carried event per row), then a partial+final agg on the
    (prev, next) pair — the matrix is |event_types|² rows no matter
    the corpus, and the per-prev totals re-aggregate from the pair
    counts via a window over prev_type (one partial per next_type).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_prev = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(w_prev))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("row_total").cast("double"),
                6,
            ).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


EVENT_MARKOV_TRANSITIONS_SQL = r"""
WITH pairs AS (
    SELECT prev_type, event_type AS next_type
    FROM (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type
        FROM events
    )
    WHERE prev_type IS NOT NULL
),
counts AS (
    SELECT prev_type, next_type, count(*) AS n
    FROM pairs GROUP BY 1, 2
)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE),
             6) AS p
FROM counts
ORDER BY prev_type, next_type
"""


def events_rolling_active_users_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB form of events_rolling_active_users: per-day
    Datasketches HLL sketches of the user set, UNIONED over the
    trailing 7-day window — rolling distinct from constant-size
    mergeable state instead of re-deduping users per window.

    Plan: one agg builds a fixed-size sketch per day
    (``hll_sketch_agg``, map-side partial merge); the |days|-row
    sketch table fans out ×7 and ``hll_union_agg`` merges per target
    day. Shuffle after the first agg is days × 7 sketch rows —
    independent of user count, the property the exact form lacks.

    Sketch estimates aren't bit-identical across engines, so (the
    events_approx_users pattern) each engine computes its OWN
    estimate next to the exact rolling distinct and emits the
    deterministic verdict ``hll_within_5pct`` (Datasketches lgK=12
    ≈ 1.6% rse; DuckDB's HLL is tighter) — exact count and verdict
    hash-match while the sketch-merge path stays genuinely exercised.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch")
    du = ev.select(day, "user_id").distinct()
    fan_exact = du.select(
        "day_epoch", "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
    ).select(
        (F.col("day_epoch") + F.col("o") * 86400).alias("day_epoch"),
        "user_id",
    )
    exact = fan_exact.groupBy("day_epoch").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau7")
    )
    daily_sk = ev.select(day, "user_id").groupBy("day_epoch").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    fan_sk = daily_sk.select(
        "day_epoch", "sk",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
    ).select(
        (F.col("day_epoch") + F.col("o") * 86400).alias("day_epoch"),
        "sk",
    )
    est = fan_sk.groupBy("day_epoch").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est")
    )
    observed = du.select("day_epoch").distinct()
    return (
        observed.join(exact, "day_epoch")
        .join(est, "day_epoch")
        .select(
            "day_epoch",
            "wau7",
            (
                F.abs(F.col("_est") - F.col("wau7"))
                <= 0.05 * F.col("wau7")
            ).alias("hll_within_5pct"),
        )
        .orderBy("day_epoch")
    )


EVENTS_ROLLING_ACTIVE_USERS_HLL_SQL = r"""
WITH du AS (
    SELECT DISTINCT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
           user_id
    FROM events
),
fan AS (
    SELECT day_epoch + o * 86400 AS day_epoch, user_id
    FROM du, unnest(range(0, 7)) AS t(o)
),
rolled AS (
    SELECT day_epoch,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau7,
           approx_count_distinct(user_id) AS est
    FROM fan GROUP BY 1
)
SELECT r.day_epoch, r.wau7,
       abs(r.est - r.wau7) <= 0.05 * r.wau7 AS hll_within_5pct
FROM rolled r
JOIN (SELECT DISTINCT day_epoch FROM du) d USING (day_epoch)
ORDER BY day_epoch
"""


def conversion_time_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """View→purchase conversion-latency distribution per purchase
    day: how long after the last view the purchase happened — the
    p25/p50/p75 report a growth team reads next to the funnel.

    Builds on the as-of join (asof_view_before_purchase: ONE shuffle
    on user_id, no range explosion); the day roll-up requests all
    three exact interpolated quantiles as ONE percentile array (a
    single per-group sorted buffer), rounded half-up to integer
    micro-seconds so both engines hash identically.
    """
    pairs = asof_view_before_purchase(spark, sf_dir).where(
        F.col("gap_seconds").isNotNull()
    )
    day = (
        F.col("purchase_epoch") - F.col("purchase_epoch") % 86400
    ).alias("day_epoch")
    g = pairs.groupBy(day).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.percentile(
            F.col("gap_seconds").cast("double"),
            F.lit([0.25, 0.5, 0.75]),
        ).alias("q"),
    )
    micro = lambda c: (  # noqa: E731 — shared half-up micro rule
        F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    )
    return g.select(
        "day_epoch",
        "n_conversions",
        micro(F.col("q")[0]).alias("p25_gap_micro"),
        micro(F.col("q")[1]).alias("p50_gap_micro"),
        micro(F.col("q")[2]).alias("p75_gap_micro"),
    ).orderBy("day_epoch")


def _conversion_quantiles_oracle() -> str:
    base = ASOF_SQL.replace("ORDER BY event_id", "").strip()
    return f"""
WITH pairs AS ({base})
SELECT day_epoch,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(floor(quantile_cont(CAST(gap_seconds AS DOUBLE), 0.25)
            * 1000000 + 0.5) AS BIGINT) AS p25_gap_micro,
       CAST(floor(quantile_cont(CAST(gap_seconds AS DOUBLE), 0.5)
            * 1000000 + 0.5) AS BIGINT) AS p50_gap_micro,
       CAST(floor(quantile_cont(CAST(gap_seconds AS DOUBLE), 0.75)
            * 1000000 + 0.5) AS BIGINT) AS p75_gap_micro
FROM (
    SELECT purchase_epoch - purchase_epoch % 86400 AS day_epoch,
           gap_seconds
    FROM pairs WHERE gap_seconds IS NOT NULL
)
GROUP BY day_epoch
ORDER BY day_epoch
"""


CONVERSION_TIME_QUANTILES_SQL = _conversion_quantiles_oracle()


def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order volume and revenue growth — the
    seasonality report every revenue dashboard opens with.

    Shape: ONE partial+final agg keyed by month reduces the fact
    table to a months-bounded frame (≤ ~80 rows on this calendar);
    the MoM lag runs over that reduction via bounded_global_window
    (the sanctioned K-bounded global window — the window never sees
    fact rows). Revenue folds to integer micro-units per row before
    the order-independent sum; growth is BIGINT `div` per-mille-like
    micro arithmetic, NULL for the first month.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias(
            "month_epoch"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
        .cast("bigint")
        .alias("revenue_micro"),
    )
    w = bounded_global_window("month_epoch")
    lagged = monthly.select(
        "month_epoch",
        "n_orders",
        "revenue_micro",
        F.lag("n_orders").over(w).alias("prev_n"),
        F.lag("revenue_micro").over(w).alias("prev_rev"),
    )
    return lagged.select(
        "month_epoch",
        "n_orders",
        "revenue_micro",
        F.expr("(n_orders - prev_n) * 1000000 div prev_n")
        .cast("bigint")
        .alias("orders_growth_micro"),
        # growth on whole-unit revenue: micro-revenue × 1e6 would
        # overflow BIGINT at realistic monthly volumes
        F.expr(
            "((revenue_micro div 1000000) - (prev_rev div 1000000))"
            " * 1000000 div (prev_rev div 1000000)"
        )
        .cast("bigint")
        .alias("revenue_growth_micro"),
    ).orderBy("month_epoch")


ORDERS_MONTHLY_GROWTH_SQL = """
WITH monthly AS (
    SELECT epoch(date_trunc('month', o_orderdate))::BIGINT AS month_epoch,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT))
               AS BIGINT) AS revenue_micro
    FROM orders
    GROUP BY 1
)
SELECT month_epoch, n_orders, revenue_micro,
       CAST((n_orders - lag(n_orders) OVER w) * 1000000
            // lag(n_orders) OVER w AS BIGINT) AS orders_growth_micro,
       CAST(((revenue_micro // 1000000)
             - (lag(revenue_micro) OVER w // 1000000)) * 1000000
            // (lag(revenue_micro) OVER w // 1000000) AS BIGINT)
           AS revenue_growth_micro
FROM monthly
WINDOW w AS (ORDER BY month_epoch)
ORDER BY month_epoch
"""


# ── ordered event funnel & cohort retention (product analytics) ──────

FUNNEL_STEPS = ("signup", "view", "purchase")


def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ORDERED conversion funnel: a user reaches step k only
    with an event of step k's type occurring strictly AFTER their
    step-(k-1) arrival time (earliest such event becomes the step-k
    arrival). This is the real funnel semantics — a purchase logged
    before the signup does not convert — which a naive
    per-type-existence count gets wrong.

    Shape for scale: one user-keyed agg per step over a
    filter-pruned scan (the step list is a query constant), each
    chained through a user-keyed join — all shuffles on user_id, no
    windows over raw events, no per-user sort. The final 3-row
    step table takes a bounded global window for the step-over-step
    conversion ratio.

    Output per step: step_idx, step, n_users, conversion_micro (vs
    previous step), overall_micro (vs step 1).
    """
    events = load_table(spark, sf_dir, "events")
    reached = None
    arrivals: DataFrame | None = None
    for idx, step in enumerate(FUNNEL_STEPS, start=1):
        typed = events.filter(F.col("event_type") == step).select(
            "user_id", "ts"
        )
        if arrivals is None:
            arr = typed.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            arr = (
                typed.join(
                    arrivals.select("user_id", F.col("t").alias("t_prev")),
                    "user_id",
                )
                .filter(F.col("ts") > F.col("t_prev"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        arrivals = arr
        step_rows = arr.select(
            F.lit(idx).cast("bigint").alias("step_idx"),
            F.lit(step).alias("step"),
            "user_id",
        )
        reached = step_rows if reached is None else reached.union(step_rows)
    # always emit one row per declared step — a step nobody reaches
    # must report 0, not vanish (and must match the oracle's scalar
    # per-step counts row for row)
    steps = local_frame(
        spark,
        [(i, s) for i, s in enumerate(FUNNEL_STEPS, start=1)],
        "step_idx BIGINT, step STRING",
    )
    counts = steps.join(
        reached.groupBy("step_idx", "step").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached")
        ),
        ["step_idx", "step"],
        "left",
    ).select(
        "step_idx",
        "step",
        F.coalesce("n_reached", F.lit(0)).cast("bigint").alias("n_users"),
    )
    w = bounded_global_window(F.asc("step_idx"))
    prev = F.coalesce(F.lag("n_users").over(w), F.col("n_users"))
    first = F.first("n_users").over(w)
    zero_safe = lambda num, den: F.when(  # noqa: E731
        den > 0, F.floor(num * F.lit(1_000_000) / den)
    ).otherwise(F.lit(0)).cast("bigint")
    return (
        counts.select(
            "step_idx",
            "step",
            "n_users",
            zero_safe(F.col("n_users"), prev).alias("conversion_micro"),
            zero_safe(F.col("n_users"), first).alias("overall_micro"),
        )
        .orderBy("step_idx")
    )


EVENTS_FUNNEL_ORDERED_SQL = f"""
WITH s1 AS (
    SELECT user_id, min(ts) AS t FROM events
    WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
    WHERE e.event_type = '{FUNNEL_STEPS[1]}' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
    WHERE e.event_type = '{FUNNEL_STEPS[2]}' GROUP BY e.user_id
),
counts AS (
    SELECT CAST(1 AS BIGINT) AS step_idx, '{FUNNEL_STEPS[0]}' AS step,
           CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', count(*) FROM s2
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', count(*) FROM s3
)
SELECT step_idx, step, n_users,
       CAST(CASE WHEN coalesce(lag(n_users) OVER (ORDER BY step_idx),
                               n_users) > 0
                 THEN floor(n_users * 1000000.0
                      / coalesce(lag(n_users) OVER (ORDER BY step_idx),
                                 n_users))
                 ELSE 0 END AS BIGINT) AS conversion_micro,
       CAST(CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
                 THEN floor(n_users * 1000000.0
                      / first_value(n_users) OVER (ORDER BY step_idx))
                 ELSE 0 END AS BIGINT) AS overall_micro
FROM counts
ORDER BY step_idx
"""


def orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix over orders: customers grouped
    by first-order month (cohort), tracked by how many are active in
    each subsequent month-offset — the standard warehouse retention
    report.

    Month arithmetic uses the integer month index year*12 + month
    (identical in any engine — no months_between float semantics).
    Shape: one customer-keyed agg for the cohort assignment, one join
    back to orders on the customer key, one (cohort, offset) agg with
    countDistinct, and a cohort-keyed join for the denominators. All
    shuffles on ids; output is bounded by months² regardless of order
    volume.

    Output per (cohort_month yyyymm, month_offset): n_active,
    cohort_size, retention_micro.
    """
    orders = load_table(spark, sf_dir, "orders")
    midx = (
        F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
    ).cast("bigint")
    first = (
        orders.select("o_custkey", midx.alias("m"))
        .groupBy("o_custkey")
        .agg(F.min("m").alias("m0"))
    )
    activity = (
        orders.select("o_custkey", midx.alias("m"))
        .join(first, "o_custkey")
        .select(
            "o_custkey",
            "m0",
            (F.col("m") - F.col("m0")).alias("month_offset"),
        )
        .distinct()
    )
    cells = activity.groupBy("m0", "month_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    sizes = first.groupBy("m0").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        cells.join(sizes, "m0")
        .select(
            (
                F.floor((F.col("m0") - 1) / 12) * 100
                + ((F.col("m0") - 1) % 12 + 1)
            ).cast("bigint").alias("cohort_month"),
            "month_offset",
            "n_active",
            "cohort_size",
            F.floor(
                F.col("n_active") * F.lit(1_000_000) / F.col("cohort_size")
            ).cast("bigint").alias("retention_micro"),
        )
        .orderBy("cohort_month", "month_offset")
    )


ORDERS_COHORT_RETENTION_SQL = """
WITH midx AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS m
    FROM orders
),
first AS (
    SELECT o_custkey, min(m) AS m0 FROM midx GROUP BY o_custkey
),
activity AS (
    SELECT DISTINCT midx.o_custkey, first.m0, midx.m - first.m0
               AS month_offset
    FROM midx JOIN first ON midx.o_custkey = first.o_custkey
),
cells AS (
    SELECT m0, month_offset, CAST(count(*) AS BIGINT) AS n_active
    FROM activity GROUP BY m0, month_offset
),
sizes AS (
    SELECT m0, CAST(count(*) AS BIGINT) AS cohort_size
    FROM first GROUP BY m0
)
SELECT CAST(floor((c.m0 - 1) / 12) * 100
            + ((c.m0 - 1) % 12 + 1) AS BIGINT) AS cohort_month,
       c.month_offset, c.n_active, s.cohort_size,
       CAST(floor(c.n_active * 1000000.0 / s.cohort_size) AS BIGINT)
           AS retention_micro
FROM cells c JOIN sizes s ON c.m0 = s.m0
ORDER BY cohort_month, month_offset
"""


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint scan per event type: the day where
    the cumulative sum of deviations from the series mean peaks in
    magnitude — the classic level-shift detector (Page's CUSUM,
    offline form), complementing event_volume_anomalies' single-day
    spike scan with a "did the BASELINE move?" answer.

    The per-type series is DENSIFIED onto the full day grid between
    the type's first and last active day (a sequence of fixed 86400 s
    epochs; zero-event days count as 0) — without this, a volume
    collapse to zero is invisible because absent days never enter the
    deviations (r09 review finding).

    INTEGER-EXACT by construction: deviations are scaled by n_days
    (D_t = n_t·n_days − total, an integer), the running sum is
    integer arithmetic (immune to engines re-associating a float
    window sum), and the reported score is an INTEGER division
    ``|CUSUM|·1e6 div (total·n_days)`` — the micro-unit convention
    the HHI/affinity metrics use; exact while total·n_days < 9.2e12
    (beyond that Spark's ANSI bigint multiply fails loudly rather
    than silently diverging from the oracle).

    Shape for scale: one (event_type, day) partial+final agg over the
    scan; the day grid explodes from one (min, max) row per type; the
    CUSUM window partitions by event_type over series-length-bounded
    partitions (never raw events); the final argmax is a combinable
    per-type max(struct) that carries total/n_days along — no second
    aggregation of the daily rows.

    Output per event_type: n_days, total_events, cp_day_epoch (the
    peak day, earliest on ties), cp_cusum_scaled (signed, units
    events×n_days), cp_score_micro.
    """
    events = load_table(spark, sf_dir, "events")
    active = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", "ts"))
            .cast("bigint")
            .alias("day_epoch"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    grid = (
        active.groupBy("event_type")
        .agg(F.min("day_epoch").alias("d0"), F.max("day_epoch").alias("d1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("d0", "d1", F.lit(86_400))
            ).alias("day_epoch"),
        )
    )
    daily = grid.join(active, ["event_type", "day_epoch"], "left").select(
        "event_type",
        "day_epoch",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(totals, "event_type")
        .withColumn(
            "cusum",
            F.sum(
                F.col("n") * F.col("n_days") - F.col("total")
            ).over(w).cast("bigint"),
        )
    )
    peak = (
        cusum.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.abs("cusum").alias("mag"),
                    (-F.col("day_epoch")).alias("neg_day"),
                    F.col("cusum").alias("signed"),
                )
            ).alias("p"),
            F.first("total").alias("total"),
            F.first("n_days").alias("n_days"),
        )
    )
    return peak.select(
        "event_type",
        "n_days",
        F.col("total").alias("total_events"),
        (-F.col("p.neg_day")).cast("bigint").alias("cp_day_epoch"),
        F.col("p.signed").alias("cp_cusum_scaled"),
        F.expr(
            "CAST(abs(p.signed) * 1000000L div (total * n_days) AS BIGINT)"
        ).alias("cp_score_micro"),
    ).orderBy("event_type")


EVENTS_CHANGEPOINT_CUSUM_SQL = """
WITH active AS (
    SELECT event_type,
           CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT event_type, CAST(unnest(generate_series(d0, d1, 86400))
               AS BIGINT) AS day_epoch
    FROM (SELECT event_type, min(day_epoch) AS d0, max(day_epoch) AS d1
          FROM active GROUP BY event_type)
),
daily AS (
    SELECT g.event_type, g.day_epoch,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN active a
      ON g.event_type = a.event_type AND g.day_epoch = a.day_epoch
),
totals AS (
    SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY event_type
),
cusum AS (
    SELECT d.event_type, d.day_epoch, t.total, t.n_days,
           CAST(sum(d.n * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day_epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cusum
    FROM daily d JOIN totals t ON d.event_type = t.event_type
),
ranked AS (
    SELECT event_type, day_epoch, cusum, total, n_days,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(cusum) DESC, day_epoch ASC
           ) AS rn
    FROM cusum
)
SELECT event_type, n_days, total AS total_events,
       day_epoch AS cp_day_epoch,
       cusum AS cp_cusum_scaled,
       CAST((CAST(abs(cusum) AS BIGINT) * 1000000)
            // (total * n_days) AS BIGINT) AS cp_score_micro
FROM ranked WHERE rn = 1
ORDER BY event_type
"""


def customer_repurchase_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete-time survival analysis of repurchase behavior: the
    life table over inter-order gaps — for each observed gap length g
    (days), how many spells were still at risk at g, how many ended
    in a repurchase exactly at g, how many were censored at g (a
    customer's LAST order, observed only until the dataset's end),
    and the discrete hazard d/n. This is the exact input the
    Kaplan-Meier estimator consumes; the hazard column is the
    actionable per-day repurchase propensity a retention model
    calibrates against. Censoring is what distinguishes this from a
    naive gap histogram: ignoring open-ended last gaps biases
    "time to next order" low (the classic survival-analysis error).

    INTEGER-EXACT throughout: spells are (gap_days, is_event) rows;
    per-gap event/censor counts are one agg; n_at_risk(g) = spells
    with gap >= g is a reverse cumulative sum of INTEGER counts over
    the distinct-gap rows (bounded by the dataset's day span — a
    domain constant, not a data volume), via bounded_global_window;
    hazard_micro = d·1e6 div n — one integer division per row, no
    float accumulation anywhere, so the engines cannot diverge.

    Shape for scale: gaps come from one lead() window partitioned by
    customer (each partition = one customer's order history); the
    global max date is a 1-row broadcast; everything after the spell
    frame is aggregation over ≤ day-span rows.

    Output per gap_days: n_at_risk, n_events, n_censored,
    hazard_micro, ordered by gap_days.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    horizon = orders.agg(F.max("d").alias("end_date"))
    spells = (
        orders.withColumn("next_d", F.lead("d").over(w))
        .join(F.broadcast(horizon), how="cross")
        .select(
            F.when(
                F.col("next_d").isNotNull(),
                F.datediff("next_d", "d"),
            )
            .otherwise(F.datediff("end_date", "d"))
            .cast("bigint")
            .alias("gap_days"),
            F.col("next_d").isNotNull().alias("is_event"),
        )
    )
    per_gap = spells.groupBy("gap_days").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_events"),
        F.sum(F.when(F.col("is_event"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_censored"),
    )
    wrev = bounded_global_window(F.desc("gap_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_gap.withColumn(
            "n_at_risk",
            F.sum(F.col("n_events") + F.col("n_censored"))
            .over(wrev)
            .cast("bigint"),
        )
        .select(
            "gap_days",
            "n_at_risk",
            "n_events",
            "n_censored",
            F.expr(
                "CAST(n_events * 1000000L div n_at_risk AS BIGINT)"
            ).alias("hazard_micro"),
        )
        .orderBy("gap_days")
    )


CUSTOMER_REPURCHASE_HAZARD_SQL = """
WITH od AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
),
horizon AS (SELECT max(d) AS end_date FROM od),
spells AS (
    SELECT CAST(CASE WHEN next_d IS NOT NULL
                     THEN date_diff('day', d, next_d)
                     ELSE date_diff('day', d, h.end_date)
                END AS BIGINT) AS gap_days,
           next_d IS NOT NULL AS is_event
    FROM (
        SELECT o_custkey, d,
               lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS next_d
        FROM od
    ) CROSS JOIN horizon h
),
per_gap AS (
    SELECT gap_days,
           CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events,
           CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
               AS n_censored
    FROM spells GROUP BY gap_days
)
SELECT gap_days,
       CAST(sum(n_events + n_censored) OVER (
           ORDER BY gap_days DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_at_risk,
       n_events, n_censored,
       CAST((n_events * 1000000)
            // sum(n_events + n_censored) OVER (
                ORDER BY gap_days DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS hazard_micro
FROM per_gap
ORDER BY gap_days
"""


ACF_MAX_LAG = 7  # report lags 1..7 (weekly structure)


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily event volume per event type at lags
    1..{ACF_MAX_LAG} — the standard periodicity probe (a weekly
    cadence shows as a lag-7 peak) and the companion diagnostic to
    the CUSUM level-shift scan. Series are densified onto the full
    day grid exactly like events_changepoint_cusum, so silent days
    count as real zeros.

    INTEGER-EXACT like the CUSUM: with D_t = n_t·n_days − total (an
    integer multiple of the mean-centered deviation), the ACF at lag
    k is Σ D_t·D_{t+k} / Σ D_t² — both sums are integer arithmetic
    (order-independent), and the single division at the end is the
    micro-unit integer div. A constant series (all D_t = 0) reports
    0 by convention. Exact while |D|²·n_days·1e6 stays inside int64 —
    the same documented micro-convention bound as the CUSUM score.

    Shape for scale: one window pass per type computes all
    {ACF_MAX_LAG} lead columns (series-length-bounded partitions),
    one agg produces the denominator and every numerator, and a
    stack() unpivots to (event_type, lag) rows — no per-lag re-scan.
    """
    events = load_table(spark, sf_dir, "events")
    active = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", "ts"))
            .cast("bigint")
            .alias("day_epoch"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    grid = (
        active.groupBy("event_type")
        .agg(F.min("day_epoch").alias("d0"), F.max("day_epoch").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1", F.lit(86_400))).alias(
                "day_epoch"
            ),
        )
    )
    daily = grid.join(active, ["event_type", "day_epoch"], "left").select(
        "event_type",
        "day_epoch",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    w = Window.partitionBy("event_type").orderBy("day_epoch")
    dev = (
        daily.join(totals, "event_type")
        .withColumn(
            "d", F.col("n") * F.col("n_days") - F.col("total")
        )
    )
    for k in range(1, ACF_MAX_LAG + 1):
        dev = dev.withColumn(f"d{k}", F.lead("d", k).over(w))
    aggs = [
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("den"),
        F.first("n_days").alias("n_days"),
    ]
    for k in range(1, ACF_MAX_LAG + 1):
        aggs.append(
            F.sum(F.col("d") * F.col(f"d{k}")).cast("bigint").alias(
                f"num{k}"
            )
        )
    wide = dev.groupBy("event_type").agg(*aggs)
    stack_expr = ", ".join(
        f"{k}L, num{k}" for k in range(1, ACF_MAX_LAG + 1)
    )
    return (
        wide.selectExpr(
            "event_type",
            "n_days",
            "den",
            f"stack({ACF_MAX_LAG}, {stack_expr}) AS (lag, num)",
        )
        .selectExpr(
            "event_type",
            "CAST(lag AS BIGINT) AS lag",
            "n_days",
            "CAST(CASE WHEN den > 0 AND num IS NOT NULL "
            "THEN num * 1000000L div den ELSE 0 END AS BIGINT) "
            "AS acf_micro",
        )
        .orderBy("event_type", "lag")
    )


def _events_autocorrelation_oracle() -> str:
    leads = ",\n           ".join(
        f"lead(d, {k}) OVER (PARTITION BY dy.event_type"
        f" ORDER BY dy.day_epoch) AS d{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    nums = ",\n           ".join(
        f"CAST(sum(d * d{k}) AS BIGINT) AS num{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    lag_rows = "\n    UNION ALL\n    ".join(
        f"SELECT event_type, CAST({k} AS BIGINT) AS lag, n_days,"
        f" den, num{k} AS num FROM wide"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH active AS (
    SELECT event_type,
           CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT event_type, CAST(unnest(generate_series(d0, d1, 86400))
               AS BIGINT) AS day_epoch
    FROM (SELECT event_type, min(day_epoch) AS d0, max(day_epoch) AS d1
          FROM active GROUP BY event_type)
),
daily AS (
    SELECT g.event_type, g.day_epoch,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN active a
      ON g.event_type = a.event_type AND g.day_epoch = a.day_epoch
),
totals AS (
    SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY event_type
),
dev AS (
    SELECT dy.event_type, dy.day_epoch, t.n_days,
           dy.n * t.n_days - t.total AS d,
           {leads}
    FROM daily dy JOIN totals t ON dy.event_type = t.event_type
),
wide AS (
    SELECT event_type,
           CAST(sum(d * d) AS BIGINT) AS den,
           CAST(min(n_days) AS BIGINT) AS n_days,
           {nums}
    FROM dev GROUP BY event_type
),
stacked AS (
    {lag_rows}
)
SELECT event_type, lag, n_days,
       CAST(CASE WHEN den > 0 AND num IS NOT NULL
                 THEN (num * 1000000) // den ELSE 0 END AS BIGINT)
           AS acf_micro
FROM stacked
ORDER BY event_type, lag
"""


EVENTS_AUTOCORRELATION_SQL = _events_autocorrelation_oracle()


def events_dow_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type with the exact
    chi-square uniformity statistic — the weekly companion to
    events_hourly (hour profile) and events_autocorrelation (which
    detects a weekly cadence; this localizes it to weekdays). A type
    whose chisq collapses between snapshots lost its weekly rhythm —
    a bot signature or an ingestion change.

    The dow grid is DENSIFIED: a type that never fires on Sundays
    still carries the (type, 0) row, because that absence is exactly
    what the statistic must count ((0−E)²/E = total/7, the largest
    possible per-cell surprise). dow is 0=Sunday..6 in both engines
    (Spark dayofweek()−1 ≡ DuckDB dayofweek()).

    INTEGER-EXACT: with dev = 7·n_dow − total (7× the mean-centered
    deviation), chisq = Σ dev² / (7·total); dev² sums in
    DECIMAL(38,0) (DuckDB HUGEINT — dev can reach ~total, whose
    square wraps int64 past ~3e6 events/type) and the one division at
    the end is the micro-unit integer div. share_micro is the same
    convention per cell.

    Shape for scale: one partial+final agg to (type, dow) — 7·|types|
    rows regardless of event count — then windows over the tiny
    aggregate. The only document-sized pass is the first agg.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select(
            "event_type",
            (F.dayofweek("ts") - F.lit(1)).cast("bigint").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    types = counts.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(F.sequence(F.lit(0), F.lit(6))).alias("dow")
            )
        ).select(F.col("dow").cast("bigint").alias("dow"))
    )
    filled = grid.join(counts, ["event_type", "dow"], "left").select(
        "event_type",
        "dow",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    w_t = Window.partitionBy("event_type")
    dec = "decimal(38,0)"
    return (
        filled.withColumn("total", F.sum("n").over(w_t))
        .withColumn("dev", F.lit(7) * F.col("n") - F.col("total"))
        .withColumn(
            "chisq_micro",
            F.expr(
                f"CAST(sum(CAST(dev AS {dec}) * CAST(dev AS {dec})) "
                "OVER (PARTITION BY event_type) * 1000000 "
                f"div (7 * CAST(total AS {dec})) AS BIGINT)"
            ),
        )
        .select(
            "event_type",
            "dow",
            "n",
            F.expr("CAST(n * 1000000L div total AS BIGINT)").alias(
                "share_micro"
            ),
            "chisq_micro",
        )
        .orderBy("event_type", "dow")
    )


EVENTS_DOW_CHISQ_SQL = r"""
WITH counts AS (
    SELECT event_type,
           CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT t.event_type, CAST(d.dow AS BIGINT) AS dow
    FROM (SELECT DISTINCT event_type FROM counts) t
    CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS dow) d
),
filled AS (
    SELECT g.event_type, g.dow, CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN counts c
      ON g.event_type = c.event_type AND g.dow = c.dow
),
dev AS (
    SELECT event_type, dow, n,
           sum(n) OVER (PARTITION BY event_type) AS total,
           7 * n - sum(n) OVER (PARTITION BY event_type) AS d
    FROM filled
)
SELECT event_type, dow, n,
       CAST(n * 1000000 // total AS BIGINT) AS share_micro,
       CAST(sum(CAST(d AS HUGEINT) * d) OVER (PARTITION BY event_type)
            * 1000000 // (7 * CAST(total AS HUGEINT)) AS BIGINT)
           AS chisq_micro
FROM dev
ORDER BY event_type, dow
"""


def event_trigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order sequential patterns: every (a → b → c) trigram of
    consecutive event types within a user stream, with the lift of
    the second-order model over the first-order Markov chain —
    lift = P(c | a,b) / P(c | b). Lift far from 1 means the
    two-step history genuinely changes the next-action distribution,
    i.e. where event_markov_transitions' first-order view is wrong.

    All four counts derive from the SAME trigram table (marginals via
    windows), so boundary effects cancel by construction:
        lift = n_abc · n_·b· / (n_ab· · n_·bc)
    INTEGER-EXACT: products of exact BIGINT counts, widened through
    DECIMAL(38,0) (DuckDB HUGEINT — the events_dow_chisq pairing) so
    n_abc·n_b·1e6 stays exact at any corpus size instead of silently
    wrapping int64 past ~3e9 trigrams per middle type; the one
    division is the micro-unit integer div, result cast back to
    BIGINT (the ratio is bounded by 1e6 · |types|).

    Shape for scale: one shuffle on user_id orders each stream (two
    lags of carried state per row), one partial+final agg to the
    trigram matrix — at most |types|³ rows regardless of corpus size —
    and three windows over that tiny matrix. Ordering ties break on
    event_id in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("prev2"),
            F.lag("event_type", 1).over(w).alias("prev1"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev2").isNotNull())
        .groupBy("prev2", "prev1", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_ab = Window.partitionBy("prev2", "prev1")
    w_bc = Window.partitionBy("prev1", "next_type")
    w_b = Window.partitionBy("prev1")
    return (
        tri.withColumn("n_ab", F.sum("n").over(w_ab))
        .withColumn("n_bc", F.sum("n").over(w_bc))
        .withColumn("n_b", F.sum("n").over(w_b))
        .select(
            "prev2",
            "prev1",
            "next_type",
            "n",
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * n_b * 1000000 "
                "div (CAST(n_ab AS DECIMAL(38,0)) * n_bc) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy("prev2", "prev1", "next_type")
    )


EVENT_TRIGRAM_LIFT_SQL = r"""
WITH tri AS (
    SELECT prev2, prev1, next_type, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT lag(event_type, 2) OVER w AS prev2,
               lag(event_type, 1) OVER w AS prev1,
               event_type AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE prev2 IS NOT NULL
    GROUP BY 1, 2, 3
)
SELECT prev2, prev1, next_type, n,
       CAST(CAST(n AS HUGEINT) * sum(n) OVER (PARTITION BY prev1)
            * 1000000
            // (CAST(sum(n) OVER (PARTITION BY prev2, prev1)
                     AS HUGEINT)
                * sum(n) OVER (PARTITION BY prev1, next_type))
            AS BIGINT) AS lift_micro
FROM tri
ORDER BY prev2, prev1, next_type
"""


# Target parts per sampling bucket for brand_price_rank_assoc's pair
# generator: each brand's parts hash into max(1, n div 16) buckets and
# only same-bucket pairs are enumerated, capping expected pairs per
# part at (PAIR_BUCKET_SIZE - 1) / 2 regardless of catalog size.
PAIR_BUCKET_SIZE = 16


def brand_price_rank_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank association between part size and retail price per brand,
    by the two standard robust (outlier-immune) estimators the OLS
    fit in brand_price_regression cannot provide:

    - Goodman-Kruskal gamma = (C − D) / (C + D) over concordant /
      discordant part pairs — the tie-aware rank correlation (ties in
      either variable simply drop out of the denominator).
    - Theil-Sen slope: the median over all pairwise slopes
      Δprice/Δsize — the 29%-breakdown-point regression line. The
      LOWER median (rank ⌈k/2⌉) is used so both engines select the
      same element with no interpolation float.

    INTEGER-EXACT: prices fold to cents, slopes to truncated
    micro-cents-per-size; C, D and the median rank are exact counts.

    PAIR SAMPLING (the scale contract): both estimators are defined
    to degrade gracefully under uniform pair subsampling, and a full
    all-pairs generator is quadratic in parts-per-brand — dead at
    catalog scale (sf10 ≈ 80G pairs). So pairs are drawn WITHIN HASH
    BUCKETS: each part lands in one of max(1, n_parts_in_brand div
    PAIR_BUCKET_SIZE) buckets via a Knuth multiplicative hash on
    p_partkey (deterministic, mirrored verbatim by the oracle), and
    only same-bucket pairs are enumerated. Bucket membership is
    independent of size/price, so same-bucket pairs are an unbiased
    uniform pair sample; expected pairs per brand ≈ n_parts ×
    (PAIR_BUCKET_SIZE−1)/2 — LINEAR in catalog size. Brands with
    fewer than 2·PAIR_BUCKET_SIZE parts keep one bucket = the exact
    all-pairs estimator.

    Shape for scale: one partial+final count to the ≤|brands| row
    brand-size table (broadcast back), then a SELF-EQUI-JOIN ON
    (BRAND, BUCKET) over the part DIMENSION with p1.key < p2.key —
    enumeration is bucket-local, never quadratic in the catalog.
    Counts, concordance and the Theil-Sen median all come from ONE
    window pass over the sampled pair frame (partitioned by brand —
    no second derivation of the pairs, no persist needed); the
    LOWER-median row_number orders NULLS LAST so ds=0 pairs count in
    n_pairs but drop out of the slope median in both engines.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.col("p_size").cast("bigint").alias("size"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    brand_n = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    # Knuth multiplicative hash, exact in int64 for keys < 3.4e9
    # (sf1000's part table is ~2e9 rows); both engines evaluate the
    # identical expression, so the sampled pair set is shared.
    bucketed = part.join(F.broadcast(brand_n), "p_brand").select(
        "p_partkey",
        "p_brand",
        "size",
        "cents",
        F.expr(
            "(p_partkey * 2654435761L % 4294967296L) "
            f"% greatest(1L, n_parts div {PAIR_BUCKET_SIZE}L)"
        ).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    scored = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_brand").alias("p_brand"),
        (F.col("b.size") - F.col("a.size")).alias("ds"),
        (F.col("b.cents") - F.col("a.cents")).alias("dc"),
    ).select(
        "p_brand",
        "ds",
        "dc",
        F.expr(
            "CASE WHEN ds = 0 THEN NULL ELSE "
            "CAST(CASE WHEN ds < 0 THEN (-dc) * 1000000L div (-ds) "
            "ELSE dc * 1000000L div ds END AS BIGINT) END"
        ).alias("slope_micro"),
    )
    w_b = Window.partitionBy("p_brand")
    w_ord = Window.partitionBy("p_brand").orderBy(
        F.col("slope_micro").asc_nulls_last()
    )
    return (
        scored.withColumn(
            "n_pairs", F.count(F.lit(1)).over(w_b).cast("bigint")
        )
        .withColumn(
            "concordant",
            F.sum(
                ((F.col("ds") > 0) & (F.col("dc") > 0)
                 | (F.col("ds") < 0) & (F.col("dc") < 0)).cast("bigint")
            ).over(w_b).cast("bigint"),
        )
        .withColumn(
            "discordant",
            F.sum(
                ((F.col("ds") > 0) & (F.col("dc") < 0)
                 | (F.col("ds") < 0) & (F.col("dc") > 0)).cast("bigint")
            ).over(w_b).cast("bigint"),
        )
        .withColumn(
            "cnt_slopes", F.count("slope_micro").over(w_b).cast("bigint")
        )
        .withColumn("rn", F.row_number().over(w_ord))
        .filter(
            F.expr(
                "(cnt_slopes > 0 AND rn = (cnt_slopes + 1) div 2) "
                "OR (cnt_slopes = 0 AND rn = 1)"
            )
        )
        .select(
            "p_brand",
            "n_pairs",
            "concordant",
            "discordant",
            F.expr(
                "CAST(CASE WHEN concordant + discordant > 0 THEN "
                "(concordant - discordant) * 1000000L "
                "div (concordant + discordant) ELSE 0 END AS BIGINT)"
            ).alias("gamma_micro"),
            F.coalesce("slope_micro", F.lit(0))
            .cast("bigint")
            .alias("theilsen_slope_micro"),
        )
        .orderBy("p_brand")
    )


BRAND_PRICE_RANK_ASSOC_SQL = rf"""
WITH part_c AS (
    SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS size,
           CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
    FROM part
),
brand_n AS (
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
    FROM part_c GROUP BY p_brand
),
bucketed AS (
    SELECT p.p_partkey, p.p_brand, p.size, p.cents,
           (p.p_partkey * 2654435761 % 4294967296)
               % greatest(1, n.n_parts // {PAIR_BUCKET_SIZE})
               AS bucket
    FROM part_c p JOIN brand_n n ON p.p_brand = n.p_brand
),
scored AS (
    SELECT a.p_brand,
           b.size - a.size AS ds,
           b.cents - a.cents AS dc,
           CASE WHEN b.size - a.size = 0 THEN NULL ELSE
             CAST(CASE WHEN b.size - a.size < 0
                  THEN (-(b.cents - a.cents)) * 1000000
                       // (-(b.size - a.size))
                  ELSE (b.cents - a.cents) * 1000000
                       // (b.size - a.size) END AS BIGINT) END
               AS slope_micro
    FROM bucketed a JOIN bucketed b
      ON a.p_brand = b.p_brand AND a.bucket = b.bucket
     AND a.p_partkey < b.p_partkey
),
win AS (
    SELECT p_brand,
           CAST(count(*) OVER wb AS BIGINT) AS n_pairs,
           CAST(sum(CAST((ds > 0 AND dc > 0) OR (ds < 0 AND dc < 0)
                AS BIGINT)) OVER wb AS BIGINT) AS concordant,
           CAST(sum(CAST((ds > 0 AND dc < 0) OR (ds < 0 AND dc > 0)
                AS BIGINT)) OVER wb AS BIGINT) AS discordant,
           CAST(count(slope_micro) OVER wb AS BIGINT) AS cnt_slopes,
           row_number() OVER (PARTITION BY p_brand
                              ORDER BY slope_micro ASC NULLS LAST)
               AS rn,
           slope_micro
    FROM scored
    WINDOW wb AS (PARTITION BY p_brand)
)
SELECT p_brand, n_pairs, concordant, discordant,
       CAST(CASE WHEN concordant + discordant > 0 THEN
            (concordant - discordant) * 1000000
            // (concordant + discordant) ELSE 0 END AS BIGINT)
           AS gamma_micro,
       CAST(coalesce(slope_micro, 0) AS BIGINT)
           AS theilsen_slope_micro
FROM win
WHERE (cnt_slopes > 0 AND rn = (cnt_slopes + 1) // 2)
   OR (cnt_slopes = 0 AND rn = 1)
ORDER BY p_brand
"""


def orders_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive decomposition of monthly order revenue into
    trend + month-of-year seasonal + residual — the structure report
    behind orders_monthly_growth's raw deltas (is December big
    because of trend or season?).

    INTEGER-EXACT throughout: the centered 12-month moving average
    (the even-window half-weight form) is computed ×24 —
        trend24_t = x_{t−6} + 2·Σ_{k=−5..+5} x_{t+k} + x_{t+6}
    — pure integer sums over revenue in whole currency units; the
    seasonal index is the mean of the detrended series per
    month-of-year, seasonal_micro = Σ(24·x − trend24)·1e6 div
    (24·cnt); trend_micro = trend24·1e6 div 24; and the residual is
    defined against the EMITTED truncated values (x·1e6 − trend_micro
    − seasonal_micro) so all three columns add back to revenue
    exactly by construction. The seasonal indices are left uncentered
    (the grand-mean centering constant is absorbed into trend
    interpretation), which keeps every quantity a ratio of integer
    sums. Months inside the half-window margins (first/last 6) have
    no defined trend and are excluded, as in any centered-MA
    decomposition.

    Shape for scale: ONE partial+final agg reduces orders to the
    ≤~80-row dense month grid (gaps zero-filled via the day-grid
    explode pattern, so a silent month counts as revenue 0); every
    window runs over that bounded reduction via
    bounded_global_window; the 12-row seasonal table broadcasts back.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        ).cast("bigint").alias("midx")
    ).agg(
        F.sum(
            F.expr(
                "CAST(floor(o_totalprice * 1000000) AS BIGINT)"
                " div 1000000"
            )
        ).cast("bigint").alias("x")
    )
    grid = monthly.agg(
        F.min("midx").alias("m0"), F.max("midx").alias("m1")
    ).select(F.explode(F.sequence("m0", "m1")).alias("midx"))
    dense = grid.join(monthly, "midx", "left").select(
        "midx", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    w = bounded_global_window("midx")
    trended = dense.select(
        "midx",
        "x",
        (
            F.lag("x", 6).over(w)
            + F.lead("x", 6).over(w)
            + F.lit(2)
            * F.sum("x").over(
                bounded_global_window("midx").rowsBetween(-5, 5)
            )
        ).alias("trend24"),
    ).withColumn("detr24", F.lit(24) * F.col("x") - F.col("trend24"))
    seasonal = (
        trended.filter(F.col("trend24").isNotNull())
        .groupBy((F.col("midx") % 12).alias("moy"))
        .agg(
            F.sum("detr24").cast("bigint").alias("s_sum"),
            F.count(F.lit(1)).cast("bigint").alias("s_cnt"),
        )
        .select(
            "moy",
            F.expr("CAST(s_sum * 1000000L div (24 * s_cnt) AS BIGINT)")
            .alias("seasonal_micro"),
        )
    )
    return (
        trended.filter(F.col("trend24").isNotNull())
        .withColumn("moy", F.col("midx") % 12)
        .join(F.broadcast(seasonal), "moy")
        .select(
            "midx",
            F.expr("midx div 12").cast("bigint").alias("year"),
            (F.col("moy") + 1).cast("bigint").alias("month"),
            F.col("x").alias("revenue_units"),
            F.expr("CAST(trend24 * 1000000L div 24 AS BIGINT)").alias(
                "trend_micro"
            ),
            "seasonal_micro",
            F.expr(
                "CAST(x * 1000000L - (trend24 * 1000000L div 24)"
                " - seasonal_micro AS BIGINT)"
            ).alias("residual_micro"),
        )
        .orderBy("midx")
    )


ORDERS_SEASONAL_DECOMPOSITION_SQL = r"""
WITH monthly AS (
    SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
               AS BIGINT) AS midx,
           CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT)
                    // 1000000) AS BIGINT) AS x
    FROM orders GROUP BY 1
),
grid AS (
    SELECT CAST(unnest(generate_series(m0, m1)) AS BIGINT) AS midx
    FROM (SELECT min(midx) AS m0, max(midx) AS m1 FROM monthly)
),
dense AS (
    SELECT g.midx, CAST(coalesce(m.x, 0) AS BIGINT) AS x
    FROM grid g LEFT JOIN monthly m ON g.midx = m.midx
),
trended AS (
    SELECT midx, x,
           lag(x, 6) OVER w + lead(x, 6) OVER w
             + 2 * sum(x) OVER (ORDER BY midx
                 ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS trend24,
           24 * x - (lag(x, 6) OVER w + lead(x, 6) OVER w
             + 2 * sum(x) OVER (ORDER BY midx
                 ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS detr24
    FROM dense
    WINDOW w AS (ORDER BY midx)
),
seasonal AS (
    SELECT midx % 12 AS moy,
           CAST(sum(detr24) * 1000000 // (24 * count(*)) AS BIGINT)
               AS seasonal_micro
    FROM trended WHERE trend24 IS NOT NULL
    GROUP BY 1
)
SELECT t.midx,
       CAST(t.midx // 12 AS BIGINT) AS year,
       CAST(t.midx % 12 + 1 AS BIGINT) AS month,
       t.x AS revenue_units,
       CAST(t.trend24 * 1000000 // 24 AS BIGINT) AS trend_micro,
       s.seasonal_micro,
       CAST(t.x * 1000000 - (t.trend24 * 1000000 // 24)
            - s.seasonal_micro AS BIGINT) AS residual_micro
FROM trended t JOIN seasonal s ON t.midx % 12 = s.moy
WHERE t.trend24 IS NOT NULL
ORDER BY t.midx
"""


# XmR individuals-chart constant: UCL/LCL = x̄ ± 2.66·mR̄ (the 3σ
# estimate d2=1.128 for n=2 folded in), as integer micro units.
XMR_LIMIT_MICRO = 2_660_000


def events_xmr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving-range) control chart over daily
    event volume per type — the SPC standard for "is this day's
    volume within the process's own historical variation", the
    moving-range-based complement to event_volume_anomalies' stddev
    z-score (mR̄ is robust to the variance inflation a single huge
    spike causes, which is exactly when the z-score chart goes blind).

    INTEGER-EXACT: the center line is total·1e6 div T; the limit arm
    is XMR_LIMIT_MICRO·ΣmR div (T−1) with mR the absolute day-to-day
    difference (an exact integer); LCL clamps at 0 (volumes are
    counts). A day is flagged iff its exact count·1e6 falls outside
    [lcl, ucl]. Single-day types have no moving range: limits
    degenerate to the center and flag 0 by convention.

    Shape for scale: the day grid is the same dense zero-filled
    reduction every events time-series query uses — one partial+final
    agg to (type, day), windows partitioned per type over
    day-count-bounded partitions, and the per-type limit aggregate
    joins back onto the same reduction (types-row broadcast).
    """
    ev = load_table(spark, sf_dir, "events")
    active = (
        ev.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", "ts"))
            .cast("bigint")
            .alias("day_epoch"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return xmr_control_from_active(active)


def xmr_control_from_active(active: DataFrame) -> DataFrame:
    """XmR chart over any (event_type, day_epoch, n) active-day frame
    — shared by the batch operator above and the streaming twin
    (streaming/events.py drains its watermarked daily agg into this
    same computation, so stream ≡ batch is structural, and the
    equality test only has to pin that the DRAINED COUNTS agree).

    Callers whose `active` is a leaf the analyzer cannot
    self-join-dedup (the streaming memory sink's MemoryPlan) must
    break lineage first — run_xmr_control_stream truncates the drained
    aggregate (bounded: days × types rows) before calling."""
    grid = (
        active.groupBy("event_type")
        .agg(F.min("day_epoch").alias("d0"), F.max("day_epoch").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1", F.lit(86_400))).alias(
                "day_epoch"
            ),
        )
    )
    daily = grid.join(active, ["event_type", "day_epoch"], "left").select(
        "event_type",
        "day_epoch",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("day_epoch")
    ranged = daily.withColumn(
        "mr", F.abs(F.col("n") - F.lag("n").over(w))
    )
    limits = ranged.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("t_days"),
        F.coalesce(F.sum("mr"), F.lit(0)).cast("bigint").alias("mr_sum"),
    ).select(
        "event_type",
        "t_days",
        F.expr("CAST(total * 1000000L div t_days AS BIGINT)").alias(
            "center_micro"
        ),
        F.expr(
            f"CAST(CASE WHEN t_days > 1 THEN {XMR_LIMIT_MICRO}L * mr_sum"
            " div (t_days - 1) ELSE 0 END AS BIGINT)"
        ).alias("arm_micro"),
    )
    return (
        ranged.join(F.broadcast(limits), "event_type")
        .select(
            "event_type",
            "day_epoch",
            "n",
            "center_micro",
            F.expr("CAST(center_micro + arm_micro AS BIGINT)").alias(
                "ucl_micro"
            ),
            F.expr(
                "CAST(greatest(0L, center_micro - arm_micro) AS BIGINT)"
            ).alias("lcl_micro"),
            F.expr(
                "CAST(CASE WHEN n * 1000000L > center_micro + arm_micro"
                " OR n * 1000000L < greatest(0L, center_micro - arm_micro)"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("out_of_control"),
        )
        .orderBy("event_type", "day_epoch")
    )


EVENTS_XMR_CONTROL_SQL = rf"""
WITH active AS (
    SELECT event_type,
           CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT event_type, CAST(unnest(generate_series(d0, d1, 86400))
               AS BIGINT) AS day_epoch
    FROM (SELECT event_type, min(day_epoch) AS d0, max(day_epoch) AS d1
          FROM active GROUP BY event_type)
),
daily AS (
    SELECT g.event_type, g.day_epoch,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN active a
      ON g.event_type = a.event_type AND g.day_epoch = a.day_epoch
),
ranged AS (
    SELECT event_type, day_epoch, n,
           abs(n - lag(n) OVER (PARTITION BY event_type
                                ORDER BY day_epoch)) AS mr
    FROM daily
),
limits AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS t_days,
           CAST(sum(n) * 1000000 // count(*) AS BIGINT) AS center_micro,
           CAST(CASE WHEN count(*) > 1 THEN
                {XMR_LIMIT_MICRO} * coalesce(sum(mr), 0) // (count(*) - 1)
                ELSE 0 END AS BIGINT) AS arm_micro
    FROM ranged GROUP BY event_type
)
SELECT r.event_type, r.day_epoch, r.n,
       l.center_micro,
       CAST(l.center_micro + l.arm_micro AS BIGINT) AS ucl_micro,
       CAST(greatest(0, l.center_micro - l.arm_micro) AS BIGINT)
           AS lcl_micro,
       CAST(CASE WHEN r.n * 1000000 > l.center_micro + l.arm_micro
                 OR r.n * 1000000 < greatest(0, l.center_micro
                                                - l.arm_micro)
                 THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM ranged r JOIN limits l ON r.event_type = l.event_type
ORDER BY r.event_type, r.day_epoch
"""


FUNNEL_DEADLINE_S = 7 * 86_400  # convert within 7 days of step 1


def events_funnel_deadline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel under a conversion DEADLINE: step k counts
    only if it occurs strictly after the step-(k−1) arrival AND
    within FUNNEL_DEADLINE_S of the user's step-1 arrival — the
    "converted within 7 days of signup" semantics every growth report
    actually uses (events_funnel_ordered answers "ever converted";
    this answers "converted in the window", and the gap between the
    two IS the slow-conversion mass).

    Same scale shape as the ordered funnel: one user-keyed agg per
    step over a type-pruned scan, chained through user-keyed joins
    (the step-1 arrival rides along as a carried column, so the
    deadline check is a map-side filter, not an extra join); the
    3-row result takes the bounded global window for ratios.
    """
    events = load_table(spark, sf_dir, "events")
    reached = None
    arrivals: DataFrame | None = None
    for idx, step in enumerate(FUNNEL_STEPS, start=1):
        typed = events.filter(F.col("event_type") == step).select(
            "user_id", "ts"
        )
        if arrivals is None:
            arr = (
                typed.groupBy("user_id")
                .agg(F.min("ts").alias("t"))
                .withColumn("t1", F.col("t"))
            )
        else:
            arr = (
                typed.join(
                    arrivals.select(
                        "user_id", F.col("t").alias("t_prev"), "t1"
                    ),
                    "user_id",
                )
                .filter(
                    (F.col("ts") > F.col("t_prev"))
                    & (
                        F.unix_timestamp("ts")
                        <= F.unix_timestamp("t1") + F.lit(FUNNEL_DEADLINE_S)
                    )
                )
                .groupBy("user_id", "t1")
                .agg(F.min("ts").alias("t"))
            )
        arrivals = arr
        step_rows = arr.select(
            F.lit(idx).cast("bigint").alias("step_idx"),
            F.lit(step).alias("step"),
            "user_id",
        )
        reached = step_rows if reached is None else reached.union(step_rows)
    steps = local_frame(
        spark,
        [(i, s) for i, s in enumerate(FUNNEL_STEPS, start=1)],
        "step_idx BIGINT, step STRING",
    )
    counts = steps.join(
        reached.groupBy("step_idx", "step").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached")
        ),
        ["step_idx", "step"],
        "left",
    ).select(
        "step_idx",
        "step",
        F.coalesce("n_reached", F.lit(0)).cast("bigint").alias("n_users"),
    )
    w = bounded_global_window("step_idx")
    prev = F.coalesce(F.lag("n_users").over(w), F.col("n_users"))
    first = F.first("n_users").over(w)
    return counts.select(
        "step_idx",
        "step",
        "n_users",
        F.when(
            prev > 0,
            F.floor(F.col("n_users") * F.lit(1000000.0) / prev),
        ).otherwise(F.lit(0)).cast("bigint").alias("conversion_micro"),
        F.when(
            first > 0,
            F.floor(F.col("n_users") * F.lit(1000000.0) / first),
        ).otherwise(F.lit(0)).cast("bigint").alias("overall_micro"),
    ).orderBy("step_idx")


EVENTS_FUNNEL_DEADLINE_SQL = f"""
WITH s1 AS (
    SELECT user_id, min(ts) AS t, min(ts) AS t1 FROM events
    WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, s1.t1, min(e.ts) AS t
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
     AND epoch(e.ts) <= epoch(s1.t1) + {FUNNEL_DEADLINE_S}
    WHERE e.event_type = '{FUNNEL_STEPS[1]}' GROUP BY e.user_id, s1.t1
),
s3 AS (
    SELECT e.user_id, s2.t1, min(e.ts) AS t
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
     AND epoch(e.ts) <= epoch(s2.t1) + {FUNNEL_DEADLINE_S}
    WHERE e.event_type = '{FUNNEL_STEPS[2]}' GROUP BY e.user_id, s2.t1
),
counts AS (
    SELECT CAST(1 AS BIGINT) AS step_idx, '{FUNNEL_STEPS[0]}' AS step,
           CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', count(*) FROM s2
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', count(*) FROM s3
)
SELECT step_idx, step, n_users,
       CAST(CASE WHEN coalesce(lag(n_users) OVER (ORDER BY step_idx),
                               n_users) > 0
                 THEN floor(n_users * 1000000.0
                      / coalesce(lag(n_users) OVER (ORDER BY step_idx),
                                 n_users))
                 ELSE 0 END AS BIGINT) AS conversion_micro,
       CAST(CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
                 THEN floor(n_users * 1000000.0
                      / first_value(n_users) OVER (ORDER BY step_idx))
                 ELSE 0 END AS BIGINT) AS overall_micro
FROM counts
ORDER BY step_idx
"""


def orders_backlog_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day — how many orders were placed but
    not yet fully shipped on each calendar day. This is the interval
    problem (count intervals covering each point) solved the
    scale-correct way: each order folds to TWO delta events (+1 at
    the order day, −1 the day after its LAST lineitem ships) and the
    backlog is the running sum of deltas over the dense day grid —
    no per-day interval join, no fact-table window.

    INTEGER-EXACT trivially (counts). Orders with no lineitems are
    excluded by the inner join (they have no ship side — the fixture
    generator always emits lines; a production variant reports them
    as a separate never-shipped bucket).

    Shape for scale: lineitem reduces to (orderkey, last_ship_day) in
    one partial+final agg; the delta union is 2 rows per order,
    re-aggregated to ≤2 rows per day BEFORE the running sum, which
    then runs over the days-bounded dense grid via the sanctioned
    bounded global window (a calendar century is ~36k rows).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("day", "o_orderdate"))
        .cast("bigint")
        .alias("start_day"),
    )
    last_ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.unix_timestamp(F.date_trunc("day", F.max("l_shipdate")))
            .cast("bigint")
            .alias("last_ship_day")
        )
    )
    spans = orders.join(
        last_ship, orders.o_orderkey == last_ship.l_orderkey
    ).select("start_day", (F.col("last_ship_day") + 86_400).alias("end_day"))
    opened = spans.groupBy(F.col("start_day").alias("day_epoch")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_opened")
    )
    closed = spans.groupBy(F.col("end_day").alias("day_epoch")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_closed")
    )
    bounds = spans.agg(
        F.min("start_day").alias("d0"), F.max("end_day").alias("d1")
    )
    grid = bounds.select(
        F.explode(F.sequence("d0", "d1", F.lit(86_400))).alias("day_epoch")
    )
    daily = (
        grid.join(opened, "day_epoch", "left")
        .join(closed, "day_epoch", "left")
        .select(
            "day_epoch",
            F.coalesce("n_opened", F.lit(0)).cast("bigint").alias(
                "n_opened"
            ),
            F.coalesce("n_closed", F.lit(0)).cast("bigint").alias(
                "n_closed"
            ),
        )
    )
    w = bounded_global_window("day_epoch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.withColumn(
            "open_orders",
            F.sum(F.col("n_opened") - F.col("n_closed")).over(w)
            .cast("bigint"),
        )
        .orderBy("day_epoch")
    )


ORDERS_BACKLOG_TIMELINE_SQL = r"""
WITH spans AS (
    SELECT CAST(epoch(date_trunc('day', o.o_orderdate)) AS BIGINT)
               AS start_day,
           CAST(epoch(date_trunc('day', ls.last_ship)) AS BIGINT)
               + 86400 AS end_day
    FROM orders o
    JOIN (SELECT l_orderkey, max(l_shipdate) AS last_ship
          FROM lineitem GROUP BY l_orderkey) ls
      ON o.o_orderkey = ls.l_orderkey
),
opened AS (
    SELECT start_day AS day_epoch, CAST(count(*) AS BIGINT) AS n_opened
    FROM spans GROUP BY 1
),
closed AS (
    SELECT end_day AS day_epoch, CAST(count(*) AS BIGINT) AS n_closed
    FROM spans GROUP BY 1
),
grid AS (
    SELECT CAST(unnest(generate_series(d0, d1, 86400)) AS BIGINT)
               AS day_epoch
    FROM (SELECT min(start_day) AS d0, max(end_day) AS d1 FROM spans)
),
daily AS (
    SELECT g.day_epoch,
           CAST(coalesce(o.n_opened, 0) AS BIGINT) AS n_opened,
           CAST(coalesce(c.n_closed, 0) AS BIGINT) AS n_closed
    FROM grid g
    LEFT JOIN opened o ON g.day_epoch = o.day_epoch
    LEFT JOIN closed c ON g.day_epoch = c.day_epoch
)
SELECT day_epoch, n_opened, n_closed,
       CAST(sum(n_opened - n_closed) OVER (
           ORDER BY day_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS open_orders
FROM daily
ORDER BY day_epoch
"""


SESSION_PATH_LEN = 4  # leading events that define a session's path


def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of session OPENINGS: the path of each session's first
    {SESSION_PATH_LEN} events (same gap-based sessions as
    events_sessionized), counted across all sessions — the
    product-analytics "how do sessions start" report that the
    per-transition Markov matrix cannot answer (it has no positional
    anchor; this is anchored at the session start).

    Determinism: events order by (ts, event_id) everywhere; the path
    string is built from a SORTED (rank, type) struct array — never
    from collect_list order, which Spark does not guarantee.

    Shape for scale: the two session windows every sessionization
    pays (user-keyed, partition bounded by per-user activity), a
    rank filter that keeps ≤{SESSION_PATH_LEN} rows per session
    BEFORE the per-session array agg, one (path) partial+final agg,
    and the share over a 1-row broadcast total. Output bounded by
    |types|^{SESSION_PATH_LEN}, independent of event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    sessioned = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_sess = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    heads = (
        sessioned.withColumn("rn", F.row_number().over(w_sess))
        .filter(F.col("rn") <= SESSION_PATH_LEN)
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("rn").alias("rn"),
                                F.col("event_type").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                ">",
            ).alias("path")
        )
    )
    counts = heads.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    total = counts.agg(
        F.sum("n_sessions").cast("bigint").alias("total_sessions")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "path",
            "n_sessions",
            F.expr(
                "CAST(n_sessions * 1000000L div total_sessions AS BIGINT)"
            ).alias("share_micro"),
        )
        .orderBy(F.desc("n_sessions"), "path")
    )


SESSION_TOP_PATHS_SQL = rf"""
WITH sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           sum(CASE WHEN prev_ts IS NULL
                    OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_MIN} * 60
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    )
),
ranked AS (
    SELECT user_id, session_seq, event_type,
           row_number() OVER (PARTITION BY user_id, session_seq
                              ORDER BY ts, event_id) AS rn
    FROM sessioned
),
heads AS (
    SELECT user_id, session_seq,
           string_agg(event_type, '>' ORDER BY rn) AS path
    FROM ranked WHERE rn <= {SESSION_PATH_LEN}
    GROUP BY user_id, session_seq
),
counts AS (
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM heads GROUP BY path
)
SELECT path, n_sessions,
       CAST(n_sessions * 1000000
            // (SELECT sum(n_sessions) FROM counts) AS BIGINT)
           AS share_micro
FROM counts
ORDER BY n_sessions DESC, path
"""


def events_type_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience overlap between every pair of event types — which
    behaviors share users (|users(A)∩users(B)| with Jaccard and both
    directional containments). The user-set view of the product: the
    Markov matrix says what follows what WITHIN a stream; this says
    which behaviors co-occur in the same PEOPLE at all — the report
    a growth team reads before bundling features, and structurally
    the audience twin of dedup's containment scores.

    INTEGER-EXACT: distinct-user counts and pair intersections are
    exact; ratios are micro divs.

    Shape for scale: events reduce to DISTINCT (type, user) rows in
    one partial+final agg; the pair intersection is a self-equi-join
    ON USER (fan-out bounded by |types|² per user — a constant), then
    one agg to the ≤|types|²/2 matrix; type totals broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("event_type", "user_id").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    both = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        both.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_users").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_users").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST(n_both * 1000000L div (n_a + n_b - n_both)"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
            F.expr("CAST(n_both * 1000000L div n_a AS BIGINT)").alias(
                "containment_a_micro"
            ),
            F.expr("CAST(n_both * 1000000L div n_b AS BIGINT)").alias(
                "containment_b_micro"
            ),
        )
        .orderBy("type_a", "type_b")
    )


EVENTS_TYPE_AUDIENCE_OVERLAP_SQL = r"""
WITH ut AS (
    SELECT DISTINCT event_type, user_id FROM events
),
sizes AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
    FROM ut GROUP BY event_type
),
both_t AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT type_a, type_b,
       sa.n_users AS n_a, sb.n_users AS n_b, n_both,
       CAST(n_both * 1000000 // (sa.n_users + sb.n_users - n_both)
           AS BIGINT) AS jaccard_micro,
       CAST(n_both * 1000000 // sa.n_users AS BIGINT)
           AS containment_a_micro,
       CAST(n_both * 1000000 // sb.n_users AS BIGINT)
           AS containment_b_micro
FROM both_t
JOIN sizes sa ON type_a = sa.event_type
JOIN sizes sb ON type_b = sb.event_type
ORDER BY type_a, type_b
"""


def user_activity_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail diagnostic of per-user activity: the histogram of
    users by event count and the log-log OLS fit of n_users(k) vs k —
    the zipf_token_stats recipe applied to the join key every
    user-partitioned window in this repo shuffles on. A slope near −2
    or shallower means whale users dominate and the salting /
    AQE-skew machinery (join_key_skew) is load-bearing; a steep slope
    means user-keyed partitions are naturally balanced.

    The histogram rows are exact integers; only the final fit is
    floating point, computed with the same covar_pop/var_pop
    aggregates both engines implement identically over the
    ≤|distinct k| histogram rows (round(6), the zipf convention).

    Shape for scale: two nested partial+final aggs (events → per-user
    counts → histogram of counts); the fit runs over the
    activity-level histogram, whose size is bounded by the most
    active user's event count, not by users.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    hist = per_user.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    logs = hist.select(
        "k",
        "n_users",
        F.log(F.col("k").cast("double")).alias("lx"),
        F.log(F.col("n_users").cast("double")).alias("ly"),
    )
    # n_levels = 1 makes var_pop(lx) exactly 0 (one histogram level):
    # Spark would emit NULL but DuckDB (ieee_floating_point_ops) emits
    # NaN/inf, so the degenerate fit is pinned to NULL in BOTH engines
    # (k values are distinct, so n_levels > 1 ⟺ var_pop(lx) > 0).
    fit_ok = F.count(F.lit(1)) > 1
    null_d = F.lit(None).cast("double")
    return logs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_levels"),
        F.sum("n_users").cast("bigint").alias("n_users"),
        F.max("k").cast("bigint").alias("max_events_per_user"),
        F.when(
            fit_ok,
            F.round(F.covar_pop("lx", "ly") / F.var_pop("lx"), 6),
        ).otherwise(null_d).alias("slope"),
        F.when(
            fit_ok,
            F.round(
                F.avg("ly")
                - (F.covar_pop("lx", "ly") / F.var_pop("lx"))
                * F.avg("lx"),
                6,
            ),
        ).otherwise(null_d).alias("intercept"),
    )


USER_ACTIVITY_POWERLAW_SQL = r"""
WITH per_user AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS k
    FROM events GROUP BY user_id
),
hist AS (
    SELECT k, CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY k
),
logs AS (
    SELECT k, n_users,
           ln(CAST(k AS DOUBLE)) AS lx,
           ln(CAST(n_users AS DOUBLE)) AS ly
    FROM hist
)
SELECT CAST(count(*) AS BIGINT) AS n_levels,
       CAST(sum(n_users) AS BIGINT) AS n_users,
       CAST(max(k) AS BIGINT) AS max_events_per_user,
       CASE WHEN count(*) > 1
            THEN round(covar_pop(lx, ly) / var_pop(lx), 6)
            ELSE CAST(NULL AS DOUBLE) END AS slope,
       CASE WHEN count(*) > 1
            THEN round(avg(ly) - (covar_pop(lx, ly) / var_pop(lx))
                       * avg(lx), 6)
            ELSE CAST(NULL AS DOUBLE) END AS intercept
FROM logs
"""
