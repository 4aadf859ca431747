"""Relational operators (SURVEY §2.7 gap list): set operations, window
functions, joins (as-of, range, bucketed, bloom-prefiltered, SCD2,
dynamic partition pruning), top-k, rollup/cube/grouping sets, pivot and
unpivot, distinct aggregates, funnels, cogroup, table snapshot diffs,
skyline and spatial joins.

Scale posture: every join shuffles on its equi-key only (temporal and
range predicates ride along as conditions or windows), no window is
partitioned by a bounded domain alone, and growing dimensions join
without forced broadcast hints.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.operators import relational as R
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table, read_events
from orchestrated_etl_spark.sources.sinks import scratch_dir, write_parquet


# ---------------------------------------------------------------------------
# sort / top-k
# ---------------------------------------------------------------------------


def _topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return R.top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        50,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )


register(
    "topk_orders_by_price",
    _topk,
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """,
)

# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


def _union(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


register(
    "setop_union",
    _union,
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def _intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "setop_intersect",
    _intersect,
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def _except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiplicity)
    return customer.select(F.col("c_nationkey").alias("nationkey")).subtract(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "setop_except",
    _except,
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def _except_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order keys with no lineitems, as EXCEPT over key projections
    (non-empty: the fixtures contain childless orders)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.select(F.col("o_orderkey").alias("orderkey")).subtract(
        li.select(F.col("l_orderkey").alias("orderkey"))
    )


register(
    "setop_except_orders",
    _except_nonempty,
    """
    SELECT o_orderkey AS orderkey FROM orders
    EXCEPT
    SELECT l_orderkey AS orderkey FROM lineitem
    """,
)

def _intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL: per-value multiplicity is
    min(count_left, count_right) — lineitem ship-priority keys vs order
    keys keep duplicate counts, where the DISTINCT form collapses them.
    Spark plans intersectAll as a count-and-replicate aggregate, not a
    join explosion."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey").alias("orderkey"))
        .intersectAll(orders.select(F.col("o_orderkey").alias("orderkey")))
        .groupBy("orderkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


register(
    "setop_intersect_all",
    _intersect_all,
    """
    SELECT orderkey, count(*) AS multiplicity FROM (
        SELECT l_orderkey AS orderkey FROM lineitem
        INTERSECT ALL
        SELECT o_orderkey AS orderkey FROM orders
    ) GROUP BY orderkey
    """,
)


def _except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL: multiplicity max(count_left -
    count_right, 0) — lineitem order keys minus one occurrence per
    order row, i.e. "line items beyond the first per order" as a
    multiset. The aggregate-based plan (no join fan-out) is the same
    shape Spark uses for intersectAll."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey").alias("orderkey"))
        .exceptAll(orders.select(F.col("o_orderkey").alias("orderkey")))
        .groupBy("orderkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


register(
    "setop_except_all",
    _except_all,
    """
    SELECT orderkey, count(*) AS multiplicity FROM (
        SELECT l_orderkey AS orderkey FROM lineitem
        EXCEPT ALL
        SELECT o_orderkey AS orderkey FROM orders
    ) GROUP BY orderkey
    """,
)


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


def _win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return R.top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


register(
    "window_topk_per_group",
    _win_topk_per_group,
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)


def _win_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic fixture contains duplicate (l_orderkey, l_linenumber)
    # pairs (observed at sf0.1), so (shipdate, orderkey, linenumber) is
    # NOT a total order — lag/lead over it would be engine-arbitrary at
    # ties. Appending l_quantity (the lagged value itself) restores a
    # deterministic MULTISET: rows equal on every sort key are adjacent,
    # so swapping them never changes the emitted (prev, next) values.
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("ship_rank"),
        F.lag("l_quantity", 1).over(w).alias("prev_qty"),
        F.lead("l_quantity", 1).over(w).alias("next_qty"),
    )


register(
    "window_rank_lag_lead",
    _win_rank_lag,
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(rank() OVER w AS INTEGER) AS ship_rank,
           lag(l_quantity, 1) OVER w AS prev_qty,
           lead(l_quantity, 1) OVER w AS next_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
    """,
)


def _win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running sum/avg accumulate in engine-specific order; over DOUBLE the
    # last ulp differs between Spark's streaming frame accumulation and
    # DuckDB's segment-tree windows, which can flip round(). Accumulating in
    # DECIMAL(18,2) is exact, so both engines produce bit-identical sums; the
    # avg is then one double division of identical inputs.
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # No round() on the avg: round(x, 4) tie-breaks differently across
    # engines (Spark: exact BigDecimal HALF_UP; DuckDB: multiply-by-1e4),
    # and with identical double inputs the raw IEEE quotient is already
    # bit-identical on both sides — rounding could only reintroduce drift.
    sum_dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        sum_dec.cast("double").alias("running_spend"),
        (sum_dec.cast("double") / cnt).alias("running_avg"),
    )


register(
    "window_running_sum",
    _win_running,
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS running_spend,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / (count(*) OVER w) AS running_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)

# ---------------------------------------------------------------------------
# rollup / cube / grouping sets — one Expand + one hash aggregate, not one
# shuffle per grouping set
# ---------------------------------------------------------------------------


def _rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


register(
    "rollup_flag_status",
    _rollup,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


def _cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
        .cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


register(
    "cube_flag_status",
    _cube,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


def _grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


register(
    "grouping_sets_orders",
    _grouping_sets,
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)

# ---------------------------------------------------------------------------
# pivot — conditional aggregation fan-out
# ---------------------------------------------------------------------------


def _pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


register(
    "pivot_status_qty",
    _pivot,
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)

# ---------------------------------------------------------------------------
# distinct aggregates
# ---------------------------------------------------------------------------


def _distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
    )


register(
    "distinct_aggregates",
    _distinct_agg,
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)


def _tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return R.tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulation → exact sum regardless of order; the avg
            # is then one double division of identical inputs on both
            # engines (round(avg(double),6) flipped at sf0.1 group sizes).
            (
                F.sum(F.col("value").cast("decimal(25,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        ],
    ).select("window_start", "window_end", "event_type", "n_events", "avg_value")


register(
    "window_tumbling_hourly",
    _tumbling_hourly,
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / count(*)
               AS avg_value
    FROM events GROUP BY 1, 2, 3
    """,
)

def _sliding_2h_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window in BATCH: window(ts, 2h, 1h) assigns each
    event to its two overlapping hour-aligned windows (a row expansion of
    exactly duration/slide — bounded, unlike an explode over arbitrary
    arrays), then one hash aggregate per (window, type). The streaming
    twin is stream_sliding_2h; this batch form is the backfill path."""
    ev = read_events(spark, sf_dir)
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


register(
    "window_sliding_2h_batch",
    _sliding_2h_batch,
    """
    WITH starts AS (
        SELECT unnest([time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour',
                       time_bucket(INTERVAL '1 hour', ts)]) AS window_start,
               event_type, value
        FROM events
    )
    SELECT window_start,
           window_start + INTERVAL '2 hours' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value
    FROM starts GROUP BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# NTILE quantile bucketing + two-variable statistics
# ---------------------------------------------------------------------------


def _ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing of order value within each status (NTILE) with a
    per-bucket profile — the binning step for calibration/quantile
    features.

    Scale (round-16 rework): the original window partitioned by the
    3-value o_orderstatus, so each status — a third of the corpus —
    sorted in ONE task forever (the r15 verdict's parallelism-ceiling
    class). Now a TWO-PHASE grouped rank (operators/relational.
    grouped_rank_two_phase: range-partition on (status, price, key),
    per-partition row_number + broadcast P-row offsets, re-based per
    status by a 3-row bounded-domain offset broadcast) feeds
    exact_ntile_expr — SQL-standard ntile computed arithmetically from
    (rank, n), bucket assignment map-side. No stage sorts more than a
    range partition; output identical to ntile(10) OVER (...)."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = R.grouped_rank_two_phase(
        orders.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        rank_col="_rn",
        n_col="_n",
        broadcast_offsets=True,  # o_orderstatus domain: 3 values
    )
    b = ranked.select(
        "o_orderstatus",
        "o_totalprice",
        R.exact_ntile_expr(F.col("_rn"), F.col("_n"), 10).alias("decile"),
    )
    return b.groupBy("o_orderstatus", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


register(
    "window_ntile_deciles",
    _ntile,
    """
    WITH b AS (
        SELECT o_orderstatus, o_totalprice,
               ntile(10) OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT o_orderstatus, decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM b GROUP BY o_orderstatus, decile
    """,
)


def _unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the lineitem measures into (measure, value) rows via
    stack() — the inverse of pivot_status_qty — then profile each measure.
    stack is a generator expression: no shuffle until the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, 'price', l_extendedprice,"
        " 'discount', l_discount) AS (measure, value)"
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


register(
    "unpivot_lineitem_measures",
    _unpivot,
    """
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    SELECT l_returnflag, measure, count(*) AS n,
           round(avg(value), 6) AS avg_value
    FROM long GROUP BY l_returnflag, measure
    """,
)


# ---------------------------------------------------------------------------
# as-of join / range join (events)
# ---------------------------------------------------------------------------


def asof_core(ev: DataFrame) -> DataFrame:
    """As-of join core over an events frame with (event_id, user_id, ts,
    event_type): for every purchase, the most recent click at or before it
    by the same user. Union-tag trick — interleave both sides, sort within
    user by (ts, kind) with clicks before same-ts purchases, carry the
    last click ts forward with a running-max window. ONE shuffle on
    user_id; assumes one user's history fits a partition (see
    asof_salted_core for the skew-safe variant)."""
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).withColumn(
        "kind", F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_click_ts",
            F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w),
        )
        .where(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: the point-in-time join feature stores and backtests
    need, which Spark has no native operator for. See asof_core."""
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    return asof_core(ev)


register(
    "asof_join_purchase_click",
    _asof,
    """
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)


def _asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range-SALTED as-of join — the skew-safe variant of
    asof_join_purchase_click. The plain form partitions by user_id alone,
    which assumes one user's whole history fits a partition; a hot key
    (bot account, service user) breaks that at 100 TB. Here the window
    key is (user_id, day-bucket), bounding any partition to one user-day:

    1. bucket-local pass: running max of click ts within (user_id, day),
       ordered (ts, kind) with clicks sorting before same-ts purchases —
       identical tie semantics to the unsalted form;
    2. carry-in pass: per (user_id, day) the bucket's final last-click is
       aggregated (one row per user-day — the tiny relation), and the
       previous buckets' running max comes from a lag-exclusive window
       over THAT summary, not over raw events;
    3. final answer = greatest(bucket-local running max, carry-in).
       Every click in an earlier bucket precedes every ts in this bucket,
       so the carry-in is exactly the cross-bucket part of the as-of max.

    Shuffle ledger: one exchange of events on (user_id, day) shared by
    the bucket window AND the summary aggregate (same keys), one exchange
    of the user-day summary on user_id for the carry window, and a join
    back on (user_id, day) that re-exchanges only the summary side — the
    bucketed events are already hash-partitioned on exactly those keys,
    and the summary is NOT broadcast (|users|·|days| rows is itself a
    big relation at 100 TB; only its per-key slices are small)."""
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    return asof_salted_core(ev)


def asof_salted_core(ev: DataFrame) -> DataFrame:
    """Salted as-of core over an events frame — see _asof_salted."""
    tagged = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .withColumn(
            "kind",
            F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)),
        )
        # cast-to-date (not date_trunc) keeps the bucket key wall-clock:
        # date_trunc on NTZ round-trips through the session timezone and
        # would shift as-of bucket boundaries under non-UTC sessions.
        .withColumn("day", F.col("ts").cast("date"))
    )
    w_local = (
        Window.partitionBy("user_id", "day")
        .orderBy(F.col("ts").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.withColumn(
        "local_last_click",
        F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w_local),
    )
    # per-(user, day) summary: the bucket's final click ts (NULL if none)
    day_summary = local.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("kind") == 0, F.col("ts"))).alias("day_last_click")
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)  # strictly earlier days
    )
    carry = day_summary.select(
        "user_id",
        "day",
        F.max("day_last_click").over(w_carry).alias("carry_in"),
    )
    return (
        local.where(F.col("kind") == 1)
        .join(carry, ["user_id", "day"])
        .select(
            "event_id",
            "user_id",
            "ts",
            F.greatest("local_last_click", "carry_in").alias("last_click_ts"),
        )
    )


register(
    "asof_join_salted",
    _asof_salted,
    # identical semantics to asof_join_purchase_click — the oracle is the
    # same correlated max; only the Spark-side partitioning differs.
    """
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)


def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks in the hour before each purchase, per user.
    Equi-key (user_id) carries the shuffle; the interval predicate is a
    post-join condition inside the same sort-merge/hash join — no
    cross-product stage."""
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    joined = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") > F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("ts"),
    ).agg(F.count(F.col("c.event_id")).alias("clicks_1h"))


register(
    "range_join_clicks_before_purchase",
    _range_join,
    """
    SELECT p.event_id, p.user_id, p.ts, count(c.event_id) AS clicks_1h
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)


def _range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BINNED range join — the scale path for wide windows and hot
    users: identical semantics to `range_join_clicks_before_purchase`,
    but the join equi-key is (user_id, hour_bin) instead of bare
    user_id. Each purchase probes its own hour bin and the previous one
    (explode of 2 bins — any click within the trailing hour lives in
    one of those), and the exact interval predicate filters residually.

    Why it matters at 100 TB: the bare-user_id join co-partitions each
    user's ENTIRE history into one task — a hot user with a year of
    clicks serializes there. Binning bounds every partition's state by
    the window width regardless of per-user volume (the same
    bound-by-construction idea as the salted as-of join; this is what
    a range-join "bin hint" does in engines that have one). Cost: each
    probe row duplicates into 2 bins — a fixed 2x on the (small)
    purchase side, never on the click side.

    Plan-asserted in tests: the exchange key contains the bin. The
    oracle is the SAME relation as the plain range join."""
    ev = read_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type"
    )
    return range_join_binned_core(ev)


def range_join_binned_core(ev: DataFrame) -> DataFrame:
    """Binned range-join core over an events frame — see
    `_range_join_binned`."""
    # Wall-clock hour bin: days-since-epoch*24 + hour — pure field
    # reads on DATE/NTZ, manifestly session-tz invariant and monotone
    # with slope 1 bin/hour, so any trailing 1-hour interval spans at
    # most 2 consecutive bins. The round-15 review replaced
    # floor(unix_timestamp(ts)/3600) here: that form is ALSO safe in
    # Spark 4.1 (unix_timestamp anchors NTZ wall-clock to UTC, ignoring
    # the session zone — probed empirically; unlike date_trunc, which
    # routes NTZ through the session zone, tests/test_timezone.py
    # canary), but the safety rests on that subtle NTZ-vs-LTZ API
    # asymmetry; this form's correctness is visible on its face. DST
    # invariance of the whole join is pinned by
    # test_binned_range_join_dst_session_tz_invariant.
    binf = lambda col: (  # noqa: E731
        F.unix_date(col.cast("date")) * F.lit(24) + F.hour(col)
    ).cast("long")
    c = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            binf(F.col("ts")).alias("c_bin"),
        )
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.explode(
                F.array(
                    binf(F.col("ts")) - F.lit(1), binf(F.col("ts"))
                )
            ).alias("probe_bin"),
        )
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("probe_bin") == F.col("c_bin"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    # A click can match from only ONE of the two probe bins (its own),
    # so summing per-probe counts over both bins is exact; the left
    # join keeps zero-click purchases (count of NULL c_ts = 0).
    return joined.groupBy(
        "event_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("ts"),
    ).agg(F.count(F.col("c_ts")).alias("clicks_1h"))


register(
    "range_join_binned",
    _range_join_binned,
    """
    SELECT p.event_id, p.user_id, p.ts, count(c.event_id) AS clicks_1h
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)


# ---------------------------------------------------------------------------
# bucketed tables: shuffle-free co-located join
# ---------------------------------------------------------------------------


def _bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders + lineitem bucketed on the join key, then join the two
    bucketed tables: matching bucket layouts satisfy the join's
    distribution requirement, so the plan has NO pre-join Exchange (the
    only shuffle left is the final aggregate). This is the pre-partitioned
    fact-fact join strategy at 100 TB — pay the shuffle once at write time,
    reuse it every query. tests/test_scale_ops.py asserts the Exchange
    count."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    ob, lb = f"orders_b_{tag}", f"lineitem_b_{tag}"

    def _ensure(table: str, src: str, key: str) -> None:
        if spark.catalog.tableExists(table):
            return
        # The in-memory catalog starts empty each session, but the
        # warehouse directory persists — clear a stale location first.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
        df = load_table(spark, sf_dir, src)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(table)

    _ensure(ob, "orders", "o_orderkey")
    _ensure(lb, "lineitem", "l_orderkey")
    o, l = spark.table(ob), spark.table(lb)
    joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(14,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        ).cast("double").alias("revenue"),
    )


register(
    "join_bucketed_colocated",
    _bucketed_join,
    """
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)


def _session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization through Spark's NATIVE session_window
    aggregate — the API twin of `sessionize_events_30m` (which builds
    sessions manually via lag + running sum). The built-in form is one
    groupBy(user, session_window(ts, gap)) — no window functions at
    all — and is the same operator Structured Streaming uses for
    streaming session windows, so batch and stream share semantics.
    session_window's `end` is last-event + gap (not last event), so
    the comparable last-activity timestamp is max(ts), emitted
    alongside window.start (which equals the session's min(ts)).
    Oracle: the lag/cumsum formulation — both engines must carve
    identical session boundaries (new session iff gap > 30 min)."""
    ev = read_events(spark, sf_dir).select("user_id", "event_id", "ts")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "last_ts",
        )
    )


register(
    "window_session_builtin",
    _session_window_builtin,
    """
    WITH x AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               -- CAST: DuckDB integer sum() yields HUGEINT, which pandas
               -- coerces to float64 in the driver's hasher; BIGINT keeps
               -- the compared dtype int64 on both engines.
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM x
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           max(ts) AS last_ts
    FROM s GROUP BY user_id, session_id
    """,
)


# ---------------------------------------------------------------------------
# dynamic partition pruning: dim filter prunes fact DIRECTORIES at runtime
# ---------------------------------------------------------------------------


def _dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join a directory-partitioned fact to a filtered dimension ON THE
    PARTITION COLUMN: dynamic partition pruning turns the dim's filter
    into a runtime partition filter on the fact scan (the broadcast that
    feeds the join is reused as the pruning subquery), so only the
    surviving status directories are read at all. At 100 TB this is the
    canonical date-dimension pattern — the fact scan reads the partitions
    the dim filter selects, never the whole table. Plan assertion in
    tests: the fact scan carries a ``dynamicpruning`` expression."""
    path = scratch_dir("orders_part_status", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    # one-time layout: directory-partition the fact on the join key
    write_parquet(
        orders, path, mode="overwrite", partition_by=["o_orderstatus"]
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    )
    return (
        fact.join(
            F.broadcast(dim.where(F.col("label") == "closed")),
            F.col("o_orderstatus") == F.col("status"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


register(
    "join_dpp_partition_pruned",
    _dpp_join,
    """
    WITH dim AS (
        SELECT * FROM (VALUES ('F', 'closed'), ('O', 'open'), ('P', 'pending'))
            AS t(status, label)
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders JOIN dim ON o_orderstatus = status
    WHERE label = 'closed'
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# interval RANGE window frame
# ---------------------------------------------------------------------------


def _range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day spend per customer — a RANGE frame bounded by a time
    interval, which a ROWS frame cannot express over irregular order
    dates. Issued as SQL text (the DataFrame ``rangeBetween`` API takes
    only numeric offsets; interval frames are SQL-surface). Window is
    partitioned by customer — no global sort at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders_w4"
    )
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS spend_7d,
               count(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
               ) AS n_orders_7d
        FROM v_orders_w4
        """
    )


register(
    "window_range_7day_spend",
    _range_frame,
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_7d,
           CAST(count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_7d
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# ordered funnel conversion
# ---------------------------------------------------------------------------


def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: a user converts a stage only if
    it happens strictly AFTER the previous stage's first completion. Three
    stacked conditional-min windows over the SAME user_id partitioning —
    Catalyst plans one shuffle and evaluates the three Window nodes on the
    co-partitioned data, so the funnel costs one exchange at any scale
    (the classic alternative, one self-join per stage, costs three)."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.select("user_id", "t_view", "t_click", "t_purchase").distinct()
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


register(
    "funnel_view_click_purchase",
    _funnel,
    """
    WITH s1 AS (
        SELECT user_id, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
        FROM events WHERE user_id IS NOT NULL
    ),
    s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
                      THEN ts END) OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ),
    s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
                      THEN ts END) OVER (PARTITION BY user_id) AS t_purchase
        FROM s2
    ),
    per_user AS (
        SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM s3
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_viewed,
           count(t_click) AS n_clicked_after_view,
           count(t_purchase) AS n_purchased_after_click
    FROM per_user
    """,
)


# ---------------------------------------------------------------------------
# pandas API on Spark — the reference's own syntax, distributed
# ---------------------------------------------------------------------------


def _pandas_api_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference IS a pandas pipeline (its whole transform stage is
    pandas groupbys, dags/dag.py:167-181) — this query runs that exact
    SYNTAX distributed through the pandas API on Spark (pyspark.pandas):
    assign → groupby → named-agg → reset_index, then back to a Spark
    DataFrame. A reference user migrates by changing the import, not the
    code; under the hood every pandas call here compiles to the same
    Catalyst plan the native DataFrame form produces (one hash
    aggregate). Aggregates are chosen exact-by-construction (counts,
    integer sums, min/max) because pandas-API float sums accumulate in
    double — order-dependent — which is also why the reference's own
    float sums were quietly nondeterministic."""
    import pyspark.pandas as ps  # noqa: F401  (API under test)

    li = load_table(spark, sf_dir, "lineitem")
    pdf = li.pandas_api()
    pdf = pdf.assign(qty_int=pdf.l_quantity.astype("int"))
    out = pdf.groupby("l_returnflag").agg(
        n_lines=("l_orderkey", "count"),
        total_qty=("qty_int", "sum"),
        min_price=("l_extendedprice", "min"),
        max_price=("l_extendedprice", "max"),
    )
    return out.reset_index().to_spark()


register(
    "ps_pandas_api_rollup",
    _pandas_api_rollup,
    """
    SELECT l_returnflag,
           count(l_orderkey) AS n_lines,
           CAST(sum(CAST(l_quantity AS INTEGER)) AS BIGINT) AS total_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# distribution window functions
# ---------------------------------------------------------------------------


def _distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / dense_rank within each order status —
    the tie-stable ranking family (equal o_totalprice rows get equal
    scores, so the result is deterministic under shuffle reordering,
    unlike row_number without a unique tiebreak).

    Scale (round-16 rework): the original window partitioned the FULL
    orders relation by the 3-value o_orderstatus — each status sorted
    in one task forever (the r15 verdict's parallelism-ceiling class;
    the r15 review pass explicitly noted this query had no salting
    decomposition — the two-phase grouped rank IS that decomposition).
    All three scores are constant within a (status, price) tie group,
    so: aggregate to the tie-group relation (one fact-sized hash agg),
    two-phase-rank the GROUPS per status (grouped_rank_two_phase with
    the group's row count as running sum) — giving dense_rank = group
    index, RANK = inclusive count prefix − group size + 1, cume
    numerator = inclusive count prefix — then join the scores back to
    the rows on the (status, price) equi-key. percent_rank =
    (rank−1)/(n−1) and cume_dist = prefix/n are map-side arithmetic
    against a 3-row broadcast of per-status totals. No stage sorts
    more than a range partition; output identical to the window form."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    grp = base.groupBy("o_orderstatus", "o_totalprice").agg(
        F.count(F.lit(1)).alias("_c")
    )
    from orchestrated_etl_spark.operators.relational import (
        grouped_rank_two_phase,
    )

    scored = grouped_rank_two_phase(
        grp,
        ["o_orderstatus"],
        [F.asc("o_totalprice")],
        rank_col="_drank",
        running_sum_expr=F.col("_c"),
        running_sum_col="_rmax",
        broadcast_offsets=True,  # o_orderstatus domain: 3 values
    )
    totals = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("_np")
    )
    rank = F.col("_rmax") - F.col("_c") + F.lit(1)
    scored = scored.join(F.broadcast(totals), "o_orderstatus").select(
        "o_orderstatus",
        "o_totalprice",
        F.round(
            F.when(F.col("_np") == 1, F.lit(0.0)).otherwise(
                (rank - F.lit(1)) / (F.col("_np") - F.lit(1))
            ),
            6,
        ).alias("pct_rank"),
        F.round(F.col("_rmax") / F.col("_np"), 6).alias("cume"),
        F.col("_drank").cast("int").alias("drank"),
    )
    return base.join(scored, ["o_orderstatus", "o_totalprice"]).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "pct_rank",
        "cume",
        "drank",
    )


register(
    "window_distribution_ranks",
    _distribution_windows,
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(dense_rank() OVER w AS BIGINT) AS drank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
    """,
)


# ---------------------------------------------------------------------------
# cogrouped applyInPandas (the two-sided grouped-map UDF surface)
# ---------------------------------------------------------------------------


def _cogroup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: clicks and purchases are co-shuffled
    on user_id and handed to one pandas function per key as two aligned
    frames — the API for per-key logic that needs BOTH sides at once and
    can't be a join (e.g. attribution models, per-user reconciliation).
    The kernel here is deliberately expressible (counts + rounded sums)
    so the DuckDB oracle — a full outer join of two aggregates — pins the
    cogroup semantics: keys present on EITHER side reach the function."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "value")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "value"
    )

    def reconcile(key, left, right):
        import pandas as pd

        (uid,) = key
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "click_value": [round(float(left["value"].sum()), 4)],
                "purchase_value": [round(float(right["value"].sum()), 4)],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id long, n_clicks long, n_purchases long, "
            "click_value double, purchase_value double",
        )
    )


register(
    "cogroup_click_purchase",
    _cogroup_click_purchase,
    """
    WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
               round(sum(value), 4) AS click_value
        FROM events WHERE user_id IS NOT NULL AND event_type = 'click'
        GROUP BY user_id
    ),
    p AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
               round(sum(value), 4) AS purchase_value
        FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
        GROUP BY user_id
    )
    SELECT coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(c.click_value, 0.0) AS click_value,
           coalesce(p.purchase_value, 0.0) AS purchase_value
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)


# ---------------------------------------------------------------------------
# ignore-nulls carry-forward (LOCF)
# ---------------------------------------------------------------------------


def _locf_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: annotate every event with the
    value of the user's most recent PURCHASE at-or-before it — the
    sensor/price-feed gap-fill shape, done with last(expr, ignorenulls)
    over a running frame instead of a self-join. One shuffle on user_id;
    the frame scan is O(1) amortized per row. Ordering (ts, event_id) is
    a unique total order, so the carried value is engine-deterministic."""
    ev = read_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        # coalesce to a typed sentinel: a NULL-bearing numeric column
        # pandas-coerces to float64/NaN downstream, which hashes
        # differently from Spark's None (tests/test_oracle_dtypes.py
        # class); -1.0 is outside the value domain (values >= 0).
        F.coalesce(
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            ).over(w),
            F.lit(-1.0),
        ).alias("last_purchase_value"),
    )


register(
    "window_locf_ignore_nulls",
    _locf_purchase_value,
    """
    SELECT event_id, user_id,
           coalesce(
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING),
               -1.0) AS last_purchase_value
    FROM events
    """,
)


# ---------------------------------------------------------------------------
# nth_value over a full frame
# ---------------------------------------------------------------------------


def _nth_value_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the FULL partition frame: each order's 2nd line
    part key annotated onto every line (NULL for 1-line orders) — the
    "compare to the group's k-th element" window shape. Unique ordering
    (l_linenumber) makes the picked row engine-deterministic."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # sentinel for 1-line orders: NULL-bearing BIGINT pandas-coerces
        # to float64 downstream (see window_locf_ignore_nulls note)
        F.coalesce(F.nth_value("l_partkey", 2).over(w), F.lit(-1).cast("long"))
        .alias("second_line_part"),
    )


register(
    "window_nth_value",
    _nth_value_lines,
    """
    SELECT l_orderkey, l_linenumber,
           coalesce(
               nth_value(l_partkey, 2)
                   OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING),
               -1) AS second_line_part
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)


# ---------------------------------------------------------------------------
# null-safe equality join
# ---------------------------------------------------------------------------


def _null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): anonymous
    activity (NULL user key) forms a real group that plain equi-joins
    silently drop — here per-user click and purchase rollups are joined
    null-safely so the anonymous bucket joins to itself. The fixture has
    no NULL user_id rows, so the anonymization rule user_id % 7 == 0 →
    NULL is applied identically on both engines, guaranteeing NULL keys
    on BOTH join sides — the null-safe path, the -1 sentinel, and
    is_anonymous=true are all exercised by the oracle (round-3 advice:
    previously vacuous). <=> plans as an ordinary hash join (NULL is
    just another key value), so the scale shape is identical to the
    equi-join. The nullable key is emitted through a -1 sentinel (no
    NULL-bearing numeric output)."""
    ev = read_events(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = clicks.alias("c").join(
        purchases.alias("p"),
        F.col("c.user_id").eqNullSafe(F.col("p.user_id")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(
            F.col("c.user_id"), F.col("p.user_id"), F.lit(-1).cast("long")
        ).alias("user_key"),
        F.coalesce(F.col("n_clicks"), F.lit(0).cast("long")).alias("n_clicks"),
        F.coalesce(F.col("n_purchases"), F.lit(0).cast("long")).alias(
            "n_purchases"
        ),
        (
            F.col("c.user_id").isNull() & F.col("p.user_id").isNull()
        ).alias("is_anonymous"),
    )


register(
    "join_null_safe_eq",
    _null_safe_join,
    """
    WITH anon AS (
        SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END
                   AS user_id,
               event_type
        FROM events
    ),
    c AS (
        SELECT user_id, count(*) AS n_clicks
        FROM anon WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
        SELECT user_id, count(*) AS n_purchases
        FROM anon WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, p.user_id, -1) AS user_key,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases,
           c.user_id IS NULL AND p.user_id IS NULL AS is_anonymous
    FROM c FULL OUTER JOIN p
      ON c.user_id IS NOT DISTINCT FROM p.user_id
    """,
)


# ---------------------------------------------------------------------------
# SHUFFLE_HASH join hint
# ---------------------------------------------------------------------------


def _shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH hint surface: pins the orders–lineitem join to a
    shuffled hash join — the strategy that beats sort-merge when one
    side is much smaller than the other but too big to broadcast (no
    sort phase, build-side hash table per partition). Hints change the
    PHYSICAL strategy only; the result is the plain join, which is the
    oracle. The plan pin lives in tests (ShuffledHashJoin node)."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "P"
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(
        orders.hint("shuffle_hash"),
        li.l_orderkey == orders.o_orderkey,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


register(
    "join_shuffle_hash_hint",
    _shuffle_hash_hint,
    """
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'P'
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# table snapshot diff (change data feed between two versions)
# ---------------------------------------------------------------------------


def _snapshot_b(orders: DataFrame) -> DataFrame:
    """Deterministic 'next version' of orders: keys %50==0 deleted,
    surviving keys %7==0 get +100.00 totalprice, keys %101==0 cloned as
    inserts at key+10_000_000. (+100.0 keeps the update arithmetic an
    identical IEEE op on both engines — no rounding anywhere.)"""
    base = orders.where(F.col("o_orderkey") % 50 != 0)
    updated = base.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(100.0)
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = orders.where(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    return updated.unionByName(inserts)


def _snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshots of ``orders``: one
    co-partitioned FULL OUTER join on the key, classifying each key as
    insert / delete / update (value columns differ) and emitting old/new
    prices — the Delta-CDF shape computed from plain parquet versions.
    Unchanged keys (the overwhelming majority) are filtered BEFORE the
    output, so the result is change-sized, not table-sized. At 100 TB
    both snapshots hash-shuffle once on the join key (bucketed storage
    on o_orderkey makes the diff zero-shuffle); nothing else in the plan
    is table-wide. The comparison covers the mutable columns
    (o_totalprice here); schema evolution between versions is
    src_schema_evolution's department."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    a = orders
    b = _snapshot_b(orders)
    j = a.alias("a").join(
        b.alias("b"),
        F.col("a.o_orderkey") == F.col("b.o_orderkey"),
        "full_outer",
    )
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.col("a.o_totalprice").alias("old_price"),
            F.col("b.o_totalprice").alias("new_price"),
        )
        .withColumn(
            "change_type",
            F.when(F.col("old_price").isNull(), F.lit("insert"))
            .when(F.col("new_price").isNull(), F.lit("delete"))
            .when(
                F.col("old_price") != F.col("new_price"), F.lit("update")
            )
            .otherwise(F.lit("unchanged")),
        )
        .where(F.col("change_type") != "unchanged")
        .select("o_orderkey", "change_type", "old_price", "new_price")
    )


register(
    "table_snapshot_diff",
    _snapshot_diff,
    """
    WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
    b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 50 != 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    j AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               a.o_totalprice AS old_price,
               b.o_totalprice AS new_price
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN old_price IS NULL THEN 'insert'
                WHEN new_price IS NULL THEN 'delete'
                WHEN old_price != new_price THEN 'update'
                ELSE 'unchanged' END AS change_type,
           old_price, new_price
    FROM j
    WHERE (CASE WHEN old_price IS NULL THEN 'insert'
                WHEN new_price IS NULL THEN 'delete'
                WHEN old_price != new_price THEN 'update'
                ELSE 'unchanged' END) != 'unchanged'
    """,
)


# ---------------------------------------------------------------------------
# Bloom-filter runtime join pre-filter
# ---------------------------------------------------------------------------

_BLOOM_WORDS = 64  # 64 longs = 4096 bits
_BLOOM_K = 3


def _bloom_positions(key_sql: str) -> list[tuple[F.Column, F.Column]]:
    """k (word, mask) pairs for a key: bit position = xxhash64(key, seed)
    mod 4096, identical expression on build and probe side. Built via
    F.expr because shiftleft's Python binding takes only a literal shift
    count, while the SQL function accepts a column."""
    m = _BLOOM_WORDS * 64
    out = []
    for seed in range(_BLOOM_K):
        pos = f"pmod(xxhash64({key_sql}, {seed}), {m})"
        word = F.expr(f"CAST({pos} DIV 64 AS INT)")
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))"
        )
        out.append((word, mask))
    return out


def _bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per high-balance supplier, with the fact scan pre-pruned
    by a hand-rolled Bloom filter built from the dim keys — the runtime
    row-group/row filter pattern (Spark's own
    spark.sql.optimizer.runtime.bloomFilter injects exactly this shape;
    bloom_filter_agg is not in the public function registry, so the bit
    set is built from first-class expressions).

    Build side: each dim key sets k=3 bits of a 4096-bit array — explode
    to (word, mask), bit_or per word, fold the <=64 rows into ONE map
    row (map_from_entries over collect_list — a scalar-sized broadcast,
    like the RFM cutoffs). Probe side: a row survives iff ALL its k bits
    are set — map lookups against the broadcast row, pure map-side.
    The subsequent broadcast equi-join computes the EXACT result, so
    Bloom false positives cost only wasted rows, never wrong rows —
    which is why the oracle is the plain join with no Bloom at all.
    At 100 TB the Bloom row is a tiny broadcast replacing a shuffle of
    the full fact table against a selective dim: rows failing the
    membership test never leave the scan stage."""
    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    return bloom_prefilter_core(sup, li)


def bloom_prefilter_core(sup: DataFrame, li: DataFrame) -> DataFrame:
    """Bloom build + probe + exact join core — split out so tests can
    drive it with their own dim subset (the sf0.001 fixture has no
    supplier over the query's 9000 cutoff)."""
    # --- build: one map row {word -> bits} ---
    entries = sup.select(
        F.explode(
            F.array(
                *[
                    F.struct(w.alias("word"), m.alias("mask"))
                    for w, m in _bloom_positions("s_suppkey")
                ]
            )
        ).alias("e")
    ).select("e.word", "e.mask")
    words = entries.groupBy("word").agg(F.bit_or("mask").alias("bits"))
    bloom_row = words.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("word", "bits")))
        ).alias("_bloom")
    )
    # --- probe: all k bits set (missing word => bit not set) ---
    probe = li.crossJoin(F.broadcast(bloom_row))
    hit = F.lit(True)
    for w, m in _bloom_positions("l_suppkey"):
        bits = F.coalesce(
            F.element_at(F.col("_bloom"), w), F.lit(0).cast("long")
        )
        hit = hit & (bits.bitwiseAND(m) != 0)
    pruned = probe.where(hit).drop("_bloom")
    # --- exact join + aggregate (decides the final result) ---
    return (
        # no forced hint: supplier is 10k·SF rows (round-15 review);
        # threshold/AQE broadcast it while small, shuffle past that
        pruned.join(sup, pruned.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


register(
    "join_bloom_prefilter",
    _bloom_prefilter_join,
    """
    SELECT s.s_suppkey,
           count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal > 9000
    GROUP BY s.s_suppkey
    """,
)


# ---------------------------------------------------------------------------
# distributed skyline (Pareto frontier)
# ---------------------------------------------------------------------------


def _skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of the part catalog under (minimize
    p_retailprice, minimize p_size), strict dominance: a part survives
    iff no part is <= on both dimensions and < on at least one.

    Distributed two-phase plan (the textbook divide-and-conquer skyline,
    NOT the naive |R|^2 self-join the oracle runs):
    - partition the price axis into bands (floor(price/5) — a value
      rule, so band(q) < band(p) implies q.price < p.price);
    - CROSS-BAND pruning needs only each band's min size: a point is
      dominated by SOME strictly-cheaper band iff the prefix-min of
      band min-sizes at its band is <= its size (strict dominance free
      via the strictly-lower price). The prefix-min runs over the
      #bands-row relation, then broadcasts back — no global sort of
      the data relation anywhere;
    - WITHIN-BAND dominance is exact pairwise inside the band (the ER
      blocking bound: Sigma band_size^2, tunable via band width).
    At 100 TB the bands are the partitioning; every data-sized op is
    a hash shuffle on band or a broadcast of the #bands-row stats."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.floor(F.col("p_retailprice") / 5).cast("long").alias("_band"),
    )
    from pyspark.sql import Window

    band_stats = part.groupBy("_band").agg(
        F.min("p_size").alias("_band_min_size")
    )
    wb = Window.orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ordered window over the ~20-row band relation only
    prev_min = band_stats.select(
        "_band", F.min("_band_min_size").over(wb).alias("_prev_min_size")
    )
    # Checkpoint the pruned candidates ONCE: three consumers below
    # (pair side a, pair side b, final anti-join) would otherwise each
    # replay the part scan + band join — 6 scans for a relation that is
    # skyline-small after cross-band pruning.
    cand = (
        part.join(F.broadcast(prev_min), "_band", "left")
        .where(
            F.col("_prev_min_size").isNull()
            | (F.col("p_size") < F.col("_prev_min_size"))
        )
        .localCheckpoint(eager=True)
    )
    # within-band exact dominance on the pruned candidates
    a = cand.alias("a")
    b = cand.alias("b")
    dominated = a.join(
        b,
        (F.col("a._band") == F.col("b._band"))
        & (F.col("b.p_retailprice") <= F.col("a.p_retailprice"))
        & (F.col("b.p_size") <= F.col("a.p_size"))
        & (
            (F.col("b.p_retailprice") < F.col("a.p_retailprice"))
            | (F.col("b.p_size") < F.col("a.p_size"))
        ),
        "left_semi",
    )
    return (
        cand.join(dominated.select("a.p_partkey"), "p_partkey", "left_anti")
        .select("p_partkey", "p_retailprice", "p_size")
    )


register(
    "skyline_price_size",
    _skyline,
    """
    SELECT a.p_partkey, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size <= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size)
    )
    """,
)


# ---------------------------------------------------------------------------
# grid-blocked spatial radius join
# ---------------------------------------------------------------------------

_SPATIAL_R = 25  # radius; also the grid cell size


def _spatial_points(df: DataFrame, id_col: str, a: int, b: int, c: int, d: int):
    """Deterministic synthetic coordinates on a 1000x1000 integer grid:
    multiplicative-hash of the id (portable SQL arithmetic — identical
    on any engine, unlike engine-specific hash functions). Integer
    coordinates keep every distance computation exact."""
    return df.select(
        F.col(id_col),
        ((F.col(id_col) * a + b) % 1000).alias("x"),
        ((F.col(id_col) * c + d) % 1000).alias("y"),
    )


def _spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join: every (user, store) pair within Euclidean
    distance 25 on a synthetic 1000x1000 grid (coordinates are
    multiplicative hashes of the ids — deterministic, uniform, and
    reproducible in plain SQL on any engine). The classic grid-blocked
    plan: bucket both sides into r x r cells, replicate the SMALL side
    (stores) into its 3x3 neighborhood map-side (x9 on the small
    relation only), equi-join on the cell key, then the exact integer
    distance^2 filter. Candidate pairs are bounded by cell density —
    never the |A| x |B| cross join the oracle runs. At 100 TB this is
    the standard geospatial join: cell key = geohash prefix, hash
    shuffle on cells, skew handled by splitting hot cells (same salting
    slot as the ER blocker). Output columns exact integers."""
    ev = read_events(spark, sf_dir)
    users = _spatial_points(
        ev.where(F.col("user_id").isNotNull()).select("user_id").distinct(),
        "user_id", 2654435761, 0, 40503, 7,
    ).withColumn("_ux", F.col("x")).withColumn("_uy", F.col("y"))
    part = load_table(spark, sf_dir, "part")
    stores = _spatial_points(
        part.where(F.col("p_partkey") < 200).select(
            F.col("p_partkey").alias("store_id")
        ),
        "store_id", 48271, 11, 69621, 3,
    )
    r = _SPATIAL_R
    # replicate stores into their 3x3 cell neighborhood (small side only)
    neigh = stores.select(
        "store_id",
        F.col("x").alias("_sx"),
        F.col("y").alias("_sy"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx -> "
                f"transform(sequence(-1, 1), dy -> "
                f"struct((x DIV {r}) + dx AS cx, (y DIV {r}) + dy AS cy))))"
            )
        ).alias("_cell"),
    ).select("store_id", "_sx", "_sy", "_cell.cx", "_cell.cy")
    cand = users.select(
        "user_id",
        "_ux",
        "_uy",
        (F.col("_ux") / r).cast("long").alias("cx"),
        (F.col("_uy") / r).cast("long").alias("cy"),
    ).join(F.broadcast(neigh), ["cx", "cy"])
    d2 = (F.col("_ux") - F.col("_sx")) * (F.col("_ux") - F.col("_sx")) + (
        F.col("_uy") - F.col("_sy")
    ) * (F.col("_uy") - F.col("_sy"))
    return cand.where(d2 <= r * r).select(
        "user_id",
        "store_id",
        d2.cast("long").alias("dist_sq"),
    )


register(
    "spatial_radius_join",
    _spatial_radius_join,
    f"""
    WITH u AS (
        SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ),
    up AS (
        SELECT user_id,
               (user_id * 2654435761) % 1000 AS x,
               (user_id * 40503 + 7) % 1000 AS y
        FROM u
    ),
    st AS (
        SELECT p_partkey AS store_id,
               (p_partkey * 48271 + 11) % 1000 AS x,
               (p_partkey * 69621 + 3) % 1000 AS y
        FROM part WHERE p_partkey < 200
    )
    SELECT up.user_id, st.store_id,
           (up.x - st.x)*(up.x - st.x) + (up.y - st.y)*(up.y - st.y)
               AS dist_sq
    FROM up, st
    WHERE (up.x - st.x)*(up.x - st.x) + (up.y - st.y)*(up.y - st.y)
          <= {_SPATIAL_R * _SPATIAL_R}
    """,
)


# ---------------------------------------------------------------------------
# exact rolling median over the daily revenue series
# ---------------------------------------------------------------------------


def _rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling EXACT median of daily order revenue. Spark has no
    median window aggregate, so the frame's values are collected and
    sorted per row (array_sort over collect_list) and the middle
    element(s) picked — exact, not approximate, and O(w log w) per row
    for the fixed w=7 frame. Even-count frames average the two middle
    values with the same (a+b)/2 double op DuckDB's windowed median
    interpolates with, on identical exact-DECIMAL-derived inputs.

    Scale shape (round-13 rewrite — this was the registry's last
    allowlisted GLOBAL window): the fact-sized work is the one
    day-grouped aggregate; the rolling frame then runs over the
    DATE-RANGE-sized daily relation via the bounded-overlap pattern
    instead of one unpartitioned WindowExec. The series is bucketed by
    YEAR, each bucket's last 6 ROWS are replicated as padding into the
    next non-empty bucket (the 6-PRECEDING frame never reaches further
    back), the window runs partitionBy(bucket), and padding rows are
    dropped after the frame is computed — bit-identical to the global
    ROWS BETWEEN 6 PRECEDING window while every executor works one year.
    PRECONDITION (runtime-ENFORCED, round-14 advice): each non-final
    bucket carries >= 6 rows — a year of a daily series has 100s; a
    sparser series would pick a coarser bucket. A violation no longer
    corrupts med7 silently: per-bucket counts (an O(#years) aggregate on
    the already-checkpointed daily relation, broadcast back) gate every
    output row through ``raise_error``, so a <6-row non-final bucket
    fails loudly with the bucket and its count named — pinned by
    tests/test_round4_ops.py::test_rolling_median_sparse_bucket_guard.
    The next-bucket mapping is a broadcast
    self-join on the ~#years bucket spine (no window), so calendar gaps
    (an entirely empty year) pad into the next PRESENT year, preserving
    row-frame semantics under gaps. A rolling median over a per-key
    fact-sized series would partition by key instead and skip the
    padding entirely; the frame logic is unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        # 4 consumers (spine, pad source, main rows, next-bucket map):
        # checkpoint the O(calendar-range) daily relation so the fact is
        # aggregated ONCE, not re-scanned per consumer.
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    base = daily.withColumn("b", F.trunc("day", "year"))
    bkts = base.select("b").distinct()
    nxt = (
        bkts.alias("a")
        .join(F.broadcast(bkts.alias("n")), F.col("n.b") > F.col("a.b"),
              "left")
        .groupBy(F.col("a.b").alias("b"))
        .agg(F.min(F.col("n.b")).alias("next_b"))
    )
    tail6 = Window.partitionBy("b").orderBy(F.desc("day"))
    pads = (
        base.withColumn("rnd", F.row_number().over(tail6))
        .where(F.col("rnd") <= 6)
        .join(F.broadcast(nxt), "b")
        .where(F.col("next_b").isNotNull())
        .select(
            "day", "rev",
            F.col("next_b").alias("b"), F.lit(True).alias("is_pad"),
        )
    )
    # Precondition guard: a non-final bucket with < 6 rows can't donate
    # a full pad tail, so the NEXT bucket's leading frames would
    # silently under-fill. Count rows per bucket (O(#years) output, one
    # more consumer of the checkpointed daily relation), broadcast the
    # verdict back, and route every output row's median through the
    # check so a violation raises instead of returning wrong medians.
    guard = (
        base.groupBy("b")
        .agg(F.count(F.lit(1)).alias("bucket_rows"))
        .join(F.broadcast(nxt), "b")
        .select(
            "b",
            "bucket_rows",
            (F.col("next_b").isNull() | (F.col("bucket_rows") >= 6))
            .alias("bucket_ok"),
        )
    )
    un = (
        base.select("day", "rev", "b", F.lit(False).alias("is_pad"))
        .unionByName(pads)
        .join(F.broadcast(guard), "b")
    )

    w = Window.partitionBy("b").orderBy("day").rowsBetween(
        -6, Window.currentRow
    )
    sorted_frame = F.array_sort(F.collect_list("rev").over(w))
    n = F.size(sorted_frame)
    mid_hi = ((n + 1) / F.lit(2)).cast("int")  # element_at wants INT
    mid_lo = (n / F.lit(2)).cast("int")
    med = F.when(
        n % 2 == 1,
        F.element_at(sorted_frame, mid_hi),
    ).otherwise(
        (
            F.element_at(sorted_frame, mid_lo)
            + F.element_at(sorted_frame, mid_lo + 1)
        )
        / F.lit(2.0)
    )
    # Every output row evaluates med7, so hanging the precondition off
    # it cannot be pruned away by Catalyst: a violating bucket raises
    # on the first row an executor materializes.
    med_guarded = F.when(F.col("bucket_ok"), med).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "window_rolling_median: non-final year bucket "
                ),
                F.col("b").cast("string"),
                F.lit(" has only "),
                F.col("bucket_rows").cast("string"),
                F.lit(
                    " rows (< 6); the bounded-overlap rewrite needs a"
                    " coarser bucket for a series this sparse"
                ),
            )
        )
    )
    return (
        un.select("day", "rev", "is_pad", med_guarded.alias("med7"))
        .where(~F.col("is_pad"))
        .select("day", "rev", "med7")
    )


register(
    "window_rolling_median",
    _rolling_median,
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    )
    SELECT day, rev,
           median(rev) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
    FROM daily
    """,
)


# ---------------------------------------------------------------------------
# SCD2 point-in-time join (as-of dimension attribution)
# ---------------------------------------------------------------------------


def _scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against a versioned (SCD2) dimension: each
    order joins the customer-segment version VALID AT ITS ORDER DATE —
    the consumption side of sink_scd2_history (queries/io.py), and the
    correctness difference between "revenue by segment today" and
    "revenue by the segment the customer was in when they ordered"
    (the error class behind most dashboard restatements).

    The history is the same deterministic two-version construction as
    sink_scd2_history (every 10th customer moves to MACHINERY on
    1996-06-01). The join is an EQUI-join on custkey with the validity
    predicate as a post-filter — at most #versions rows per key (2
    here), so there is no range-join blow-up and no binning needed;
    per-key version counts are what keep SCD2 joins tractable at any
    scale. Revenue accumulates in exact DECIMAL.

    Scale: dimension versions are dimension-sized — linearly growing,
    so the join carries NO forced broadcast hint (round-15 review; a
    hint never falls back past the threshold): threshold/AQE broadcast
    the small fixture history, shuffle-hash takes over at scale; the
    fact table shuffles once on the join key at most."""
    eff = F.to_date(F.lit("1996-06-01"))
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    changed = base.where(F.col("c_custkey") % 10 == 0) \
        .where(F.col("c_mktsegment") != "MACHINERY")
    v1 = base.select(
        "c_custkey",
        "c_mktsegment",
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.when(
            (F.col("c_custkey") % 10 == 0)
            & (F.col("c_mktsegment") != "MACHINERY"),
            eff,
        ).alias("valid_to"),
    )
    v2 = changed.select(
        "c_custkey",
        F.lit("MACHINERY").alias("c_mktsegment"),
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    joined = orders.join(
        dim, orders.o_custkey == dim.c_custkey
    ).where(
        (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to")))
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("decimal(18,2)").cast("double").alias("revenue"),
    )


register(
    "join_scd2_point_in_time",
    _scd2_point_in_time,
    """
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    dim AS (
        SELECT c_custkey, c_mktsegment,
               DATE '1992-01-01' AS valid_from,
               CASE WHEN c_custkey % 10 = 0
                         AND c_mktsegment <> 'MACHINERY'
                    THEN DATE '1996-06-01' END AS valid_to
        FROM base
        UNION ALL
        SELECT c_custkey, 'MACHINERY', DATE '1996-06-01', NULL
        FROM base
        WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY'
    )
    SELECT d.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
    WHERE CAST(o.o_orderdate AS DATE) >= d.valid_from
      AND (d.valid_to IS NULL
           OR CAST(o.o_orderdate AS DATE) < d.valid_to)
    GROUP BY d.c_mktsegment
    """,
)
