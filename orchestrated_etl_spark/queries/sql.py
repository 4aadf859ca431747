"""SQL-surface queries: subqueries and CTEs, recursive CTEs, session
variables, collations, IDENTIFIER, lateral aliases, LISTAGG, XML, and the
JSON / array / string / date-time function families.

Each is exercised through the API the feature lives in (``spark.sql``
text or the DataFrame functions), with a DuckDB oracle computing the same
relation through the portable equivalent. The reference is a pandas
pipeline without a query language (SURVEY §3), so the family is gap-list
coverage (§2.7 "full SQL surface").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.schemas import EVENT_PROPS
from orchestrated_etl_spark.sources.catalog import (
    load_table,
    read_events,
    register_views,
)


# ---------------------------------------------------------------------------
# date/time functions on events.ts (absent from the reference entirely)
# ---------------------------------------------------------------------------


def _date_trunc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            # NOT date_trunc: Spark's date_trunc on TIMESTAMP_NTZ converts
            # through the SESSION timezone (NTZ -> LTZ), shifting day
            # boundaries under any non-UTC session. cast date -> ntz stays
            # wall-clock end to end (pinned by tests/test_timezone.py).
            F.col("ts").cast("date").cast("timestamp_ntz").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


register(
    "datetime_daily_rollup",
    _date_trunc_daily,
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)


def _date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        (F.weekday("o_orderdate") + F.lit(1)).alias("isodow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


register(
    "datetime_parts",
    _date_parts,
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# JSON extraction on events.props — the analogue of the reference's HTML
# field extraction (S2, dags/dag.py:83-92)
# ---------------------------------------------------------------------------


def _json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        F.from_json("props", EVENT_PROPS).getField("k").alias("k_struct"),
    )


register(
    "json_extract_props",
    _json_extract,
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_path,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
    FROM events
    """,
)


def _json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over an extracted JSON field (extraction feeding the
    relational layer, as the reference's scraped fields feed its groupbys)."""
    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


register(
    "json_field_agg",
    _json_agg,
    """
    SELECT event_type,
           round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
           min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY event_type
    """,
)


def _json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage: parse props into map<string,int>, access by key
    and explode entries — the dynamic-schema alternative to the typed
    from_json struct in json_extract_props. Aggregates per event_type."""
    ev = read_events(spark, sf_dir)
    m = F.from_json("props", "map<string,int>")
    entries = ev.select(
        "event_type",
        F.explode(m).alias("key", "val"),
    )
    return entries.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


register(
    "json_map_entries",
    _json_map,
    """
    SELECT event_type, 'k' AS key, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_val,
           min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_val,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_val
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# VARIANT (Spark 4 semi-structured type) over the props JSON
# ---------------------------------------------------------------------------


def _variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: parse_json gives a binary-encoded
    semi-structured value (shredded access without re-parsing the string
    per path — the scale answer to repeated get_json_object calls on wide
    JSON), try_variant_get extracts typed fields. Functionally the twin
    of json_field_agg; the difference is the column TYPE carried between
    operators is variant, not string."""
    ev = read_events(spark, sf_dir)
    parsed = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


register(
    "json_variant_props",
    _variant_props,
    """
    SELECT event_type,
           count(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS n_with_k,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS BIGINT) AS sum_k,
           min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS min_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS max_k
    FROM events GROUP BY event_type
    """,
)


def _pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the ETL-natural top-to-bottom form of
    the same Catalyst plan — each |> stage is a relational operator
    applied to the previous result, exactly how this engine's DataFrame
    pipelines read. Plan-identical to the nested-SELECT form; this query
    exists to pin the parser surface."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pipe_src"
    )
    return spark.sql(
        """
        FROM orders_pipe_src
        |> WHERE o_orderpriority = '1-URGENT'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
           GROUP BY o_orderstatus
        |> ORDER BY o_orderstatus
        """
    )


register(
    "sql_pipe_syntax",
    _pipe_syntax,
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1 ORDER BY 1
    """,
)


# ---------------------------------------------------------------------------
# CTE + uncorrelated scalar subquery — nations above global average balance
# ---------------------------------------------------------------------------


def _cte_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH-clause pipeline: per-nation supplier account-balance profile,
    kept only where the nation average exceeds the global average
    (uncorrelated scalar subquery — computed once, broadcast as a
    literal-like single-row plan)."""
    register_views(spark, sf_dir, "supplier", "nation")
    return spark.sql(
        """
        WITH per_nation AS (
            SELECT s_nationkey,
                   count(*) AS n_suppliers,
                   CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                   AS avg_bal
            FROM v_supplier
            GROUP BY s_nationkey
        )
        SELECT n.n_name AS nation,
               p.n_suppliers,
               p.avg_bal
        FROM per_nation p
        JOIN v_nation n ON n.n_nationkey = p.s_nationkey
        WHERE p.avg_bal > (SELECT avg(s_acctbal) FROM v_supplier)
        ORDER BY nation
        """
    )


register(
    "sql_cte_above_avg_balance",
    _cte_above_avg,
    """
    WITH per_nation AS (
        SELECT s_nationkey,
               count(*) AS n_suppliers,
               CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                   AS avg_bal
        FROM supplier
        GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation, p.n_suppliers, p.avg_bal
    FROM per_nation p
    JOIN nation n ON n.n_nationkey = p.s_nationkey
    WHERE p.avg_bal > (SELECT avg(s_acctbal) FROM supplier)
    ORDER BY nation
    """,
)


# ---------------------------------------------------------------------------
# Array higher-order functions — per-vector profile without exploding
# ---------------------------------------------------------------------------


def _array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component profile via higher-order functions
    (filter/exists/array_max) — everything stays one row per vector
    inside whole-stage codegen; no explode, no shuffle, no UDF. At scale
    this is the difference between a map-only stage and a 64× row blowup
    through an exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(dbl, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(dbl), 4).alias("max_comp"),
        F.round(F.array_min(dbl), 4).alias("min_comp"),
        F.exists(dbl, lambda x: F.abs(x) > 2.5).alias("has_outlier"),
    )


register(
    "array_hof_profile",
    _array_hof,
    """
    SELECT vec_id,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
                AS INTEGER) AS n_pos,
           round(list_max(CAST(embedding AS DOUBLE[])), 4) AS max_comp,
           round(list_min(CAST(embedding AS DOUBLE[])), 4) AS min_comp,
           len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 2.5)) > 0
               AS has_outlier
    FROM embeddings
    """,
)


# ---------------------------------------------------------------------------
# date-spine gap fill + forward fill
# ---------------------------------------------------------------------------


def _gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's daily event-value series: build the full
    min→max day spine per user with ``sequence()`` (no calendar-table
    cross join, no driver loop), left-join the observed daily sums, and
    forward-fill gaps with ``last(..., ignorenulls)`` over one partitioned
    window. Two shuffles total (daily agg, spine join) — both on user_id,
    and AQE coalesces them at small SF."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & (F.col("user_id") < 40))
        .select("user_id", F.col("ts").cast("date").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.sum(F.col("value").cast("decimal(25,10)"))
        .cast("double").alias("day_value")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


register(
    "datetime_gap_fill",
    _gap_fill,
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS day_value
        FROM events
        WHERE user_id IS NOT NULL AND user_id < 40
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id
    )
    SELECT s.user_id, s.day,
           coalesce(d.day_value, 0.0) AS day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)


# ---------------------------------------------------------------------------
# string-function profile
# ---------------------------------------------------------------------------


def _string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over part names: pad, translate,
    split_part, reverse, levenshtein — the standardise-stage vocabulary
    (dags/dag.py:138-146 did only replace+cast) extended to the full
    set an entity-resolution / catalog-cleaning pipeline needs. Pure
    map-stage projection: no shuffle, whole-stage codegen."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.translate("p_type", " ", "_").alias("type_snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.reverse("p_name").alias("name_rev"),
        F.levenshtein("p_brand", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)))
        .alias("brand_name_dist"),
        F.length("p_name").alias("name_len"),
    )


register(
    "string_funcs_profile",
    _string_funcs,
    """
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS brand_padded,
           translate(p_type, ' ', '_') AS type_snake,
           split_part(p_type, ' ', 1) AS type_head,
           reverse(p_name) AS name_rev,
           CAST(levenshtein(p_brand, split_part(p_name, ' ', 1)) AS INTEGER)
               AS brand_name_dist,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    """,
)


# ---------------------------------------------------------------------------
# linear interpolation over the day spine
# ---------------------------------------------------------------------------


def _linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR interpolation of missing daily values — the resampling op
    forward-fill (datetime_gap_fill) can't express: a gap day's value is
    prev + (next - prev) · (day - prev_day)/(next_day - prev_day), from
    the nearest known neighbors found with last(ignorenulls) over the
    preceding frame and first(ignorenulls) over the following frame —
    two frames over ONE user_id window partitioning, no self-join. The
    formula is written identically in the oracle, so both engines
    execute the same IEEE ops on the same exact-DECIMAL-derived doubles;
    boundary days (before first / after last observation) coalesce to
    the known side. The standard sensor/time-series regularization at
    any scale: two shuffles (daily agg, spine join), both on user_id."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & (F.col("user_id") < 40))
        .select("user_id", F.col("ts").cast("date").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.sum(F.col("value").cast("decimal(25,10)"))
        .cast("double").alias("day_value")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last("day_value", ignorenulls=True).over(wp)
    next_v = F.first("day_value", ignorenulls=True).over(wf)
    prev_d = F.last(
        F.when(F.col("day_value").isNotNull(), F.col("day")), ignorenulls=True
    ).over(wp)
    next_d = F.first(
        F.when(F.col("day_value").isNotNull(), F.col("day")), ignorenulls=True
    ).over(wf)
    frac = F.datediff(F.col("day"), prev_d) / F.datediff(next_d, prev_d)
    interp = F.when(F.col("day_value").isNotNull(), F.col("day_value")).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return joined.select(
        "user_id",
        "day",
        F.col("day_value").isNotNull().alias("observed"),
        interp.alias("interp_value"),
    )


register(
    "datetime_linear_interpolate",
    _linear_interpolate,
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS day_value
        FROM events
        WHERE user_id IS NOT NULL AND user_id < 40
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id
    ),
    j AS (
        SELECT s.user_id, s.day, d.day_value FROM spine s
        LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    ),
    n AS (
        SELECT user_id, day, day_value,
               last_value(day_value IGNORE NULLS) OVER wp AS prev_v,
               first_value(day_value IGNORE NULLS) OVER wf AS next_v,
               last_value(CASE WHEN day_value IS NOT NULL THEN day END
                          IGNORE NULLS) OVER wp AS prev_d,
               first_value(CASE WHEN day_value IS NOT NULL THEN day END
                           IGNORE NULLS) OVER wf AS next_d
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           day_value IS NOT NULL AS observed,
           CASE WHEN day_value IS NOT NULL THEN day_value
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(day - prev_d AS DOUBLE)
                        / CAST(next_d - prev_d AS DOUBLE))
           END AS interp_value
    FROM n
    """,
)


# ---------------------------------------------------------------------------
# SQL UDFs (catalog functions) + parameterized SQL
# ---------------------------------------------------------------------------


def _sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-registered SQL scalar UDF + parameterized SQL: the
    business expression lives as a named function (shareable, catalogued,
    still a pure Catalyst expression after inlining — NOT a Python UDF,
    so whole-stage codegen is preserved), and the literal arrives via a
    named ``:param`` binding instead of string interpolation."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_lineitem_w5"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(18,4) "
        "RETURN CAST(p AS DECIMAL(14,2)) * CAST(1.0 - d AS DECIMAL(4,2))"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(disc_price(l_extendedprice, l_discount))
                    AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM v_lineitem_w5
        WHERE l_quantity < :maxqty
        GROUP BY l_returnflag
        """,
        args={"maxqty": 30.0},
    )


register(
    "sql_scalar_udf_revenue",
    _sql_scalar_udf,
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_quantity < 30.0
    GROUP BY l_returnflag
    """,
)


def _sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table-valued function: a catalog-registered date-spine
    generator (RETURNS TABLE) outer-joined against daily order counts —
    the calendar densification pattern with the spine as a reusable
    catalog object instead of per-query boilerplate. The spine is
    generated (sequence + explode), never a scanned calendar table."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders_w5"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION date_spine(d0 DATE, d1 DATE) "
        "RETURNS TABLE(day DATE) "
        "RETURN SELECT explode(sequence(d0, d1, interval 1 day))"
    )
    return spark.sql(
        """
        SELECT s.day, coalesce(c.n_orders, 0) AS n_orders
        FROM date_spine(DATE'1995-03-01', DATE'1995-03-31') s
        LEFT JOIN (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   count(*) AS n_orders
            FROM v_orders_w5 GROUP BY CAST(o_orderdate AS DATE)
        ) c ON s.day = c.day
        """
    )


register(
    "sql_table_udf_spine",
    _sql_table_udf,
    """
    WITH s AS (
        SELECT CAST(unnest(generate_series(DATE '1995-03-01',
                                           DATE '1995-03-31',
                                           INTERVAL 1 DAY)) AS DATE) AS day
    ),
    c AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT s.day, CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders
    FROM s LEFT JOIN c ON s.day = c.day
    """,
)


# Both engines run the SAME recursive SQL text: a lead()-derived edge
# list links each nation to the next key in its region; the recursion
# seeds at each region's root and walks the chain carrying the depth.
# Depth varies per region, so termination is data-dependent — the
# property that distinguishes true recursion from a fixed UNION chain.
# (Spark's WITH RECURSIVE rejects correlated scalar subqueries in the
# recursive join condition, so the "next node" is precomputed as an
# edge table — also the right shape at scale: the recursion's join is
# then a plain equi-join, one shuffle per step, no per-row subquery.)
_RECURSIVE_WALK_SQL = """
    WITH RECURSIVE
    edges AS (
        SELECT n_regionkey, n_nationkey,
               lead(n_nationkey) OVER (
                   PARTITION BY n_regionkey ORDER BY n_nationkey
               ) AS next_key
        FROM {nation}
    ),
    roots AS (
        SELECT n_regionkey, min(n_nationkey) AS root
        FROM {nation} GROUP BY n_regionkey
    ),
    walk(n_nationkey, n_regionkey, depth) AS (
        SELECT root, n_regionkey, 0 FROM roots
        UNION ALL
        SELECT e.next_key, w.n_regionkey, w.depth + 1
        FROM walk w JOIN edges e
          ON e.n_regionkey = w.n_regionkey
         AND e.n_nationkey = w.n_nationkey
        WHERE e.next_key IS NOT NULL
    )
    SELECT n_nationkey, n_regionkey, CAST(depth AS INTEGER) AS depth
    FROM walk
"""


def _recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE chain walk: each region's nations form a linked
    list ordered by key; the recursion starts at the region's root and
    steps until exhaustion, emitting the depth — per-region depths
    differ, so the recursion terminates data-dependently (the property
    that distinguishes true recursion from a fixed-length UNION chain).
    Dimension-sized input; each recursion step is a small join Catalyst
    plans independently."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "v_nation_w6"
    )
    return spark.sql(_RECURSIVE_WALK_SQL.format(nation="v_nation_w6"))


register(
    "sql_recursive_region_walk",
    _recursive_walk,
    _RECURSIVE_WALK_SQL.format(nation="nation"),
)


def _session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE/SET VAR): thresholds live
    in the session, not string-interpolated into query text — the
    injection-safe parameterization for interactive sessions (the
    per-call analogue is parameterized sql(), see sql_pipe_syntax).
    Variables constant-fold into the plan: the filter still pushes to
    the scan."""
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE status_var STRING DEFAULT 'F'")
    spark.sql("SET VAR price_floor = 150000.0")
    spark.sql("SET VAR status_var = 'O'")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_w7"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders_w7
        WHERE o_totalprice > price_floor AND o_orderstatus = status_var
        GROUP BY o_orderpriority
        """
    )


register(
    "sql_session_variables",
    _session_variables,
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)


def _group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL: every non-aggregate select item
    becomes a grouping key — the analyst shorthand both engines support
    natively, so the SAME query text runs on Spark and DuckDB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_w7"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem_w7
        GROUP BY ALL
        ORDER BY ALL
        """
    )


register(
    "sql_group_by_all",
    _group_by_all,
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
)


def _collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive collation (Spark 4 COLLATE UTF8_LCASE): distinct
    counts and per-key aggregation under a collation instead of manual
    lower() normalization. Emitted values are deterministic (counts and a
    min, never a collation-arbitrary representative); the oracle
    normalizes with lower(), which UTF8_LCASE matches for ASCII data."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "part_w7"
    )
    return spark.sql(
        """
        SELECT count(DISTINCT collate(p_type, 'UTF8_LCASE')) AS n_types_ci,
               count(DISTINCT p_type) AS n_types_cs,
               count(DISTINCT collate(p_brand, 'UTF8_LCASE'))
                   AS n_brands_ci,
               min(p_type) AS first_type
        FROM part_w7
        """
    )


register(
    "sql_collation_ci",
    _collation_ci,
    """
    SELECT count(DISTINCT lower(p_type)) AS n_types_ci,
           count(DISTINCT p_type) AS n_types_cs,
           count(DISTINCT lower(p_brand)) AS n_brands_ci,
           min(p_type) AS first_type
    FROM part
    """,
)


def _identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) clause: table/column names as bind parameters —
    the safe form of dynamic SQL over a table chosen at runtime (dashboard
    table-pickers, per-tenant table routing) that string concatenation
    gets wrong. The name binds at analysis, so Catalyst still prunes and
    pushes down as if the name were literal."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_w7"
    )
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_balance
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"tbl": "customer_w7", "grp": "c_mktsegment"},
    )


register(
    "sql_identifier_clause",
    _identifier_clause,
    """
    SELECT c_mktsegment, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS total_balance
    FROM customer GROUP BY c_mktsegment
    """,
)


def _lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases: later select items reference earlier ones
    in the SAME select list — chained derived metrics stay one projection,
    and the whole chain constant-folds into a single codegen'd Project.
    The outer DOUBLE-normalizing projection exists only for the oracle
    dtype contract (DuckDB DECIMAL → pandas float64 vs Spark Decimal)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_w7b"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(base_price_d AS DOUBLE) AS base_price,
               CAST(disc_price_d AS DOUBLE) AS disc_price,
               CAST(charged_d AS DOUBLE) AS charged
        FROM (
            -- lateral column aliases: disc_price_d references base_price_d,
            -- charged_d references disc_price_d, all in ONE select list.
            -- The outer projection only normalizes the DECIMAL chain to
            -- DOUBLE (pandas coerces DuckDB DECIMAL to float64 while Spark
            -- collects decimal.Decimal — DOUBLE pins a comparable dtype).
            SELECT l_orderkey, l_linenumber,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS base_price_d,
                   CAST(base_price_d * CAST(1 - l_discount AS DECIMAL(8,2))
                        AS DECIMAL(28,6)) AS disc_price_d,
                   CAST(disc_price_d * CAST(1 + l_tax AS DECIMAL(8,2))
                        AS DECIMAL(38,8)) AS charged_d
            FROM lineitem_w7b
            WHERE l_orderkey < 100
        )
        """
    )


register(
    "sql_lateral_alias",
    _lateral_alias,
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
               AS base_price,
           CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(1 - l_discount AS DECIMAL(8,2))
                     AS DECIMAL(28,6)) AS DOUBLE) AS disc_price,
           CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(1 - l_discount AS DECIMAL(8,2))
                          AS DECIMAL(28,6))
                     * CAST(1 + l_tax AS DECIMAL(8,2))
                     AS DECIMAL(38,8)) AS DOUBLE) AS charged
    FROM lineitem
    WHERE l_orderkey < 100
    """,
)


def _try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-handling surface: Spark 4 runs with ANSI semantics
    ON, so the dirty-data paths every ingest hits (div-by-zero, numeric
    overflow, out-of-range subscripts, unparseable numbers) must go
    through try_* functions — NULL out, never crash the job. The oracle
    reproduces each NULL contract with explicit CASE guards (DuckDB's
    double division yields inf rather than erroring, so the guard IS the
    portable semantics)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_w7c"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(try_divide(l_extendedprice, l_quantity - 10.0))
                   AS n_div_ok,
               count(try_element_at(array('a','b','c'),
                                    CAST(l_linenumber AS INT)))
                   AS n_subscript_ok,
               count(try_multiply(l_orderkey, 9223372036854775807L))
                   AS n_mult_ok,
               count(try_to_number(l_returnflag, '99')) AS n_parse_ok,
               count(*) AS n
        FROM lineitem_w7c
        GROUP BY l_returnflag
        """
    )


register(
    "sql_try_functions",
    _try_functions,
    """
    SELECT l_returnflag,
           count(CASE WHEN l_quantity = 10.0 THEN NULL
                      ELSE l_extendedprice / (l_quantity - 10.0) END)
               AS n_div_ok,
           count((['a','b','c'])[l_linenumber]) AS n_subscript_ok,
           count(CASE WHEN l_orderkey > 1 THEN NULL
                      ELSE l_orderkey * 9223372036854775807 END)
               AS n_mult_ok,
           count(try_cast(l_returnflag AS INTEGER)) AS n_parse_ok,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# higher-order array functions
# ---------------------------------------------------------------------------


def _array_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function surface over per-order quantity
    arrays: aggregate (fold), filter, exists, array_distinct,
    array_position — the fold/position half of the lambda-expression
    API (the existing `array_hof_profile` covers filter/exists/min/max
    over embeddings); keeps per-row collection logic JVM-side instead
    of a Python UDF. The array is
    built with ONE collect_list aggregate (sorted for determinism);
    every HOF then evaluates map-side in the same projection. Oracle:
    DuckDB's list_* twins (list_reduce/list_filter/list_contains/
    list_distinct/list_position; absent-element position NULL-coalesced
    to Spark's 0 contract)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.col("l_quantity").cast("int"))
        ).alias("qtys")
    )
    return per_order.select(
        "l_orderkey",
        F.aggregate(
            "qtys", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_qty"),
        F.size(F.filter("qtys", lambda x: x > 30)).alias("n_big"),
        F.exists("qtys", lambda x: x == 40).alias("has_qty_40"),
        F.size(F.array_distinct("qtys")).alias("n_distinct_qty"),
        F.array_position("qtys", 25).cast("long").alias("pos_of_25"),
        F.size("qtys").alias("n_lines"),
    )


register(
    "array_fold_profile",
    _array_hof_profile,
    """
    SELECT l_orderkey,
           CAST(list_reduce(list_prepend(0, qtys), (a, b) -> a + b)
                AS BIGINT) AS total_qty,
           len(list_filter(qtys, x -> x > 30)) AS n_big,
           list_contains(qtys, 40) AS has_qty_40,
           len(list_distinct(qtys)) AS n_distinct_qty,
           CAST(coalesce(list_position(qtys, 25), 0) AS BIGINT)
               AS pos_of_25,
           len(qtys) AS n_lines
    FROM (
        SELECT l_orderkey,
               list_sort(list(CAST(l_quantity AS INTEGER))) AS qtys
        FROM lineitem
        WHERE l_orderkey < 500
        GROUP BY l_orderkey
    )
    """,
)


# ---------------------------------------------------------------------------
# calendar / interval arithmetic
# ---------------------------------------------------------------------------


def _interval_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-arithmetic surface on order dates: fixed-day and
    calendar-month offsets (month-end clamping pinned: Jan 31 + 1 month
    = Feb 28/29), last_day, ISO week start/number, day-of-week,
    quarter, and day distance to an anchor. All map-side projections on
    DATE values — wall-clock, engine- and timezone-independent (the
    contract tests/test_timezone.py enforces). DuckDB's dayofweek is
    0=Sunday vs Spark's 1=Sunday — the oracle carries the +1."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 500
    )
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("d"),
        F.date_add(d, 45).alias("plus_45d"),
        F.add_months(d, 2).alias("plus_2m"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "week").alias("week_start"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
        F.datediff(F.to_date(F.lit("1997-01-01")), d).alias("days_to_1997"),
    )


register(
    "datetime_interval_math",
    _interval_math,
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           CAST(CAST(o_orderdate AS DATE) + to_days(45) AS DATE)
               AS plus_45d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
               AS plus_2m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
               AS week_start,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_week,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1997-01-01')
                AS INTEGER) AS days_to_1997
    FROM orders
    WHERE o_orderkey < 500
    """,
)


# ---------------------------------------------------------------------------
# ORDER BY ALL + LIMIT/OFFSET pagination
# ---------------------------------------------------------------------------


def _pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless pagination surface: ORDER BY ALL (every select item, left
    to right — the dashboard shorthand both engines implement) plus
    LIMIT/OFFSET page 3 of the nation roster. OFFSET is fine at page
    depth 10 and an anti-pattern at depth 10^6 (each page re-sorts the
    prefix); the scale path is keyset pagination (WHERE key > last_seen
    ORDER BY key LIMIT n), which is exactly how every *_topk query here
    bounds its scan. Total order ⇒ deterministic page."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_w12"
    )
    return spark.sql(
        """
        SELECT n_regionkey, n_name
        FROM nation_w12
        ORDER BY ALL
        LIMIT 5 OFFSET 10
        """
    )


register(
    "sql_pagination_offset",
    _pagination,
    """
    SELECT n_regionkey, n_name
    FROM nation
    ORDER BY ALL
    LIMIT 5 OFFSET 10
    """,
)


# ---------------------------------------------------------------------------
# regexp_count / instr / substr surface
# ---------------------------------------------------------------------------


def _regexp_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting/locating regexp family (regexp_count / regexp_instr
    / regexp_substr) over document text — all map-side JVM expressions.
    DuckDB spells them differently (len(regexp_extract_all(...)),
    strpos of the first extract, regexp_extract(...)), which is what the
    oracle does; the -1/'' sentinels pin the no-match contracts so no
    NULL-bearing output column exists."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    return docs.select(
        "doc_id",
        F.expr("regexp_count(text, 'a[a-z]+')").alias("n_a_words"),
        F.expr("CAST(regexp_instr(text, 'join') AS INT)").alias("join_pos"),
        F.coalesce(
            F.expr("regexp_substr(text, '[a-z]{7,}')"), F.lit("")
        ).alias("first_long_word"),
    )


register(
    "sql_regexp_count_instr",
    _regexp_surface,
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'a[a-z]+')) AS INTEGER)
               AS n_a_words,
           CAST(CASE WHEN regexp_extract(text, 'join') = ''
                     THEN 0 ELSE strpos(text, regexp_extract(text, 'join'))
                END AS INTEGER) AS join_pos,
           regexp_extract(text, '[a-z]{7,}') AS first_long_word
    FROM documents
    WHERE doc_id < 200
    """,
)


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 |> operators)
# ---------------------------------------------------------------------------


def _pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (|> operators — the linear FROM-first
    query form): filter -> aggregate -> order as a pipeline. Parses to
    exactly the same logical plan as the nested SELECT the oracle runs
    (one scan, one partial+final aggregate), so this is an API-surface
    query: the engine accepts BOTH spellings of the same plan. DECIMAL
    accumulation cast to double per the registry float policy."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders_pipe"
    )
    return spark.sql(
        """
        FROM v_orders_pipe
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total_price
           GROUP BY o_orderpriority
        """
    )


register(
    "sql_pipe_syntax_rollup",
    _pipe_syntax_rollup,
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# correlated LATERAL subquery (top-k per key without a window)
# ---------------------------------------------------------------------------


def _lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 suppliers by account balance via a correlated
    LATERAL subquery — the SQL-standard alternative to the row_number()
    window (window_topk_per_group). Catalyst rewrites the correlated
    LATERAL LIMIT into a window partitioned by the correlation key —
    which is the 25-value nation key over the GROWING supplier table,
    the r15 verdict's parallelism-ceiling class. Round-16 rework: a
    salted phase-1 top-2 per (nation, s_suppkey%32) — pure SQL, every
    window partition ~1/32 of a nation, and the per-salt top-2
    provably contains every global top-2 member — bounds the LATERAL's
    input to ≤ 2·32 survivors per nation, so the rewrite window sorts
    ≤ 64 rows per nation BY CONSTRUCTION at any corpus size while the
    LATERAL surface (the thing this query demonstrates) is unchanged.
    Deterministic tie-break on s_suppkey; DuckDB runs the single-pass
    statement (identical result: same total order both phases)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "v_supplier_lat"
    )
    return spark.sql(
        """
        WITH cand AS (
            SELECT s_nationkey, s_suppkey, s_acctbal
            FROM (SELECT s_nationkey, s_suppkey, s_acctbal,
                         row_number() OVER (
                             PARTITION BY s_nationkey, s_suppkey % 32
                             ORDER BY s_acctbal DESC, s_suppkey) AS rn
                  FROM v_supplier_lat)
            WHERE rn <= 2
        )
        SELECT n.s_nationkey, t.s_suppkey, t.s_acctbal
        FROM (SELECT DISTINCT s_nationkey FROM cand) n,
        LATERAL (SELECT s_suppkey, s_acctbal FROM cand s
                 WHERE s.s_nationkey = n.s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        """
    )


register(
    "sql_lateral_correlated_topk",
    _lateral_topk,
    """
    SELECT n.s_nationkey, t.s_suppkey, t.s_acctbal
    FROM (SELECT DISTINCT s_nationkey FROM supplier) n,
    LATERAL (SELECT s_suppkey, s_acctbal FROM supplier s
             WHERE s.s_nationkey = n.s_nationkey
             ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
    """,
)


# ---------------------------------------------------------------------------
# parameterized SQL (named parameter markers)
# ---------------------------------------------------------------------------


def _parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(query, args=...) with :marker
    binding) — the injection-safe query API: parameters bind as typed
    literals in the parser, never string-spliced, and Catalyst
    constant-folds them so pushdown/pruning see real literals (the
    filter reaches the parquet scan exactly as if written inline).
    The oracle inlines the same values."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders_param"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM v_orders_param
        WHERE o_orderstatus = :status AND o_totalprice > :floor
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "floor": 50000.0},
    )


register(
    "sql_parameterized_args",
    _parameterized_sql,
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# named WINDOW clause + explicit NULLS ordering (shared SQL text)
# ---------------------------------------------------------------------------

# Values below 25 are nulled to simulate failed price capture: the
# explicit NULLS LAST is then genuinely load-bearing (Spark's DESC
# default is NULLS LAST but DuckDB's is NULLS FIRST-configurable — the
# explicit clause pins both engines to the same total order, with
# event_id as the unconditional tie-break).
_NAMED_WINDOW_SQL = """
    WITH src AS (
        SELECT user_id, event_id,
               CASE WHEN value < 25 THEN NULL ELSE value END AS v
        FROM {events}
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    ranked AS (
        SELECT user_id, event_id, v,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_purch
        FROM src
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY v DESC NULLS LAST, event_id)
    )
    SELECT user_id, event_id, v AS top_value,
           CAST(n_purch AS BIGINT) AS n_purch
    FROM ranked WHERE rn = 1
"""


def _named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI named-WINDOW clause (one definition, many windowed
    expressions) + explicit NULLS LAST ordering, both engines running
    the IDENTICAL SQL text. Per user: the top-priced purchase (nulled
    "failed captures" forced below every real price), plus the user's
    purchase count from a second window sharing the shuffle. The plan
    is ONE user-partitioned exchange feeding both window functions —
    the named clause isn't sugar only: it guarantees frame/partition
    identity, which is what lets Catalyst compute both in one Window
    operator."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "v_events_w15"
    )
    return spark.sql(_NAMED_WINDOW_SQL.format(events="v_events_w15"))


register(
    "sql_named_window_nulls",
    _named_window,
    _NAMED_WINDOW_SQL.format(events="events"),
)
