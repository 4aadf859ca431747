"""Unit tests for scale-posture query semantics on tiny frames:
as-of tie handling, range-join boundary inclusion, packing bin boundaries,
and per-key sampling determinism."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from orchestrated_etl_spark.queries import aggregates, relational, training


def _ts(s):
    # UTC-aware: naive datetimes go through the process TZ (see
    # test_surface_wave4._ts) — zone-free fixtures are the standing rule.
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


def test_asof_same_timestamp_click_counts(spark, tmp_path):
    """A click at exactly the purchase ts is 'at or before' → included."""
    rows = [
        (1, 7, _ts("2024-01-01T10:00:00"), "click"),
        (2, 7, _ts("2024-01-01T10:00:00"), "purchase"),
        (3, 7, _ts("2024-01-01T09:00:00"), "click"),
        (4, 8, _ts("2024-01-01T12:00:00"), "purchase"),  # user with no clicks
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    sf = str(tmp_path)
    df.withColumn("value", F.lit(0.0)).withColumn("props", F.lit("{}")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/events.parquet")
    out = {
        r["event_id"]: r["last_click_ts"]
        for r in relational._asof(spark, sf).collect()
    }
    # collect() renders LTZ as a NAIVE process-zone datetime; astimezone
    # treats a naive value as process-local, so this compares the INSTANT
    # zone-freely (tie → the same-ts click wins).
    assert out[2].astimezone(timezone.utc) == _ts("2024-01-01T10:00:00")
    assert out[4] is None  # no click ever → NULL, row still present


def test_range_join_boundaries(spark, tmp_path):
    """(ts-1h, ts] window: exactly-1h-earlier click is OUT, same-ts is IN."""
    rows = [
        (1, 7, _ts("2024-01-01T09:00:00"), "click"),     # exactly 1h before: out
        (2, 7, _ts("2024-01-01T09:00:01"), "click"),     # in
        (3, 7, _ts("2024-01-01T10:00:00"), "click"),     # same instant: in
        (4, 7, _ts("2024-01-01T10:00:00"), "purchase"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    sf = str(tmp_path)
    df.withColumn("value", F.lit(0.0)).withColumn("props", F.lit("{}")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/events.parquet")
    [row] = relational._range_join(spark, sf).collect()
    assert row["clicks_1h"] == 2


def test_sampling_is_deterministic_per_key(spark, sf_dir):
    a = {r["o_orderkey"] for r in aggregates._sample_hash(spark, sf_dir).collect()}
    b = {r["o_orderkey"] for r in aggregates._sample_hash(spark, sf_dir).collect()}
    assert a == b and len(a) > 0
    # roughly 10% (loose bound; hash is coarse but unbiased enough for this)
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert 0.03 < len(a) / total < 0.25


def test_token_packing_respects_budget_boundary(spark, tmp_path):
    """Docs of 1000 tokens each, budget 2048 → bins of 3 docs (prefix sums
    0,1000,2000 → bin 0; 3000,4000 → bin 1 ...)."""
    text = " ".join(["w"] * 1000)
    rows = [(i, text, "en", "srcA", len(text)) for i in range(6)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: r["bin_id"]
        for r in training._token_packing(spark, sf).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 2}


def test_cap_per_source_keeps_lowest_ids(spark, tmp_path):
    rows = [(i, "t", "en", f"src{i % 2}", 1) for i in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = training._cap_per_source(spark, sf)
    per = out.groupBy("source").count().collect()
    assert all(r["count"] == 15 for r in per)
    # deterministic choice: the 15 lowest doc_ids per source
    kept = sorted(r["doc_id"] for r in out.where(F.col("source") == "src0").collect())
    assert kept == [i for i in range(50) if i % 2 == 0][:15]


def test_bucketed_join_has_no_prejoin_shuffle(spark, sf_dir):
    """Bucketed layouts satisfy the join distribution → the only Exchange
    in the plan is the post-join aggregate's."""
    from orchestrated_etl_spark.queries.relational import _bucketed_join

    # Disable broadcast so the join must satisfy its distribution
    # requirement from the bucketed layout (at real scale neither side
    # broadcasts anyway).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _bucketed_join(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the only shuffle is the post-join aggregate's
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_chunking_covers_text_with_overlap(spark, sf_dir):
    from orchestrated_etl_spark.queries.training import _chunk_documents

    chunks = _chunk_documents(spark, sf_dir)
    # every chunk except a doc's last has exactly 64 tokens; strides overlap by 16
    agg = chunks.groupBy("doc_id").agg(
        F.max("chunk_idx").alias("last_idx"),
        F.sum("chunk_tokens").alias("sum_tokens"),
    )
    row = agg.agg(F.count(F.lit(1)), F.min("sum_tokens")).collect()[0]
    assert row[0] > 0 and row[1] > 0
    bad = chunks.where(
        (F.col("chunk_tokens") > 64) | (F.col("chunk_tokens") <= 0)
    ).count()
    assert bad == 0


def test_connected_components_fixpoint(spark):
    """Chain 1-2-3-4 + isolated 5 + pair (6,7): components collapse to the
    min id even when propagation needs multiple rounds."""
    from orchestrated_etl_spark.functions.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "src long, dst long"
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6}


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """Correlated EXISTS (sql_q4 shape) must become a left-semi join in
    the physical plan — never a per-row subquery — or it cannot run on a
    large fact table."""
    from orchestrated_etl_spark.queries.tpch import _q4_exists

    plan = _q4_exists(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_scalar_subquery_decorrelates_to_agg_join(spark, sf_dir):
    """Correlated scalar aggregate (sql_q17 shape) must decorrelate to a
    per-key aggregate joined back — the plan contains an aggregate over
    l_partkey and no unresolved per-row subquery node."""
    from orchestrated_etl_spark.queries.tpch import _q17_below_avg

    plan = _q17_below_avg(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # decorrelated: an aggregate keyed on l_partkey feeds a join
    assert "l_partkey" in plan and ("HashAggregate" in plan or "SortAggregate" in plan)
    assert "Join" in plan, plan


def test_array_hof_profile_is_map_only(spark, sf_dir):
    """HOF per-vector profile: no explode, no exchange — a single
    map-only stage per scan partition."""
    from orchestrated_etl_spark.queries.sql import _array_hof

    plan = _array_hof(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan  # no explode
    assert "Exchange" not in plan, plan  # no shuffle


def test_books_source_partitions_and_determinism(spark):
    """The custom Python Data Source reads page-parallel (one partition
    per page) and is deterministic across reads."""
    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    df = (
        spark.read.format("books")
        .option("n", 250)
        .option("page_size", 100)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(250/100) pages
    assert df.count() == 250
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b
    assert df.columns == [
        "title", "author", "book_type", "price", "rating", "rating_count",
    ]


def test_books_source_on_error_stop_keeps_prefix(spark):
    """Reference parity (dags/dag.py:82,109-111): a non-200 page under
    on_error=stop drops that page AND everything after it — the
    partition-parallel analogue of the serial loop's `break`, keeping
    exactly the rows fetched before the failure."""
    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    df = (
        spark.read.format("books")
        .option("n", 500).option("page_size", 100)
        .option("fail_page", 2).option("on_error", "stop")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # pages 0,1 survive the break
    rows = sorted(r["title"] for r in df.collect())
    assert len(rows) == 200
    assert rows == sorted(f"book {i}" for i in range(200))
    # a fail_page past the last page changes nothing
    full = (
        spark.read.format("books")
        .option("n", 500).option("page_size", 100)
        .option("fail_page", 99).option("on_error", "stop")
        .load()
    )
    assert full.count() == 500


def test_books_source_on_error_fail_raises(spark):
    """on_error=fail surfaces the non-200 as a task error (fail-fast, no
    silent truncation) — the Non200Error message reaches the driver."""
    import pytest as _pytest

    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    df = (
        spark.read.format("books")
        .option("n", 300).option("page_size", 100)
        .option("fail_page", 1).option("on_error", "fail")
        .load()
    )
    with _pytest.raises(Exception, match="non-200 response for page 1"):
        df.count()


def test_books_source_on_error_retry_semantics(spark):
    """on_error=retry with retries=N: a page whose first M simulated
    attempts non-200 succeeds with the FULL dataset when N >= M (the
    retry happens inside the task — no stage restart), and degrades to
    fail-fast when N < M."""
    import pytest as _pytest

    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)

    def _read(retries: int):
        return (
            spark.read.format("books")
            .option("n", 300).option("page_size", 100)
            .option("fail_page", 1).option("fail_attempts", 2)
            .option("on_error", "retry").option("retries", retries)
            .load()
        )

    ok = _read(2)  # attempts 1,2 fail; attempt 3 (retry #2) succeeds
    assert ok.count() == 300
    assert sorted(r["title"] for r in ok.collect()) == sorted(
        f"book {i}" for i in range(300)
    )
    with _pytest.raises(Exception, match="non-200 response for page 1"):
        _read(1).count()  # attempts 1,2 both fail -> exhausted


def test_q18_in_subquery_becomes_semi_join(spark, sf_dir):
    """Q18's IN-over-grouped-HAVING must execute as a left-semi join
    against the pre-aggregated qualifying keys — the fact table is
    aggregated once, never re-scanned per outer row."""
    from orchestrated_etl_spark.queries.tpch import _q18_large_orders

    plan = (
        _q18_large_orders(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan, plan


def test_q19_disjunction_keeps_hash_join(spark, sf_dir):
    """Q19's OR-of-ANDs predicate must not degrade the equi-join: the
    common p_partkey = l_partkey conjunct stays the hash-join key and the
    disjunction evaluates as a residual filter (no cartesian product)."""
    from orchestrated_etl_spark.queries.tpch import _q19_disjunctive

    plan = (
        _q19_disjunctive(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "HashJoin" in plan, plan


def test_q10_topk_avoids_global_sort(spark, sf_dir):
    """Q10's ORDER BY revenue LIMIT 20 must plan as TakeOrderedAndProject
    (k rows per partition to the driver), not a full global Sort — the
    difference between shipping 20 rows and shipping every group."""
    from orchestrated_etl_spark.queries.tpch import _q10_returned_revenue

    plan = (
        _q10_returned_revenue(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    """Q6 is the pushed-filter baseline: the shipdate range and quantity
    bound must appear as PushedFilters on the parquet scan, not as a
    post-scan Filter-only plan — at 100 TB this is the difference between
    reading a year and reading everything."""
    from orchestrated_etl_spark.queries.tpch import _q6_forecast_revenue

    plan = (
        _q6_forecast_revenue(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan


def test_q21_exists_chain_becomes_semi_then_anti(spark, sf_dir):
    """Q21's EXISTS and NOT EXISTS self-joins must plan as a left-semi
    and a left-anti join on l_orderkey — never a per-row subquery or a
    nested loop over the fact table."""
    from orchestrated_etl_spark.queries.tpch import _q21_waiting_supplier

    plan = (
        _q21_waiting_supplier(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_q13_outer_join_preserves_orderless_customers(spark, sf_dir):
    """Q13 must keep zero-order customers: the join is LeftOuter in the
    plan, and the count histogram contains a c_count=0 bucket whenever
    some customer has only '5-LOW' orders (filter sits in the join
    condition, not a pre-filter that would drop the customer row)."""
    from orchestrated_etl_spark.queries.tpch import (
        _q13_order_count_distribution,
    )

    df = _q13_order_count_distribution(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, plan
    total = sum(r["custdist"] for r in df.collect())
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n_cust  # outer join: every customer lands in a bucket


def test_q7_pair_disjunction_keeps_hash_joins(spark, sf_dir):
    """Q7's symmetric two-nation disjunction is a residual filter on
    already-joined rows — all five joins must stay hash joins (no
    cartesian product, no nested loop)."""
    from orchestrated_etl_spark.queries.tpch import _q7_volume_shipping

    plan = (
        _q7_volume_shipping(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "HashJoin" in plan, plan


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """The dim filter must reach the partitioned fact scan as a runtime
    dynamic-partition-pruning subquery — reading only the surviving
    status directories is the entire point of the layout."""
    from orchestrated_etl_spark.queries.relational import _dpp_join

    plan = (
        _dpp_join(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_injects_on_sort_merge_join(spark, sf_dir):
    """When a sort-merge join's build side carries a selective filter,
    Spark injects a bloom filter from that side into the fact scan as a
    runtime might_contain() predicate — the row-level analogue of
    dynamic partition pruning, and the mechanism that prunes a 100 TB
    probe side joined on a non-partition key. The injection thresholds
    (creation side ≤ 10 MB, application side ≥ 10 GB) are cluster-scale
    defaults, so they're overridden for the assertion window; results
    never depend on them."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        urgent = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_observation_captures_pass_metrics(spark, sf_dir):
    """observe() accumulates data-quality metrics during the one pass —
    the Observation variant returns them directly after the action."""
    from pyspark.sql import Observation

    obs = Observation("m")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("null_prices"),
    )
    df.groupBy("o_orderstatus").count().collect()
    got = obs.get
    assert got["rows_seen"] == orders.count()
    assert got["null_prices"] == 0


def test_salted_asof_matches_unsalted_and_salts_exchange(spark, sf_dir):
    """The time-range-salted as-of join returns exactly the unsalted
    result, and its physical plan partitions the event window by
    (user_id, day) — the salt key is IN the exchange, so no partition
    ever holds more than one user-day of history."""
    from orchestrated_etl_spark.queries.relational import _asof, _asof_salted

    plain = {
        (r["event_id"], r["last_click_ts"]) for r in _asof(spark, sf_dir).collect()
    }
    salted_df = _asof_salted(spark, sf_dir)
    salted = {(r["event_id"], r["last_click_ts"]) for r in salted_df.collect()}
    assert salted == plain and len(plain) > 0

    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("user_id" in e and "day" in e for e in exchanges), exchanges
    # and the raw-events relation is never partitioned by user_id alone
    # (the carry summary may be — it is one row per user-day)


def test_salted_asof_bucket_boundary_semantics(spark):
    """Hand-built cross-day cases for the salted as-of join: carry-in
    across the day boundary, same-timestamp click+purchase tie (click
    counts), local click shadowing the carry-in, and never-clicked NULL."""
    import datetime as dt
    import shutil
    import tempfile

    from orchestrated_etl_spark.queries.relational import _asof, _asof_salted

    D1, D2 = dt.datetime(2025, 3, 1), dt.datetime(2025, 3, 2)  # naive-ntz-ok
    rows = [
        # user 1: click late day1 → purchase early day2 (pure carry-in)
        (1, D1 + dt.timedelta(hours=23, minutes=59), 1, "click", 0.0, "{}"),
        (2, D2 + dt.timedelta(minutes=1), 1, "purchase", 1.0, "{}"),
        # user 1: later click day2 shadows the carry-in for a later purchase
        (3, D2 + dt.timedelta(hours=10), 1, "click", 0.0, "{}"),
        (4, D2 + dt.timedelta(hours=11), 1, "purchase", 1.0, "{}"),
        # user 2: click and purchase at the SAME ts → click counts (<=)
        (5, D1 + dt.timedelta(hours=5), 2, "click", 0.0, "{}"),
        (6, D1 + dt.timedelta(hours=5), 2, "purchase", 1.0, "{}"),
        # user 3: purchase, never clicked → NULL
        (7, D1 + dt.timedelta(hours=8), 3, "purchase", 1.0, "{}"),
    ]
    d = tempfile.mkdtemp(prefix="asof_fixture_")
    try:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")

        got = {
            r["event_id"]: r["last_click_ts"]
            for r in _asof_salted(spark, d).collect()
        }
        assert got[2] == D1 + dt.timedelta(hours=23, minutes=59)  # carry-in
        assert got[4] == D2 + dt.timedelta(hours=10)  # local shadows carry
        assert got[6] == D1 + dt.timedelta(hours=5)   # same-ts click counts
        assert got[7] is None                          # never clicked

        plain = {
            r["event_id"]: r["last_click_ts"]
            for r in _asof(spark, d).collect()
        }
        assert got == plain
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_aqe_splits_skewed_sort_merge_join(spark, sf_dir):
    """AQE skew-join handling: when one join key dominates a sort-merge
    join's shuffle (~90% of lineitem rows funneled onto a single
    synthetic hot key, carrying an incompressible payload), AQE splits
    the oversized partition across multiple tasks and marks the join
    ``skew=true`` in the final adaptive plan — the runtime answer to
    hot keys at 100 TB that salting solves statically (see
    asof_join_salted). Two conditions discovered the hard way, both
    load-bearing at any scale:

    - Splits happen at MAP-OUTPUT boundaries: a skewed reduce partition
      fed by a single map task cannot be split at all (the one-file
      fixture scan is one map task, so the input is repartitioned
      first — on a real multi-file table the map side is already wide).
    - The rule pattern-matches plain shuffle→sort→join edges; an
      aggregate between shuffle and join (e.g. a distinct building the
      dim side) opts that side out of skew handling.

    The detection thresholds are cluster-scale defaults (256 MB), so
    they're lowered into an assertion window; results never depend on
    them."""
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        li = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_linenumber")
            .repartition(16)
        )
        fat = F.concat(
            *[
                F.md5(F.concat_ws("-", "l_orderkey", "l_linenumber", F.lit(i)))
                for i in range(8)
            ]
        )
        skewed = li.withColumn(
            "k",
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        ).withColumn("payload", fat)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            F.col("o_orderkey").alias("k"), "o_totalprice"
        )
        j = skewed.join(orders, "k").select(
            "k",
            "l_orderkey",
            "o_totalprice",
            F.substring("payload", 1, 4).alias("p"),
        )
        n = len(j.collect())
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is not None:
                conf.set(k, v)
            else:
                conf.unset(k)


def test_binned_range_join_partitions_by_bin(spark, sf_dir):
    """The binned range join must use (user, bin) as its JOIN KEY — the
    property that bounds a partition's state by the window width
    instead of by one user's full history once the join goes sort-merge
    at scale — and the result must equal the plain range join's
    exactly."""
    from orchestrated_etl_spark.queries.relational import (
        _range_join,
        _range_join_binned,
    )

    binned = _range_join_binned(spark, sf_dir)
    plan = binned._jdf.queryExecution().executedPlan().toString()
    # At fixture scale the click side broadcasts, so the bin shows up in
    # the JOIN KEYS (what co-partitions the sort-merge form past the
    # broadcast threshold) rather than in a shuffle exchange.
    joins = [
        ln for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert any("c_bin" in ln and "probe_bin" in ln for ln in joins), plan
    plain = {
        (r["event_id"], r["clicks_1h"])
        for r in _range_join(spark, sf_dir).collect()
    }
    got = {(r["event_id"], r["clicks_1h"]) for r in binned.collect()}
    assert got == plain


def test_stratified_sample_windows_are_salted_and_bounded(spark, sf_dir):
    """Round-15 review: the original stratified sample ran ONE window
    partitioned by the 3-value stratum key, collapsing each stratum's
    sort (a third of the corpus) into a single task. The two-phase form
    must (a) salt the first window's partition key so no window
    partitions on the bare stratum over raw data, (b) bound the final
    window's input at K*salts rows per stratum by construction, and
    (c) produce the IDENTICAL relation to the naive one-window form."""
    from pyspark.sql import Window

    from orchestrated_etl_spark.queries.aggregates import (
        _STRAT_K,
        _STRAT_SALTS,
        _bucket,
        _sample_stratified,
    )

    out = _sample_stratified(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # match only Window EXEC nodes — WindowGroupLimit push-down helpers
    # also contain "Window" but are not sorts over the partition
    win_lines = [
        ln for ln in plan.splitlines()
        if "Window [" in ln and "WindowGroupLimit" not in ln
    ]
    assert len(win_lines) >= 2, plan
    # the first (innermost in text = last listed) window partitions on
    # the salted key; exactly one window partitions on the bare stratum
    salted = [ln for ln in win_lines if "_salt" in ln]
    assert salted, plan
    bare = [ln for ln in win_lines if "_salt" not in ln and "o_orderstatus" in ln]
    assert len(bare) == 1, plan

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderstatus").orderBy(
        _bucket("o_orderkey").asc(), F.col("o_orderkey").asc()
    )
    naive = (
        orders.select("o_orderkey", "o_orderstatus")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _STRAT_K)
        .drop("rn")
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, naive.collect())
    )
    # candidate bound: per stratum the final window sees <= K*salts rows
    assert _STRAT_K * _STRAT_SALTS == 6400


def test_scd2_update_join_not_force_broadcast(spark, sf_dir):
    """Round-15 review: the SCD2 update batch is every-10th-customer —
    |dim|/10, linearly growing — and was force-broadcast (the class the
    r14 flagship fix removed). With auto-broadcast disabled the join
    must NOT broadcast (a forced hint would override the conf); with
    defaults the small fixture batch still broadcasts via the
    threshold, which is the intended small-batch fast path."""
    from orchestrated_etl_spark.queries.io import _scd2_history

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            _scd2_history(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    plan_default = (
        _scd2_history(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_default, plan_default
