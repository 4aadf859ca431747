"""Streaming queries.

Most are oracle-checked: with a single-file source, Trigger.AvailableNow
processes everything in ONE micro-batch, so complete-mode aggregations,
dedup, and inner interval joins produce exactly the batch result — which
IS SQL-expressible. Multi-batch queries whose final table is batch-equal
(append or complete mode over a deterministic file set) carry full
oracles too. Double sums accumulate in DECIMAL on both engines
(order-exact) where an oracle compares them. Only genuinely
state-semantics-dependent queries (applyInPandasWithState running
totals, dedup-within-watermark re-emission) stay rows-only, pinned
against batch twins in tests/test_streaming.py instead. Queries that
write files use the fixed ``sources.sinks.scratch_dir`` path and remove
it before writing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.operators.standardise import (
    QUARANTINE_SQL,
    quarantine_route,
)
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.books_source import books_oracle_cte
from orchestrated_etl_spark.sources.catalog import read_events
from orchestrated_etl_spark.streaming import windows as W
from orchestrated_etl_spark.streaming.events_stream import (
    read_events_stream,
    run_available_now,
)


def _tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily windows, complete mode. sum(value) accumulates in
    DECIMAL(25,10) — exact regardless of accumulation order — then casts
    to double, so the oracle compare is strict (no round() tie risk)."""
    ev = read_events_stream(spark, sf_dir)
    agg = W.tumbling_counts(
        ev,
        duration="1 day",
        watermark="1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )
    return run_available_now(agg, output_mode="complete")


register(
    "stream_tumbling_daily",
    _tumbling,
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL '1 day'
               AS window_end
    FROM events GROUP BY event_type, date_trunc('day', ts)
    """,
)


def _sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = W.sliding_counts(
        ev, duration="2 hours", slide="1 hour", watermark="1 hour"
    )
    return run_available_now(agg, output_mode="complete")


register(
    "stream_sliding_2h",
    _sliding,
    """
    WITH buckets AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', ts) - INTERVAL (off) HOUR
                   AS window_start
        FROM events, (SELECT unnest([0, 1]) AS off)
    )
    SELECT window_start,
           window_start + INTERVAL '2 hours' AS window_end,
           event_type,
           count(*) AS n_events
    FROM buckets GROUP BY 1, 2, 3
    """,
)


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = W.session_windows(ev, gap="10 minutes", watermark="1 hour")
    return run_available_now(agg, output_mode="complete")


register(
    "stream_session_windows",
    _sessions,
    # Spark session-window semantics: an event extends the session while
    # ts < previous session end (= prev ts + gap); equality starts a NEW
    # session (window end is exclusive). Reproduced with the standard
    # lag/cum-sum sessionization; sum_value in exact DECIMAL both sides.
    """
    WITH seq AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM seq
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '10 minutes' AS session_end,
           user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, session_id
    """,
)


def _dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type), then a deterministic
    batch rollup of the deduped stream (the representative row per key is
    arbitrary; the per-type count is not)."""
    ev = read_events_stream(spark, sf_dir)
    dd = W.streaming_dedup(ev, ["user_id", "event_type"], watermark="1 hour")
    out = run_available_now(dd, output_mode="append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_users")
    )


register(
    "stream_dedup_users",
    _dedup,
    """
    SELECT event_type, count(DISTINCT user_id) AS n_unique_users
    FROM events GROUP BY event_type
    """,
)


def _stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    count/sum/last-seen held in the state store. tests/test_streaming.py
    pins the final state against the batch groupBy equivalent."""
    from orchestrated_etl_spark.streaming.stateful import user_running_totals

    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(user_running_totals(ev), output_mode="update")
    # One row per user per micro-batch → keep the final emit per user
    # (the emit with the highest running count; counts only grow).
    final = F.max(F.struct("n_events", "total_value", "last_ts")).alias("f")
    return out.groupBy("user_id").agg(final).select(
        "user_id",
        F.col("f.n_events").alias("n_events"),
        F.col("f.total_value").alias("total_value"),
        F.col("f.last_ts").alias("last_ts"),
    )


register("stream_stateful_user_totals", _stateful)


def _foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands in the same parquet
    target via the batch writer (the pattern that gives streaming access
    to any batch sink — JDBC, MERGE, multi-sink fan-out). The read-back
    aggregate equals the plain batch aggregate no matter how the stream
    was micro-batched, so this one IS oracle-checkable."""
    import shutil

    from orchestrated_etl_spark.sources import sinks as K

    base = K.scratch_dir("foreachbatch", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    target = f"{base}/events"
    ev = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    q = (
        ev.writeStream.foreachBatch(
            lambda batch_df, batch_id: K.write_parquet(
                batch_df, target, mode="append"
            )
        )
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(target)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,10)"))
        .cast("double").alias("sum_value"),
    )


register(
    "stream_foreachbatch_sink",
    _foreachbatch,
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
               AS sum_value
    FROM events GROUP BY event_type
    """,
)


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: the streaming form of
    range_join_clicks_before_purchase. Purchases and clicks are two
    streams over the same source; the equi-key (user_id) carries the
    state partitioning and the watermark + interval condition bound the
    join state (clicks older than the interval past the watermark are
    evicted — the state-cleanup contract that makes this runnable
    forever). The joined pairs are then rolled up in batch for a
    deterministic result; tests pin it against the batch range join."""
    ev = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type"
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    pairs = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = run_available_now(pairs, output_mode="append")
    return out.groupBy(
        F.col("p_id").alias("event_id"),
        F.col("p_user").alias("user_id"),
        # NTZ wall-clock output (the session tz is UTC — pinned by
        # read_events_stream above): LTZ values collect through the
        # Python process timezone, shifting under a non-UTC host TZ.
        F.col("p_ts").cast("timestamp_ntz").alias("ts"),
    ).agg(F.count(F.lit(1)).alias("clicks_1h"))


register(
    "stream_stream_join",
    _stream_stream_join,
    # Inner interval join on a single-micro-batch bounded source emits
    # exactly the batch interval join (watermark eviction never fires
    # mid-batch), so the batch range-join SQL is a strict oracle. INNER:
    # purchases with zero clicks in the hour don't appear.
    """
    SELECT p.event_id, p.user_id, p.ts, count(*) AS clicks_1h
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)


def _stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the streaming form of the star-
    schema dim join (J1) and the standard way a 100 TB event stream picks
    up slowly-changing reference data: the static side is a bounded
    DataFrame re-resolved per micro-batch (no state store, no watermark
    needed on the static side), the stream side shuffles only on the join
    key. Here the static dim is each user's first-seen timestamp; the
    stream counts returning events (ts strictly after first seen) per
    event type. Deterministic, so this is the second streaming query with
    a full DuckDB oracle (after stream_foreachbatch_sink)."""
    from orchestrated_etl_spark.sources.catalog import read_events

    first_seen = (
        read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    ev = read_events_stream(spark, sf_dir)
    joined = ev.join(first_seen, "user_id")
    agg = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("ts") > F.col("first_ts"), 1).otherwise(0)
        ).alias("n_returning"),
    )
    return run_available_now(agg, output_mode="complete")


register(
    "stream_static_join",
    _stream_static_join,
    """
    WITH first_seen AS (
        SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN e.ts > f.first_ts THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returning
    FROM events e JOIN first_seen f USING (user_id)
    GROUP BY 1
    """,
)


def _books_stream_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scraper stage as a STREAM: the custom Python data source's
    micro-batch reader pages through the synthetic catalog (offset = next
    row index, checkpointable — a restarted scrape resumes, not
    re-fetches), and a complete-mode aggregate maintains per-type counts
    and standardised price totals as pages arrive. The finite source
    drains over several micro-batches (AvailableNow isn't supported by
    Python micro-batch streams, so the driver polls the sink until all
    n rows have been aggregated — test-harness plumbing, not operator
    semantics)."""
    import time
    import uuid

    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    n, page = 300, 100
    sdf = (
        spark.readStream.format("books")
        .option("n", n)
        .option("page_size", page)
        .load()
    )
    agg = sdf.groupBy("book_type").agg(
        F.count(F.lit(1)).alias("n_books"),
        F.sum(F.col("price").cast("decimal(18,2)"))
        .cast("double").alias("total_price"),
    )
    qname = f"books_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120.0
        while time.time() < deadline:
            rows = spark.table(qname).agg(F.sum("n_books")).collect()
            if rows and rows[0][0] == n:
                break
            time.sleep(0.3)
        else:
            raise TimeoutError(f"books stream did not drain {n} rows")
    finally:
        q.stop()
    return spark.table(qname)

register(
    "stream_books_pages",
    _books_stream_pages,
    f"""
    WITH {books_oracle_cte(300)}
    SELECT book_type, count(*) AS n_books,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM raw GROUP BY 1
    """,
)


def _state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store data source: run a checkpointed streaming
    aggregate to completion, then read the query's STATE as a DataFrame
    (spark.read.format("statestore")). This is streaming observability
    at scale — debugging a 100 TB stateful job means inspecting what the
    state store actually holds, without stopping the stream or adding
    debug sinks. The state of a completed count-by-type aggregate equals
    the batch groupBy, so this has a full DuckDB oracle."""
    import os
    import shutil

    ckpt = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        ".scratch",
        f"ckpt_state_inspect_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}",
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.format("statestore").option("path", ckpt).load()
    # the value struct's field name is the internal agg-buffer name
    # ("count"), not the query alias — resolve it from the state schema
    val_field = state.schema["value"].dataType.fieldNames()[0]
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{val_field}").alias("n_events"),
    )


register(
    "stream_state_inspect",
    _state_inspect,
    """
    SELECT event_type, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)


def _dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: dedup whose state is BOUNDED by the
    watermark (keys older than the delay are evicted) — the production
    form of streaming dedup for unbounded key domains, where plain
    dropDuplicates' state grows forever. Output counts depend on batch
    boundaries in general, so this is a rows-only check like the other
    windowed streaming queries; tests pin the single-batch case against
    the batch distinct."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = run_available_now(deduped, output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
        .orderBy("event_type")
    )


register("stream_dedup_within_watermark", _dedup_within_watermark)


def _stream_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming whole-file media ingest: readStream over the binaryFile
    source with maxFilesPerTrigger=7, so the 25 fixture blobs arrive
    across several micro-batches — the shape of a landing-zone media
    pipeline (each dropped image/audio file becomes one row; per-file
    digests extracted map-side per batch, content projected away before
    the sink). Append mode over a deterministic file set: the final
    table is batch-equal regardless of batch boundaries, so this
    streaming query carries a full oracle (same relation as
    src_binary_file_source)."""
    from orchestrated_etl_spark.sources.catalog import nation_binary_files

    base = nation_binary_files(spark, sf_dir)
    raw = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", 7)
        .load(f"{base}/*.bin")
    )
    feats = raw.select(
        F.regexp_extract(F.col("path"), r"/(\d+)\.bin$", 1)
        .cast("int")
        .alias("n_nationkey"),
        F.col("length").cast("long").alias("byte_len"),
        F.md5("content").alias("digest"),
    )
    return run_available_now(feats, output_mode="append")


register(
    "stream_binary_files",
    _stream_binary_files,
    """
    SELECT n_nationkey,
           CAST(strlen(n_name) AS BIGINT) AS byte_len,
           md5(n_name) AS digest
    FROM nation
    """,
)


def _stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (SCD1 upsert): the event stream is treated as
    a change feed keyed by user_id, and foreachBatch MERGEs each
    micro-batch into a parquet dimension holding every user's LATEST
    event — the canonical streaming-ingest-into-warehouse-table pattern
    (foreachBatch is how Structured Streaming reaches MERGE and any
    other batch-only sink).

    Versioning is EVENT-TIME, not arrival order: the kept row per user
    is the max by (ts, event_id) across target+batch, so the final
    table is identical no matter how the source is micro-batched —
    proven here by splitting the source into 6 files consumed 2 per
    trigger (3 micro-batches). Per-batch cost: one batch-sized reduce +
    one merge against the target's per-key latest rows; at 100 TB the
    target is a partitioned table and the merge rewrites only matched
    partitions (sink_dynamic_partition_overwrite's contract). The
    corrected relation is checkpointed before each overwrite to
    decouple read/write lineage (self-read-overwrite hazard)."""
    import os
    import shutil

    from orchestrated_etl_spark.sources.catalog import read_events
    from orchestrated_etl_spark.sources.sinks import scratch_dir

    work = scratch_dir("cdc_upsert", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = f"{work}/feed"
    target = f"{work}/dim_user_latest"
    # driver-side prep: split the fixed events table into 6 feed files
    (
        read_events(spark, sf_dir)
        .select("event_id", "user_id", "ts", "value")
        .repartition(6)
        .write.mode("overwrite")
        .parquet(src)
    )

    def latest_per_user(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("ts", "event_id", "value"),
                    F.struct("ts", "event_id"),
                ).alias("r")
            )
            .select(
                "user_id",
                F.col("r.ts").alias("ts"),
                F.col("r.event_id").alias("event_id"),
                F.col("r.value").alias("value"),
            )
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        b = latest_per_user(batch_df)
        # Explicit existence probe, NOT try/except-Exception: a transient
        # read failure mid-stream must surface, never be mistaken for
        # "first batch" (which would silently reset the dimension to the
        # current micro-batch and lose all accumulated state).
        if os.path.exists(target):
            cur = batch_df.sparkSession.read.parquet(target)
            merged = latest_per_user(cur.unionByName(b))
        else:  # first batch: target doesn't exist yet
            merged = b
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target
        )

    # ts declared TIMESTAMP_NTZ: the feed parquet above stores
    # UTC-normalized micros written from read_events's LTZ batch reader
    # (timestamp_micros, isAdjustedToUTC); declaring the column NTZ on
    # read reinterprets those micros as UTC wall clock, independent of
    # the host/process timezone, and no watermark is involved
    # (foreachBatch). An LTZ declaration here instead rendered the
    # output through the Python process timezone at collect time
    # (round-10 TZ-sweep finding; pinned by
    # test_stream_outputs_are_timestamp_ntz).
    feed = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp_ntz, value double"
    ).option("maxFilesPerTrigger", 2).parquet(src)
    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(target).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )
    # materialize: the next build removes the scratch dir
    return out.localCheckpoint(eager=True)


register(
    "stream_cdc_upsert",
    _stream_cdc_upsert,
    """
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           value AS last_value
    FROM (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)


def _stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases keep flowing
    even with no click in the preceding hour — the outer row (NULL click
    side) is emitted only once the watermark passes the purchase's join
    window, because until then a matching click could still arrive.
    That eviction boundary is engine-internal (final-watermark position
    after the last micro-batch), so this registers ROWS-ONLY: the exact
    null-row set near the stream's tail is not SQL-expressible, while
    the semantics are pinned in tests/test_streaming.py — matched pairs
    equal the batch interval join exactly, every emitted NULL row is a
    true batch no-click purchase, and every no-click purchase safely
    below the final watermark IS emitted.

    State bound: same as the inner form — click state older than
    watermark+interval is evicted; purchase state is evicted when its
    window closes (emitting the outer row). Runnable forever."""
    ev = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type"
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    pairs = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    out = run_available_now(pairs, output_mode="append")
    return out.groupBy(
        F.col("p_id").alias("event_id"),
        F.col("p_user").alias("user_id"),
        # NTZ at the output boundary (standing stream-output rule): p_ts
        # is LTZ only because withWatermark rejects NTZ; the session tz
        # is pinned UTC by read_events_stream, so this cast recovers the
        # stored wall clock instead of leaking an LTZ column that would
        # collect through the Python process timezone (round-12
        # registry-wide NTZ audit — this was the one stream query still
        # returning a raw LTZ timestamp).
        F.col("p_ts").cast("timestamp_ntz").alias("ts"),
    ).agg(
        F.sum(F.col("c_ts").isNotNull().cast("long")).alias("clicks_1h")
    )


register("stream_stream_left_outer", _stream_stream_left_outer)


def _tumbling_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily rollup ACROSS MICRO-BATCHES: the events table is
    split into 6 feed files consumed 2 per trigger (3 micro-batches), so
    windows genuinely accumulate partial state across triggers and the
    complete-mode output at stream end must STILL equal the batch
    rollup — the state-accumulation contract the single-file twin
    (stream_tumbling_daily, one micro-batch) can't exercise. The late
    micro-batches contain arbitrary (repartitioned) slices of event
    time, so any window state mishandling (premature eviction, lost
    partials) would corrupt the totals. DECIMAL accumulation keeps the
    sums order-exact across batch boundaries."""
    import shutil

    from orchestrated_etl_spark.sources.catalog import read_events
    from orchestrated_etl_spark.sources.sinks import scratch_dir

    work = scratch_dir("tumble_mb", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = f"{work}/feed"
    (
        read_events(spark, sf_dir)
        .select("event_id", "user_id", "ts", "event_type", "value")
        .repartition(6)
        .write.mode("overwrite")
        .parquet(src)
    )
    # The feed must be LTZ (withWatermark rejects NTZ), so window
    # boundary computation depends on the session timezone — pin it to
    # UTC exactly as read_events_stream does for the single-file twin
    # (under a non-UTC host TZ, daily windows would otherwise align to
    # local midnights; round-10 TZ-sweep finding). The helper returns
    # the bounds as NTZ wall clock.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    feed = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    ).option("maxFilesPerTrigger", 2).parquet(src)
    agg = W.tumbling_counts(
        feed,
        duration="1 day",
        watermark="1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )
    out = run_available_now(agg, output_mode="complete")
    return out.localCheckpoint(eager=True)


register(
    "stream_tumbling_multibatch",
    _tumbling_multibatch,
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL '1 day'
               AS window_end
    FROM events GROUP BY event_type, date_trunc('day', ts)
    """,
)


def _stream_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming expectations routing: the SAME quarantine rule set as
    dq_quarantine_split evaluated over a file stream consumed 2 files
    per trigger (6 feed files → 3 micro-batches), append mode. The
    rules are stateless row maps, so the final quarantine table is
    batch-equal regardless of micro-batch boundaries — which is why
    this streaming query carries the FULL batch oracle (the
    stream_binary_files determinism argument). This is the live half
    of the DLT-expectations pattern: bad rows divert to a quarantine
    sink as they ARRIVE, instead of being found by tomorrow's audit."""
    import shutil

    from orchestrated_etl_spark.sources.sinks import scratch_dir

    work = scratch_dir("quarantine_stream", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    src = f"{work}/feed"
    ev = read_events(spark, sf_dir)
    ev.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    from orchestrated_etl_spark.streaming.events_stream import (
        run_available_now,
    )

    return run_available_now(quarantine_route(stream), output_mode="append")


register(
    "stream_quarantine_split",
    _stream_quarantine_split,
    QUARANTINE_SQL,
)
