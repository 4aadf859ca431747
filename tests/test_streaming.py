"""Streaming semantics pinned against batch equivalents: the streaming
window/dedup results over the fixed events fixture must equal the same
aggregation computed in batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orchestrated_etl_spark.sources.catalog import read_events
from orchestrated_etl_spark.streaming import windows as W
from orchestrated_etl_spark.streaming.events_stream import (
    read_events_stream,
    run_available_now,
)


def test_tumbling_daily_matches_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(
        W.tumbling_counts(ev, duration="1 day", watermark="1 hour"),
        output_mode="complete",
    )
    stream_rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in out.collect()
    }
    batch = (
        read_events(spark, sf_dir)
        .groupBy(
            # cast-to-date, NOT date_trunc: date_trunc on NTZ returns
            # LTZ, which collects through the Python process timezone —
            # under a shifted host TZ (round-12 Asia/Kathmandu sweep)
            # the batch keys drifted +05:45 off the stream's NTZ
            # window_start. Same rule as the production queries
            # (queries/sql.py _date_trunc_daily).
            F.col("ts").cast("date").cast("timestamp_ntz").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    batch_rows = {(r["day"], r["event_type"]): r["n"] for r in batch.collect()}
    assert stream_rows == batch_rows


def test_streaming_dedup_matches_distinct(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    dd = run_available_now(
        W.streaming_dedup(ev, ["user_id", "event_type"], watermark="1 hour"),
        output_mode="append",
    )
    got = {
        r["event_type"]: r["n"]
        for r in dd.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in read_events(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_session_windows_match_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(
        W.session_windows(ev, gap="10 minutes", watermark="1 hour"),
        output_mode="complete",
    )
    batch = (
        read_events(spark, sf_dir)
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # same exact DECIMAL accumulation as streaming.windows
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    key = lambda r: (r["session_start"], r["user_id"])  # noqa: E731
    got = sorted(
        ((r["session_start"], r["user_id"], r["n_events"], r["sum_value"])
         for r in out.collect())
    )
    want = sorted(
        ((r["session_start"], r["user_id"], r["n_events"], r["sum_value"])
         for r in batch.collect())
    )
    assert got == want


def test_stateful_running_totals_match_batch(spark, sf_dir):
    """applyInPandasWithState final state == batch groupBy over the same
    events (count, rounded sum, max ts per user)."""
    from orchestrated_etl_spark.queries.streaming import _stateful

    out = _stateful(spark, sf_dir)
    batch = (
        read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """True late-data semantics, which a single availableNow batch can't
    show: two micro-batches (maxFilesPerTrigger=1, mtime-ordered files).
    Batch 1 advances the watermark past the 10:00 window; batch 2's late
    10:15 row must be DROPPED, while its 14:00 row closes the 12:00
    window. Append mode emits exactly the closed windows."""
    import os
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "stream_in")
    os.makedirs(d)

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 10**6 for r in rows], pa.timestamp("us")),
                "event_type": pa.array(["click"] * len(rows), pa.string()),
            }
        )
        path = f"{d}/{name}"
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    H = 3600
    base = 1704067200  # 2024-01-01 00:00 UTC
    # The watermark a batch observes is computed from the event times of
    # EARLIER batches with one batch of lag, hence three files:
    # batch 1: two rows in [10:00,11:00) + one at 12:00
    write("b1.parquet", [(1, base + 10 * H), (2, base + 10 * H + 1800),
                         (3, base + 12 * H)], mtime=1_000_000)
    # batch 2: 12:30 row (joins the 12:00 window; watermark now >= 11:30)
    write("b2.parquet", [(6, base + 12 * H + 1800)], mtime=2_000_000)
    # batch 3: LATE row at 10:15 — watermark is 12:00 by now, its window
    # closed → DROPPED; the 14:00 row closes the 12:00 window.
    write("b3.parquet", [(4, base + 10 * H + 900), (5, base + 14 * H)],
          mtime=3_000_000)

    ev = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = W.tumbling_counts(
        ev, duration="1 hour", watermark="30 minutes",
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    qname = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"].hour, r["n_events"])
        for r in spark.table(qname).collect()
    }
    # 10:00 window emitted with 2 rows (late row 4 dropped), 12:00 window
    # with rows 3+6; the 14:00 window never closes so append never emits it.
    assert got == {(10, 2), (12, 2)}


def test_stream_stream_join_matches_batch_range_join(spark, sf_dir):
    """The streaming interval join must produce exactly the batch range
    join's per-purchase click counts (inner form: purchases with ≥1
    click in the window)."""
    from orchestrated_etl_spark.queries.relational import _range_join
    from orchestrated_etl_spark.queries.streaming import _stream_stream_join

    batch = {
        (r["event_id"], r["clicks_1h"])
        for r in _range_join(spark, sf_dir).collect()
        if r["clicks_1h"] > 0
    }
    stream = {
        (r["event_id"], r["clicks_1h"])
        for r in _stream_stream_join(spark, sf_dir).collect()
    }
    assert stream == batch


def test_dedup_within_watermark_single_batch_matches_distinct(spark, sf_dir):
    """With the whole file source in one micro-batch, watermark-bounded
    dedup equals the batch count-distinct per type."""
    from orchestrated_etl_spark.queries.streaming import (
        _dedup_within_watermark,
    )

    got = {
        r["event_type"]: r["n_distinct_users"]
        for r in _dedup_within_watermark(spark, sf_dir).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in read_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_books_stream_resumes_from_checkpoint(spark, tmp_path):
    """Offset durability: a stream over the paginated source is run to
    completion with n=100, then RESTARTED on the same checkpoint with
    n=300. The second run must resume at row 100 — if the offset were
    not honored, rows 0-99 would be appended twice."""
    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "out")

    def run(n: int) -> None:
        sdf = (
            spark.readStream.format("books")
            .option("n", n)
            .option("page_size", 50)
            .load()
        )
        q = (
            sdf.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(target)
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(target).count() >= n:
                    break
            except Exception:
                pass  # target not yet created
            time.sleep(0.3)
        q.stop()

    run(100)
    assert spark.read.parquet(target).count() == 100
    run(300)
    out = spark.read.parquet(target)
    assert out.count() == 300  # no re-read of pages 0-99
    assert out.select("title").distinct().count() == 300


def test_books_stream_failure_policies(spark, tmp_path):
    """Stream-side non-200 contract (round-13, the batch policies'
    stream twins): under on_error=stop the offset cursor stops advancing
    at the failing page — availableNow terminates with exactly the
    pre-failure rows (the durable form of the reference's `break`);
    under fail the micro-batch raises; under retry with retries >=
    fail_attempts the full dataset arrives."""
    import time

    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)

    def start(tag: str, **opts):
        # SimpleDataSourceStreamReader does not support availableNow
        # (the engine falls back to ONE batch), so drive with a
        # processingTime trigger and poll — the pattern of
        # test_books_stream_resumes_from_checkpoint above.
        sdf = spark.readStream.format("books").option("n", 300).option(
            "page_size", 100
        )
        for k, v in opts.items():
            sdf = sdf.option(k, v)
        target = str(tmp_path / f"out_{tag}")
        q = (
            sdf.load()
            .writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(target)
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        return q, target

    def count(target: str) -> int:
        try:
            return spark.read.parquet(target).count()
        except Exception:
            return 0  # no batch ever committed

    def poll(until, deadline_s: float = 120.0):
        deadline = time.time() + deadline_s
        while time.time() < deadline:
            if until():
                return True
            time.sleep(0.3)
        return False

    # stop: page 0 arrives, then the cursor idles at page 1 forever —
    # the count settles at 100 and the query stays alive (no error).
    q, target = start("stop", fail_page=1, on_error="stop")
    try:
        assert poll(lambda: count(target) == 100)
        time.sleep(2)  # several more idle triggers
        assert count(target) == 100
        assert q.exception() is None and q.isActive
    finally:
        q.stop()

    # fail: the failing micro-batch errors the query with the non-200.
    q, target = start("fail", fail_page=1, on_error="fail")
    try:
        assert poll(lambda: q.exception() is not None)
        assert "non-200 response for page 1" in str(q.exception())
        assert count(target) == 100  # page 0 committed before the error
    finally:
        q.stop()

    # retry >= fail_attempts: the page succeeds within its trigger.
    q, target = start("retry", fail_page=1, fail_attempts=2,
                      on_error="retry", retries=2)
    try:
        assert poll(lambda: count(target) == 300)
    finally:
        q.stop()


def _run_books_stream(spark, tmp_path, tag, trigger, n=300, page_size=100,
                      await_s=None, **opts):
    """Start a books stream into parquet, recording each micro-batch's
    partition count (the parallelism evidence). Returns (query, target,
    batch_partition_counts)."""
    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    sdf = spark.readStream.format("books").option("n", n).option(
        "page_size", page_size
    )
    for k, v in opts.items():
        sdf = sdf.option(k, v)
    target = str(tmp_path / f"out_{tag}")
    parts: list[int] = []

    def sink(b, _id):
        parts.append(b.rdd.getNumPartitions())
        b.write.mode("append").parquet(target)

    q = (
        sdf.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
        .trigger(**trigger)
        .start()
    )
    if await_s is not None:
        assert q.awaitTermination(await_s), "stream did not self-terminate"
    return q, target, parts


def test_books_stream_available_now_parallel(spark, tmp_path):
    """Real Trigger.AvailableNow on the partitioned stream reader (the
    round-13 missing-list item a SimpleDataSourceStreamReader cannot
    satisfy — PySpark silently degrades it to one prefetched batch):
    the query drains every available page, processes them as ONE
    micro-batch with one partition PER PAGE (executor-parallel fetch),
    and terminates on its own."""
    q, target, parts = _run_books_stream(
        spark, tmp_path, "an", {"availableNow": True}, await_s=120
    )
    assert q.exception() is None
    out = spark.read.parquet(target)
    assert out.count() == 300
    assert out.select("title").distinct().count() == 300
    # 3 pages -> a batch planned with 3 input partitions (not the
    # Simple reader's single prefetched partition).
    assert parts and max(parts) == 3, parts


def test_books_stream_available_now_stop_drains_clean_prefix(
    spark, tmp_path
):
    """AvailableNow + on_error=stop + a permanently failing page: the
    captured offset is the clean prefix, so the query terminates
    cleanly with exactly the pre-failure rows — the drain-what-exists
    form of the reference's `break` (dags/dag.py:109-111). Under
    fail/retry the availableNow capture never probes the failing page
    either (it is not 'available now'), so the same prefix arrives
    without an error — pinned here so the admission semantics are
    documented behavior, not an accident."""
    q, target, parts = _run_books_stream(
        spark, tmp_path, "anstop", {"availableNow": True},
        await_s=120, fail_page=2, on_error="stop",
    )
    assert q.exception() is None
    assert spark.read.parquet(target).count() == 200
    assert parts and max(parts) == 2, parts

    q2, target2, _ = _run_books_stream(
        spark, tmp_path, "anfail", {"availableNow": True},
        await_s=120, fail_page=2, on_error="fail",
    )
    assert q2.exception() is None
    assert spark.read.parquet(target2).count() == 200


def test_books_stream_transient_non200_heals(spark, tmp_path):
    """Round-13 advice: attempts must accumulate ACROSS triggers on the
    driver-side reader instance, so a finite transient non-200 clears
    and an on_error=stop stream heals instead of stalling forever. The
    stream reader freezes at the failing page for the first
    fail_attempts triggers, then advances to the full dataset."""
    import time

    q, target, _ = _run_books_stream(
        spark, tmp_path, "heal_part", {"processingTime": "0 seconds"},
        fail_page=1, fail_attempts=3, on_error="stop",
    )
    try:
        deadline = time.time() + 120
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(target).count()
            except Exception:
                n = 0
            if n == 300:
                break
            time.sleep(0.3)
        assert n == 300, f"stalled at {n} rows"
        assert q.exception() is None
    finally:
        q.stop()


def test_stream_left_outer_join_semantics(spark, sf_dir):
    """LEFT OUTER stream-stream interval join: (a) matched purchases and
    their click counts equal the batch interval join exactly; (b) every
    zero-click emission is a true batch no-click purchase; (c) every
    no-click purchase comfortably below the final watermark (max ts - 2h)
    is emitted. The exact emission boundary near the stream tail is
    engine-internal — that is why the query registers rows-only."""
    from orchestrated_etl_spark.queries.streaming import (
        _stream_stream_left_outer,
    )
    from orchestrated_etl_spark.sources.catalog import read_events

    out = {
        (r["event_id"], r["clicks_1h"])
        for r in _stream_stream_left_outer(spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    ).groupBy("p_id", "p_ts").agg(
        F.sum(F.col("c_ts").isNotNull().cast("long")).alias("n"))
    batch = {(r["p_id"], r["n"]): r["p_ts"] for r in joined.collect()}
    # (a) matched purchases agree exactly
    assert {x for x in out if x[1] > 0} == {
        k for k in batch if k[1] > 0
    }
    # (b) every zero-click emission is a true batch no-click purchase
    batch_zero = {k for k in batch if k[1] == 0}
    out_zero = {x for x in out if x[1] == 0}
    assert out_zero <= batch_zero
    # (c) no-click purchases well below the final watermark are emitted
    maxts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime
    cutoff = maxts - datetime.timedelta(hours=2)
    must_emit = {k for k in batch_zero if batch[k] < cutoff}
    assert must_emit <= out_zero


def test_stream_outputs_are_timestamp_ntz(spark, sf_dir):
    """Streaming window/bound outputs must be TIMESTAMP_NTZ (round-10
    TZ-sweep fix): the stream column is LTZ only because withWatermark
    rejects NTZ, and LTZ values collect through the PYTHON PROCESS
    timezone (datetime.fromtimestamp), not the pinned UTC session tz —
    on a non-UTC host the rendered bounds shift even when the windows
    are computed correctly. Pinning the output dtypes keeps the fix
    from regressing without needing to manipulate the host TZ in-test."""
    ev = read_events_stream(spark, sf_dir)
    cases = [
        (W.tumbling_counts(ev, duration="1 day", watermark="1 hour"),
         ["window_start", "window_end"]),
        (W.sliding_counts(ev, duration="2 hours", slide="1 hour",
                          watermark="1 hour"),
         ["window_start", "window_end"]),
        (W.session_windows(ev, gap="10 minutes", watermark="1 hour"),
         ["session_start", "session_end"]),
    ]
    for sdf, cols in cases:
        dtypes = dict(sdf.dtypes)
        for c in cols:
            assert dtypes[c] == "timestamp_ntz", (c, dtypes[c])
    # and the two self-fed batch-equal queries' final relations
    from orchestrated_etl_spark.queries.streaming import (
        _stream_cdc_upsert,
        _stream_stream_join,
    )

    assert dict(_stream_cdc_upsert(spark, sf_dir).dtypes)["last_ts"] == (
        "timestamp_ntz"
    )
    assert dict(_stream_stream_join(spark, sf_dir).dtypes)["ts"] == (
        "timestamp_ntz"
    )


def test_no_registered_stream_query_returns_ltz(spark, sf_dir):
    """Registry-wide pin of the stream-output NTZ rule. The hand-picked
    cases above let two rows-only queries slip through for eleven
    rounds (stream_stateful_user_totals declared an LTZ last_ts — the
    round-12 Kathmandu-pytest find — and stream_stream_left_outer
    returned the raw LTZ ts), because rows-only driver checks never
    hash values. EVERY registered stream_* query's RESULT schema must
    be free of plain ``timestamp`` (LTZ): an LTZ result column collects
    through the Python process timezone, so its rendered value depends
    on the host — the exact class three TZ axes have now caught."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    offenders = {}
    for name, fn in qs.items():
        if not name.startswith("stream_"):
            continue
        ltz = [c for c, t in fn(spark, sf_dir).dtypes if t == "timestamp"]
        if ltz:
            offenders[name] = ltz
    assert not offenders, offenders


def test_books_stream_restart_after_heal_never_duplicates(
    spark, tmp_path
):
    """Round-14 review finding (empirically confirmed pre-fix): the
    partitioned reader's heal state is per-run, so a fresh reader
    restarted from a checkpoint taken AFTER a transient cleared used to
    report availability BELOW the committed offset — the engine logged
    the regressed offset and re-planned the gap as new data (500 rows /
    300 distinct). The monotone ratchet (latestOffset floor +
    commit/partitions floors) must keep the restarted stream
    duplicate-free; if the engine ever does plan a regressed range, the
    partitions guard raises the named data-loss error instead of
    emitting a duplicate row. Either way: never silent duplicates."""
    import time

    q, target, _ = _run_books_stream(
        spark, tmp_path, "heal_restart", {"processingTime": "0 seconds"},
        fail_page=1, fail_attempts=2, on_error="stop",
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(target).count() == 300:
                    break
            except Exception:
                pass
            time.sleep(0.3)
        assert spark.read.parquet(target).count() == 300
    finally:
        q.stop()

    # restart from the same checkpoint, injection still configured.
    # A healthy restarted stream plans only NO-DATA batches (the
    # ratchet holds), and Spark throttles no-data progress events to
    # one per noDataProgressEventInterval — lower it so the poll below
    # observes triggers promptly instead of waiting out the 10 s
    # default on a contended host.
    progress_conf = "spark.sql.streaming.noDataProgressEventInterval"
    saved_interval = spark.conf.get(progress_conf, None)
    spark.conf.set(progress_conf, "500ms")
    q2, _, _ = _run_books_stream(
        spark, tmp_path, "heal_restart", {"processingTime": "0 seconds"},
        fail_page=1, fail_attempts=2, on_error="stop",
    )
    try:
        # Witness actual post-restart triggers instead of a fixed
        # sleep (round-14 ADVICE: on a contended host a fixed 8 s can
        # elapse before the restarted query fires at all, making the
        # assertions vacuously pass). recentProgress is per-query-
        # instance, so each entry is a completed post-restart trigger;
        # a duplicate-emitting replan would surface in the FIRST
        # post-restart batch (latestOffset is consulted immediately),
        # so two completed triggers prove the ratchet held.
        deadline = time.time() + 120
        while time.time() < deadline:
            if q2.exception() is not None:
                break
            if len(q2.recentProgress) >= 2:
                break
            time.sleep(0.2)
        else:
            raise AssertionError(
                "restarted stream completed no observable trigger in 120s"
            )
        exc = q2.exception()
        assert exc is None or "offset regression" in str(exc), exc
    finally:
        q2.stop()
        if saved_interval is None:
            spark.conf.unset(progress_conf)
        else:
            spark.conf.set(progress_conf, saved_interval)
    out = spark.read.parquet(target)
    assert out.count() == 300, "restart re-emitted committed pages"
    assert out.select("title").distinct().count() == 300


def test_stateful_last_ts_survives_multiple_microbatches(spark, tmp_path):
    """Round-14 review: last_ts was recomputed from the CURRENT batch
    only and never persisted in STATE_SCHEMA, so a later micro-batch
    carrying a LATE (older-ts) event regressed the emitted running max.
    Two single-row files + maxFilesPerTrigger=1 force two micro-batches
    with the late event second; the final emit must keep the true
    running max across batches."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from orchestrated_etl_spark.streaming.events_stream import (
        run_available_now,
    )
    from orchestrated_etl_spark.streaming.stateful import (
        user_running_totals,
    )

    t_new = dt.datetime(2024, 1, 2, 12, 0)  # naive-ntz-ok: ntz column
    t_old = dt.datetime(2024, 1, 1, 9, 0)  # naive-ntz-ok: the late event
    src = tmp_path / "ev"
    src.mkdir()
    arrow_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("value", pa.float64()),
        ]
    )

    def write_one(name, eid, ts, value, mtime):
        path = str(src / name)
        pq.write_table(
            pa.table(
                {"event_id": [eid], "ts": [ts], "user_id": [7],
                 "value": [value]},
                schema=arrow_schema,
            ),
            path,
        )
        os.utime(path, (mtime, mtime))  # deterministic batch order

    write_one("f1.parquet", 1, t_new, 2.0, 1_700_000_000)
    write_one("f2.parquet", 2, t_old, 3.0, 1_700_000_100)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_available_now(
        user_running_totals(stream), output_mode="update"
    ).collect()
    assert len(out) == 2, out  # one emit per micro-batch
    final = max(out, key=lambda r: r["n_events"])
    assert final["n_events"] == 2
    assert abs(final["total_value"] - 5.0) < 1e-9
    # the running max must NOT regress to the late batch's 09:00
    assert final["last_ts"] == t_new, final


def test_foreachbatch_sink_rebuild_leaves_no_temp_dirs(spark, sf_dir):
    """Building stream_foreachbatch_sink twice gives the same result and
    leaves no febatch_*/ckpt_* dir in the system temp dir: the query
    writes under its fixed scratch dir and removes it before writing."""
    import os
    import tempfile

    import __spark_entry__ as entrymod

    def temp_dirs() -> set[str]:
        return {
            n
            for n in os.listdir(tempfile.gettempdir())
            if n.startswith(("febatch_", "ckpt_"))
        }

    before = temp_dirs()
    build = entrymod.queries()["stream_foreachbatch_sink"]
    first = sorted(build(spark, sf_dir).collect())
    second = sorted(build(spark, sf_dir).collect())
    assert first and first == second
    assert not temp_dirs() - before
