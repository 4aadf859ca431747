"""Session-timezone contract for the datetime/streaming families.

The fixture's ``events.ts`` reads as TIMESTAMP_NTZ (parquet logical
timestamp with isAdjustedToUTC=false): WALL-CLOCK semantics, by design
independent of ``spark.sql.session.timeZone``. That is the contract that
makes the DuckDB oracles portable — DuckDB's naive TIMESTAMP has the same
wall-clock semantics regardless of host timezone — and it was previously
only exercised under the default UTC session.

These tests re-run the day-boundary-sensitive queries under an
``America/New_York`` session timezone and assert BIT-IDENTICAL results:
date_trunc / window() / session gaps over NTZ must not shift with the
session zone. If a future fixture regeneration ships ``ts`` as
timezone-adjusted TIMESTAMP (LTZ), these tests fail immediately — the
signal to revisit every day-boundary oracle (LTZ day boundaries follow
the session zone; the oracles assume wall-clock days).
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def ny_tz(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_events_ts_is_ntz(spark, sf_dir):
    from orchestrated_etl_spark.sources.catalog import read_events

    assert dict(read_events(spark, sf_dir).dtypes)["ts"] == "timestamp_ntz"


# Every batch query whose semantics touch event timestamps or emit
# truncated date/month buckets. date_trunc on NTZ/DATE silently converts
# through the session timezone (the bug this sweep caught in
# datetime_daily_rollup, asof_join_salted, sink_clustered_write,
# sink_zorder_write, sql_q14_promo_share, agg_hll_sketch_merge).
_TZ_SENSITIVE = [
    "datetime_daily_rollup",
    "datetime_parts",
    "window_tumbling_hourly",
    "window_sliding_2h_batch",
    "sessionize_events_30m",
    "window_session_builtin",
    "datetime_gap_fill",
    "datetime_linear_interpolate",
    "events_dau_wau",
    "events_retention_cohorts",
    "funnel_view_click_purchase",
    "events_anomaly_zscore",
    "events_seasonal_decompose",
    "events_attribution_linear",
    "events_markov_transitions",
    "asof_join_purchase_click",
    "asof_join_salted",
    "range_join_clicks_before_purchase",
    "range_join_binned",
    "window_range_7day_spend",
    "events_rfm_segmentation",
    "events_rfm_quantile_cutoffs",
    "sink_clustered_write",
    "sink_zorder_write",
    "sql_q14_promo_share",
    "agg_hll_sketch_merge",
    "datetime_interval_math",
    "window_locf_ignore_nulls",
    # round 4: interval-union sweep, CEP sequence ordering (+ sessionized
    # twin) — all pure interval/ordering arithmetic over NTZ, must not
    # move with the session zone
    "events_interval_coverage",
    "events_cep_conversion",
    "events_cep_sessionized",
    # wave 15: daily-series detectors (to_date day bucketing), the KM
    # duration domain (datediff over to_date), the hour-window
    # quarantine rule, and the per-user trigram ordering — all NTZ
    # wall-clock, must not move with the session zone
    "events_cusum_changepoint",
    "events_acf_lags",
    "events_holt_linear",
    "events_max_drawdown",
    "events_km_survival",
    "events_trigram_paths",
    "dq_quarantine_split",
]


@pytest.mark.parametrize("qname", _TZ_SENSITIVE)
def test_batch_day_boundaries_tz_invariant(spark, sf_dir, qname, ny_tz):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    ny = _rows(fn(spark, sf_dir))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    utc = _rows(fn(spark, sf_dir))
    assert ny == utc


def test_stream_tumbling_daily_tz_invariant(spark, sf_dir, ny_tz):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()["stream_tumbling_daily"]
    ny = _rows(fn(spark, sf_dir))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    utc = _rows(fn(spark, sf_dir))
    assert ny == utc and len(ny) > 0


# ---------------------------------------------------------------------------
# DST-transition dates + odd-offset zones (round-12 axis).
#
# The driver fixture's events span January 2024 only, so no sweep over it
# can put a timestamp ON a DST transition. These tests synthesise NTZ
# timestamps straddling the America/New_York spring-forward gap
# (2024-03-10 02:00–03:00 local does not exist) and fall-back overlap
# (2024-11-03 01:00–02:00 local occurs twice) and assert the bucketing
# primitives every datetime/sessionize query is built from — window(),
# date_trunc, session_window — produce BIT-IDENTICAL buckets under UTC,
# the DST zone itself, and an odd 45-minute-offset zone
# (Asia/Kathmandu +05:45). NTZ is wall-clock by contract: a gap hour
# that "does not exist" in the session zone must still bucket as plain
# arithmetic. If Spark ever routed NTZ window arithmetic through the
# session zone (the LTZ behavior), the gap hour's rows would shift or
# vanish — exactly the class the round-10 TZ sweep caught for LTZ
# collect, now pinned for the data shape the fixture cannot carry.
# ---------------------------------------------------------------------------

_DST_ZONES = ["America/New_York", "Asia/Kathmandu"]


def _dst_frame(spark):
    from pyspark.sql import functions as F

    # Every 15 min across both 2024 US transitions, plus the exact
    # boundary instants; NTZ via cast from string (wall-clock).
    import datetime as dt

    stamps = []
    # naive-ntz-ok: strftime'd to wall-clock strings, cast to ntz below
    for day in (dt.datetime(2024, 3, 10), dt.datetime(2024, 11, 3)):
        t = day
        while t < day + dt.timedelta(hours=4):
            stamps.append(t.strftime("%Y-%m-%d %H:%M:%S"))
            t += dt.timedelta(minutes=15)
    df = spark.createDataFrame([(s,) for s in stamps], ["raw"])
    return df.select(
        F.col("raw").cast("timestamp_ntz").alias("ts"),
        F.lit(1).alias("v"),
    )


def _bucketize(spark):
    """The SAFE bucketing primitives every datetime/sessionize query is
    built from: window(), session_window(), and cast-to-date + hour()
    (the pattern the round-10 sweep moved every query to, replacing
    date_trunc on NTZ)."""
    from pyspark.sql import functions as F

    df = _dst_frame(spark)
    win = (
        df.groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("v").alias("n"))
        .select(
            F.col("w.start").cast("string").alias("ws"),
            F.col("w.end").cast("string").alias("we"),
            "n",
        )
    )
    datecast = df.select(
        F.col("ts").cast("date").cast("string").alias("d"),
        F.hour("ts").alias("hr"),
    ).distinct()
    sess = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("s"))
        .agg(F.count("v").alias("n"))
        .select(
            F.col("s.start").cast("string").alias("ss"),
            F.col("s.end").cast("string").alias("se"),
            "n",
        )
    )
    return _rows(win), _rows(datecast), _rows(sess)


def test_dst_transition_bucketing_session_tz_invariant(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        baseline = _bucketize(spark)
        # The gap hour exists in NTZ wall-clock: 02:00-02:30 and
        # 02:30-03:00 windows on 2024-03-10 each hold their 2 stamps.
        assert ("2024-03-10 02:00:00", "2024-03-10 02:30:00", 2) in baseline[0]
        for zone in _DST_ZONES:
            spark.conf.set("spark.sql.session.timeZone", zone)
            assert _bucketize(spark) == baseline, zone
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_date_trunc_on_ntz_is_session_zone_dependent_canary(spark):
    """CANARY pinning WHY the repo bans date_trunc on TIMESTAMP_NTZ
    (queries/sql.py _date_trunc_daily): Spark 4 interprets the NTZ
    value in the SESSION zone and returns an LTZ instant. Two measured
    consequences, both asserted zone-free (epoch seconds / server-side
    strings, so the assertions hold under any host or process TZ —
    the first version of this canary rendered through collect() and
    itself broke under TZ=Asia/Kathmandu):

    1. Under a +05:45 session zone the truncated "hour" INSTANTS sit at
       :15 past the UTC hour (epoch % 3600 == 900) — any consumer
       rendering them in a different zone sees :15-offset hours.
    2. Inside the America/New_York spring-forward gap the 02:00 bucket
       VANISHES: 2024-03-10 02:xx doesn't exist in NY local time, so
       those rows land in another hour even when interpretation and
       rendering agree on the zone.

    If this test ever FAILS, a Spark upgrade made date_trunc wall-clock
    on NTZ — the repo rule and the cast-to-date workarounds can then be
    revisited."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        df = _dst_frame(spark)
        trunc = F.date_trunc("hour", "ts")

        def epoch_offsets():
            return sorted(
                r.m
                for r in df.select(
                    (F.unix_timestamp(trunc) % 3600).alias("m")
                ).distinct().collect()
            )

        def hours_str():
            return sorted(
                r.h
                for r in df.select(
                    trunc.cast("string").alias("h")
                ).distinct().collect()
            )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert epoch_offsets() == [0]
        utc_hours = hours_str()
        assert "2024-03-10 02:00:00" in utc_hours

        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        assert epoch_offsets() == [900]  # truncated "hours" at :15 UTC

        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_hours = hours_str()
        assert "2024-03-10 02:00:00" not in ny_hours  # gap bucket gone
        assert len(ny_hours) == len(utc_hours) - 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_binned_range_join_dst_session_tz_invariant(spark):
    """Round-15 review (queries/scale_ops.py): the binned range join's
    hour-bin key must be monotone and session-tz invariant, or a click
    within the trailing hour of a purchase could land in a bin neither
    probe bin covers and be silently dropped. The original
    floor(unix_timestamp(ts)/3600) form was probed and found SAFE in
    Spark 4.1 — unix_timestamp anchors NTZ wall-clock to UTC,
    ignoring the session zone (the opposite of date_trunc, which the
    canary below pins as session-zone-dependent) — but that safety is
    an undocumented API asymmetry a Spark upgrade could change, so the
    bin is now computed from pure wall-clock field reads
    (unix_date*24 + hour) and this test pins the whole join's DST
    invariance: ambiguous fall-back hour and nonexistent
    spring-forward hour stamps on both 2024 US transitions must
    produce identical qualifying-click counts under every zone in
    _DST_ZONES."""
    import datetime as dt

    from orchestrated_etl_spark.queries.relational import (  # noqa: F401
        _range_join,
        range_join_binned_core,
    )

    # naive-ntz-ok: wall-clock strings cast to ntz below
    rows = [
        # fall-back day: click in the ambiguous hour, purchase after it
        (1, 10, "2024-11-03 01:30:00", "click"),
        (2, 10, "2024-11-03 02:15:00", "purchase"),
        (3, 10, "2024-11-03 00:30:00", "click"),  # outside the hour
        # spring-forward day: click in the nonexistent hour
        (4, 20, "2024-03-10 02:45:00", "click"),
        (5, 20, "2024-03-10 03:15:00", "purchase"),
        (6, 20, "2024-03-10 03:00:00", "click"),
    ]
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "raw", "event_type"]
    ).select(
        "event_id",
        "user_id",
        F.col("raw").cast("timestamp_ntz").alias("ts"),
        "event_type",
    )
    expected = {(2, 1), (5, 2)}  # (purchase event_id, clicks_1h)

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ["UTC", *_DST_ZONES]:
            spark.conf.set("spark.sql.session.timeZone", zone)
            got = {
                (r["event_id"], r["clicks_1h"])
                for r in range_join_binned_core(ev).collect()
            }
            assert got == expected, (zone, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
