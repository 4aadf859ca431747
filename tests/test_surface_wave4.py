"""Unit tests for wave-4 semantics on tiny frames: funnel strict ordering,
gap-fill spine completeness + forward-fill, and split determinism."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from orchestrated_etl_spark.queries import relational, sql, training


def _ts(s):
    # UTC-aware, not naive: createDataFrame interprets a NAIVE datetime
    # in the PYTHON PROCESS timezone, so under a host TZ that crosses
    # midnight vs UTC (e.g. Pacific/Kiritimati, +14) the stored instant
    # lands on another UTC day and every day-bucketed assertion shifts.
    # Zone-free fixtures are the standing rule (round-12/13 TZ axes).
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    sf = str(tmp_path)
    df.withColumn("value", F.lit(1.0)).withColumn("props", F.lit("{}")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/events.parquet")
    return sf


def test_funnel_requires_strict_stage_order(spark, tmp_path):
    """A click BEFORE the first view must not count as converted; a
    purchase between view and click must not count either."""
    rows = [
        # user 1: full ordered funnel view < click < purchase
        (1, 1, _ts("2024-01-01T09:00:00"), "view"),
        (2, 1, _ts("2024-01-01T10:00:00"), "click"),
        (3, 1, _ts("2024-01-01T11:00:00"), "purchase"),
        # user 2: click precedes the only view → stalls at 'viewed'
        (4, 2, _ts("2024-01-01T09:00:00"), "click"),
        (5, 2, _ts("2024-01-01T10:00:00"), "view"),
        # user 3: purchase lands between view and click → not counted
        (6, 3, _ts("2024-01-01T09:00:00"), "view"),
        (7, 3, _ts("2024-01-01T09:30:00"), "purchase"),
        (8, 3, _ts("2024-01-01T10:00:00"), "click"),
        # user 4: never views → contributes to n_users only
        (9, 4, _ts("2024-01-01T09:00:00"), "purchase"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    row = relational._funnel(spark, sf).collect()[0]
    assert row["n_users"] == 4
    assert row["n_viewed"] == 3
    assert row["n_clicked_after_view"] == 2  # users 1 and 3
    assert row["n_purchased_after_click"] == 1  # user 1 only


def test_gap_fill_emits_missing_days_and_forward_fills(spark, tmp_path):
    """Day 2 is absent from the input → the spine materializes it with
    day_value 0.0 and filled_value carried from day 1."""
    rows = [
        (1, 5, _ts("2024-01-01T08:00:00"), "view"),
        (2, 5, _ts("2024-01-03T08:00:00"), "view"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = {
        str(r["day"]): (r["day_value"], r["filled_value"])
        for r in sql._gap_fill(spark, sf).collect()
    }
    assert set(out) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert out["2024-01-02"] == (0.0, 1.0)  # spine row, forward-filled
    assert out["2024-01-03"] == (1.0, 1.0)


def test_split_assignment_is_deterministic_and_exhaustive(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "en", "web", 10) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    a = {
        (r["split"], r["lang"]): r["n_docs"]
        for r in training._split_assignment(spark, sf).collect()
    }
    b = {
        (r["split"], r["lang"]): r["n_docs"]
        for r in training._split_assignment(spark, sf).collect()
    }
    assert a == b  # rerun-stable
    assert sum(a.values()) == 200  # every doc assigned exactly once
    assert set(s for s, _ in a) == {"train", "val", "test"}
    assert a[("train", "en")] > a[("val", "en")]


def test_shuffle_hash_hint_changes_physical_strategy(spark, sf_dir):
    """The SHUFFLE_HASH hint must materialize as a ShuffledHashJoin node
    (not broadcast — the filtered orders side would otherwise broadcast
    at this scale, and not sort-merge); the query's RESULT is strategy-
    independent, which is what its oracle checks."""
    from orchestrated_etl_spark.queries.relational import _shuffle_hash_hint

    plan = (
        _shuffle_hash_hint(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan, plan
