"""Unit tests pinning the enrich-stage aggregate semantics (SURVEY §2.3):
weighted mean ≠ plain mean (A1-A3), count(*) counts NULL rows (A5),
0/0 → NULL (A3 edge)."""

from __future__ import annotations

from pyspark.sql import functions as F

from orchestrated_etl_spark.operators.enrich import enrich_metrics
from orchestrated_etl_spark.schemas import BOOKS


def _books(spark, rows):
    return spark.createDataFrame(rows, BOOKS)


def test_weighted_mean_not_plain_mean(spark):
    df = _books(
        spark,
        [
            ("B1", "A", "p", 10.0, 5.0, 100),
            ("B2", "A", "p", 20.0, 1.0, 0),
        ],
    )
    row = enrich_metrics(df).collect()[0]
    # weighted: (5*100 + 1*0) / (100+0) = 5.0 ; plain mean would be 3.0
    assert row["Average_rating"] == 5.0
    assert row["Average_price"] == 15.0
    assert row["Total_rating_count"] == 100
    assert row["Sum_rating_count_rating"] == 500.0
    assert row["Book_count"] == 2


def test_count_star_includes_null_fields(spark):
    df = _books(
        spark,
        [
            ("B1", "A", "p", None, None, None),
            ("B2", "A", "p", 10.0, 4.0, 10),
        ],
    )
    row = enrich_metrics(df).collect()[0]
    assert row["Book_count"] == 2  # count(*), not count(col)


def test_zero_weight_gives_null(spark):
    df = _books(spark, [("B1", "A", "p", 10.0, 4.0, 0)])
    row = enrich_metrics(df).collect()[0]
    assert row["Average_rating"] is None  # 0/0 → NULL (pandas NaN analogue)


def test_flagship_runs_on_fixtures(spark, sf_dir):
    from orchestrated_etl_spark.queries.reference import flagship

    out = flagship(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) == {
        "n_name",
        "avg_weighted_discount",
        "avg_price",
        "total_qty",
        "sum_disc_qty",
        "item_count",
    }
