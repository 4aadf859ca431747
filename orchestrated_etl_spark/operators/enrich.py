"""Enrich-stage aggregates (SURVEY §2.3, A1-A5).

The reference computes five per-Author aggregates as THREE separate pandas
groupbys reassembled by three joins (/root/reference/dags/dag.py:167-182 —
A1-A5 + J1-J3). That is 3 redundant scans and 3 redundant shuffles. The
Spark-native form is ONE multi-expression hash aggregate: map-side partial
aggregation, a single shuffle on the group key, no joins at all. At 100 TB
this collapses the stage from 4 shuffles to 1.

Aggregate semantics preserved exactly:
- A1 weighted sum Σ(rating·count) — native product-sum, no UDF (the
  reference uses groupby().apply(lambda), dags/dag.py:167).
- A3 Average_rating = A1/A2 is the *count-weighted* mean, not avg(rating).
  0/0 → NULL in Spark (pandas NaN; sink stores NULL either way).
- A5 Book_count counts rows including NULL fields → count(*), never
  count(col) which would skip NULLs (dags/dag.py:181).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_metrics(
    df: DataFrame,
    *,
    group_key: str = "Author",
    rating: str = "Rating",
    count: str = "Rating_count",
    price: str = "Price",
) -> DataFrame:
    """A1-A5 as one hash aggregate; column names follow the reference's
    enriched_metrics sink (dags/dag.py:50-57)."""
    # Sums accumulate in DECIMAL (rating/price are ≤2-decimal values, the
    # count an integer — the products are exact at scale 2), then cast to
    # double: order-independent, so the result is bit-identical on any
    # engine/partitioning. Ratios are raw IEEE quotients of those exact
    # sums — round() on a double is never applied to a compared value
    # (engines tie-break double rounding differently).
    wsum = F.sum(
        F.col(rating).cast("decimal(8,2)") * F.col(count).cast("decimal(14,0)")
    ).cast("double")
    csum = F.sum(count)
    psum = F.sum(F.col(price).cast("decimal(14,2)")).cast("double")
    return df.groupBy(group_key).agg(
        # try_divide: 0/0 → NULL (pandas NaN analogue) under ANSI mode
        F.try_divide(wsum, csum).alias("Average_rating"),
        F.try_divide(psum, F.count(price)).alias("Average_price"),
        csum.alias("Total_rating_count"),
        wsum.alias("Sum_rating_count_rating"),
        F.count(F.lit(1)).alias("Book_count"),
    )
