"""Queries covering the reference's own operator surface (SURVEY §2.1-§2.5).

Each query is the fixture-table expression of one (or one family of) the
reference's operators, with a DuckDB oracle computing the identical
relation. Sources: S3 completeness filter, S5 limit, S6 row constructor;
transforms T2-T6; aggregates A1-A5; joins J1-J3 (+ the left/semi/anti and
broadcast variants the reference lacks but any real star schema needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.operators import standardise as S
from orchestrated_etl_spark.operators.enrich import enrich_metrics
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# flagship — the whole reference pipeline as one plan (SURVEY §7 step 1)
# ---------------------------------------------------------------------------


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference pipeline transposed onto the star schema as ONE
    lazy plan (SURVEY §7 step 1): scan lineitem → completeness filter (S3)
    → standardise casts (T3) → the A1-A5 aggregate family per nation
    (lineitem⋈orders⋈customer⋈nation, J1-J3) — weighted avg of l_discount
    weighted by l_quantity plays Average_rating; avg(l_extendedprice) plays
    Average_price.

    Scale posture (doc matches code — r17 review): only NATION carries a
    forced broadcast hint (25 rows, construction-fixed —
    schemas.BROADCAST_TABLES). The customer and orders projections reach
    the broadcast path ONLY while their actual size is under
    autoBroadcastJoinThreshold (true at bench scale; threshold/AQE
    decide — no hint, per the forced-broadcast rule); past it,
    lineitem⋈orders and ⋈customer degrade gracefully to key-partitioned
    shuffle joins. The single aggregate shuffles its partial rows once
    on the final small key (25 nations). Catalyst prunes lineitem's
    scan to 5 of 11 columns and pushes the null filters into parquet.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    # SCALED-INTEGER (cents) accumulation: every column is a ≤2-decimal
    # POSITIVE value, so floor(x·100 + 0.5) recovers the exact integer
    # hundredths and the sums/products run on plain longs — exact in any
    # order like DECIMAL, but on the codegen long fast path (measured
    # ~25% faster than decimal(14,2) sums, whose 24-digit result exceeds
    # Spark's long-backed decimal and falls to BigDecimal). Overflow
    # bound: 2^63 hundredths ≈ $9e16 of summed value — far past any real
    # corpus; use the DECIMAL form (see other queries) beyond that or for
    # negative-able columns (floor(+0.5) is round-half-up only for x>0).
    cents = lambda col, scale=100: F.floor(col * scale + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    cleaned = (
        lineitem.na.drop(
            "any", subset=["l_quantity", "l_extendedprice", "l_discount"]
        )
        .select(
            "l_orderkey",
            cents(F.col("l_quantity")).alias("qty_c"),
            cents(F.col("l_extendedprice")).alias("price_c"),
            cents(F.col("l_discount")).alias("disc_c"),
        )
    )
    wsum = F.sum(F.col("disc_c") * F.col("qty_c")) / 10000.0
    qsum = F.sum("qty_c") / 100.0
    psum = F.sum("price_c") / 100.0
    return (
        cleaned.join(
            orders.select("o_orderkey", "o_custkey"),
            cleaned.l_orderkey == F.col("o_orderkey"),
            "inner",
        )
        .join(
            # No broadcast HINT on customer (round-14 review): customer
            # is 150k·SF rows — a 2-column projection broadcasts fine at
            # bench scale, but an UNCONDITIONAL hint overrides
            # autoBroadcastJoinThreshold and would OOM at the 100 TB SF
            # this plan claims to serve. Let the threshold + AQE decide:
            # below 64 MB Catalyst still picks broadcast (same local
            # plan), above it the join degrades gracefully to shuffle.
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "inner",
        )
        .groupBy("n_name")
        .agg(
            F.try_divide(wsum, qsum).alias("avg_weighted_discount"),
            F.try_divide(psum, F.count(F.lit(1))).alias("avg_price"),
            qsum.alias("total_qty"),
            wsum.alias("sum_disc_qty"),
            F.count(F.lit(1)).alias("item_count"),
        )
    )


register(
    "flagship",
    flagship,
    """
    SELECT n_name,
           (sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 10000.0)
               / (sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0)
               AS avg_weighted_discount,
           (sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0)
               / count(*) AS avg_price,
           sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_qty,
           sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
               * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 10000.0
               AS sum_disc_qty,
           count(*) AS item_count
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_quantity IS NOT NULL
      AND l_extendedprice IS NOT NULL
      AND l_discount IS NOT NULL
    GROUP BY n_name
    """,
)

# ---------------------------------------------------------------------------
# S6 + T2-T5 — the reference's books pipeline verbatim, from a literal-row
# constructor (pd.DataFrame(list[dict]) analogue, dags/dag.py:117) through
# the standardise stage (dags/dag.py:125-149).
# ---------------------------------------------------------------------------

_RAW_BOOK_ROWS = [
    # (Title, Author, book_type, Price, Rating, Rating_count) — all strings,
    # mirroring the scrape shape (FIXTURES.md §A1) incl. the quirks the
    # standardise stage must handle: dup titles, regex miss, comma counts.
    ("Spark Basics", "Ada", "Paperback", "59.99", "4.5 out of 5 stars", "1,234"),
    ("Spark Basics", "Ada", "Hardcover", "79.99", "4.7 out of 5 stars", "2,001"),
    ("Data Pipelines", "Ada", "Paperback", "39.5", "4.0 out of 5 stars", "987"),
    ("Streaming Systems", "Grace", "Kindle", "29.", "3.9 out of 5 stars", "12,345"),
    ("Lakehouse Design", "Grace", "Paperback", "49.95", "No ratings yet", "0"),
    ("Query Engines", "Edsger", "Hardcover", "89.00", "4.8 out of 5 stars", "456"),
]


def _books_standardised(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orchestrated_etl_spark.schemas import RAW_BOOKS

    raw = spark.createDataFrame(_RAW_BOOK_ROWS, RAW_BOOKS)
    # Deterministic dedup: keep the row with the (lexicographically) least
    # Price per Title — the distributed stand-in for pandas keep='first',
    # which has no meaning post-shuffle (SURVEY §2.2 T2).
    return S.dedup_by_key_deterministic(raw, ["Title"], "Price").select(
        "Title",
        "Author",
        "book_type",
        S.to_number("Price").alias("Price"),
        S.extract_number("Rating").alias("Rating"),
        S.strip_separators_to_long("Rating_count").alias("Rating_count"),
    )


_BOOK_VALUES_SQL = "(VALUES " + ", ".join(
    "(" + ", ".join(f"'{v}'" for v in row) + ")" for row in _RAW_BOOK_ROWS
) + ") AS raw_books(Title, Author, book_type, Price, Rating, Rating_count)"

register(
    "books_standardise",
    _books_standardised,
    f"""
    SELECT Title,
           min_by(Author, Price) AS Author,
           min_by(book_type, Price) AS book_type,
           TRY_CAST(min(Price) AS DOUBLE) AS Price,
           TRY_CAST(regexp_extract(min_by(Rating, Price), '(\\d\\.\\d)', 1) AS DOUBLE) AS Rating,
           TRY_CAST(replace(min_by(Rating_count, Price), ',', '') AS BIGINT) AS Rating_count
    FROM {_BOOK_VALUES_SQL}
    GROUP BY Title
    """,
)


def _books_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    # enrich_metrics already accumulates in DECIMAL (engine-exact); no
    # round() on compared doubles.
    df = _books_standardised(spark, sf_dir)
    return enrich_metrics(df).select(
        "Author",
        "Average_rating",
        "Average_price",
        "Total_rating_count",
        "Sum_rating_count_rating",
        "Book_count",
    )


register(
    "books_enrich",
    _books_enriched,
    f"""
    WITH books AS (
        SELECT Title,
               min_by(Author, Price) AS Author,
               TRY_CAST(min(Price) AS DOUBLE) AS Price,
               TRY_CAST(regexp_extract(min_by(Rating, Price), '(\\d\\.\\d)', 1) AS DOUBLE) AS Rating,
               TRY_CAST(replace(min_by(Rating_count, Price), ',', '') AS BIGINT) AS Rating_count
        FROM {_BOOK_VALUES_SQL}
        GROUP BY Title
    )
    SELECT Author,
           CAST(sum(CAST(Rating AS DECIMAL(8,2))
                    * CAST(Rating_count AS DECIMAL(14,0))) AS DOUBLE)
               / sum(Rating_count) AS Average_rating,
           CAST(sum(CAST(Price AS DECIMAL(14,2))) AS DOUBLE) / count(Price)
               AS Average_price,
           CAST(sum(Rating_count) AS BIGINT) AS Total_rating_count,
           CAST(sum(CAST(Rating AS DECIMAL(8,2))
                    * CAST(Rating_count AS DECIMAL(14,0))) AS DOUBLE)
               AS Sum_rating_count_rating,
           count(*) AS Book_count
    FROM books
    GROUP BY Author
    """,
)

# ---------------------------------------------------------------------------
# S3 — completeness predicate (conjunctive IsNotNull, pushed to the scan)
# ---------------------------------------------------------------------------


def _s3_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return S.drop_incomplete(
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
        ["l_quantity", "l_discount"],
    ).filter(F.col("l_quantity") >= 25)


register(
    "s3_completeness_filter",
    _s3_completeness,
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      AND l_quantity >= 25
    """,
)

# ---------------------------------------------------------------------------
# S5 — limit / top-N arrival (made deterministic by an explicit sort key)
# ---------------------------------------------------------------------------


def _s5_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(100)
    )


register(
    "s5_limit",
    _s5_topn,
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
)

# ---------------------------------------------------------------------------
# T2 — dedup by key, deterministic representative (min_by)
# ---------------------------------------------------------------------------


def _t2_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.dedup_by_key_deterministic(
        docs.select("doc_id", "text", "lang"), ["text"], "doc_id"
    ).select("doc_id", "text", "lang")


register(
    "t2_dedup_by_key",
    _t2_dedup,
    """
    SELECT min(doc_id) AS doc_id, text, min_by(lang, doc_id) AS lang
    FROM documents GROUP BY text
    """,
)

# ---------------------------------------------------------------------------
# T3 — string→number cast with malformed → NULL (try_cast)
# ---------------------------------------------------------------------------


def _t3_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        S.to_number(F.col("l_partkey").cast("string"), "long").alias("partkey_rt"),
        S.to_number("l_returnflag", "double").alias("flag_as_num"),  # 'A' → NULL
    )


register(
    "t3_cast_roundtrip",
    _t3_casts,
    """
    SELECT l_orderkey, l_linenumber,
           TRY_CAST(CAST(l_partkey AS VARCHAR) AS BIGINT) AS partkey_rt,
           TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num
    FROM lineitem
    """,
)

# ---------------------------------------------------------------------------
# T4 — regex extract + cast; no match → NULL
# ---------------------------------------------------------------------------


def _t4_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        S.extract_number("o_orderpriority", r"(\d)", "int").alias("priority_num"),
        S.extract_number("o_orderstatus", r"(\d)", "int").alias("status_num"),  # NULL
    )


register(
    "t4_regex_extract",
    _t4_regex,
    r"""
    SELECT o_orderkey,
           TRY_CAST(regexp_extract(o_orderpriority, '(\d)', 1) AS INTEGER) AS priority_num,
           TRY_CAST(regexp_extract(o_orderstatus, '(\d)', 1) AS INTEGER) AS status_num
    FROM orders
    """,
)

# ---------------------------------------------------------------------------
# T5 — thousands-separator strip + cast (round-trips n_chars through a
# comma-grouped string rendering)
# ---------------------------------------------------------------------------


def _t5_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        S.strip_separators_to_long(F.format_number(F.col("n_chars") * 1000, 0)).alias(
            "n_chars_rt"
        ),
    )


register(
    "t5_strip_separators",
    _t5_strip,
    """
    SELECT doc_id,
           TRY_CAST(replace(format('{:,}', n_chars * 1000), ',', '') AS BIGINT) AS n_chars_rt
    FROM documents
    """,
)

# ---------------------------------------------------------------------------
# T6 — projection / column drop (pruned ReadSchema)
# ---------------------------------------------------------------------------


def _t6_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return S.project_drop(part, "p_name", "p_type", "p_retailprice")


register(
    "t6_project_drop",
    _t6_project,
    "SELECT p_partkey, p_brand, p_size FROM part",
)

# ---------------------------------------------------------------------------
# A1-A5 — the enrich aggregate family over the star schema: weighted mean
# of l_discount (weight l_quantity) per customer market segment
# ---------------------------------------------------------------------------


def _a_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = (
        li.select("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")
        .join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            # no forced hint: customer is 150k·SF rows (round-15 review,
            # the r14 flagship class); threshold/AQE decide
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    enriched = enrich_metrics(
        joined,
        group_key="c_mktsegment",
        rating="l_discount",
        count="l_quantity",
        price="l_extendedprice",
    )
    # no round() on compared doubles: enrich_metrics accumulates in
    # DECIMAL, so these are already engine-exact values
    return enriched.select(
        "c_mktsegment",
        F.col("Average_rating").alias("avg_weighted_discount"),
        F.col("Average_price").alias("avg_price"),
        F.col("Total_rating_count").alias("total_qty"),
        F.col("Sum_rating_count_rating").alias("sum_disc_qty"),
        F.col("Book_count").alias("item_count"),
    )


register(
    "a1_a5_enrich_family",
    _a_family,
    """
    SELECT c_mktsegment,
           CAST(sum(CAST(l_discount AS DECIMAL(8,2))
                    * CAST(l_quantity AS DECIMAL(14,0))) AS DOUBLE)
               / sum(l_quantity) AS avg_weighted_discount,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               / count(l_extendedprice) AS avg_price,
           sum(l_quantity) AS total_qty,
           CAST(sum(CAST(l_discount AS DECIMAL(8,2))
                    * CAST(l_quantity AS DECIMAL(14,0))) AS DOUBLE)
               AS sum_disc_qty,
           count(*) AS item_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)

# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary — the canonical A-family form (adds
# conditional expressions + multiple sums in one hash aggregate)
# ---------------------------------------------------------------------------


def _c(col):
    """Exact integer hundredths of a ≤2-decimal positive double column."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def _c1m(col):
    """Hundredths of (1 - col) for a ≤2-decimal 0..1 column."""
    return F.floor((1 - F.col(col)) * 100 + F.lit(0.5)).cast("long")


def _c1p(col):
    """Hundredths of (1 + col) for a ≤2-decimal 0..1 column."""
    return F.floor((1 + F.col(col)) * 100 + F.lit(0.5)).cast("long")


def _q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # SCALED-INTEGER (cents) accumulation — exact like DECIMAL but
            # on the codegen long fast path (see flagship above for
            # the full rationale and overflow bound). The disc/charge
            # products accumulate at scale 4/6 (hundredths × hundredths).
            (F.sum(_c("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(_c("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (
                F.sum(_c("l_extendedprice") * _c1m("l_discount")) / 10000.0
            ).alias("sum_disc_price"),
            (
                F.sum(
                    _c("l_extendedprice") * _c1m("l_discount")
                    * _c1p("l_tax")
                ) / 1000000.0
            ).alias("sum_charge"),
            (F.sum(_c("l_quantity")) / 100.0 / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (
                F.sum(_c("l_extendedprice")) / 100.0 / F.count(F.lit(1))
            ).alias("avg_price"),
            (F.sum(_c("l_discount")) / 100.0 / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "q1_pricing_summary",
    _q1_pricing,
    """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0
               AS sum_qty,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
               AS sum_base_price,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) / 10000.0
               AS sum_disc_price,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)
               * CAST(floor((1 + l_tax) * 100 + 0.5) AS BIGINT)) / 1000000.0
               AS sum_charge,
           sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0
               / count(*) AS avg_qty,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
               / count(*) AS avg_price,
           sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) / 100.0
               / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# ---------------------------------------------------------------------------
# J1-J3 — equi-joins along the star schema FKs
# ---------------------------------------------------------------------------


def _j1_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per region: the full 5-table star join. Nation and region
    carry forced broadcast hints (fixed 25/5-row domains); the customer
    hop is HINT-FREE (150k·SF rows — it broadcasts under the threshold
    at bench scale and degrades to a key-partitioned shuffle join past
    it); lineitem⋈orders is the one big-big join, and AQE converts even
    that to broadcast at small sf."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            # no forced hint on the GROWING dim (customer is 150k·SF —
            # round-15 review); nation/region below keep theirs (fixed
            # 25/5-row domains, broadcastable at any scale)
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            (
                F.sum(_c("l_extendedprice") * _c1m("l_discount")) / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("item_count"),
        )
    )


register(
    "j1_star_join_revenue",
    _j1_star_join,
    """
    SELECT r_name,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) / 10000.0
               AS revenue,
           count(*) AS item_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)


def _j_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer with order count + total spend
    (0 / NULL for customers with no orders — count(col) skips NULLs)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.select("c_custkey", "c_mktsegment")
        .join(
            orders.select("o_custkey", "o_orderkey", "o_totalprice"),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total_spend"),
        )
    )


register(
    "j_left_join",
    _j_left,
    """
    SELECT c_custkey, c_mktsegment,
           count(o_orderkey) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)


def _j_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having ≥1 urgent order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return customer.select("c_custkey", "c_name").join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    )


register(
    "j_semi_join",
    _j_semi,
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)


def _j_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): orders with no lineitems."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.select("o_orderkey", "o_orderstatus").join(
        li.select("l_orderkey"), orders.o_orderkey == F.col("l_orderkey"), "left_anti"
    )


register(
    "j_anti_join",
    _j_anti,
    """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    """,
)
