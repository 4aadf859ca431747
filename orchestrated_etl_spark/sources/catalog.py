"""Table catalog: declared-schema readers over the fixture directory.

Replaces the reference's source stage (HTTP scrape + BeautifulSoup DOM
extraction, /root/reference/dags/dag.py:65-119 — S1/S2/S6 in SURVEY §2.1)
with Spark's partition-parallel vectorized columnar scans. Filters and
column selection expressed on the returned DataFrames reach the parquet
reader via Catalyst pushdown — at 100 TB the scan is the dominant cost and
pruning there is the single biggest lever.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark import schemas
from orchestrated_etl_spark.sources.sinks import scratch_dir

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (parquet, self-describing footer schema)."""
    if name not in schemas.TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(schemas.TABLES)}")
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(
    spark: SparkSession, sf_dir: str, *tables: str, view: str = "v_{}"
) -> None:
    """Expose fixture tables to ``spark.sql`` as temp views named
    ``view.format(table)``."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(view.format(t))


def nation_binary_files(spark: SparkSession, sf_dir: str) -> str:
    """Write one small ``<n_nationkey>.bin`` file holding the nation name
    per nation (rewritten on every call; dimension-sized driver-side
    prep) and return their directory — the fixture behind the
    binaryFile batch and stream sources."""
    base = scratch_dir("binfiles", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    nation = load_table(spark, sf_dir, "nation")
    for row in nation.select("n_nationkey", "n_name").collect():
        with open(f"{base}/{row['n_nationkey']:03d}.bin", "wb") as fh:
            fh.write(row["n_name"].encode("utf-8"))
    return base


def nanos_to_micros_ts(col: str = "ts"):
    """Nano-long → microsecond-timestamp conversion, shared by the batch
    and stream events readers so the two can never diverge (round-14
    review — each had its own copy). FLOOR semantics in pure integer
    arithmetic: plain ``div`` truncates toward zero, which for a
    NEGATIVE (pre-epoch) nano value rounds the wrong way vs DuckDB's
    floor truncation; float division is not an option because int64
    nanos exceed a double's 2^53 exact range. The fixture is entirely
    post-epoch (where div == floor), so this is contract hardening, not
    a behavior change there."""
    return F.expr(
        f"timestamp_micros({col} div 1000 - "
        f"(CASE WHEN {col} % 1000 < 0 THEN 1 ELSE 0 END))"
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark's
    parquet reader rejects outright (PARQUET_TYPE_ILLEGAL). Read the
    physical INT64 as nanoseconds-since-epoch (legacy conf) and truncate to
    microsecond TimestampType — the same floor-truncation DuckDB applies,
    so oracle comparisons agree.

    SESSION-WIDE SIDE EFFECT (deliberate; round-14 review made it
    signature-level doc, mirroring read_events_stream): the
    ``nanosAsLong`` conf stays set because it is consulted again at
    EXECUTION time, not just at this schema probe — a scoped restore
    would break the very frame this function returns. Consequence: any
    OTHER nanos-timestamp parquet read later in the session also comes
    back as bigint nanos instead of erroring; a session that must read
    foreign nanos files as errors should use a separate session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) physical int64
        raw = raw.withColumn("ts", nanos_to_micros_ts("ts"))
    return raw.select("event_id", "ts", "user_id", "event_type", "value", "props")


def read_csv(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """CSV reader with a mandatory declared schema (no inference jobs).
    ``header`` DEFAULTS to true but is caller-overridable — the previous
    hardcoded keyword made ``read_csv(..., header="false")`` a TypeError
    (duplicate keyword) instead of reading a headerless file (round-14
    review)."""
    opts = {"header": "true", **options}
    return spark.read.options(**opts).schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """JSON-lines reader with a mandatory declared schema."""
    return spark.read.options(**options).schema(schema).json(path)


def read_orc(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """ORC reader with a declared schema (columnar like parquet: column
    pruning + predicate pushdown both apply; the declared schema guards
    against drift between writer and reader versions)."""
    return spark.read.options(**options).schema(schema).orc(path)
