"""Sink writers — the engine's analogue of the reference load stage.

The reference writes one parameterized INSERT per row from a Python loop
(/root/reference/dags/dag.py:203-204,224-225 — K2/K3 in SURVEY §2.5) after
creating tables via DDL (dags/dag.py:40-58 — K1), and always appends (K4).
Here both sinks are partition-parallel and batched: parquet (columnar,
partitionable) and JDBC (one batched connection per partition). Casts that
the reference performed silently at the database (float → INT at
dags/dag.py:54,204) are explicit columns on the way out.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def scratch_dir(name: str, sf_dir: str) -> str:
    """Per-query, per-scale-factor scratch path ``.scratch/<name>_<sf
    tag>`` at the repo root (gitignored). The path is fixed, so a query
    that writes there removes it first and every rebuild reuses it."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", f"{name}_{tag}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Parquet sink. ``mode='append'`` reproduces the reference's
    accumulate-per-run semantics (K4); ``'overwrite'`` is the idempotent
    variant. ``partition_by`` turns a 100 TB table into prunable
    directories; ``maxRecordsPerFile`` bounds file size under skew.
    """
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """JDBC sink: batched inserts, one connection per partition — replaces
    the reference's one-round-trip-per-row loop. ``num_partitions`` caps
    concurrent connections so a 1000-executor write cannot exhaust the
    database's connection pool. Table creation is handled by Spark
    (createTableOptions / SaveMode), replacing the reference's hand DDL (K1).

    ``repartition``, not ``coalesce``: coalesce has no shuffle barrier,
    so capping 1000 write tasks to 8 would also run the ENTIRE upstream
    transform lineage in 8 tasks (round-14 review) — one shuffle buys
    full upstream parallelism with exactly num_partitions connections.
    """
    if num_partitions is not None:
        if num_partitions < 1:
            raise ValueError(
                f"num_partitions must be >= 1, got {num_partitions}"
            )
        df = df.repartition(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batch_size)
        .mode(mode)
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save()
