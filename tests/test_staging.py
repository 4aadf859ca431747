"""compat.stage / staged_checkpoint: staged relations follow their input
files, and concurrent staging leaves the session conf intact."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from orchestrated_etl_spark.compat import stage, staged_checkpoint


def _write_inputs(root, orders, docs):
    """lineitem.parquet from {order: [parts]}, documents.parquet from
    {doc_id: text} — only the columns the staged relations read."""
    li = [(o, p) for o, parts in orders.items() for p in parts]
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([o for o, _ in li], pa.int64()),
            "l_partkey": pa.array([p for _, p in li], pa.int64()),
        }),
        root / "lineitem.parquet",
    )
    pq.write_table(
        pa.table({
            "doc_id": pa.array(list(docs), pa.int64()),
            "text": pa.array(list(docs.values()), pa.string()),
        }),
        root / "documents.parquet",
    )


def test_staged_relations_follow_rewritten_inputs(spark, tmp_path):
    qs = entrymod.queries()
    sf_dir = str(tmp_path)

    def run():
        edges = {tuple(r) for r in qs["graph_copurchase_edges"](
            spark, sf_dir).collect()}
        hits = {
            q: {r.doc_id for r in qs[q](spark, sf_dir).collect()}
            for q in ("search_bm25_topk", "search_bm25_store_bucketed")
        }
        return edges, hits

    _write_inputs(
        tmp_path,
        {1: [100, 101], 2: [100, 101]},
        {1: "spark spark window", 2: "merge data", 3: "nothing here"},
    )
    edges, hits = run()
    assert edges == {(100, 101, 2)}
    assert hits == {"search_bm25_topk": {1, 2},
                    "search_bm25_store_bucketed": {1, 2}}
    # an unchanged file set reuses the staged relation
    assert qs["graph_copurchase_edges"](spark, sf_dir) is \
        qs["graph_copurchase_edges"](spark, sf_dir)

    _write_inputs(
        tmp_path,
        {1: [200, 201], 2: [200, 201], 3: [200, 201, 202]},
        {10: "window merge", 11: "spark", 12: "x y", 13: "z"},
    )
    edges, hits = run()
    assert edges == {(200, 201, 3)}
    assert hits == {"search_bm25_topk": {10, 11},
                    "search_bm25_store_bucketed": {10, 11}}


def test_concurrent_staging_keeps_aqe_on(spark, tmp_path):
    """staged_checkpoint's conf flips and stage share one lock: threads
    staging at once (more of them than cores) all get correct
    relations, and AQE and the shuffle width read as before afterwards
    (overlapping unguarded flips can restore the flipped values)."""
    rounds = range(1, 5)

    def checkpoints(_):
        return [
            staged_checkpoint(
                spark.range(0, 1000 * r).repartition(4, "id")
            ).count()
            for r in rounds
        ]

    def stages(i):
        src = tmp_path / f"input{i}.txt"
        out = []
        for r in rounds:
            src.write_text("x" * r)  # a new key each round
            out.append(stage(
                spark, "test.concurrent", str(src),
                lambda: staged_checkpoint(
                    spark.range(0, 100 * r).repartition(4, "id")
                ),
            ).count())
        return out

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(6) as pool:
            a = [pool.submit(checkpoints, i) for i in range(3)]
            b = [pool.submit(stages, i) for i in range(3)]
            for f in a:
                assert f.result(timeout=300) == [1000 * r for r in rounds]
            for f in b:
                assert f.result(timeout=300) == [100 * r for r in rounds]
    finally:
        sys.setswitchinterval(interval)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
