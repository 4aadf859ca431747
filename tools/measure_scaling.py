"""Scale-up curves for registered queries (the SCALING.md protocol).

Each curve is data: a registered query, the tables it grows and how, and
the multipliers SCALING.md publishes. For every multiplier the grown
tables are written to a temporary sf_dir (the other tables are linked
from the source sf_dir) and the query runs through the driver contract,
``queries()[q](spark, tmp).count()``, twice; ``steady_s`` is the second
run. Queries that stage a shared relation (graph edges and layouts, the
BM25 index) pay that build in the first run, so ``steady_s`` times the
traversal or lookup and ``first_s`` includes the build.

Growth methods (``tools/scaling_common.py``):

- ``Shift(cols)``: union ``mult`` copies with each key column shifted
  per copy (disjoint id spaces). Columns of one key domain
  (``KEY_DOMAIN``, e.g. ``l_orderkey``/``o_orderkey``) share one shift,
  so foreign keys between grown tables stay valid.
- ``Permute()``: union ``mult`` document copies, each under a distinct
  alphabet permutation of ``text`` with ``doc_id`` shifted — token,
  chunk and shingle domains grow with the data.

Usage:
    python tools/measure_scaling.py [SF_DIR] [CURVE ...]

SF_DIR defaults to the engine's (``sources.catalog.DEFAULT_SF_DIR``); no
CURVE runs every curve.
Prints one JSON line per (curve, multiplier). Large multipliers over
sf0.1 need ``SPARK_GRAFT_DRIVER_MEM=16g``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections.abc import Iterator
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from scaling_common import (  # noqa: E402
    dihedral52,
    grow_permuted_docs,
    grow_shifted,
    stage_parquet,
    staged_tmpdir,
    steady,
)


@dataclass(frozen=True)
class Shift:
    """Key-shift growth of the listed integer key columns."""

    cols: tuple[str, ...]


@dataclass(frozen=True)
class Permute:
    """Content-permutation growth of ``documents`` (doc_id, text) under
    the dihedral alphabet family (52 distinct copies)."""


@dataclass(frozen=True)
class Curve:
    grow: dict[str, Shift | Permute]  # table -> growth method
    mults: tuple[int, ...]
    query: str | None = None  # registered query; default: the curve name


# Key columns that hold the same key: one shift per domain.
KEY_DOMAIN = {"l_orderkey": "orderkey", "o_orderkey": "orderkey"}

# Growth shapes shared by several curves.
# One disjoint co-purchase component per copy:
DISJOINT_GRAPH = {"lineitem": Shift(("l_orderkey", "l_partkey"))}
# Same part space, so pair weights multiply (the weight>=2 graph densifies):
DENSE_GRAPH = {"lineitem": Shift(("l_orderkey",))}
# Facts grow with valid foreign keys; dimensions stay base-sized:
FACTS = {"lineitem": Shift(("l_orderkey",)), "orders": Shift(("o_orderkey",))}
USERS = {"events": Shift(("user_id", "event_id"))}
# Verbatim copies: each one a disjoint near-duplicate family:
DOC_COPIES = {"documents": Shift(("doc_id",))}
DOC_CONTENT = {"documents": Permute()}
# Query and centroid ids stay in the base range, so |Q| and K are fixed:
VECTORS = {"embeddings": Shift(("vec_id",))}

CURVES: dict[str, Curve] = {
    # relational
    "j1_star_join_revenue": Curve(FACTS, (1, 20, 50)),
    "dq_constraint_audit": Curve(FACTS, (1, 20, 50)),
    "window_topk_per_group": Curve(
        {"orders": Shift(("o_custkey", "o_orderkey"))}, (1, 20, 50)),
    "sample_hash_deterministic": Curve(
        {"orders": Shift(("o_orderkey",))}, (1, 20, 50)),
    "agg_bitmap_distinct": Curve(
        {"lineitem": Shift(("l_partkey",))}, (1, 5, 20)),
    "agg_countmin_sketch_estimate": Curve(
        {"lineitem": Shift(("l_partkey",))}, (1, 5, 20)),
    # events
    "datetime_daily_rollup": Curve(USERS, (1, 20, 50)),
    "sessionize_events_30m": Curve(USERS, (1, 20, 50)),
    "events_cep_conversion": Curve(USERS, (1, 20, 50)),
    "events_attribution_linear": Curve(USERS, (1, 20, 50)),
    "events_interval_coverage": Curve(USERS, (1, 5, 20)),
    "events_pareto_8020": Curve(USERS, (1, 5, 20)),
    "events_rfm_segmentation": Curve(USERS, (1, 5, 20, 50, 100)),
    "events_rfm_quantile_cutoffs": Curve(USERS, (1, 5, 20, 50, 100)),
    # text and dedup
    "dedup_minhash_lsh": Curve(DOC_COPIES, (1, 5, 20, 50)),
    "search_bm25_topk": Curve(DOC_COPIES, (1, 5, 20, 50)),
    "dedup_cdc_chunks": Curve(DOC_CONTENT, (1, 5, 20, 50)),
    "train_incremental_minhash": Curve(DOC_CONTENT, (1, 5, 20)),
    "t2_dedup_by_key": Curve(DOC_CONTENT, (1, 20, 50)),
    "train_chunk_documents": Curve(DOC_CONTENT, (1, 20, 50, 100, 200)),
    "train_build_vocab": Curve(DOC_CONTENT, (1, 5, 20)),
    "text_zipf_slope": Curve(DOC_CONTENT, (1, 5, 20)),
    "sample_weighted_deterministic": Curve(DOC_CONTENT, (1, 5, 20)),
    # vectors: IVF and SQ8 against brute force over one growth
    "sim_bruteforce_topk": Curve(VECTORS, (1, 20, 50)),
    "sim_ivf_topk": Curve(VECTORS, (1, 20, 50)),
    "sim_sq8_topk": Curve(VECTORS, (1, 20, 50)),
    "dedup_semantic_clusters": Curve(VECTORS, (1, 5, 20)),
    # graph
    "graph_bfs_frontier": Curve(DISJOINT_GRAPH, (1, 20, 50)),
    "graph_pagerank": Curve(DISJOINT_GRAPH, (1, 20, 50)),
    "graph_clustering_coefficient": Curve(DISJOINT_GRAPH, (1, 5, 20)),
    "graph_hits_2iter": Curve(DISJOINT_GRAPH, (1, 5, 20)),
    "graph_kcore": Curve(DISJOINT_GRAPH, (1, 5, 20)),
    "graph_modularity": Curve(DISJOINT_GRAPH, (1, 5, 20)),
    # BFS against Bellman-Ford on the densified graph
    "graph_bfs_frontier_dense": Curve(
        DENSE_GRAPH, (1, 2, 5), query="graph_bfs_frontier"),
    "graph_shortest_path_weighted": Curve(DENSE_GRAPH, (1, 2, 5)),
}


def key_shifts(
    spark: SparkSession, sf_dir: str, curve: Curve
) -> dict[str, int]:
    """Shift per grown key column: max+1 over every column of its key
    domain, so columns that share a domain share one shift."""
    top: dict[str, int] = {}
    for table, g in curve.grow.items():
        if not isinstance(g, Shift):
            continue
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        row = df.agg(*[F.max(c).alias(c) for c in g.cols]).collect()[0]
        for c in g.cols:
            d = KEY_DOMAIN.get(c, c)
            top[d] = max(top.get(d, 0), (row[c] or 0) + 1)
    return {
        c: top[KEY_DOMAIN.get(c, c)]
        for g in curve.grow.values() if isinstance(g, Shift)
        for c in g.cols
    }


def grow_table(
    df: DataFrame, mult: int, g: Shift | Permute, shifts: dict[str, int]
) -> DataFrame:
    if isinstance(g, Shift):
        return grow_shifted(df, mult, list(g.cols), shifts)
    keep = tuple(c for c in df.columns if c not in ("doc_id", "text"))
    return grow_permuted_docs(df, mult, dihedral52, keep=keep)


def run_curve(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    mults: tuple[int, ...] | None = None,
) -> Iterator[dict]:
    """Yield one point per multiplier (default: the curve's own)."""
    import __spark_entry__

    curve = CURVES[name]
    query = curve.query or name
    fn = __spark_entry__.queries()[query]
    shifts = key_shifts(spark, sf_dir, curve)
    for mult in mults or curve.mults:
        with staged_tmpdir(f"scale_{name}_{mult}_") as tmp:
            for src in glob.glob(f"{sf_dir}/*.parquet"):
                table = os.path.basename(src).removesuffix(".parquet")
                if table not in curve.grow:
                    os.symlink(os.path.abspath(src), f"{tmp}/{table}.parquet")
            rows = {}
            for table, g in curve.grow.items():
                df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
                path = f"{tmp}/{table}.parquet"
                stage_parquet(grow_table(df, mult, g, shifts), path)
                rows[table] = spark.read.parquet(path).count()
            out: list[int] = []
            t0 = time.perf_counter()
            t = steady(lambda: out.append(fn(spark, tmp).count()))
            yield {
                "curve": name,
                "query": query,
                "mult": mult,
                "rows": rows,
                "result_rows": out[-1],
                "first_s": round(time.perf_counter() - t0 - t, 3),
                "steady_s": round(t, 3),
            }


def main() -> None:
    from orchestrated_etl_spark.session import get_spark
    from orchestrated_etl_spark.sources.catalog import DEFAULT_SF_DIR

    args = sys.argv[1:]
    sf_dir = DEFAULT_SF_DIR
    if args and args[0] not in CURVES:
        sf_dir = args.pop(0)
    unknown = [a for a in args if a not in CURVES]
    if unknown:
        sys.exit(f"unknown curve(s) {unknown}; known: {sorted(CURVES)}")
    spark = get_spark("measure_scaling")
    for name in args or CURVES:
        for point in run_curve(spark, sf_dir, name):
            print(json.dumps(point), flush=True)


if __name__ == "__main__":
    main()
