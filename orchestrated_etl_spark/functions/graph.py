"""Distributed graph primitives over relational data.

The reference pipeline (dags/dag.py) has no graph stage, but a corpus
engine at 100 TB needs one: co-occurrence graphs drive related-item
retrieval, dedup cluster collapse (functions/dedup.py already runs
min-label propagation), and link-based quality scores. This module
derives a co-purchase graph from ``lineitem`` (parts appearing in the
same order) and provides degree, triangle, and PageRank primitives on
it — all as DataFrame compositions, no driver-side adjacency.

Scale posture:
- Edge derivation groups by ``l_orderkey`` (ONE shuffle of a 2-column
  projection) and generates pairs map-side with array higher-order
  functions. Pair fan-out per order is C(k,2) where k = distinct parts
  per order — bounded by order size (≤ a few dozen), NOT by catalog
  size, so the explode never amplifies beyond a small constant of the
  fact table.
- The thresholded (weight ≥ 2) edge list is orders of magnitude smaller
  than the fact table (collisions need repeated co-purchase), so
  triangle joins broadcast it at bench scale; past the broadcast
  threshold the classic degree-orientation trick (orient each edge from
  its lower-degree endpoint, join on the middle vertex) bounds the
  wedge fan-out and runs sort-merge — noted on the triangle query.
- PageRank keeps ranks co-partitioned with edges on the join key; each
  iteration is one join + one aggregate. Iterations are composed lazily
  (3 fixed rounds here); long-running propagation would localCheckpoint
  per round like functions/dedup.py's connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import shuffle_width, stage, staged_checkpoint


def copurchase_edges(
    spark: SparkSession, sf_dir: str, min_weight: int = 1
) -> DataFrame:
    """Undirected co-purchase edges: (part_a < part_b, weight = number of
    orders containing BOTH parts). Distinct (order, part) first so a part
    listed on two lines of one order counts once.

    Plan: shuffle #1 groups by order key; pairs are generated map-side
    from each order's sorted distinct-part array via nested TRANSFORM
    (no self-join, no second scan of lineitem); shuffle #2 aggregates
    pair weights. Both shuffles move only key columns."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    # collect_set dedupes inside the aggregate — one shuffle replaces
    # the dropDuplicates + collect_list two-shuffle formulation
    # (measured 1.7 s → 1.2 s warm at sf0.1; at scale it removes a full
    # fact-table exchange).
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = per_order.select(
        F.explode(
            F.flatten(
                F.transform(
                    "parts",
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("parts"),
                            i + F.lit(2),
                            F.size("parts"),
                        ),
                        lambda y: F.struct(
                            x.alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.part_a", "e.part_b")
    edges = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("weight")
    )
    if min_weight > 1:
        edges = edges.where(F.col("weight") >= min_weight)
    return edges


def undirect(edges: DataFrame) -> DataFrame:
    """Expand canonical (a<b) edges to both directions (src, dst)."""
    fwd = edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    rev = edges.select(
        F.col("part_b").alias("src"), F.col("part_a").alias("dst")
    )
    return fwd.unionAll(rev)


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of the undirected graph: (node, degree)."""
    return (
        undirect(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count on canonically-oriented (a<b) edges:
    e1(a,b) ⋈ e2(b,c) forms wedges a<b<c; a third probe for (a,c)
    closes them. Every triangle a<b<c is counted exactly once.

    At bench scale the (thresholded) edge list broadcasts, so the two
    joins are map-side and the count is one partial-agg reduce. Past the
    broadcast threshold: re-orient each edge from its LOWER-DEGREE
    endpoint before the wedge join (bounds per-vertex fan-out by
    O(sqrt(m)) on any graph) and let the joins go sort-merge on the
    middle vertex — the standard distributed-triangle layout."""
    e1 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    e2 = edges.select(F.col("part_a").alias("b2"), F.col("part_b").alias("c"))
    e3 = edges.select(F.col("part_a").alias("a3"), F.col("part_b").alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    closed = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_count_oriented(edges: DataFrame) -> DataFrame:
    """Global triangle count via DEGREE ORIENTATION — the layout that
    survives edge lists too large to broadcast (the executable form of
    the fallback triangle_count's docstring names).

    Each undirected edge is re-oriented from its lower-TOTAL-ORDER
    endpoint, where the order is (degree, node) — degree first bounds
    every vertex's out-degree by O(sqrt(m)) on any graph (a vertex with
    out-degree d has d neighbors of degree >= its own, so d(d+1)/2 <= 2m),
    node id breaks degree ties totally. Wedges pair the out-neighbors of
    each apex (the triangle's minimum-order vertex), so each triangle is
    generated exactly once, and the closure probe joins on the (v, w)
    pair. All three joins carry explicit MERGE hints: the plan is
    sort-merge end-to-end with NO broadcast dependence on the edge list
    — per-vertex wedge fan-out is the only quadratic term and the
    orientation caps it at O(sqrt(m)).
    """
    deg = degrees(edges)
    da = deg.select(F.col("node").alias("part_a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("part_b"), F.col("degree").alias("_db"))
    e = (
        edges.select("part_a", "part_b")
        .join(da.hint("merge"), "part_a")
        .join(db.hint("merge"), "part_b")
    )
    ra = F.struct(F.col("_da").alias("d"), F.col("part_a").alias("n"))
    rb = F.struct(F.col("_db").alias("d"), F.col("part_b").alias("n"))
    # Materialized once: the oriented relation feeds BOTH wedge legs and
    # the closure probe — without the checkpoint each consumer replays
    # the degree-annotation joins (3x the orientation work at any scale).
    oriented = e.select(
        F.when(ra < rb, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
        F.when(ra < rb, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        F.when(ra < rb, rb).otherwise(ra).alias("dst_rank"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("dst_rank").alias("rv"),
    )
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("dst_rank").alias("rw"),
    )
    wedges = (
        o1.join(o2.hint("merge"), "u")
        .where(F.col("rv") < F.col("rw"))
        .select("v", "w")
    )
    closure = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    closed = wedges.join(closure.hint("merge"), ["v", "w"])
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Per-node PageRank on the undirected graph after a fixed number of
    synchronous iterations: r(v) = (1-d) + d * Σ_{u~v} r(u)/deg(u),
    ranks initialised to 1.0. Every node in the edge set has degree ≥ 1
    and only neighbours contribute, so no dangling-mass correction is
    needed on this derived graph.

    Each iteration = one equi-join of the (small) rank relation onto the
    edge relation + one aggregate; contribution r(u)/deg(u) is attached
    to edges by pre-joining degrees ONCE outside the loop. Iteration 1
    skips the join entirely (r18, guide §2.4): every rank is the
    constant 1.0 there, so its contribution rows are just
    ed_deg.select(dst, 1.0/src_deg) — bit-identical doubles to the
    joined form (1.0/x is the same IEEE op either way) — and the
    all-nodes distinct() that only existed to seed those ranks
    disappears with it (one exchange + one join fewer per query; the
    iterations=0 call still returns the distinct-node seed). The
    composed lazy plan re-partitions ranks and edges on the same key,
    so AQE collapses the per-iteration exchanges at bench scale."""
    # Materialize the CANONICAL edge list first (one eager checkpoint
    # job): both ``undirect`` and ``degrees`` consume the edge relation,
    # and joining two lazy derivations of it would execute the
    # fact-scan → pair-aggregate subtree TWICE inside the ed_deg
    # checkpoint job (measured: checkpointing edges first + the window
    # degree annotation below cut the pagerank query 3.7 s → 2.9 s warm
    # at sf0.1 — the derivation runs once, and everything downstream
    # operates on the thresholded edge list, orders of magnitude
    # smaller than the fact table). Same pattern as the MinHash
    # signature materialization in functions/dedup.py.
    edges_m = edges.localCheckpoint(eager=True)
    # Degree-annotate with a COUNT window over the undirected relation:
    # one shuffle on src replaces the undirect-join-degrees formulation,
    # whose two branches would re-derive the union twice and add a
    # second aggregate+join. Checkpointed so the per-iteration plans
    # read a materialized, hash-partitioned-on-src relation — a cheap
    # job (edge-list-sized input). Deliberately a PLAIN checkpoint, not
    # staged_checkpoint (r18 A/B): the rank relation broadcasts below
    # the threshold, so partition visibility buys nothing here, while
    # the AQE-off staging job costs ~0.25 s per run at sf0.1 (loses
    # exchange coalescing on a per-RUN build — unlike the BFS layout,
    # which is session-staged once). Past the broadcast threshold a
    # deployment would stage ed_deg once per session like
    # cached_undirected_layout and staged_checkpoint it then.
    from pyspark.sql import Window

    ed_deg = (
        undirect(edges_m)
        .select(
            "src",
            "dst",
            F.count(F.lit(1))
            .over(Window.partitionBy("src"))
            .alias("src_deg"),
        )
        .localCheckpoint(eager=True)
    )
    ranks: DataFrame | None = None
    for _ in range(iterations):
        if ranks is None:
            # iteration 1: rank(u) == 1.0 for every node, so the join
            # against the seed relation is a constant lookup — emit the
            # contribution rows directly from the edge relation.
            contribs = ed_deg.select(
                F.col("dst").alias("node"),
                (F.lit(1.0) / F.col("src_deg")).alias("contrib"),
            )
        else:
            contribs = ed_deg.join(ranks, ed_deg.src == ranks.node).select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("src_deg")).alias("contrib"),
            )
        ranks = contribs.groupBy("node").agg(
            (F.lit(1.0 - damping) + F.lit(damping) * F.sum("contrib")).alias(
                "rank"
            )
        )
    if ranks is None:  # iterations == 0: the uniform seed
        ranks = (
            ed_deg.select(F.col("src").alias("node")).distinct()
            .select("node", F.lit(1.0).alias("rank"))
        )
    return ranks


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection (LPA): every
    node starts as its own label; each round a node adopts the most
    frequent label among its NEIGHBORS' current labels, ties broken by
    the smallest label — fully deterministic (classic async LPA is
    order-dependent; the synchronous + lexicographic-tie-break variant
    reruns identically on any engine, which is what makes an exact
    unrolled-SQL oracle possible). Returns (node, community) after the
    fixed rounds.

    Per round: one (dst, label) count aggregate over the label-joined
    edge relation, then the argmax folds into a MAP-SIDE-combinable
    max_by over (count, -label) — no row_number window, so the per-node
    candidate labels never sort-shuffle. Same materialize-edges-once
    pattern as pagerank; everything downstream of the checkpoint is
    edge-list-sized. Round 1 skips the label join (r18, guide §2.4):
    the seed is the identity labelling, so each edge's neighbor-label
    row is just (dst, src) — identical multiset to joining the distinct
    -node identity relation — and the distinct() that only seeded it
    disappears (one exchange + one join fewer per query; iterations=0
    still returns the identity seed). Pure BIGINT arithmetic end to
    end."""
    edges_m = edges.localCheckpoint(eager=True)
    ed = undirect(edges_m)
    labels: DataFrame | None = None
    for _ in range(iterations):
        if labels is None:
            # round 1: every node's label IS its id, so the neighbor
            # label relation is the edge list itself.
            neigh = ed.select(
                F.col("dst").alias("n2"), F.col("src").alias("label")
            )
        else:
            neigh = ed.join(labels, ed.src == labels.node).select(
                F.col("dst").alias("n2"), "label"
            )
        counts = neigh.groupBy("n2", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            counts.groupBy("n2")
            .agg(
                F.max_by(
                    F.col("label"),
                    F.struct(F.col("c").alias("c"), (-F.col("label")).alias("t")),
                ).alias("label")
            )
            .select(F.col("n2").alias("node"), "label")
        )
        # Per-round checkpoint (same pattern as dedup's connected
        # components): without it round N's lazy plan replays rounds
        # 1..N-1's full lineage, turning a caller-supplied large
        # `iterations` into exponential recompute.
        labels = labels.localCheckpoint(eager=True)
    if labels is None:  # iterations == 0: the identity seed
        labels = ed.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
    return labels.select("node", F.col("label").alias("community"))


# DuckDB spelling of the canonical (a<b) co-purchase edges with weight,
# shared by the oracles of every query that reads cached_edges.
EDGE_CTE = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS weight
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
"""


# Every graph query (and orders_basket_lift) starts from the same derived
# co-purchase edges; staging them once per session (compat.stage) saves
# each query the two fact-table shuffles of the derivation (the
# per-query fixed cost SCALING.md documents, ~1.6 s at sf0.1). On a
# cluster this is the staged edges table the nightly graph job writes
# once and every query reads.
def cached_edges(
    spark: SparkSession, sf_dir: str, min_weight: int = 2
) -> DataFrame:
    return stage(
        spark,
        f"graph.edges/w{min_weight}",
        f"{sf_dir}/lineitem.parquet",
        lambda: copurchase_edges(
            spark, sf_dir, min_weight=min_weight
        ).localCheckpoint(eager=True),
    )


def cached_undirected_layout(
    spark: SparkSession, sf_dir: str, min_weight: int = 1
) -> DataFrame:
    """Session-staged UNDIRECTED (src, dst) edge layout, hash-
    partitioned by src at the shuffle width (part of the stage key, so
    a changed width restages the layout) and pinned with
    staged_checkpoint (a plain localCheckpoint under AQE loses the
    hashpartitioning(src) this layout exists to provide) — the
    per-round probe side every iterative traversal (BFS, Bellman-Ford)
    joins its frontier against. Building it costs an edge-sized shuffle
    (~0.8 s at sf0.1 on the dense graph); on a cluster this IS the
    bucketed-by-src edges table the nightly graph job stages once."""
    return stage(
        spark,
        f"graph.undirected_layout/w{min_weight}",
        f"{sf_dir}/lineitem.parquet",
        lambda: staged_checkpoint(
            undirect(cached_edges(spark, sf_dir, min_weight=min_weight))
            .repartition(shuffle_width(spark), F.col("src"))
        ),
    )


def bfs_distances(
    edges: DataFrame,
    seed: int,
    max_hops: int,
    u_layout: DataFrame | None = None,
) -> DataFrame:
    """Multi-source-capable BFS (here single seed): minimum hop distance
    from ``seed`` to every node within ``max_hops`` over the undirected
    edge list. Returns (node BIGINT, dist INT).

    Plan shape: classic frontier expansion — each round joins ONLY the
    current frontier (previous round's newly discovered nodes) against
    the edge list, so round cost is |frontier|·avg_degree, never
    |V|·|E|. Newly reached nodes are folded into the distance relation
    with ONE union + min(dist) aggregate per round (r18 optimization:
    this replaces the earlier distinct + left-anti pair — the aggregate
    partial-combines duplicate expansions map-side and subsumes the
    visited-set check, because a previously seen node keeps its smaller
    dist; guide §2.4 "remove shuffles outright": 2 exchanges per round
    → 1, and the per-round job chain shrank 27 → 12 jobs measured at
    sf0.1). The distance relation is checkpoint'd per round (the
    pagerank/label-propagation pattern): without it round N replays
    rounds 1..N-1's lineage. Both the edge layout and the per-round
    distance relation go through ``staged_checkpoint`` (r18): a plain
    localCheckpoint under AQE reports UnknownPartitioning, so every
    round's frontier⋈edges join silently RE-EXCHANGED the full edge
    layout — the staging repartition bought nothing at the plan level
    (this corrects the earlier co-partitioned claim here, which the
    r18 plan capture disproved). With the partitioning preserved, the
    frontier (a filter of the node-hash-partitioned distance relation)
    and the src-hash-partitioned edge layout are BOTH exchange-free in
    the join: per-round shuffle volume drops from |edges| + |visited| +
    |expansion| to |visited| + |expansion| (the min-aggregate's
    exchange — the only one left per round; measured at sf0.1 the
    whole query runs 9 jobs vs 21). At 100 TB the edge list is the
    staged relation (cached_edges / a bucketed edges table partitioned
    by src) and each round is one co-partitioned join + one aggregate
    — the standard Pregel-style iteration expressed as DataFrame ops,
    with the edge relation never moving after the one staging shuffle.
    The fixed hop cap bounds both rounds and output; an early-exit
    `frontier.isEmpty()` check is the documented long-tail variant
    (costs one action per round)."""
    spark = edges.sparkSession
    # Hash-partition the edge list by src ONCE and pin that layout with
    # the checkpoint: each round's join then reuses it (only the tiny
    # frontier moves), and the frontier side carries an explicit
    # shuffle_hash hint so Spark never elects to BROADCAST THE EDGE
    # LIST — data-sized, exactly the side that must never be built on
    # the driver (a 1.7M-edge graph at sf0.1 under a 64 MB threshold
    # did exactly that and OOM'd a default-heap driver).
    # Callers running many traversals in one session pass the staged
    # layout (cached_undirected_layout above) so this edge-sized
    # shuffle happens once per session, not per query.
    u = (
        u_layout
        if u_layout is not None
        else staged_checkpoint(
            undirect(edges).repartition(
                shuffle_width(spark), F.col("src")
            )
        )
    )
    dist = spark.range(1).select(
        F.lit(seed).cast("long").alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        expanded = (
            frontier.hint("shuffle_hash").join(
                u, frontier["node"] == u["src"]
            )
            .select(
                F.col("dst").alias("node"),
                F.lit(hop).cast("int").alias("dist"),
            )
        )
        # One aggregate replaces distinct + anti-join: min(dist) keeps a
        # previously discovered node's smaller hop, so the result is the
        # same minimum-hop relation. The checkpoint here re-materializes
        # the visited set each round — the lazy-union form avoided that
        # copy but paid a distinct + anti-join (3 exchanges per round vs
        # this 1); measured at sf0.1 the aggregate form is net faster
        # (1.9 s → 1.2 s warm) on top of the structural exchange win.
        # staged_checkpoint keeps the aggregate's hashpartitioning(node)
        # visible, so next round's frontier filter is co-partitioned
        # with the edge layout and the join plans with NO exchange.
        dist = staged_checkpoint(
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = dist.filter(F.col("dist") == hop).select("node")
    return dist


def shortest_path_bf(
    edges: DataFrame, seed: int, rounds: int
) -> DataFrame:
    """Bellman-Ford relaxation over the undirected weighted edge list:
    min total weight from ``seed`` using <= ``rounds`` edges. Returns
    (node BIGINT, c BIGINT) — exact integer costs. Each round unions
    the distance relation with every one-edge relaxation and takes
    min(cost) per node; per-round localCheckpoint prevents lineage
    replay (same shape as bfs_distances/pagerank). Round cost: one
    |dist| x edge-list join + one min-aggregate — the Pregel SSSP
    iteration as DataFrame ops."""
    spark = edges.sparkSession
    # Same layout contract as bfs_distances: edges partitioned by src
    # once, distance relation shuffle-hash-joined against it per round
    # (never broadcast the edge list).
    u = staged_checkpoint(
        edges.select(
            F.col("part_a").alias("src"),
            F.col("part_b").alias("dst"),
            F.col("weight").cast("long").alias("w"),
        )
        .unionAll(
            edges.select(
                F.col("part_b").alias("src"),
                F.col("part_a").alias("dst"),
                F.col("weight").cast("long").alias("w"),
            )
        )
        .repartition(shuffle_width(spark), F.col("src"))
    )
    dist = spark.range(1).select(
        F.lit(seed).cast("long").alias("node"),
        F.lit(0).cast("long").alias("c"),
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        relaxed = dist.hint("shuffle_hash").join(
            u, dist["node"] == u["src"]
        ).select(
            F.col("dst").alias("node"), (F.col("c") + F.col("w")).alias("c")
        )
        # staged_checkpoint (r18): same zero-exchange round join as
        # bfs_distances — dist keeps hashpartitioning(node), u keeps
        # hashpartitioning(src), so only the min-aggregate shuffles.
        dist = staged_checkpoint(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("c").alias("c"))
        )
    return dist
