"""Similarity search over embedding columns (array<float>).

Two paths:
- **brute-force top-k**: query-set × corpus join with an exact cosine
  expression and a per-query top-k window. Correct baseline; cost is
  |Q|·|C|, so it's for small query sets or reranking.
- **IVF (inverted-file) top-k**: corpus vectors are assigned to their
  nearest centroid once (linear scan over K centroids — a broadcast
  join); a query then probes only its own centroid's posting list,
  cutting the candidate set by ~K×. This is the scale path: at 100 TB the
  posting lists are partitioned by centroid id, so a query touches one
  partition. (K-means training itself is out of scope — any fixed,
  deterministic centroid set works; production would refresh centroids
  offline with MLlib KMeans.)

Both paths share the exact double-precision cosine from dedup.cosine and
deterministic (score DESC, id ASC) ranking.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import shuffle_width
from orchestrated_etl_spark.functions.dedup import cosine, dot, vec_norm

# DuckDB spelling of the exact cosine, for the oracles of the
# similarity and embedding-dedup queries.
COS_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    broadcast_queries: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query.

    ``exclude_self=True`` (default) drops query_id == neighbor_id pairs —
    correct only when query ids name the same entities as corpus ids
    (queries drawn from the corpus). External query sets whose ids may
    collide numerically with unrelated corpus ids must pass
    ``exclude_self=False`` (same contract as sq8_topk).

    |Q| CONTRACT: with ``broadcast_queries=True`` (default) the query side
    must be FIXED-SIZE — bounded independently of corpus size — so the
    broadcast stays under the driver/executor memory threshold no matter
    how far the corpus scales. Callers with a corpus-proportional or
    otherwise unbounded query side must pass ``broadcast_queries=False``,
    which routes through a shuffle-partitioned cross join: both sides
    repartition, no driver materialization, correct at any |Q| (cost is
    still |Q|·|C| — this is the exact baseline, not the ANN path).

    The corpus streams through without a shuffle until the final
    per-query window, which is partitioned by query id (|Q|·k rows)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qnorm", vec_norm(F.col("_qvec")))
    if broadcast_queries:
        q = F.broadcast(q)
    # Corpus side carries the |Q|·|C| dot-product work — spread it across
    # cores explicitly (one-row-group fixture files scan as 1 partition).
    par = shuffle_width(corpus.sparkSession)
    c = (
        corpus.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
        )
        .withColumn("_cnorm", vec_norm(F.col("_cvec")))
    )
    # norms precomputed per side → per-pair work is the dot product alone
    cond = (
        F.col("query_id") != F.col("neighbor_id")
        if exclude_self
        else F.lit(True)
    )
    scored = (
        c.join(q, cond)
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    dot(F.col("_qvec"), F.col("_cvec")),
                    F.col("_qnorm") * F.col("_cnorm"),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def assign_to_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    nprobe: int = 1,
    keep_norm: bool = False,
) -> DataFrame:
    """IVF build step: nearest-centroid assignment via broadcast join +
    deterministic argmax (cosine DESC, centroid_id ASC). Linear in
    |corpus|·K; at scale, write the result partitioned by centroid_id.

    ``nprobe > 1`` keeps each row's top-``nprobe`` centroids (one output
    row per kept centroid) — used on the QUERY side of ivf_topk to widen
    the searched posting lists for higher recall.

    ``keep_norm=True`` carries the already-evaluated ``_vnorm`` into the
    output so the caller's scoring pass does not pay a SECOND
    interpreted-HOF norm over the whole corpus (round-14 review:
    ivf_topk recomputed it per row)."""
    # Norms are hoisted to one eval per row on EACH side before the
    # broadcast join: cosine() inline would re-evaluate both interpreted
    # higher-order-function norms for every (vector, centroid) pair —
    # 3× the HOF evals for identical doubles (dot/(na*nb) is the same
    # expression, just computed once per operand).
    cen = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("_cenvec"),
        vec_norm(F.col(vec_col)).alias("_cennorm"),
    )
    par = shuffle_width(corpus.sparkSession)
    if nprobe == 1:
        # Argmax as a MAP-ONLY fold over a broadcast 1-row centroid
        # ARRAY (r18, guide §2.4/§5): the earlier max_by aggregate never
        # shuffled the |corpus|×K scored rows, but its buffer carried
        # the vector array (first(_vec)) and a struct ordering — neither
        # hash-aggregable — so the plan fell back to Sort + SortAggregate
        # over all K·|corpus| joined rows. Folding the K cosines per row
        # with reduce() materializes no per-centroid rows and no sort at
        # all: one projection over the corpus, same K dot products.
        # Tie/NULL semantics replicate max_by over (cosine, -cid)
        # exactly: centroids are visited in ASCENDING cid order
        # (array_sort on the cid-led struct) with a STRICT improvement
        # test, so equal cosines keep the lowest cid; a NULL cosine
        # (zero vector) never beats a non-NULL one; the all-NULL row
        # falls back to the lowest cid — max_by's RowOrdering treats the
        # NULL score field as smallest, which is the same ordering.
        cen_arr = cen.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("centroid_id").alias("cid"),
                        F.col("_cenvec").alias("v"),
                        F.col("_cennorm").alias("nrm"),
                    )
                )
            ).alias("_cens")
        )
        base = (
            corpus.repartition(par, F.col(id_col))
            .select(
                F.col(id_col).alias("_id"),
                F.col(vec_col).alias("_vec"),
                vec_norm(F.col(vec_col)).alias("_vnorm"),
            )
            .join(F.broadcast(cen_arr))
            # empty centroid set: the old join produced zero rows; keep
            # that (the fold below would emit NULL assignments instead).
            .where(F.size("_cens") > 0)
        )

        def _cos_of(e: Column) -> Column:
            return F.round(
                F.try_divide(
                    dot(F.col("_vec"), e["v"]),
                    F.col("_vnorm") * e["nrm"],
                ),
                6,
            )

        # score each centroid ONCE (transform), then fold the small
        # (c, cid) structs — a lambda that recomputed the cosine inside
        # the comparison would pay the dot product 3× per centroid
        # (no common-subexpression elimination inside interpreted HOFs).
        scored_arr = F.transform(
            F.col("_cens"),
            lambda e: F.struct(
                _cos_of(e).alias("c"), e["cid"].alias("cid")
            ),
        )
        best_cid = F.aggregate(
            scored_arr,
            F.struct(
                F.lit(None).cast("double").alias("c"),
                F.get("_cens", 0)["cid"].alias("cid"),
            ),
            lambda acc, s: F.when(
                (s["c"] > acc["c"])
                | (acc["c"].isNull() & s["c"].isNotNull()),
                s,
            ).otherwise(acc),
            lambda acc: acc["cid"],
        )
        cols = [
            F.col("_id"),
            F.col("_vec"),
            best_cid.alias("centroid_id"),
        ] + ([F.col("_vnorm")] if keep_norm else [])
        return base.select(*cols)
    scored = (
        corpus.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            vec_norm(F.col(vec_col)).alias("_vnorm"),
        )
        .join(F.broadcast(cen))
    )
    # Rank on the ROUNDED cosine with centroid_id tie-break: assignment at
    # near-equidistant boundaries stays deterministic and reproducible by
    # an independent engine computing the same rounded score.
    cos = F.round(
        F.try_divide(
            dot(F.col("_vec"), F.col("_cenvec")),
            F.col("_vnorm") * F.col("_cennorm"),
        ),
        6,
    )
    w = Window.partitionBy("_id").orderBy(cos.desc(), F.col("centroid_id"))
    cols = ["_id", "_vec", "centroid_id"] + (["_vnorm"] if keep_norm else [])
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(*cols)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    nprobe: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF search: assign corpus vectors to their single nearest centroid;
    a query probes its ``nprobe`` nearest centroids' posting lists and
    ranks only those candidates. Recall rises monotonically with nprobe
    (nprobe=K degenerates to exact brute force); cost is ~nprobe/K of the
    corpus per query. A corpus neighbor appears in exactly one posting
    list, so probing multiple lists never duplicates a candidate pair.

    |Q| CONTRACT (same as brute_force_topk): the query side is broadcast
    and must be fixed-size. For a corpus-proportional query side,
    pre-assign both sides with assign_to_centroids and shuffle-join on
    centroid_id instead — same plan shape minus the broadcast.

    ID-SPACE CONTRACT (round-14 review — same as brute_force_topk and
    sq8_topk): ``exclude_self=True`` (default) drops query_id ==
    neighbor_id pairs, correct when the queries ARE corpus rows. For an
    EXTERNAL query set whose ids could merely collide numerically with
    unrelated corpus ids, pass ``exclude_self=False`` or the collided
    corpus vector silently vanishes from the candidates."""
    assigned = assign_to_centroids(
        corpus, centroids, id_col, vec_col, keep_norm=True
    )
    q_assigned = assign_to_centroids(
        queries, centroids, id_col, vec_col, nprobe=nprobe, keep_norm=True
    )
    q = q_assigned.select(
        F.col("_id").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("centroid_id").alias("_qcen"),
        F.col("_vnorm").alias("_qnorm"),
    )
    join_cond = F.col("centroid_id") == F.col("_qcen")
    if exclude_self:
        join_cond = join_cond & (F.col("_id") != F.col("query_id"))
    scored = (
        # _vnorm was already evaluated inside assign_to_centroids —
        # reuse it instead of a second interpreted-HOF pass per row.
        assigned.withColumnRenamed("_vnorm", "_cnorm")
        .join(F.broadcast(q), join_cond)
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    dot(F.col("_qvec"), F.col("_vec")),
                    F.col("_qnorm") * F.col("_cnorm"),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def sq8_quantize(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    scale_stats: DataFrame | None = None,
) -> DataFrame:
    """Scalar (SQ8) quantization: per-tensor symmetric codebook — one
    scale s = max|x| over the whole corpus, each float mapped to
    ``floor(x/s * 127 + 0.5)`` in [-127, 127].

    This is the memory-bandwidth scale path for exhaustive scans: an
    int8 code is 4x smaller than float32, so at 100 TB of embeddings the
    quantized corpus streams through an approximate-scoring pass at 4x
    the effective scan rate (and fits 4x more of the corpus in cache),
    with exact rerank touching only the surviving top-k candidates.
    A SINGLE symmetric scale (the int8-GEMM / per-tensor-quantization
    recipe, not FAISS's per-dim min/max) is deliberate: with one scale,
    ``dot(codes) = dot(x)/s^2 + noise`` — the integer score is directly
    proportional to the true dot product. Per-dimension affine scales
    would make the code dot product a diagonally-distorted metric unless
    scoring dequantized (measured: recall@5 0.73 distorted vs 0.96
    per-tensor on the near-uniform fixture). The scale is one max-abs
    aggregate over the corpus; production would compute it on a sample —
    it only positions the grid.

    Determinism: ``floor(x/s*127 + 0.5)`` (round-half-toward-+inf) is
    evaluated in double; identical inputs give identical doubles on any
    IEEE engine, so codes — and therefore integer approximate scores —
    are bit-identical cross-engine with no rounding-mode dependence
    (engine ``round()`` half-tie conventions never enter). An all-zero
    corpus (s = 0) codes to 0.

    Plan shape: one explode + max-abs aggregate for the scale (a single
    scalar row), then a broadcast of that row into a map-only
    quantization projection — the corpus is scanned once and never
    shuffled.

    ``scale_stats`` (optional): a 1-row (_scale) DataFrame to quantize
    against an EXTERNAL codebook — how out-of-corpus query vectors get
    codes comparable to the corpus codes (sq8_topk passes the corpus
    scale when quantizing its queries side)."""
    stats = (
        scale_stats
        if scale_stats is not None
        else corpus.select(F.explode(vec_col).alias("x")).agg(
            F.max(F.abs(F.col("x").cast("double"))).alias("_scale")
        )
    )
    code = F.transform(
        F.col(vec_col),
        lambda x: F.when(F.col("_scale") == 0.0, F.lit(0)).otherwise(
            F.floor(
                x.cast("double") / F.col("_scale") * F.lit(127.0) + F.lit(0.5)
            ).cast("int")
        ),
    )
    return corpus.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), code.alias("q8")
    )


def dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int-code arrays (zip_with product
    + aggregate sum in BIGINT). Integer addition is associative, so the
    result is order-independent — rerankable and hashable cross-engine
    with no rounding policy at all (contrast functions.dedup.dot, whose
    double accumulation is order-sensitive)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Quantized-scan top-k: SQ8-quantize corpus and queries against the
    same codebook, rank candidates per query by the exact-integer
    approximate score, keep top-k, then exact-rerank ONLY those |Q|*k
    survivors against the original float vectors.

    |Q| CONTRACT (same as brute_force_topk): the query side is broadcast
    and must be fixed-size, but is otherwise an ARBITRARY (id, vec)
    relation — query vectors are quantized against the corpus codebook
    scale, so out-of-corpus queries get comparable codes (they need NOT
    be a subset of corpus rows by id). The approximate pass costs
    |Q|*|C| integer dot products over 4x-smaller rows; the exact pass is
    two broadcast id-joins touching |Q|*k float vectors — at scale the
    full-precision corpus is read only for the candidates, which is the
    point.

    ID-SPACE CONTRACT (round-3 advice): ``exclude_self=True`` (default)
    drops candidates with query_id == neighbor_id — correct ONLY when
    query ids refer to the same entities as corpus ids (queries are a
    corpus subset, the self-match is the trivial cosine=1 row). For an
    EXTERNAL query set whose ids merely collide numerically with
    unrelated corpus ids, pass ``exclude_self=False`` or the collided
    corpus vector is silently lost as a candidate."""
    # The codebook scale is ONE max-abs scalar over the corpus,
    # checkpointed so the corpus-quantize and query-quantize consumers
    # share it instead of re-aggregating.
    scale_stats = (
        corpus.select(F.explode(vec_col).alias("x"))
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("_scale"))
        .localCheckpoint(eager=True)
    )
    # Materialize the quantized corpus ONCE (same pattern as the
    # MinHash signature checkpoint in functions/dedup.py): column
    # pruning would otherwise re-execute the scan → stats → quantize
    # subtree per consumer. q8 is id + 64 small ints — a fraction of
    # the float corpus; at 100 TB this is the staged int8 index write.
    # The id-repartition happens BEFORE the quantize projection (r18:
    # it used to sit downstream of the checkpoint, costing a second
    # exchange per consumer run), so the checkpointed index is already
    # spread across cores for the |Q|·|C| scoring pass — exactly how
    # the staged index would be written pre-partitioned at scale.
    par = shuffle_width(corpus.sparkSession)
    q8 = sq8_quantize(
        corpus.select(F.col(id_col), F.col(vec_col)).repartition(
            par, F.col(id_col)
        ),
        id_col,
        vec_col,
        scale_stats,
    ).localCheckpoint(eager=True)
    c = q8.select(
        F.col(id_col).alias("neighbor_id"), F.col("q8").alias("_cq8")
    )
    q = F.broadcast(
        sq8_quantize(
            queries.select(F.col(id_col), F.col(vec_col)),
            id_col,
            vec_col,
            scale_stats,
        ).select(F.col(id_col).alias("query_id"), F.col("q8").alias("_qq8"))
    )
    join_cond = (
        F.col("query_id") != F.col("neighbor_id")
        if exclude_self
        else F.lit(True)
    )
    scored = c.join(q, join_cond).withColumn(
        "score_q8", dot_int(F.col("_qq8"), F.col("_cq8"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q8").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_q8", "rank")
        # |Q|·k rows, consumed twice below (candidate list + semi-join
        # pruner) — checkpoint so the |Q|×|C| scored window is not
        # re-executed per consumer.
        .localCheckpoint(eager=True)
    )
    # Exact rerank of the survivors: |Q|*k rows — broadcast the candidate
    # list into two id-joins: query vectors from the QUERIES relation
    # (arbitrary, not assumed present in the corpus), neighbor vectors
    # from the float corpus.
    qe = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        vec_norm(F.col(vec_col)).alias("_qnorm"),
    )
    # Semi-join the corpus down to the |Q|·k survivors BEFORE evaluating
    # the exact norm: a Project below the join would run the interpreted
    # HOF norm for EVERY corpus row (round-14 review), silently turning
    # the promised O(|Q|·k·d) rerank into an O(|C|·d) pass.
    ne = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_nvec"),
        )
        .join(
            F.broadcast(topk.select("neighbor_id").distinct()),
            "neighbor_id",
            "semi",
        )
        .withColumn("_nnorm", vec_norm(F.col("_nvec")))
    )
    return (
        qe.join(F.broadcast(topk), "query_id")
        .join(ne, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    dot(F.col("_qvec"), F.col("_nvec")),
                    F.col("_qnorm") * F.col("_nnorm"),
                ),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "score_q8", "rank", "cosine")
    )


def l2_normalize_pandas_udf():
    """Arrow-batched scalar pandas UDF: L2-normalize an embedding column.

    The JVM-side expression path (F.transform / F.aggregate, see
    dedup.cosine) is preferred for anything expressible there; this is the
    documented escape hatch (SURVEY §2.7 "UDF surface") for numeric kernels
    that need numpy — batched over Arrow, ~10-100x faster than row-at-a-time
    Python UDFs, and embarrassingly parallel (no shuffle, scales with
    partition count).
    """
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<double>")
    def _normalize(vecs: pd.Series) -> pd.Series:
        def norm(v):
            if v is None:
                return None
            a = np.asarray(v, dtype=np.float64)
            n = np.sqrt(np.dot(a, a))
            if n == 0.0:
                return [0.0] * len(a)
            return (a / n).tolist()

        return vecs.map(norm)

    return _normalize


def mean_norm_grouped_udaf():
    """Arrow grouped-aggregate pandas UDF (the UDAF surface): mean L2 norm
    of a group's embedding vectors, computed with numpy over the whole
    Arrow batch. Partial-aggregation does NOT apply to grouped-agg pandas
    UDFs (each group's rows all reach one task) — acceptable for
    bounded-cardinality groups; for unbounded keys, use the expression
    path (sim_vector_norms) which partial-aggregates."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _mean_norm(vecs: pd.Series) -> float:
        norms = [
            float(np.sqrt(np.dot(a, a)))
            for a in (np.asarray(v, dtype=np.float64) for v in vecs if v is not None)
        ]
        return float(np.mean(norms)) if norms else float("nan")

    return _mean_norm


def kmeans_refine(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 3,
) -> DataFrame:
    """Lloyd iterations refining IVF centroids: assign every vector to its
    nearest current centroid (cosine, via assign_to_centroids), then the
    new centroid is the element-wise mean of its members. Returns the
    final (centroid_id, centroid) table.

    Scale shape: per round, one broadcast-join assignment over the corpus
    + one (centroid_id, pos) hash aggregate over exploded elements — both
    fully distributed; the only driver-side state is the k-row centroid
    table itself (localCheckpoint per round cuts the lineage so round r+1
    does not replay rounds 1..r). Initialization is deterministic (lowest
    k ids), so runs are reproducible."""
    init = (
        corpus.orderBy(F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    )
    centroids = init.localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = assign_to_centroids(
            corpus,
            centroids.select(
                F.col("centroid_id").alias(id_col), F.col("cvec").alias(vec_col)
            ),
            id_col,
            vec_col,
        )
        elems = assigned.select(
            "centroid_id", F.posexplode("_vec").alias("pos", "v")
        )
        means = (
            elems.groupBy("centroid_id", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cvec")
            )
        )
        # A cluster that captured ZERO vectors this round has no mean
        # row — without this join the centroid table silently shrinks
        # to k-1 and every later round (and any IVF index built on the
        # result) runs with fewer clusters than asked for (round-14
        # review). Standard Lloyd practice: an empty cluster keeps its
        # previous centroid. The join is k×k — spine-sized.
        centroids = (
            centroids.select("centroid_id", F.col("cvec").alias("_prev"))
            .join(means, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("cvec", "_prev").alias("cvec")
            )
            .localCheckpoint(eager=True)
        )
    return centroids
