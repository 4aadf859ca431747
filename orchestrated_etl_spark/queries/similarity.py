"""Similarity search over ``embeddings``: brute-force cosine top-k, the
IVF and SQ8 scale paths, random-hyperplane LSH, centroid matrices and
vector-norm profiling. Cosines are computed in double on both engines
(Spark: cast-before-multiply aggregate; DuckDB: DOUBLE[]
list_dot_product) and ranked on the rounded score with id tie-breaks, so
rankings are engine-independent.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import shuffle_width
from orchestrated_etl_spark.functions import similarity as SIM
from orchestrated_etl_spark.functions.dedup import cosine
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------

# FIXED-SIZE query set: 20 vectors (vec_id ∈ {0,25,…,475}) at EVERY scale
# factor. The query predicate is bounded (vec_id < 500) so |Q| does not
# grow with the corpus — the broadcast contract brute_force_topk/ivf_topk
# document. (The previous every-100th-vector fixture made |Q| corpus-
# proportional, quietly violating that contract at scale.)
def _query_pred():
    # lazily built: a module-level Column would need an active
    # SparkContext at import time, which tooling (QUERIES.md generation)
    # doesn't have.
    return (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 500)


def _bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(_query_pred())
    return SIM.brute_force_topk(queries, emb, "vec_id", "embedding", 5)


register(
    "sim_bruteforce_topk",
    _bruteforce,
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({SIM.COS_SQL.format(a='q.embedding', b='c.embedding')}, 6) AS cosine
        FROM embeddings q
        JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 25 = 0 AND q.vec_id < 500
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)

# ---------------------------------------------------------------------------
# IVF top-k (centroids: vec_id < 8, nprobe = 1)
# ---------------------------------------------------------------------------


def _ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter(_query_pred())
    return SIM.ivf_topk(queries, emb, centroids, "vec_id", "embedding", 3)


register(
    "sim_ivf_topk",
    _ivf,
    f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({SIM.COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) DESC,
                                c.centroid_id) AS rn
            FROM embeddings e, centroids c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
               round({SIM.COS_SQL.format(a='q.embedding', b='a.embedding')}, 6) AS cosine
        FROM assigned q
        JOIN assigned a ON q.centroid_id = a.centroid_id AND a.vec_id != q.vec_id
        WHERE q.vec_id % 25 = 0 AND q.vec_id < 500
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)

# ---------------------------------------------------------------------------
# IVF top-k, nprobe=2 — the recall knob made executable: each query probes
# its TWO nearest centroids' posting lists (cost ~2/K of the corpus per
# query instead of 1/K; recall strictly ≥ the nprobe=1 variant —
# tests/test_llm_functions.py asserts recall-vs-bruteforce for both).
# ---------------------------------------------------------------------------


def _ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter(_query_pred())
    return SIM.ivf_topk(
        queries, emb, centroids, "vec_id", "embedding", 3, nprobe=2
    )


register(
    "sim_ivf_topk_nprobe2",
    _ivf_nprobe2,
    f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id < 8
    ),
    ranked_assign AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({SIM.COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) DESC,
                            c.centroid_id) AS rn
        FROM embeddings e, centroids c
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM ranked_assign WHERE rn = 1
    ),
    q_assigned AS (
        SELECT vec_id, embedding, centroid_id FROM ranked_assign
        WHERE rn <= 2 AND vec_id % 25 = 0 AND vec_id < 500
    ),
    scored AS (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
               round({SIM.COS_SQL.format(a='q.embedding', b='a.embedding')}, 6) AS cosine
        FROM q_assigned q
        JOIN assigned a ON q.centroid_id = a.centroid_id AND a.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)

# ---------------------------------------------------------------------------
# vector norm profile per label (array-function coverage + sanity stats)
# ---------------------------------------------------------------------------


def _norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.transform(
            "embedding", lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select(
            "label",
            F.size("embedding").alias("dim"),
            F.sqrt(norm2).alias("l2"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("l2"), 6).alias("avg_l2"),
            F.round(F.min("l2"), 6).alias("min_l2"),
            F.round(F.max("l2"), 6).alias("max_l2"),
        )
    )


register(
    "sim_vector_norms",
    _norms,
    """
    WITH n AS (
        SELECT label,
               CAST(len(embedding) AS INTEGER) AS dim,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS l2
        FROM embeddings
    )
    SELECT label, dim, count(*) AS n_vecs,
           round(avg(l2), 6) AS avg_l2,
           round(min(l2), 6) AS min_l2,
           round(max(l2), 6) AS max_l2
    FROM n GROUP BY 1, 2
    """,
)


def _normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow pandas-UDF L2 normalization (the documented numpy escape
    hatch) with a profile aggregate over the unit vectors. Rounded to 4
    on both sides so numpy's pairwise summation vs the oracle's
    sequential list_sum cannot flip a digit."""
    from orchestrated_etl_spark.functions.similarity import l2_normalize_pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    unit = emb.select(
        "vec_id",
        l2_normalize_pandas_udf()(F.col("embedding")).alias("u"),
    )
    return unit.select(
        "vec_id",
        F.round(
            F.aggregate("u", F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("unit_norm2"),
        F.round(F.element_at("u", 1), 4).alias("u1"),
        F.size("u").alias("dim"),
    )


register(
    "sim_normalize_embeddings",
    _normalize,
    """
    WITH u AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[])))) AS u
        FROM embeddings
    )
    SELECT vec_id,
           round(list_dot_product(u, u), 4) AS unit_norm2,
           round(u[1], 4) AS u1,
           CAST(len(u) AS INTEGER) AS dim
    FROM u
    """,
)


def _udaf_mean_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (UDAF) per label, next to the pure-JVM
    count — rounded to 4 on both sides (numpy pairwise vs sequential
    summation)."""
    from orchestrated_etl_spark.functions.similarity import mean_norm_grouped_udaf

    emb = load_table(spark, sf_dir, "embeddings")
    udaf = mean_norm_grouped_udaf()
    # Grouped-agg pandas UDFs cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — compute separately, join on the key.
    norms = emb.groupBy("label").agg(
        F.round(udaf(F.col("embedding")), 4).alias("mean_l2")
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return counts.join(norms, "label").select("label", "n_vecs", "mean_l2")


register(
    "sim_udaf_mean_norm",
    _udaf_mean_norm,
    """
    SELECT label, count(*) AS n_vecs,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4)
               AS mean_l2
    FROM embeddings GROUP BY label
    """,
)


def _groupmap_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score each vector's L2 norm within its
    label group (whole group as one pandas frame in, frame out — the
    grouped-map UDF shape). Oracle: the same standardization via window
    mean/stddev_samp. Norm computed JVM-side; only the per-group
    standardization crosses into pandas."""
    import pandas as pd

    from orchestrated_etl_spark.functions.dedup import vec_norm

    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "label", F.round(vec_norm(F.col("embedding")), 9).alias("l2")
    )

    def standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["l2"].mean()
        sd = pdf["l2"].std(ddof=1)
        z = (pdf["l2"] - mu) / sd if sd and sd > 0 else pdf["l2"] * 0.0
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "label": pdf["label"], "znorm": z.round(4)}
        )

    return norms.groupBy("label").applyInPandas(
        standardize, schema="vec_id long, label int, znorm double"
    )


register(
    "sim_groupmap_zscore",
    _groupmap_zscore,
    """
    WITH n AS (
        SELECT vec_id, label,
               round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 9) AS l2
        FROM embeddings
    )
    SELECT vec_id, label,
           round((l2 - avg(l2) OVER (PARTITION BY label))
                 / stddev_samp(l2) OVER (PARTITION BY label), 4) AS znorm
    FROM n
    """,
)


def _kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid training: 3 Lloyd iterations over the embedding
    corpus (deterministic lowest-k init), returning a per-centroid
    profile. Rows-only: the per-element means depend on float summation
    order, so no cross-engine value oracle — tests/test_llm_functions.py
    pins the algorithm against a numpy reimplementation on a small frame
    instead."""
    from orchestrated_etl_spark.functions.similarity import kmeans_refine

    emb = load_table(spark, sf_dir, "embeddings")
    cen = kmeans_refine(emb, "vec_id", "embedding", k=8, iters=3)
    return cen.select(
        "centroid_id",
        F.size("cvec").alias("dim"),
        F.round(
            F.sqrt(F.aggregate("cvec", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2"),
    )


register("sim_kmeans_refine", _kmeans)  # rows-only: iterative, fp-order-dependent


def _sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantized-scan top-k with exact rerank: the memory-bandwidth
    ANN path (int8 codes are 4x smaller than float32, and the
    approximate scores are exact integers — no float tolerance anywhere
    in the ranking). Same fixed-size 20-query set as the other sim_*
    queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(_query_pred())
    return SIM.sq8_topk(queries, emb, "vec_id", "embedding", 5)


register(
    "sim_sq8_topk",
    _sq8,
    f"""
    WITH stats AS (
        SELECT max(abs(CAST(u.x AS DOUBLE))) AS s
        FROM (SELECT unnest(embedding) AS x FROM embeddings) u
    ),
    q8 AS (
        SELECT e.vec_id,
               list_transform(e.embedding, x ->
                   CASE WHEN st.s = 0.0 THEN 0
                        ELSE CAST(floor(CAST(x AS DOUBLE) / st.s * 127.0 + 0.5)
                                  AS BIGINT)
                   END) AS q8
        FROM embeddings e, stats st
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_dot_product(CAST(q.q8 AS DOUBLE[]),
                                     CAST(c.q8 AS DOUBLE[])) AS BIGINT) AS score_q8
        FROM q8 q JOIN q8 c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 25 = 0 AND q.vec_id < 500
    ),
    topk AS (
        SELECT query_id, neighbor_id, score_q8, rank FROM (
            SELECT query_id, neighbor_id, score_q8,
                   CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY score_q8 DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 5
    )
    SELECT t.query_id, t.neighbor_id, t.score_q8, t.rank,
           round({SIM.COS_SQL.format(a='qe.embedding', b='ne.embedding')}, 6) AS cosine
    FROM topk t
    JOIN embeddings qe ON qe.vec_id = t.query_id
    JOIN embeddings ne ON ne.vec_id = t.neighbor_id
    """,
)


def _mapinarrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow API surface: per-batch L2 norms computed directly on
    pyarrow RecordBatches (no pandas materialization — the lowest-
    overhead Python boundary Spark offers; right for kernels that consume
    Arrow buffers natively, e.g. tokenizers or FAISS). The numpy
    reduction is pairwise-summed, so norms are rounded to 6dp where the
    sequential-sum engines agree. Repartitions like the other sim_*
    queries so the Python workers parallelize from a one-file scan."""
    import pyarrow as pa

    def batch_norms(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column("vec_id")
            mat = np.stack(batch.column("embedding").to_numpy(zero_copy_only=False))
            l2 = np.sqrt((mat.astype("float64") ** 2).sum(axis=1))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(np.round(l2, 6), type=pa.float64())],
                names=["vec_id", "l2"],
            )

    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.repartition(
        shuffle_width(spark), F.col("vec_id")
    )
    return emb.select("vec_id", "embedding").mapInArrow(
        batch_norms, "vec_id long, l2 double"
    )


register(
    "sim_mapinarrow_norms",
    _mapinarrow_norms,
    """
    SELECT vec_id,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2
    FROM embeddings
    """,
)


# ---------------------------------------------------------------------------
# Matryoshka (prefix-truncated) staged retrieval
# ---------------------------------------------------------------------------


def _mrl_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka staged retrieval: stage 1 scores every candidate on
    only the FIRST 16 of 64 dimensions (MRL-style truncation — 4x less
    compute and bandwidth, same layout: a prefix slice needs no second
    index), keeps the top-20 per query, and stage 2 exact-reranks those
    survivors on the full vector for the final top-5. Complements SQ8
    (which shrinks bytes per dimension) — prefix truncation shrinks the
    DIMENSION COUNT; production systems stack both.

    Both stages rank on round(cosine, 6) with id tie-breaks, so the
    candidate cut and the final order are engine-independent. Cost
    shape: stage 1 is the brute-force scan at 1/4 width; stage 2
    touches |Q| x 20 full vectors via broadcast id-join."""
    from orchestrated_etl_spark.functions.dedup import dot, vec_norm

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(_query_pred())
    prefix = F.slice("embedding", 1, 16)
    c = emb.repartition(
        shuffle_width(spark), F.col("vec_id")
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        prefix.alias("_cpre"),
        vec_norm(prefix).alias("_cprenorm"),
    )
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            prefix.alias("_qpre"),
            vec_norm(prefix).alias("_qprenorm"),
        )
    )
    stage1 = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pre_cosine",
            F.round(
                F.try_divide(
                    dot(F.col("_qpre"), F.col("_cpre")),
                    F.col("_qprenorm") * F.col("_cprenorm"),
                ),
                6,
            ),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("pre_cosine").desc(), F.col("neighbor_id")
    )
    cands = (
        stage1.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= 20)
        .select("query_id", "neighbor_id", "pre_cosine")
    )
    qe = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        vec_norm(F.col("embedding")).alias("_qnorm"),
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_nvec"),
        vec_norm(F.col("embedding")).alias("_nnorm"),
    )
    full = (
        qe.join(F.broadcast(cands), "query_id")
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
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        full.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "pre_cosine", "cosine", "rank")
    )


_PRE_COS_SQL = (
    "list_dot_product(CAST({a}[1:16] AS DOUBLE[]), CAST({b}[1:16] AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a}[1:16] AS DOUBLE[]),"
    "                          CAST({a}[1:16] AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b}[1:16] AS DOUBLE[]),"
    "                         CAST({b}[1:16] AS DOUBLE[]))))"
)

register(
    "sim_mrl_prefix_topk",
    _mrl_prefix,
    f"""
    WITH stage1 AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_PRE_COS_SQL.format(a='q.embedding', b='c.embedding')}, 6)
                   AS pre_cosine
        FROM embeddings q
        JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 25 = 0 AND q.vec_id < 500
    ),
    cands AS (
        SELECT query_id, neighbor_id, pre_cosine FROM (
            SELECT query_id, neighbor_id, pre_cosine,
                   row_number() OVER (PARTITION BY query_id
                         ORDER BY pre_cosine DESC, neighbor_id) AS rn
            FROM stage1
        ) WHERE rn <= 20
    )
    SELECT t.query_id, t.neighbor_id, t.pre_cosine,
           round({SIM.COS_SQL.format(a='qe.embedding', b='ne.embedding')}, 6)
               AS cosine,
           CAST(row_number() OVER (PARTITION BY t.query_id ORDER BY
                round({SIM.COS_SQL.format(a='qe.embedding', b='ne.embedding')}, 6)
                    DESC, t.neighbor_id) AS INTEGER) AS rank
    FROM cands t
    JOIN embeddings qe ON qe.vec_id = t.query_id
    JOIN embeddings ne ON ne.vec_id = t.neighbor_id
    QUALIFY rank <= 5
    """,
)


# ---------------------------------------------------------------------------
# two-level centroid-tree assignment (the N·K -> N·(√K + fanout) reduction)
# ---------------------------------------------------------------------------


def _tree_assign_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level centroid-tree assignment — the executable form of the
    assignment-cost fix SCALING.md's SemDedup analysis names: instead of
    scoring every vector against all K fine centroids (N·K — the term
    that turns quadratic when K grows with the corpus), route each
    vector to its nearest COARSE pivot first (√K-ish candidates), then
    argmax only among that group's fine centroids — N·(coarse + fanout)
    scored pairs. Pivots are the min-id member of each group (no float
    averaging: pivot vectors are actual data vectors, so every cosine is
    exactly reproducible cross-engine; mean-centroids would inherit
    summation-order ulp).

    Tree routing is approximate (a vector near a group boundary can be
    routed away from its true nearest centroid), so the query emits the
    per-fine-centroid agreement audit against flat assignment — the
    recall-style metric a production run tracks when tuning fanout.
    Both assignments rank on ROUNDED cosine with id tie-breaks; all
    joins are broadcast map passes; one final 8-row aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    flat = SIM.assign_to_centroids(
        emb, centroids, "vec_id", "embedding"
    ).select(F.col("_id").alias("vec_id"), F.col("centroid_id").alias("flat_cid"))

    # coarse pivots: min-id member of each group (group = centroid_id DIV 4)
    pivots = centroids.where(F.col("vec_id").isin(0, 4)).select(
        (F.col("vec_id") / 4).cast("int").alias("grp"),
        F.col("embedding").alias("_pvec"),
        SIM.vec_norm(F.col("embedding")).alias("_pnorm"),
    )
    scored_p = (
        emb.select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").alias("_vec"),
            SIM.vec_norm(F.col("embedding")).alias("_vnorm"),
        )
        .join(F.broadcast(pivots))
    )
    pcos = F.round(
        F.try_divide(
            SIM.dot(F.col("_vec"), F.col("_pvec")),
            F.col("_vnorm") * F.col("_pnorm"),
        ),
        6,
    )
    routed = scored_p.groupBy("_id").agg(
        F.first("_vec").alias("_vec"),
        F.first("_vnorm").alias("_vnorm"),
        F.max_by(
            F.col("grp"), F.struct(pcos.alias("c"), (-F.col("grp")).alias("t"))
        ).alias("grp"),
    )
    fine = centroids.select(
        (F.col("vec_id") / 4).cast("int").alias("grp"),
        F.col("vec_id").alias("fine_cid"),
        F.col("embedding").alias("_cvec"),
        SIM.vec_norm(F.col("embedding")).alias("_cnorm"),
    )
    scored_f = routed.join(F.broadcast(fine), "grp")
    fcos = F.round(
        F.try_divide(
            SIM.dot(F.col("_vec"), F.col("_cvec")),
            F.col("_vnorm") * F.col("_cnorm"),
        ),
        6,
    )
    tree = scored_f.groupBy("_id").agg(
        F.max_by(
            F.col("fine_cid"),
            F.struct(fcos.alias("c"), (-F.col("fine_cid")).alias("t")),
        ).alias("tree_cid")
    ).select(F.col("_id").alias("vec_id"), "tree_cid")

    joined = flat.join(tree, "vec_id")
    return joined.groupBy(F.col("flat_cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_flat"),
        F.sum(
            (F.col("tree_cid") == F.col("flat_cid")).cast("long")
        ).alias("n_agree"),
    )


register(
    "sim_tree_assign_agreement",
    _tree_assign_agreement,
    f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cvec,
               CAST(vec_id // 4 AS INTEGER) AS grp
        FROM embeddings WHERE vec_id < 8
    ),
    flat AS (
        SELECT vec_id, centroid_id AS flat_cid FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({SIM.COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) DESC,
                                c.centroid_id) AS rn
            FROM embeddings e, centroids c
        ) WHERE rn = 1
    ),
    pivots AS (
        SELECT grp, cvec AS pvec FROM centroids WHERE centroid_id IN (0, 4)
    ),
    routed AS (
        SELECT vec_id, grp FROM (
            SELECT e.vec_id, p.grp,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({SIM.COS_SQL.format(a='e.embedding', b='p.pvec')}, 6) DESC,
                                p.grp) AS rn
            FROM embeddings e, pivots p
        ) WHERE rn = 1
    ),
    tree AS (
        SELECT vec_id, fine_cid AS tree_cid FROM (
            SELECT e.vec_id, c.centroid_id AS fine_cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({SIM.COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) DESC,
                                c.centroid_id) AS rn
            FROM embeddings e
            JOIN routed r ON r.vec_id = e.vec_id
            JOIN centroids c ON c.grp = r.grp
        ) WHERE rn = 1
    )
    SELECT f.flat_cid AS centroid_id,
           count(*) AS n_flat,
           CAST(sum(CASE WHEN t.tree_cid = f.flat_cid THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree
    FROM flat f JOIN tree t ON f.vec_id = t.vec_id
    GROUP BY f.flat_cid
    """,
)


# ---------------------------------------------------------------------------
# MLlib BucketedRandomProjectionLSH (Euclidean) — the library scale path
# ---------------------------------------------------------------------------

_BRP_THRESHOLD = 1.10
_BRP_BUCKET_LEN = 4.4  # 4x threshold: per-table collision >= 0.75 at theta
_BRP_TABLES = 10  # miss probability per qualifying pair <= 0.25^10 ~ 1e-6


def _brp_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean near-neighbor pairs through MLlib's
    BucketedRandomProjectionLSH — the library scale path SURVEY §4.2
    names next to MinHashLSH (dedup_minhash_mllib is the Jaccard twin).
    Seeded approxSimilarityJoin generates candidates; every emitted pair
    is then re-scored with the EXACT L2 distance expression, so bucket
    geometry can only affect recall, never values. With bucketLength =
    4·θ the per-table collision probability at distance θ is ≥ 0.75, so
    a qualifying pair escapes all 10 OR'd tables with probability
    ≤ 0.25¹⁰ ≈ 1e-6 — on this fixture the output equals the brute-force
    distance-threshold pair set the oracle computes. At 100 TB the
    bucket self-join replaces the quadratic all-pairs scan; θ and
    bucketLength trade recall against bucket sizes."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        F.col("embedding").alias("_arr"),
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=_BRP_BUCKET_LEN,
        numHashTables=_BRP_TABLES,
        seed=42,
    )
    model = lsh.fit(feats)
    # Candidate threshold carries slack beyond the final cut: the inner
    # unrounded distance must never prefilter a pair whose ROUNDED exact
    # re-score lands at <= theta (a true distance in (theta, theta+5e-7]
    # rounds down into the oracle's set). Only the exact rounded filter
    # below decides membership; the LSH join is recall-only.
    cand = model.approxSimilarityJoin(
        feats, feats, _BRP_THRESHOLD + 1e-3, distCol="_d"
    )
    # exact re-score: sum of squared component deltas in double
    d2 = F.aggregate(
        F.zip_with(
            F.col("_aa"),
            F.col("_ab"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            F.col("datasetA._arr").alias("_aa"),
            F.col("datasetB._arr").alias("_ab"),
        )
        .withColumn("dist", F.round(F.sqrt(d2), 6))
        .where(F.col("dist") <= _BRP_THRESHOLD)
        .select("id_a", "id_b", "dist")
    )


register(
    "sim_brp_lsh_mllib",
    _brp_lsh_mllib,
    f"""
    WITH d AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(sqrt(list_sum(list_transform(
                   list_zip(CAST(a.embedding AS DOUBLE[]),
                            CAST(b.embedding AS DOUBLE[])),
                   x -> (x[1] - x[2]) * (x[1] - x[2])))), 6) AS dist
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, dist FROM d WHERE dist <= {_BRP_THRESHOLD}
    """,
)


# ---------------------------------------------------------------------------
# ONE deterministic Lloyd step, fully oracle-checked
# ---------------------------------------------------------------------------


def _kmeans_step_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A single Lloyd iteration with BIT-REPRODUCIBLE centroid updates —
    the oracle-bearing companion to the rows-only sim_kmeans_refine
    (whose per-element means depend on float summation order). Here the
    update is an ORDERED FOLD: members of each cluster are collected
    sorted by id and their vectors summed left-to-right (identical IEEE
    sequence on both engines, the events_ewma_fold trick applied to
    vectors), then divided by the member count. Assignment uses the
    standard rounded-cosine argmax. Output: per centroid, member count
    and the rounded updated-centroid L2 norm + first component.

    Scale note: the ordered fold holds one CLUSTER's vectors in a task —
    fine at IVF centroid-training scale (clusters are corpus/K); the
    production unordered tree-reduce trades bit-reproducibility for
    unbounded clusters, which is exactly why that variant is rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    assigned = SIM.assign_to_centroids(emb, centroids, "vec_id", "embedding")
    members = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_id").alias("i"), F.col("_vec").alias("v")))
        ).alias("ms"),
    )
    # ordered vector-sum fold, then element-wise divide by n
    vsum = F.aggregate(
        F.slice(F.col("ms"), 2, F.size("ms")),
        F.transform(F.element_at(F.col("ms"), 1)["v"], lambda x: x.cast("double")),
        lambda acc, m: F.zip_with(
            acc, m["v"], lambda a, x: a + x.cast("double")
        ),
    )
    new_c = F.transform(vsum, lambda s: s / F.col("n_members"))
    return members.select(
        "centroid_id",
        "n_members",
        F.round(
            F.sqrt(
                F.aggregate(new_c, F.lit(0.0), lambda a, x: a + x * x)
            ),
            6,
        ).alias("new_l2"),
        F.round(F.element_at(new_c, 1), 6).alias("new_c0"),
    )


register(
    "sim_kmeans_step_exact",
    _kmeans_step_exact,
    f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({SIM.COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) DESC,
                                c.centroid_id) AS rn
            FROM embeddings e, centroids c
        ) WHERE rn = 1
    ),
    folded AS (
        SELECT centroid_id,
               count(*) AS n_members,
               list_reduce(
                   list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id),
                   (a, b) -> list_transform(list_zip(a, b),
                                            x -> x[1] + x[2])) AS vsum
        FROM assigned
        GROUP BY centroid_id
    )
    SELECT centroid_id, n_members,
           round(sqrt(list_sum(list_transform(vsum,
                 s -> (s / n_members) * (s / n_members)))), 6) AS new_l2,
           round(vsum[1] / n_members, 6) AS new_c0
    FROM folded
    """,
)


# ---------------------------------------------------------------------------
# random-hyperplane LSH (cosine space)
# ---------------------------------------------------------------------------

_N_PLANES = 6
_DIM = 64
_COSINE_THRESHOLD = 0.4  # same bar as dedup_embedding_cosine


def _plane_signs() -> list[list[int]]:
    """±1 hyperplane components derived from md5 — deterministic without
    any RNG, so the Spark query and the SQL oracle inline the SAME planes
    (and a rerun on another cluster buckets identically)."""
    return [
        [
            1 if int(hashlib.md5(f"plane{p}:dim{d}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            for d in range(_DIM)
        ]
        for p in range(_N_PLANES)
    ]


def _hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH over the embedding corpus: each vector's
    signature is the sign pattern of its dot products with fixed ±1
    hyperplanes (a map-only JVM expression — SimHash for real-valued
    vectors), vectors sharing a signature become candidate pairs, and
    candidates are verified with the exact cosine. Per-bucket stats:
    candidate count vs verified count = the precision the banding bought.
    The all-pairs comparison this replaces is |C|²; here the self-join is
    per-bucket (E[size] = |C| / 2^n_planes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _plane_signs()
    sig = None
    for p, signs in enumerate(planes):
        plane_col = F.array(*[F.lit(float(s)) for s in signs])
        d = F.aggregate(
            F.zip_with(
                "embedding", plane_col, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    tagged = emb.select("vec_id", "embedding", sig.alias("signature"))
    buckets = tagged.groupBy("signature").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("long")
        .alias("n_candidate_pairs"),
    )
    a = tagged.alias("a")
    b = tagged.alias("b")
    verified = (
        a.join(
            b,
            (F.col("a.signature") == F.col("b.signature"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
            >= _COSINE_THRESHOLD
        )
        .groupBy(F.col("a.signature").alias("signature"))
        .agg(F.count(F.lit(1)).alias("n_verified_pairs"))
    )
    return (
        buckets.join(verified, "signature", "left")
        .select(
            "signature",
            "n_vectors",
            "n_candidate_pairs",
            F.coalesce("n_verified_pairs", F.lit(0)).alias("n_verified_pairs"),
        )
    )


def _lsh_oracle() -> str:
    planes = _plane_signs()
    bit_terms = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(f'{s}.0' for s in signs)}]) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, signs in enumerate(planes)
    )
    return f"""
    WITH tagged AS (
        SELECT vec_id, embedding, {bit_terms} AS signature FROM embeddings
    ),
    buckets AS (
        SELECT signature, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(count(*) * (count(*) - 1) / 2 AS BIGINT)
                   AS n_candidate_pairs
        FROM tagged GROUP BY signature
    ),
    verified AS (
        SELECT a.signature, CAST(count(*) AS BIGINT) AS n_verified_pairs
        FROM tagged a JOIN tagged b
          ON a.signature = b.signature AND a.vec_id < b.vec_id
        WHERE round(
                list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(a.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])))),
                6) >= {_COSINE_THRESHOLD}
        GROUP BY a.signature
    )
    SELECT b.signature, b.n_vectors, b.n_candidate_pairs,
           coalesce(v.n_verified_pairs, 0) AS n_verified_pairs
    FROM buckets b LEFT JOIN verified v ON b.signature = v.signature
    """


register("sim_hyperplane_lsh", _hyperplane_lsh, _lsh_oracle())


# ---------------------------------------------------------------------------
# label-centroid cosine similarity matrix
# ---------------------------------------------------------------------------


def _label_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-confusability / cluster-quality readout
    (labels whose centroids nearly coincide are candidates for
    merging; for corpora, sources whose centroid similarity is high
    carry redundant content). Centroids are per-(label, dim) means
    from ONE posexplode pass; the pair join is dim-keyed over the
    K·d-sized centroid relation, never the corpus. Mean/dot/norm
    summation order differs between engines, and cosines are
    genuinely irrational → round(,6) tolerance (float-policy
    exception c).

    Scale: corpus-sized work is the single explode+aggregate; the
    K²·d pair stage is centroid-sized (K labels, d dims). The exact
    same shape serves source-vs-source redundancy at any corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
        .localCheckpoint(eager=True)  # feeds norms AND the pair join
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
    )


register(
    "sim_label_centroid_matrix",
    _label_centroid_matrix,
    """
    WITH cent AS (
        SELECT label, CAST(t.i - 1 AS INTEGER) AS dim,
               avg(embedding[CAST(t.i AS INTEGER)]) AS c
        FROM embeddings, range(1, 4097) AS t(i)
        WHERE t.i <= len(embedding)
        GROUP BY 1, 2
    ),
    norms AS (
        SELECT label, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.c * b.c) AS dot
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN norms na ON d.label_a = na.label
    JOIN norms nb ON d.label_b = nb.label
    """,
)
