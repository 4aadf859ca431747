"""Dedup and entity-resolution queries over ``documents`` / ``embeddings``
/ dimension tables: exact hash dedup, MinHash+LSH, n-gram Jaccard,
SimHash, embedding-cosine near-dup, content-defined chunking, cluster
components and blocked entity resolution. Every signature is md5-derived
so the DuckDB oracle reproduces it bit-for-bit (see functions/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.functions import dedup as D
from orchestrated_etl_spark.functions import similarity as SIM
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy) — corpus unioned with a shifted copy of
# itself, so every text has exactly one duplicate to collapse
# ---------------------------------------------------------------------------


def _exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    doubled = docs.union(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    return D.exact_dedup(doubled, "text", "doc_id").select(
        "doc_id", "dup_count"
    )


register(
    "dedup_exact",
    _exact,
    """
    WITH doubled AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
    )
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM doubled GROUP BY text
    """,
)

# ---------------------------------------------------------------------------
# MinHash + LSH near-dup over trigram-shingle sets (k=8, b=4, r=2, j ≥ 0.9)
#
# Shingles, not unigram tokens: the distinct-unigram sets of same-domain
# documents converge on the shared vocabulary (at sf0.1 virtually every
# doc pair had unigram-Jaccard ≥ 0.9 → ~10^6 output pairs, quadratic in
# cluster size — the classic LSH degeneracy). Word 3-gram sets are
# discriminative, so buckets stay small and the pair set stays linear in
# the number of true near-dups; this is the standard pretraining-dedup
# formulation (MinHash over shingles).
# ---------------------------------------------------------------------------


def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs,
        "doc_id",
        text_col="text",
        shingle_n=3,
        k=D.MINHASH_K,
        bands=D.MINHASH_BANDS,
        rows_per_band=D.MINHASH_ROWS,
        threshold=D.MINHASH_THRESHOLD,
    )


_MINHASH_PAIR_SELECT = f"""
    SELECT id_a, id_b,
           round(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
    FROM shared
    WHERE round(shared * 1.0 / (n_a + n_b - shared), 6) >= {D.MINHASH_THRESHOLD}
    """


def _minhash_oracle() -> str:
    return f"WITH {D.minhash_oracle_ctes()} {_MINHASH_PAIR_SELECT}"


register("dedup_minhash_lsh", _minhash, _minhash_oracle())


# ---------------------------------------------------------------------------
# n-gram (trigram-shingle) exact Jaccard via inverted-index self-join
# ---------------------------------------------------------------------------

_NGRAM_THRESHOLD = 0.02  # synthetic token-soup shingles barely overlap


def _ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(
        docs, "doc_id", D.shingles("text", 3), _NGRAM_THRESHOLD
    )


register(
    "dedup_ngram_jaccard",
    _ngram,
    f"""
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS s,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
               count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
    FROM pairs
    WHERE round(shared * 1.0 / (n_a + n_b - shared), 6) >= {_NGRAM_THRESHOLD}
    """,
)

# ---------------------------------------------------------------------------
# Asymmetric containment (doc-subsumption detection)
# ---------------------------------------------------------------------------

_CONTAINMENT_THRESHOLD = 0.10


def _containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment |A∩B|/|A| ≥ 0.10 on the same 3-gram
    shingles as `dedup_ngram_jaccard` — the subsumption detector:
    symmetric Jaccard scores a short doc quoted inside a long one near
    zero (union-dominated), containment scores it 1.0 from the short
    side. The fixture corpus contains true containments (max = 1.0),
    so the threshold filter is exercised from both ends."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(
        docs, "doc_id", D.shingles("text", 3), _CONTAINMENT_THRESHOLD
    )


register(
    "dedup_containment",
    _containment,
    f"""
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS s,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.id AS src_id, b.id AS dst_id, a.n AS n_src,
               count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id != b.id
        GROUP BY 1, 2, 3
    )
    SELECT src_id, dst_id,
           round(shared * 1.0 / n_src, 6) AS containment
    FROM pairs
    WHERE round(shared * 1.0 / n_src, 6) >= {_CONTAINMENT_THRESHOLD}
    """,
)

# ---------------------------------------------------------------------------
# Blocked edit-distance near-dup on part names (entity-resolution shape)
# ---------------------------------------------------------------------------

_LEV_MAX_DIST = 4


def _levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-name near-dup: distinct part names, blocked by their last
    token (the product noun), in-block pairwise Levenshtein ≤ 4. The
    block key bounds the O(len²)-per-pair stage exactly as LSH bands
    bound minhash — the entity-resolution member of the dedup family."""
    part = load_table(spark, sf_dir, "part")
    return D.levenshtein_blocked(
        part,
        "p_name",
        F.element_at(F.split("p_name", " "), -1),
        _LEV_MAX_DIST,
    )


register(
    "dedup_levenshtein_blocked",
    _levenshtein,
    f"""
    WITH names AS (
        SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk
        FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX_DIST}
    """,
)

# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-nibble bits)
# ---------------------------------------------------------------------------


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash16(docs, "doc_id", "text").select(
        F.col("_id").alias("doc_id"), "simhash"
    )


def _simhash_oracle() -> str:
    nib_cols = ",\n               ".join(
        f"strpos('0123456789abcdef', substr(md5(w), {j + 1}, 1)) - 1 AS n{j}"
        for j in range(4)
    )
    vote_cols = ",\n               ".join(
        f"sum(((n{j} // {1 << b}) % 2) * 2 - 1) AS s{j * 4 + b}"
        for j in range(4)
        for b in range(4)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    nib AS (
        SELECT id,
               {nib_cols}
        FROM tok
    ),
    votes AS (
        SELECT id,
               {vote_cols}
        FROM nib GROUP BY id
    )
    SELECT id AS doc_id, CAST({sig_expr} AS INTEGER) AS simhash FROM votes
    """


register("dedup_simhash", _simhash, _simhash_oracle())

# ---------------------------------------------------------------------------
# embedding-cosine near-dup, blocked by label
# ---------------------------------------------------------------------------

_COSINE_THRESHOLD = 0.4


def _emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup(
        emb, "vec_id", "embedding", "label", _COSINE_THRESHOLD
    )


register(
    "dedup_embedding_cosine",
    _emb_neardup,
    f"""
    WITH scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))),
                 6) AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {_COSINE_THRESHOLD}
    """,
)

# ---------------------------------------------------------------------------
# near-dup cluster collapse: connected components over the MinHash pairs
# ---------------------------------------------------------------------------


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → undirected graph → per-doc canonical id (min doc_id
    in the component). The iterative min-label propagation runs
    join+aggregate rounds to a fixpoint (functions/dedup.py
    connected_components); the oracle computes the same fixpoint with a
    recursive CTE. Docs with no near-dup are their own component."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return D.connected_components(nodes, edges).select(
        F.col("id").alias("doc_id"), "component"
    )


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE {D.minhash_oracle_ctes()},
    pairs AS ({_MINHASH_PAIR_SELECT}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    walk(id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS doc_id, min(label) AS component FROM walk GROUP BY id
    """


register("dedup_cluster_components", _components, _components_oracle())

# ---------------------------------------------------------------------------
# MLlib MinHashLSH variant (the library path; rows-only check)
# ---------------------------------------------------------------------------


def _minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same near-dup task through MLlib's MinHashLSH — the library
    alternative to the explicit SQL-expression pipeline in
    functions/dedup.py (SURVEY §4.2). Word 3-gram shingles (the same set
    definition as dedup_minhash_lsh) → binary HashingTF → seeded
    approxSimilarityJoin as the CANDIDATE generator; candidates are then
    verified with the exact shingle-set Jaccard computed from the raw
    shingle arrays (bucket collisions in HashingTF therefore cannot
    affect emitted values, only candidate recall).

    Oracle-checkable because the emitted relation is "all pairs with
    exact Jaccard ≥ 0.9 that LSH surfaced", and at threshold 0.9 with 6
    OR'd hash tables the per-pair miss probability is (1-j)^6 ≤ 1e-6 —
    on this fixture the output equals the full brute-force ≥ 0.9 set the
    DuckDB inverted-index oracle computes (and the MLlib side is seeded,
    so the result is bit-stable run to run)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from orchestrated_etl_spark.functions.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", shingles("text", 3).alias("sh"))
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=6, seed=42
    )
    model = lsh.fit(feats)
    cand = model.approxSimilarityJoin(feats, feats, 0.5, distCol="_d")
    shared = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - shared
    return (
        cand.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.col("datasetA.sh").alias("_sa"),
            F.col("datasetB.sh").alias("_sb"),
        )
        .withColumn("jaccard", F.round(shared / union, 6))
        .where(F.col("jaccard") >= 0.9)
        .select("id_a", "id_b", "jaccard")
    )


register(
    "dedup_minhash_mllib",
    _minhash_mllib,
    """
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS s,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
               count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
    FROM pairs
    WHERE round(shared * 1.0 / (n_a + n_b - shared), 6) >= 0.9
    """,
)


# ---------------------------------------------------------------------------
# SemDedup: semantic deduplication inside centroid clusters
# ---------------------------------------------------------------------------

_SEMDEDUP_THRESHOLD = 0.4


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023-style semantic dedup): cluster the
    embedding space, then drop any vector whose cosine to a LOWER-id
    member of its OWN cluster exceeds the threshold — near-duplicate
    semantics without an all-pairs corpus join, because candidate pairs
    exist only within a cluster. Emits every vector with its cluster and
    keep/drop decision (the linear-output format, like
    dedup_cluster_components).

    Plan shape: nearest-centroid assignment is a broadcast-K map pass
    with a max_by argmax (no window over the corpus,
    functions/similarity.assign_to_centroids); the within-cluster
    pairwise scoring is the algorithm's defining cost, bounded by
    Σ cluster_size². Scale calculus (measured, SCALING.md): fixed K is
    quadratic in N; K ∝ N linearizes the pairs but makes the N·K
    assignment the quadratic term — the balanced choice is K = Θ(√N)
    (both terms N·√N), and production runs push assignment below N·K
    with a two-level centroid tree (broadcast the coarse √K level,
    probe only its children). The fixture's K=8 stands in for a
    corpus-sized trained K; the decision join shuffles only (id,
    cluster, bool) rows. Deterministic: assignment and drops both rank
    on the ROUNDED cosine with id tie-breaks."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    assigned = SIM.assign_to_centroids(
        emb, centroids, "vec_id", "embedding"
    ).localCheckpoint(eager=True)  # feeds both pair sides + the output
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_vec").alias("_va"), "centroid_id"
    ).withColumn("_na", SIM.vec_norm(F.col("_va")))
    b = assigned.select(
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("_vb"),
        F.col("centroid_id").alias("_cb"),
    ).withColumn("_nb", SIM.vec_norm(F.col("_vb")))
    pairs = a.join(
        b,
        (F.col("centroid_id") == F.col("_cb"))
        & (F.col("id_b") < F.col("id_a")),
    )
    cos = F.round(
        F.try_divide(
            SIM.dot(F.col("_va"), F.col("_vb")),
            F.col("_na") * F.col("_nb"),
        ),
        6,
    )
    dropped = (
        pairs.where(cos >= _SEMDEDUP_THRESHOLD)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return (
        assigned.select(F.col("_id").alias("vec_id"), "centroid_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.col("_d").isNotNull().alias("dropped"),
        )
    )


register(
    "dedup_semantic_clusters",
    _semdedup,
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
    )
    SELECT a.vec_id, a.centroid_id,
           EXISTS (
               SELECT 1 FROM assigned b
               WHERE b.centroid_id = a.centroid_id
                 AND b.vec_id < a.vec_id
                 AND round({SIM.COS_SQL.format(a='a.embedding', b='b.embedding')}, 6)
                     >= {_SEMDEDUP_THRESHOLD}
           ) AS dropped
    FROM assigned a
    """,
)


# ---------------------------------------------------------------------------
# entity resolution: blocked pairwise attribute scoring
# ---------------------------------------------------------------------------

_ER_THRESHOLD = 0.7


def _er_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over the part catalog: candidate pairs are
    generated ONLY within a blocking key (exact p_name — the standard
    cheap blocker), then scored by weighted attribute agreement
    (brand 0.4, type 0.3, size within 2 units 0.15, price within 50.00
    0.15); pairs scoring >= 0.7 are matches. The score is a fixed
    left-to-right sum of identical double literals on both engines —
    bitwise-reproducible, no rounding.

    Scale shape: the block self-join is bounded by Sigma block_size^2,
    NOT |R|^2 — the blocker's whole job. One shuffle partitions by the
    blocking key; scoring is map-side on co-located rows. Monster
    blocks (a name shared by millions of listings) are the known
    failure mode: production blockers compose multiple keys (name +
    brand prefix) or salt oversized blocks, both of which only shrink
    blocks and slot into the same plan."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    a = part.alias("a")
    b = part.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_name") == F.col("b.p_name"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    score = (
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("a.p_type") == F.col("b.p_type"), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(
            F.abs(F.col("a.p_size") - F.col("b.p_size")) <= 2, F.lit(0.15)
        ).otherwise(F.lit(0.0))
        + F.when(
            F.abs(F.col("a.p_retailprice") - F.col("b.p_retailprice"))
            <= 50.0,
            F.lit(0.15),
        ).otherwise(F.lit(0.0))
    )
    return (
        pairs.withColumn("score", score)
        .where(F.col("score") >= _ER_THRESHOLD)
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            "score",
        )
    )


register(
    "er_match_blocked_parts",
    _er_match_parts,
    f"""
    -- literals are CAST AS DOUBLE: DuckDB otherwise sums DECIMALs
    -- exactly (0.4+0.3 = 0.7) while Spark sums doubles
    -- (0.7000000000000001) — same class as the round-2 HUGEINT lesson.
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           (CASE WHEN a.p_brand = b.p_brand
                 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN a.p_type = b.p_type
                 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN abs(a.p_size - b.p_size) <= 2
                 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN abs(a.p_retailprice - b.p_retailprice) <= 50.0
                 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
               AS score
    FROM part a
    JOIN part b ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
    WHERE (CASE WHEN a.p_brand = b.p_brand
                 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN a.p_type = b.p_type
                 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN abs(a.p_size - b.p_size) <= 2
                 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN abs(a.p_retailprice - b.p_retailprice) <= 50.0
                 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
              >= CAST({_ER_THRESHOLD} AS DOUBLE)
    """,
)


# ---------------------------------------------------------------------------
# content-defined chunking dedup (FastCDC-style, exact substring level)
# ---------------------------------------------------------------------------

_CDC_POWS = [31**e for e in range(7, -1, -1)]  # 31^7 .. 31^0
_CDC_MOD = 32  # expected chunk length ~= 32 chars


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup via content-defined chunking — the
    rsync / dedup-storage / incremental-sync primitive, and the exact
    complement to MinHash's document-level near-dup: it finds SHARED
    PASSAGES between otherwise-different documents.

    Each document is cut where the 8-gram polynomial hash
    Σ ord(c_{i+j})·31^(7-j) satisfies H % 32 == 0 — boundaries are
    CONTENT-defined, so a shared passage chunks identically regardless
    of its offset in either document (the property fixed-size blocking
    lacks; cf. FastCDC, USENIX ATC'16). Chunks are md5'd; a chunk seen
    in >= 2 DISTINCT documents is shared content. Per doc: chunk count,
    shared-chunk count, shared chars, total chars — all exact integers.

    The hashing kernel is a vectorized-numpy ``mapInPandas`` stage, a
    DELIBERATE exception to the JVM-first rule: Spark evaluates
    higher-order-function lambdas interpreted (never whole-stage
    codegen), and the multiply-referenced cut array gets inlined by
    CollapseProject into one hash re-scan PER CHUNK — the pure-
    expression form measured 150x slower than this Arrow-batched
    kernel at sf0.01. The per-row kernel is one O(n) sliding-window
    dot product (utf-32 codepoints ⊗ the power vector), so parity with
    the DuckDB oracle's integer arithmetic is exact.

    Production variants enforce min/max chunk sizes inside the same
    kernel; the unclamped cut rule keeps the oracle expressible as
    DuckDB list comprehensions.

    Scale shape: hashing/chunking is MAP-ONLY inside the scan stage,
    and the emitted stream carries (doc_id, md5, chunk_len) — 40-ish
    bytes per chunk, never text. It is checkpointed ONCE (two
    consumers; re-running the kernel would re-hash the corpus), then
    one groupBy(md5) + one broadcast-eligible join back + one
    groupBy(doc_id): two narrow shuffles over chunk-count rows
    regardless of corpus size."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def chunker(batches):
        import hashlib

        import numpy as np

        pows = np.array(_CDC_POWS, dtype=np.int64)
        for pdf in batches:
            recs = {"doc_id": [], "n": [], "h": [], "len": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = text or ""
                nn = len(t)
                starts = [1]
                if nn >= 9:
                    codes = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    win = np.lib.stride_tricks.sliding_window_view(codes, 8)
                    hashes = win @ pows  # H at 0-based start index
                    cut_pos = np.nonzero(hashes % _CDC_MOD == 0)[0] + 1
                    starts += [int(i) for i in cut_pos if i >= 2]
                for ki, s in enumerate(starts):
                    e = starts[ki + 1] if ki + 1 < len(starts) else nn + 1
                    chunk = t[s - 1 : e - 1]
                    recs["doc_id"].append(doc_id)
                    recs["n"].append(nn)
                    recs["h"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    recs["len"].append(e - s)
            yield pd.DataFrame(recs)

    chunk_stream = docs.mapInPandas(
        chunker, "doc_id long, n long, h string, len long"
    ).localCheckpoint(eager=True)
    shared = (
        chunk_stream.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h")
    )
    # No forced broadcast (round-15 review): `shared` is the set of
    # chunk hashes seen in >=2 docs — corpus-proportional, not bounded.
    # The threshold/AQE broadcast it while it is small; at 100 TB the
    # join correctly shuffles on the hash.
    marked = chunk_stream.join(
        shared.withColumn("_s", F.lit(1)), "h", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_s").isNotNull(), 1).otherwise(0)).alias(
            "n_shared_chunks"
        ),
        F.sum(
            F.when(F.col("_s").isNotNull(), F.col("len")).otherwise(0)
        ).alias("shared_chars"),
        F.max("n").alias("total_chars"),
    )


register(
    "dedup_cdc_chunks",
    _cdc_chunks,
    """
    WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents
    ),
    cutl AS (
        SELECT doc_id, text, n,
               CASE WHEN n >= 9 THEN list_filter(
                   range(2, CAST(n - 6 AS BIGINT)),
                   i ->
                     (  CAST(ord(text[CAST(i AS INTEGER)]) AS BIGINT)
                          * 27512614111
                      + CAST(ord(text[CAST(i + 1 AS INTEGER)]) AS BIGINT)
                          * 887503681
                      + CAST(ord(text[CAST(i + 2 AS INTEGER)]) AS BIGINT)
                          * 28629151
                      + CAST(ord(text[CAST(i + 3 AS INTEGER)]) AS BIGINT)
                          * 923521
                      + CAST(ord(text[CAST(i + 4 AS INTEGER)]) AS BIGINT)
                          * 29791
                      + CAST(ord(text[CAST(i + 5 AS INTEGER)]) AS BIGINT)
                          * 961
                      + CAST(ord(text[CAST(i + 6 AS INTEGER)]) AS BIGINT)
                          * 31
                      + CAST(ord(text[CAST(i + 7 AS INTEGER)]) AS BIGINT)
                     ) % 32 = 0)
               ELSE [] END AS cuts
        FROM d
    ),
    st AS (
        SELECT doc_id, text, n,
               list_prepend(CAST(1 AS BIGINT), cuts) AS starts
        FROM cutl
    ),
    chunks AS (
        SELECT doc_id, n,
               unnest(list_transform(
                   range(1, CAST(len(starts) + 1 AS BIGINT)),
                   k -> struct_pack(
                       h := md5(substr(text,
                                CAST(starts[CAST(k AS INTEGER)] AS INTEGER),
                                CAST(COALESCE(
                                      starts[CAST(k + 1 AS INTEGER)], n + 1)
                                   - starts[CAST(k AS INTEGER)]
                                   AS INTEGER))),
                       l := COALESCE(starts[CAST(k + 1 AS INTEGER)], n + 1)
                            - starts[CAST(k AS INTEGER)]))) AS c
        FROM st
    ),
    stream AS (SELECT doc_id, n, c.h AS h, c.l AS len FROM chunks),
    shared AS (
        SELECT h FROM stream GROUP BY h
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_chunks,
           CAST(sum(CASE WHEN sh.h IS NOT NULL THEN s.len ELSE 0 END)
                AS BIGINT) AS shared_chars,
           CAST(max(s.n) AS BIGINT) AS total_chars
    FROM stream s LEFT JOIN shared sh ON s.h = sh.h
    GROUP BY s.doc_id
    """,
)
