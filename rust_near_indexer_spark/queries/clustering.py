"""K-means clustering + semantic dedup over ``embeddings`` (north-star §LLM).

Semantic clustering is the backbone of several training-data operations
— SemDeDup-style semantic dedup, topic-balanced mixture design, and IVF
index construction (``similarity.ann_ivf_topk`` consumes exactly this
kind of coarse quantizer).  This module runs Lloyd's algorithm as a
DataFrame loop: broadcast the K centroids, assign each vector map-side,
re-estimate centroids with one partial-aggregated shuffle, repeat.
``semantic_dedup`` then composes the trained clusters with
cluster-bounded pairwise cosine — the SemDeDup recipe (cluster first so
the pair space is |cluster|², never corpus²).

Determinism (the oracle gate is exact): embeddings are quantized once
to integer micro-units per component with the rounding-mode-free
``FLOOR(x*1e6 + 0.5)`` (similarity.py's round-4 contract), so every
distance is an exact BIGINT and both engines agree bit-for-bit.  Seeding is deterministic
(the vectors at ``vec_id ∈ {0,50,…,350}``), iteration count is fixed,
and ties in the argmin break on cluster id — a float k-means with
random init could never hash-match across engines.  The DuckDB oracle
unrolls the identical iterations as a generated CTE chain (the
``receipt_pagerank`` pattern).

Scale shape (the MLlib shape, spelled out): per iteration the K×64
centroid table is broadcast (a few KiB at any corpus size), assignment
is embarrassingly parallel over the corpus scan, and the centroid
update is a single groupBy(cluster) whose 64 component sums combine
map-side — the only shuffle moves K×65 longs per upstream partition,
never the vectors.  Each new centroid table is eagerly materialized
(caching.materialize) so iteration k never replays 0..k-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import SessionCache, materialize
from ..canonical import duck_fingerprint, duck_hash60, fingerprint
from ..tables import load, spread
from . import register

DIM = 64
KM_ITERS = 3  # assign/update rounds; one extra final assignment reports
SEED_STRIDE = 50  # seed centroids at vec_id 0,50,...,350 → K = 8
K = 8

# ---- DuckDB oracle, generated as an unrolled CTE chain --------------------

_Q_CTE = """q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS qe
        FROM embeddings
    )"""

_C0_CTE = f"""c0 AS (
        SELECT vec_id // {SEED_STRIDE} AS cluster, qe AS ce
        FROM q WHERE vec_id % {SEED_STRIDE} = 0 AND vec_id < {K * SEED_STRIDE}
    )"""


def _km_assign(prev_c: str, out: str) -> str:
    return f"""{out}_d AS (
        SELECT v.vec_id, v.qe, c.cluster,
               CAST(list_sum(list_transform(list_zip(v.qe, c.ce),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        FROM q v CROSS JOIN {prev_c} c
    ),
    {out} AS (
        SELECT vec_id, qe, cluster, dist FROM (
            SELECT vec_id, qe, cluster, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rk
            FROM {out}_d
        ) WHERE rk = 1
    )"""


def _km_update(assign: str, out: str) -> str:
    return f"""{out}_s AS (
        SELECT cluster, i, SUM(qe[i]) AS s, COUNT(*) AS n
        FROM {assign}, range(1, {DIM + 1}) t(i)
        GROUP BY cluster, i
    ),
    {out} AS (
        SELECT cluster, array_agg(CAST(s // n AS BIGINT) ORDER BY i) AS ce
        FROM {out}_s GROUP BY cluster
    )"""


_KM_CTES = ",\n    ".join(
    [_Q_CTE, _C0_CTE]
    + [
        part
        for it in range(KM_ITERS)
        for part in (
            _km_assign(f"c{it}", f"a{it + 1}"),
            _km_update(f"a{it + 1}", f"c{it + 1}"),
        )
    ]
)

# ---- Spark-side building blocks -------------------------------------------


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _qvec

    emb = spread(load(spark, sf_dir, "embeddings"))
    return emb.select("vec_id", _qvec(F.col("embedding")).alias("qe"))


def _assign(vec: DataFrame, cen: DataFrame, carry: tuple = ()) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K centroids, score
    map-side, argmin via min(struct) — combines map-side, unlike a
    window sort.  ``carry`` columns ride along through the argmin
    (cluster id is unique per candidate row, so they are never compared)."""
    sq = F.zip_with("qe", "ce", lambda x, y: (x - y) * (x - y))
    dist = F.aggregate(sq, F.lit(0).cast("long"), lambda acc, v: acc + v)
    scored = vec.crossJoin(F.broadcast(cen)).select(
        "vec_id", "qe", *carry, "cluster", dist.alias("dist")
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cluster", "qe", *carry)).alias("m")
    )
    return best.select(
        "vec_id",
        "m.qe",
        *[f"m.{c}" for c in carry],
        F.col("m.cluster").alias("cluster"),
        F.col("m.dist").alias("dist"),
    )


_CEN_CACHE = SessionCache("clustering.centroids")


def _final_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the KM_ITERS Lloyd rounds once per (session, sf_dir); the
    resulting K-row centroid table is materialized, so reuse by
    ``semantic_dedup`` costs nothing (same sharing rule as the LSH
    pair cache in dedup.py)."""
    def build(_pins) -> DataFrame:
        vec = _quantized(spark, sf_dir)
        cen = materialize(
            vec.where(
                (F.col("vec_id") % SEED_STRIDE == 0)
                & (F.col("vec_id") < K * SEED_STRIDE)
            ).select(
                F.expr(f"vec_id div {SEED_STRIDE}").alias("cluster"),
                F.col("qe").alias("ce"),
            )
        )
        for _ in range(KM_ITERS):
            assigned = _assign(vec, cen)
            agg = assigned.groupBy("cluster").agg(
                F.count("*").alias("n"),
                *[F.sum(F.get("qe", i)).alias(f"s{i}") for i in range(DIM)],
            )
            cen = materialize(
                agg.select(
                    "cluster",
                    F.array(*[F.expr(f"s{i} div n") for i in range(DIM)]).alias("ce"),
                )
            )
        return cen

    return _CEN_CACHE.get_or_build(spark, (sf_dir,), build)


@register(
    "embedding_kmeans",
    oracle=f"""
    WITH
    {_KM_CTES},
    {_km_assign(f"c{KM_ITERS}", f"a{KM_ITERS + 1}")}
    SELECT cluster, COUNT(*) AS n_vectors,
           CAST(SUM(dist) AS BIGINT) AS inertia,
           {duck_fingerprint('vec_id')} AS member_fingerprint
    FROM a{KM_ITERS + 1}
    GROUP BY cluster
    ORDER BY cluster
    """,
    tags=("clustering", "llm-pipeline", "beyond-reference", "iterative"),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, {K} clusters × {KM_ITERS} rounds, over the
    micro-quantized embedding vectors.  Per round: broadcast-join the
    K×{DIM} centroid table (map-side assignment, min-struct argmin with
    map-side combine — no window sort), then one groupBy(cluster) with
    {DIM} component sums to re-estimate centroids (integer mean,
    truncating div on both engines).  Emits per-cluster size, integer
    inertia, and the exact member-set fingerprint — the gate proves the
    full partition of the corpus, not just the counts."""
    vec = _quantized(spark, sf_dir)
    final = _assign(vec, _final_centroids(spark, sf_dir))
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("dist").alias("inertia"),
            fingerprint("vec_id").alias("member_fingerprint"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded pairwise cosine over the augmented corpus.
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle() -> str:
    from .similarity import (
        _AUG_EMB_SQL,
        _BUCKET_SQL,
        _DOT_PICO_SQL,
        _QVEC_SQL,
        NEAR_DUP_COSINE_PICO,
    )

    # the once-quantized qe serves BOTH the centroid assignment and the
    # near-dup dot — no second float path anywhere
    dot = _DOT_PICO_SQL.format(a="a.qe", b="b.qe")
    return f"""
    WITH
    {_KM_CTES},
    augq AS (
        SELECT vec_id, {_BUCKET_SQL} AS bucket,
               {_QVEC_SQL.format(v="embedding")} AS qe
        FROM ({_AUG_EMB_SQL})
    ),
    sa_d AS (
        SELECT v.vec_id, v.qe, v.bucket, c.cluster,
               CAST(list_sum(list_transform(list_zip(v.qe, c.ce),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        FROM augq v CROSS JOIN c{KM_ITERS} c
    ),
    sa AS (
        SELECT vec_id, qe, bucket, cluster FROM (
            SELECT vec_id, qe, bucket, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rk
            FROM sa_d
        ) WHERE rk = 1
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM sa a JOIN sa b ON a.cluster = b.cluster
                           AND a.bucket = b.bucket
                           AND a.vec_id < b.vec_id
        WHERE {dot} >= {NEAR_DUP_COSINE_PICO}
    ),
    kept AS (
        SELECT sa.cluster, sa.vec_id FROM sa
        LEFT JOIN dup ON dup.vec_id = sa.vec_id
        WHERE dup.vec_id IS NULL
    )
    SELECT b.cluster, b.n_vectors, k.n_kept,
           b.n_vectors - k.n_kept AS n_dropped, k.kept_fingerprint
    FROM (SELECT cluster, COUNT(*) AS n_vectors FROM sa GROUP BY cluster) b
    JOIN (SELECT cluster, COUNT(*) AS n_kept,
                 {duck_fingerprint('vec_id')} AS kept_fingerprint
          FROM kept GROUP BY cluster) k USING (cluster)
    ORDER BY cluster
    """


@register(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    tags=("clustering", "dedup", "llm-pipeline", "beyond-reference"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign every vector (original corpus + the planted
    near-dups from similarity.py's augmented view) to its nearest
    trained k-means centroid, then search for near-duplicates ONLY
    inside each cluster — pairwise work is Σ|cluster|², never corpus² —
    further pruned by the sign-bit LSH bucket (a candidate pair must
    share cluster AND bucket, the similarity.py prefilter; the planted
    near-dups keep every sign bit, so none escape the prune).  A vector
    is dropped iff a candidate neighbor with a smaller vec_id has
    cosine ≥ 0.9; the smallest id of every duplicate group survives.
    Emits per-cluster totals plus the exact kept-set fingerprint.

    Scale shape: one broadcast assignment pass over the corpus, one
    shuffle on cluster to co-locate members, then a per-cluster
    self-join — at 100 TB clusters are the unit of parallelism, and a
    skewed giant cluster would be split by raising K (the SemDeDup
    paper's K ≈ corpus/√corpus keeps clusters bounded)."""
    from .similarity import (
        NEAR_DUP_COSINE_PICO,
        _augmented_embeddings,
        _bucket,
        _dot_pico,
        _qvec,
    )

    aug = _augmented_embeddings(spark, sf_dir)
    augq = aug.select(
        "vec_id",
        _bucket(F.col("embedding")).alias("bucket"),
        _qvec(F.col("embedding")).alias("qe"),
    )

    # materialized once: reused by the pair join (twice), the per-cluster
    # totals, and the kept-side anti-join — without this the broadcast
    # crossJoin + argmin chain re-executes four times.  The quantized qe
    # rides through the assignment and feeds the near-dup dot directly.
    assigned = materialize(
        _assign(augq, _final_centroids(spark, sf_dir), carry=("bucket",)).select(
            "vec_id", "qe", "bucket", "cluster"
        )
    )

    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("qe").alias("qe_a"),
        "bucket",
        "cluster",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("qe").alias("qe_b"),
        "bucket",
        "cluster",
    )
    dup = (
        a.join(b, ["cluster", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(_dot_pico(F.col("qe_a"), F.col("qe_b")) >= NEAR_DUP_COSINE_PICO)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    kept = assigned.join(dup, "vec_id", "left_anti")
    base = assigned.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    keptagg = kept.groupBy("cluster").agg(
        F.count("*").alias("n_kept"),
        fingerprint("vec_id").alias("kept_fingerprint"),
    )
    return (
        base.join(keptagg, "cluster")
        .select(
            "cluster",
            "n_vectors",
            "n_kept",
            (F.col("n_vectors") - F.col("n_kept")).alias("n_dropped"),
            "kept_fingerprint",
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# PCA top principal component via integer power iteration.
# ---------------------------------------------------------------------------

PCA_ITERS = 4

_PCA_BASE_CTES = f"""qm AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e3 + 0.5) AS BIGINT)) AS qe
        FROM embeddings
    ),
    mu AS (
        SELECT t.i, CAST(SUM(qe[t.i]) // COUNT(*) AS BIGINT) AS m
        FROM qm CROSS JOIN range(1, {DIM + 1}) t(i)
        GROUP BY t.i
    ),
    x AS (
        SELECT vec_id, t.i, qe[t.i] - mu.m AS xi
        FROM qm CROSS JOIN range(1, {DIM + 1}) t(i)
        JOIN mu ON mu.i = t.i
    ),
    cov AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.xi * b.xi) AS BIGINT) AS c
        FROM x a JOIN x b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    v0 AS (
        SELECT t.i, CAST(CASE WHEN t.i = 1 THEN 1000 ELSE 0 END AS BIGINT) AS val
        FROM range(1, {DIM + 1}) t(i)
    )"""

_PCA_STEP = """w{k} AS (
        SELECT c.i, CAST(SUM(c.c * v.val) AS BIGINT) AS s
        FROM cov c JOIN v{p} v ON v.i = c.j
        GROUP BY c.i
    ),
    m{k} AS (SELECT GREATEST(MAX(ABS(s)), 1) AS mm FROM w{k}),
    v{k} AS (
        SELECT i, CAST((s * 1000) // mm AS BIGINT) AS val
        FROM w{k}, m{k}
    )"""

_PCA_CTES = ",\n    ".join(
    [_PCA_BASE_CTES]
    + [_PCA_STEP.format(k=k, p=k - 1) for k in range(1, PCA_ITERS + 1)]
)


@register(
    "embedding_pca_top_component",
    oracle=f"""
    WITH
    {_PCA_CTES}
    SELECT CAST(i AS BIGINT) AS dim, val AS loading_milli
    FROM v{PCA_ITERS}
    ORDER BY dim
    """,
    tags=("clustering", "llm-pipeline", "beyond-reference", "iterative"),
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by power
    iteration, all exact integer arithmetic (milli loadings, truncating
    div) so the DuckDB oracle — the identical rounds unrolled as CTEs —
    matches bit-for-bit.

    Scale shape (r12 rewrite — the block-matrix treeAggregate form the
    r09 docstring deferred, MLlib RowMatrix style): ONE corpus pass
    computes per-partition integer Gram/colsum/count partials inside a
    single Arrow stage (64×64 numpy matmul per batch), a bounded
    d²-row aggregate combines them, and the centering identity
    Σ(q−m)(q−m)ᵀ = G − m·sᵀ − s·mᵀ + n·m·mᵀ (exact in integers, since
    m is itself integral) plus the {PCA_ITERS} power rounds run on the
    driver over the fixed 64×64 matrix — the d×d eigen step every
    distributed PCA does driver-side.  The r09 relational form
    (posexplode → mean join → self-join on vec_id → groupBy → four
    materialize/join rounds) shuffled a corpus×d token table twice and
    paid ~6 scheduled jobs to multiply a 64×64 matrix; this pays one
    scan and one 4161-row shuffle regardless of corpus size.  The
    driver never holds more than d²+d+1 longs — scale-independent."""
    import numpy as np

    emb = spread(load(spark, sf_dir, "embeddings"))
    qm = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1e3 + F.lit(0.5)).cast("long"),
        ).alias("qe"),
    )

    def _gram(batches):
        import numpy as np
        import pandas as pd

        g = np.zeros((DIM, DIM), np.int64)
        s = np.zeros(DIM, np.int64)
        n = 0
        for pdf in batches:
            arrs = [a for a in pdf["qe"] if a is not None]
            if not arrs:
                continue
            x = np.stack([np.asarray(a, np.int64) for a in arrs])
            g += x.T @ x
            s += x.sum(axis=0)
            n += x.shape[0]
        d1 = np.arange(1, DIM + 1, dtype=np.int64)
        yield pd.DataFrame(
            {
                "i": np.concatenate([np.repeat(d1, DIM), d1, [0]]),
                "j": np.concatenate([np.tile(d1, DIM), np.zeros(DIM, np.int64), [0]]),
                "c": np.concatenate([g.reshape(-1), s, [n]]),
            }
        )

    parts = (
        qm.mapInPandas(_gram, schema="i long, j long, c long")
        .groupBy("i", "j")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    gram = np.zeros((DIM, DIM), dtype=object)  # python ints: no overflow
    colsum = np.zeros(DIM, dtype=object)
    n = 0
    for r in parts:
        if r["i"] == 0:
            n = int(r["c"])
        elif r["j"] == 0:
            colsum[r["i"] - 1] = int(r["c"])
        else:
            gram[r["i"] - 1][r["j"] - 1] = int(r["c"])

    def tdiv(a: int, b: int) -> int:  # Spark/DuckDB `div`: trunc toward 0
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    if n == 0:  # empty corpus: the relational form returned no rows
        return spark.createDataFrame([], "dim long, loading_milli long")
    m = [tdiv(int(colsum[i]), n) for i in range(DIM)]
    cov = [
        [
            int(gram[i][j]) - m[i] * int(colsum[j]) - m[j] * int(colsum[i])
            + n * m[i] * m[j]
            for j in range(DIM)
        ]
        for i in range(DIM)
    ]
    v = [1000] + [0] * (DIM - 1)
    for _ in range(PCA_ITERS):
        w = [sum(cov[i][j] * v[j] for j in range(DIM)) for i in range(DIM)]
        mm = max(max(abs(x) for x in w), 1)
        v = [tdiv(x * 1000, mm) for x in w]
    return spark.createDataFrame(
        [(i + 1, v[i]) for i in range(DIM)], "dim long, loading_milli long"
    )


# ---------------------------------------------------------------------------
# Cluster-balanced diversity sampling: fixed-K per embedding cluster —
# the "semantic diversity" sampling stage (topic-balance the corpus by
# sampling uniformly across embedding-space clusters instead of raw rows).
# ---------------------------------------------------------------------------

CBS_K = 40  # sample size per cluster


@register(
    "cluster_balanced_sample",
    oracle=f"""
    WITH
    {_KM_CTES},
    {_km_assign(f"c{KM_ITERS}", f"a{KM_ITERS + 1}")},
    ranked AS (
        SELECT vec_id, cluster,
               COUNT(*) OVER (PARTITION BY cluster) AS cluster_n,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster
                   ORDER BY {duck_hash60("'cbs|' || CAST(vec_id AS VARCHAR)")},
                            vec_id) AS rk
        FROM a{KM_ITERS + 1}
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rk AS BIGINT) AS rk,
           CAST(cluster_n AS BIGINT) AS cluster_n
    FROM ranked WHERE rk <= {CBS_K}
    ORDER BY cluster, rk
    """,
    tags=("clustering", "sampling", "llm-pipeline", "diversity"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling over embedding space: k-means the corpus (the
    session-cached Lloyd centroids), then take a fixed hash-ranked
    sample of {CBS_K} per cluster — uniform sampling OVER TOPICS rather
    than over rows, so dominant topics stop dominating the sample (the
    cluster-balanced stage of DCLM/SemDeDup-style curation).

    Scale shape: one broadcast-centroid assignment pass (map-side
    argmin), then one ranking window keyed by cluster whose rank<=K
    filter rides WindowGroupLimit — the per-cluster sort never
    materializes.  The hash rank makes the sample reproducible under
    any partitioning, like every sampler in queries/sampling.py."""
    from ..canonical import hash60

    vec = _quantized(spark, sf_dir)
    assigned = _assign(vec, _final_centroids(spark, sf_dir))
    w_n = Window.partitionBy("cluster")
    w_rk = Window.partitionBy("cluster").orderBy(
        hash60(F.concat(F.lit("cbs|"), F.col("vec_id").cast("string"))).asc(),
        F.col("vec_id").asc(),
    )
    return (
        assigned.select("vec_id", "cluster")
        .withColumn("cluster_n", F.count(F.lit(1)).over(w_n))
        .withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") <= CBS_K)
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("rk").cast("long").alias("rk"),
            F.col("cluster_n").cast("long").alias("cluster_n"),
        )
        .orderBy("cluster", "rk")
    )
