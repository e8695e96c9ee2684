"""Similarity-search query registrations (SURVEY §2B).

Brute-force cosine top-k is exact and oracle-checked against DuckDB's
list_cosine_similarity (computed in DOUBLE on both sides, rounded to 4
before ranking with a deterministic id tiebreak). The LSH ANN variant
is Spark-specific bucketing → rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insurance_helper_spark.operators import similarity
from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

N_QUERIES = 5
TOP_K = 10

COSINE_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])), 4) AS cosine_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_sim,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine_sim DESC, neighbor_id) AS nn_rank
FROM scored
QUALIFY nn_rank <= {TOP_K}
ORDER BY query_id, nn_rank
"""


@register("similarity_cosine_topk", COSINE_TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors per query vector — the exact baseline the ANN tiers are measured against."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(
        emb, queries, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=TOP_K, round_digits=4,
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "nn_rank").orderBy(
        "query_id", "nn_rank"
    )


@register("similarity_ann_lsh_rowsonly")
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-style ANN: sign-bit bucketing + in-bucket exact re-rank.
    Rows-only (bucket assignment is engine-side hashing). At 100 TB the
    corpus is hashed in one narrow pass and only bucket-mates join."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ann_lsh_topk(
        emb, queries, dim=64, k=TOP_K, n_planes=8
    ).orderBy("query_id", "nn_rank")


@register("similarity_ivf_topk_rowsonly")
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantization ANN: seeded-sample centroids + one
    distributed Lloyd refinement, then probe-masked scoring (each query
    scans only its n_probe nearest cells). Rows-only (centroid training
    is engine-side). At 100 TB the cell assignment is an ingest-time
    column and probing is partition pruning.

    Measured on the sf0.01 fixture (unclustered synthetic embeddings —
    the hard case for IVF): recall@10 ≈ 0.76 at 8/16 probes (~49% of
    dot products skipped); recall scales with probes since the vectors
    carry no cluster structure for the quantizer to exploit."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        emb, queries, k=TOP_K, n_centroids=16, n_probe=8
    ).orderBy("query_id", "nn_rank")


# ---------------------------------------------------------------------------
# Per-label centroid statistics — the cluster-tightness diagnostic that
# sits underneath IVF quality (SURVEY §2B similarity group): for each
# label, the centroid vector's norm and the cosine of every member to
# its centroid. Fully oracle-checked; doubles end-to-end, rounded to 4.
# ---------------------------------------------------------------------------

CENTROID_STATS_ORACLE = """
WITH ex AS (
  SELECT label, vec_id, i + 1 AS dim, CAST(embedding[i + 1] AS DOUBLE) AS val
  FROM (
    SELECT label, vec_id, embedding, unnest(range(len(embedding))) AS i
    FROM embeddings
  )
),
cent AS (
  SELECT label, dim,
         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS c
  FROM ex GROUP BY 1, 2
),
dots AS (
  SELECT e.label, e.vec_id,
         CAST(sum(CAST(round(e.val * c.c * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS dot,
         sqrt(CAST(sum(CAST(round(e.val * e.val * 1e12) AS BIGINT)) AS DOUBLE)
              / 1e12) AS nv
  FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
  GROUP BY 1, 2
),
cn AS (
  SELECT label,
         sqrt(CAST(sum(CAST(round(c * c * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nc
  FROM cent GROUP BY 1
)
SELECT d.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(any_value(cn.nc), 4) AS centroid_norm,
       round(CAST(sum(CAST(round(d.dot / (d.nv * cn.nc) * 1e8) AS BIGINT)) AS DOUBLE)
             / 1e8 / count(*), 4) AS avg_cos_to_centroid,
       round(min(d.dot / (d.nv * cn.nc)), 4) AS min_cos_to_centroid
FROM dots d JOIN cn USING (label)
GROUP BY d.label
ORDER BY d.label
"""


@register("embedding_centroid_stats", CENTROID_STATS_ORACLE)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid per label + member-to-centroid cosine distribution.

    Plan: posexplode to (label, dim, val) — ONE shuffle keyed
    (label, dim) for the centroid aggregate; the centroid relation is
    n_labels × dim rows (tiny: clusters, not corpus), so the join back
    broadcasts; the member-cosine aggregate reuses the (label, vec_id)
    clustering. At 100 TB: centroids stay broadcastable as long as the
    cluster count is bounded, which is the IVF regime by construction.
    """
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    ex = (
        emb.select(
            "label",
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "val"),
        )
        .select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "val")
    )
    # ENGINE PARITY (r7 float-sum sweep): the centroid means, the per-vector
    # dot/norm folds, and the corpus avg-cosine fold all sum round(·1eN) AS
    # BIGINT so no partial-aggregation order can move a bit; min() is
    # order-safe on the resulting deterministic per-row doubles.
    cent = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
            / 1e9
            / F.count("*")
        ).alias("c")
    )
    dots = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("label", "vec_id")
        .agg(
            (
                F.sum(
                    F.round(F.col("val") * F.col("c") * 1e12).cast("long")
                ).cast("double")
                / 1e12
            ).alias("dot"),
            F.sqrt(
                F.sum(
                    F.round(F.col("val") * F.col("val") * 1e12).cast("long")
                ).cast("double")
                / 1e12
            ).alias("nv"),
        )
    )
    cn = cent.groupBy("label").agg(
        F.sqrt(
            F.sum(F.round(F.col("c") * F.col("c") * 1e12).cast("long")).cast("double")
            / 1e12
        ).alias("nc")
    )
    cos = F.col("dot") / (F.col("nv") * F.col("nc"))
    return (
        dots.join(F.broadcast(cn), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.first("nc"), 4).alias("centroid_norm"),
            F.round(
                F.sum(F.round(cos * 1e8).cast("long")).cast("double")
                / 1e8
                / F.count("*"),
                4,
            ).alias("avg_cos_to_centroid"),
            F.round(F.min(cos), 4).alias("min_cos_to_centroid"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# embedding_covariance_pairs — embedding-space covariance diagnostics:
# the top-10 most-correlated dimension pairs (|corr|, off-diagonal) of
# the corpus embedding distribution — the check that catches collapsed
# or duplicated embedding dimensions before they poison ANN recall and
# semantic-dedup thresholds. Population moments from one flattened
# pass: per-dim sums, plus per-(i,j) cross-product sums from a
# vec_id-keyed self-join of the (vec, dim, value) relation. Scale: the
# cross relation is n·d(d+1)/2 rows BEFORE aggregation, but map-side
# partial aggregation reduces every task to ≤ d² cells — the same
# constant-size-partials argument as the CMS sketch; the d² moment
# table then folds driver-free into the ranked pair report.
# ---------------------------------------------------------------------------

COV_PAIRS_ORACLE = """
WITH x AS (
  SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
dim AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS s,
         CAST(sum(CAST(round(v * v * 1e10) AS BIGINT)) AS DOUBLE) / 1e10 AS ss
  FROM x GROUP BY i
),
cross_m AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(CAST(round(a.v * b.v * 1e10) AS BIGINT)) AS DOUBLE) / 1e10 AS sxy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
  GROUP BY a.i, b.i
),
scored AS (
  SELECT c.i, c.j,
         (c.sxy / da.n - (da.s / da.n) * (db.s / db.n)) /
         sqrt((da.ss / da.n - (da.s / da.n) * (da.s / da.n))
              * (db.ss / db.n - (db.s / db.n) * (db.s / db.n))) AS corr
  FROM cross_m c
  JOIN dim da ON c.i = da.i
  JOIN dim db ON c.j = db.i
)
SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
       round(corr, 4) AS corr,
       CAST(row_number() OVER (ORDER BY abs(corr) DESC, i, j) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
ORDER BY rank
"""


@register("embedding_covariance_pairs", COV_PAIRS_ORACLE)
def embedding_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most-correlated dimension pairs, numpy-kernel edition.

    The (vec_id, dim) self-join materialized corpus x d(d+1)/2 rows
    (~12M at sf0.1, 1.9 s warm); the kernel computes the SAME per-row
    ``round(va*vb*1e10) AS BIGINT`` terms vectorized and ships only
    d(d+1)/2 int64 partials per batch — the map-side-combine shape that
    holds at any corpus size (what shuffles is O(d^2) per partition,
    never O(rows)). ENGINE PARITY: per-row rounding uses
    ``npkernels.half_up_long`` (bit-exact twin of F.round HALF_UP);
    the partial sums are exact integers, so aggregation order cannot
    move a bit, and the top-10 RANK over unrounded |corr| stays
    cross-engine stable. Exact to ~5e8 vectors (1e10-scaled squares
    < 2^63); beyond that, drop one scale decade.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window as W

    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    vecs = emb.select(F.col("embedding").cast("array<double>").alias("vec"))

    def run(batches):
        from insurance_helper_spark.functions.npkernels import half_up_long

        for pdf in batches:
            if not len(pdf):
                continue
            blk = np.array(list(pdf["vec"]), dtype=np.float64)
            n, d = blk.shape
            s = half_up_long(blk * 1e9).sum(axis=0)  # per-dim 1e9-scaled sums
            g = np.zeros((d, d), dtype=np.int64)  # upper triangle incl. diag
            for i in range(d):
                g[i, i:] = half_up_long((blk[:, i : i + 1] * blk[:, i:]) * 1e10).sum(
                    axis=0
                )
            ii, jj = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": ii.astype(np.int32),
                    "j": jj.astype(np.int32),
                    "cnt": np.where(ii == jj, np.int64(n), np.int64(0)),
                    "s": np.where(ii == jj, s[ii], np.int64(0)),
                    "c": g[ii, jj],
                }
            )

    parts = vecs.mapInPandas(run, schema="i int, j int, cnt long, s long, c long")
    agg = parts.groupBy("i", "j").agg(
        F.sum("cnt").alias("cnt"), F.sum("s").alias("s"), F.sum("c").alias("c")
    )
    agg = agg.localCheckpoint(eager=True)  # one kernel pass feeds dim + cross
    dim = agg.filter(F.col("i") == F.col("j")).select(
        "i",
        F.col("cnt").alias("n"),
        (F.col("s").cast("double") / 1e9).alias("s"),
        (F.col("c").cast("double") / 1e10).alias("ss"),
    )
    cross_m = agg.filter(F.col("i") < F.col("j")).select(
        "i", "j", (F.col("c").cast("double") / 1e10).alias("sxy")
    )
    da = dim.select(F.col("i"), F.col("n"), F.col("s").alias("sa"), F.col("ss").alias("ssa"))
    db = dim.select(F.col("i").alias("j"), F.col("s").alias("sb"), F.col("ss").alias("ssb"))
    mean_a, mean_b = F.col("sa") / F.col("n"), F.col("sb") / F.col("n")
    var_a = F.col("ssa") / F.col("n") - mean_a * mean_a
    var_b = F.col("ssb") / F.col("n") - mean_b * mean_b
    corr = (F.col("sxy") / F.col("n") - mean_a * mean_b) / F.sqrt(var_a * var_b)
    wr = W.orderBy(F.desc(F.abs(F.col("corr"))), "i", "j")
    return (
        cross_m.join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .withColumn("corr", corr)
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            F.col("i").cast("int").alias("dim_i"),
            F.col("j").cast("int").alias("dim_j"),
            F.round("corr", 4).alias("corr"),
            "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# ml_kmeans_lloyd_step — one full Lloyd iteration of cosine k-means
# (k=8, seeds = the 8 vectors minimizing the Knuth hash of vec_id —
# the same deterministic seeding as dedup_semantic_clusters): assign
# every vector to its nearest centroid (cosine, rounded to 4 before
# the argmin so both engines break ties identically), then UPDATE —
# per cluster: member count, inertia = sum(1 - cos), and the first
# four dimensions of the recomputed mean centroid. This is the
# building block the iterative clustering loop repeats; one step is
# fully SQL-expressible so the driver value-hashes assignment AND
# update exactly. Scale: the k seed centroids broadcast (k x d
# doubles), assignment is a per-row map over the broadcast (no
# shuffle), and the update is ONE groupBy(cluster) with map-side
# combine — the canonical distributed-Lloyd step; iterate by feeding
# the new centroids back as the next broadcast.
# ---------------------------------------------------------------------------

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    KEY_REDUCE as _KR,
    KNUTH_MOD as _KMOD,
    KNUTH_MUL as _KMUL,
)
from insurance_helper_spark.operators.similarity import cosine as _cosine  # noqa: E402

KMEANS_STEP_ORACLE = f"""
WITH seeds AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings
  ORDER BY ((vec_id % {_KR}) * {_KMUL}) % {_KMOD}, vec_id
  LIMIT 8
),
scored AS (
  SELECT e.vec_id, s.centroid_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cvec), 4)
             AS cos_c
  FROM embeddings e CROSS JOIN seeds s
),
member AS (
  SELECT vec_id, centroid_id AS cluster_id, cos_c
  FROM (SELECT vec_id, centroid_id, cos_c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT m.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       -- cos_c is 4-decimal-rounded: sum exact integer ten-thousandths so
       -- the inertia needs NO further rounding (a float sum of decimal
       -- summands can tie at the rounding boundary and flip per run).
       sum(CAST(round((1 - m.cos_c) * 10000) AS BIGINT)) / 10000.0 AS inertia,
       -- centroid means: exact integer ninths-scale sums (r7 float-sum
       -- sweep) so the corpus fold is partial-aggregation-order-free
       round(CAST(sum(CAST(round(CAST(e.embedding[1] AS DOUBLE) * 1e9) AS BIGINT))
             AS DOUBLE) / 1e9 / count(*), 4) AS c0,
       round(CAST(sum(CAST(round(CAST(e.embedding[2] AS DOUBLE) * 1e9) AS BIGINT))
             AS DOUBLE) / 1e9 / count(*), 4) AS c1,
       round(CAST(sum(CAST(round(CAST(e.embedding[3] AS DOUBLE) * 1e9) AS BIGINT))
             AS DOUBLE) / 1e9 / count(*), 4) AS c2,
       round(CAST(sum(CAST(round(CAST(e.embedding[4] AS DOUBLE) * 1e9) AS BIGINT))
             AS DOUBLE) / 1e9 / count(*), 4) AS c3
FROM member m JOIN embeddings e ON m.vec_id = e.vec_id
GROUP BY m.cluster_id
ORDER BY m.cluster_id
"""


@register("ml_kmeans_lloyd_step", KMEANS_STEP_ORACLE)
def ml_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd k-means step: deterministic seed centroids, broadcast assignment, exact per-cell mean recompute."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    emb = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    hkey = (F.col("vec_id") % _KR) * _KMUL % _KMOD
    seeds = (
        emb.orderBy(hkey, "vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("centroid_id"), F.col("vec").alias("cvec"))
    )
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "vec",
        "centroid_id",
        F.round(_cosine(F.col("vec"), F.col("cvec")), 4).alias("cos_c"),
    )
    wm = W.partitionBy("vec_id").orderBy(F.desc("cos_c"), "centroid_id")
    member = (
        scored.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(F.col("centroid_id").alias("cluster_id"), "cos_c", "vec")
    )
    return (
        member.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            (
                F.sum(F.round((1 - F.col("cos_c")) * 10000).cast("long")) / 10000.0
            ).alias("inertia"),
            *[
                F.round(
                    F.sum(
                        F.round(F.col("vec").getItem(i) * 1e9).cast("long")
                    ).cast("double")
                    / 1e9
                    / F.count("*"),
                    4,
                ).alias(f"c{i}")
                for i in range(4)
            ],
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# embedding_pca_power_iteration — the top principal component of the
# corpus embedding distribution via three unrolled power iterations
# over the d x d centered second-moment matrix: M is built ONCE from a
# vec_id-keyed self-join of the flattened (vec, dim, value) relation
# (n·d² products collapsed by map-side combine into d² = 4096 cells),
# then each iteration is a d²-row matrix-vector join — data volume is
# gone after the first aggregation, so the iterative part costs
# nothing at any corpus size. Start vector = 1/sqrt(d) (exactly
# representable for d=64); eigenvalue estimate = ||M v|| after the
# last multiply. Reports the top-8 |loading| dims — the "which
# directions dominate my embedding space" diagnostic that pairs with
# embedding_covariance_pairs (correlated dims) and quantization error
# (how much a low-rank/int8 compression would lose).
# ENGINE PARITY (r7 float-sum sweep): EVERY distributed fold here sums
# exact integers — the per-dim mean sums round(v·1e9) AS BIGINT, each
# Gram cell sums round(cᵃ·cᵇ·1e10) AS BIGINT (|c|≤2 → ≤4e10/term,
# exact to ~1e8 vectors), and each d-bounded matvec/norm fold sums
# round(·1e12) AS BIGINT — so no partial-aggregation order can move a
# bit; the only doubles are deterministic per-row IEEE expressions and
# one terminal quotient per fold.
# ---------------------------------------------------------------------------

_PCA_D = 64
_PCA_V0 = 0.125  # 1/sqrt(64), exact in binary

PCA_ORACLE = f"""
WITH x AS (
  SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {_PCA_D})) AS i) i
),
mu AS (
  SELECT i,
         CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS m,
         CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY i
),
c AS (
  SELECT x.vec_id, x.i, x.v - mu.m AS v FROM x JOIN mu ON x.i = mu.i
),
mat AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(CAST(round(a.v * b.v * 1e10) AS BIGINT)) AS DOUBLE)
           / 1e10 / any_value(mu.n) AS m
  FROM c a JOIN c b ON a.vec_id = b.vec_id
  JOIN mu ON mu.i = a.i
  GROUP BY a.i, b.i
),
v0 AS (SELECT i, {_PCA_V0} AS v FROM mu),
w1 AS (SELECT mat.i, CAST(sum(CAST(round(mat.m * v0.v * 1e12) AS BIGINT)) AS DOUBLE)
              / 1e12 AS w
       FROM mat JOIN v0 ON mat.j = v0.i GROUP BY mat.i),
v1 AS (SELECT i, w / (SELECT sqrt(CAST(sum(CAST(round(w * w * 1e12) AS BIGINT))
                                  AS DOUBLE) / 1e12) FROM w1) AS v FROM w1),
w2 AS (SELECT mat.i, CAST(sum(CAST(round(mat.m * v1.v * 1e12) AS BIGINT)) AS DOUBLE)
              / 1e12 AS w
       FROM mat JOIN v1 ON mat.j = v1.i GROUP BY mat.i),
v2 AS (SELECT i, w / (SELECT sqrt(CAST(sum(CAST(round(w * w * 1e12) AS BIGINT))
                                  AS DOUBLE) / 1e12) FROM w2) AS v FROM w2),
w3 AS (SELECT mat.i, CAST(sum(CAST(round(mat.m * v2.v * 1e12) AS BIGINT)) AS DOUBLE)
              / 1e12 AS w
       FROM mat JOIN v2 ON mat.j = v2.i GROUP BY mat.i),
norm3 AS (SELECT sqrt(CAST(sum(CAST(round(w * w * 1e12) AS BIGINT)) AS DOUBLE)
                 / 1e12) AS eig FROM w3),
v3 AS (SELECT i, w / (SELECT eig FROM norm3) AS v FROM w3)
SELECT CAST(i AS INT) AS dim,
       round(v, 4) AS loading,
       round((SELECT eig FROM norm3), 4) AS eigenvalue_est,
       CAST(row_number() OVER (ORDER BY abs(v) DESC, i) AS INT) AS rank
FROM v3
QUALIFY rank <= 8
ORDER BY rank
"""


def _pca_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    return emb.select(F.col("embedding").cast("array<double>").alias("vec"))


def _pca_dim_sums_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed pass 1: per-dim exact int64 sums (O(d) shuffle)."""
    import numpy as np
    import pandas as pd

    def dim_sums(batches):
        from insurance_helper_spark.functions.npkernels import half_up_long

        for pdf in batches:
            if not len(pdf):
                continue
            blk = np.array(list(pdf["vec"]), dtype=np.float64)
            n, d = blk.shape
            s = half_up_long(blk * 1e9).sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": np.arange(d, dtype=np.int32),
                    "cnt": np.full(d, n, dtype=np.int64),
                    "s": s,
                }
            )

    return (
        _pca_vecs(spark, sf_dir)
        .mapInPandas(dim_sums, schema="i int, cnt long, s long")
        .groupBy("i")
        .agg(F.sum("cnt").alias("cnt"), F.sum("s").alias("s"))
    )


def _pca_gram_df(spark: SparkSession, sf_dir: str, m) -> DataFrame:
    """Distributed pass 2: centered d x d Gram as exact int64 partials
    (O(d^2) shuffle, never O(rows))."""
    import numpy as np
    import pandas as pd

    d = len(m)
    b_m = spark.sparkContext.broadcast(np.asarray(m, dtype=np.float64))

    def gram(batches):
        from insurance_helper_spark.functions.npkernels import half_up_long

        mm = b_m.value
        for pdf in batches:
            if not len(pdf):
                continue
            blk = np.array(list(pdf["vec"]), dtype=np.float64) - mm[None, :]
            g = np.empty((d, d), dtype=np.int64)
            for i in range(d):
                g[i] = half_up_long((blk[:, i : i + 1] * blk) * 1e10).sum(axis=0)
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype(np.int32),
                    "j": jj.ravel().astype(np.int32),
                    "g": g.ravel(),
                }
            )

    return (
        _pca_vecs(spark, sf_dir)
        .mapInPandas(gram, schema="i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )


def pca_plan_sweep_frames(spark: SparkSession, sf_dir: str) -> list:
    """The query's REAL distributed plans, exposed for the plan sweep.

    ``embedding_pca_power_iteration`` collects both passes at
    DataFrame-construction time and returns a LocalTableScan, so the
    engine-wide anti-pattern sweep would otherwise only ever inspect
    the local result (ADVICE r9). The sweep iterates these pre-collect
    frames explicitly instead. The mean vector fed to the Gram pass is
    computed here (tiny at the sweep SF) so the second plan is exactly
    the one the query executes.
    """
    import numpy as np

    mu_df = _pca_dim_sums_df(spark, sf_dir)
    mu_rows = mu_df.collect()
    d = len(mu_rows)
    m = np.zeros(d, dtype=np.float64)
    for r in mu_rows:
        m[r["i"]] = (float(r["s"]) / 1e9) / float(r["cnt"])
    return [mu_df, _pca_gram_df(spark, sf_dir, m)]


@register("embedding_pca_power_iteration", PCA_ORACLE)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by power iteration, numpy-kernel edition.

    Architecture = Spark MLlib's RowMatrix.computePrincipalComponents
    shape: the corpus-sized work is ONE distributed pass building the
    d x d centered Gram as exact int64 partials (map-side d^2 per
    batch; what shuffles is O(d^2), never O(rows)), then the d-bounded
    linear algebra (3 matvec iterations on a 64 x 64 matrix) runs on
    the driver — collecting 4096 longs, corpus-independent. Replaces
    the (vec_id, dim) self-join that materialized corpus x d^2 rows
    (~25M at sf0.1, 4.9 s warm).

    ENGINE PARITY: identical integers to the former distributed plan —
    per-row ``round(va*vb*1e10)`` via ``npkernels.half_up_long``, means
    from 1e9-scaled integer sums, every matvec/norm fold sums per-cell
    ``round(m*v*1e12)`` as int64 (integer sums are order-free), and the
    terminal round(·, 4) replicates F.round's shortest-decimal HALF_UP
    via Decimal(repr(x)).
    """
    import decimal

    import numpy as np

    mu_rows = _pca_dim_sums_df(spark, sf_dir).collect()
    d = len(mu_rows)
    n_total = mu_rows[0]["cnt"]
    m = np.zeros(d, dtype=np.float64)
    for r in mu_rows:
        # same op order as the former JVM expr: (sum/1e9) / n
        m[r["i"]] = (float(r["s"]) / 1e9) / float(r["cnt"])
    gram_rows = _pca_gram_df(spark, sf_dir, m).collect()
    g_int = np.zeros((d, d), dtype=np.int64)
    for r in gram_rows:
        g_int[r["i"], r["j"]] = r["g"]
    mat = (g_int.astype(np.float64) / 1e10) / float(n_total)

    from insurance_helper_spark.functions.npkernels import half_up_long as _hup

    v_vec = np.full(d, _PCA_V0, dtype=np.float64)
    nrm = 0.0
    for _ in range(3):
        w_int = _hup((mat * v_vec[None, :]) * 1e12).sum(axis=1)  # exact per-cell
        w = w_int.astype(np.float64) / 1e12
        nrm = float(np.sqrt(float(_hup((w * w) * 1e12).sum()) / 1e12))
        v_vec = w / nrm

    def _round4(x: float) -> float:
        return float(
            decimal.Decimal(repr(float(x))).quantize(
                decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    order = sorted(range(d), key=lambda i: (-abs(v_vec[i]), i))[:8]
    rows = [
        (int(i), _round4(v_vec[i]), _round4(nrm), rank + 1)
        for rank, i in enumerate(order)
    ]
    return spark.createDataFrame(
        rows, schema="dim int, loading double, eigenvalue_est double, rank int"
    )


# ---------------------------------------------------------------------------
# ml_cluster_label_nmi — external cluster validation: purity, mutual
# information, and normalized MI between the deterministic cosine
# cluster assignment (same seeded rule as ml_kmeans_lloyd_step) and
# the ground-truth ``label`` column — the evaluation step that decides
# whether an unsupervised partition is worth using for stratification
# or semantic dedup. Everything flows through ONE contingency
# aggregation: groupBy(cluster, label) counts, marginals by re-agg of
# the contingency cells (never a second corpus pass), closed-form
# MI / H_c / H_l / purity from the k x L cell table. Scale: the only
# corpus-sized steps are the broadcast-centroid assignment map and one
# map-side-combined groupBy; the entropy arithmetic runs on k x L
# cells regardless of corpus size.
# ---------------------------------------------------------------------------

NMI_ORACLE = f"""
WITH seeds AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings
  ORDER BY ((vec_id % {_KR}) * {_KMUL}) % {_KMOD}, vec_id
  LIMIT 8
),
member AS (
  SELECT vec_id, centroid_id AS cluster_id, label
  FROM (SELECT e.vec_id, e.label, s.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                            CAST(e.embedding AS DOUBLE[]), s.cvec), 4) DESC,
                          s.centroid_id) AS rn
        FROM embeddings e CROSS JOIN seeds s)
  WHERE rn = 1
),
cells AS (
  SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS n_cl FROM member
  GROUP BY cluster_id, label
),
tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cells),
mc AS (SELECT cluster_id, CAST(sum(n_cl) AS BIGINT) AS n_c FROM cells GROUP BY cluster_id),
ml AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cells GROUP BY label),
mi AS (
  SELECT sum(c.n_cl * 1.0 / t.n * ln(t.n * 1.0 * c.n_cl / (mc.n_c * ml.n_l))) AS mi
  FROM cells c
  JOIN mc ON c.cluster_id = mc.cluster_id
  JOIN ml ON c.label = ml.label
  CROSS JOIN tot t
),
hc AS (SELECT -sum(n_c * 1.0 / t.n * ln(n_c * 1.0 / t.n)) AS h FROM mc CROSS JOIN tot t),
hl AS (SELECT -sum(n_l * 1.0 / t.n * ln(n_l * 1.0 / t.n)) AS h FROM ml CROSS JOIN tot t),
pur AS (
  SELECT sum(mx) AS hits FROM (
    SELECT cluster_id, max(n_cl) AS mx FROM cells GROUP BY cluster_id)
),
counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM mc) AS n_clusters,
         (SELECT CAST(count(*) AS BIGINT) FROM ml) AS n_labels
)
SELECT t.n AS n_vecs, c.n_clusters, c.n_labels,
       round(p.hits * 1.0 / t.n, 4) AS purity,
       round(m.mi, 4) AS mutual_info,
       round(m.mi / sqrt(hc.h * hl.h), 4) AS nmi
FROM tot t CROSS JOIN counts c CROSS JOIN pur p
CROSS JOIN mi m CROSS JOIN hc CROSS JOIN hl
"""


@register("ml_cluster_label_nmi", NMI_ORACLE)
def ml_cluster_label_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    emb = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    hkey = (F.col("vec_id") % _KR) * _KMUL % _KMOD
    seeds = (
        emb.orderBy(hkey, "vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("centroid_id"), F.col("vec").alias("cvec"))
    )
    wm = W.partitionBy("vec_id").orderBy(
        F.desc(F.round(_cosine(F.col("vec"), F.col("cvec")), 4)), "centroid_id"
    )
    member = (
        emb.crossJoin(F.broadcast(seeds))
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(F.col("centroid_id").alias("cluster_id"), "label")
    )
    cells = member.groupBy("cluster_id", "label").agg(
        F.count("*").cast("long").alias("n_cl")
    )
    cells = cells.localCheckpoint(eager=True)  # feeds 4 downstream folds
    tot = cells.agg(F.sum("n_cl").cast("long").alias("n"))
    mc = cells.groupBy("cluster_id").agg(F.sum("n_cl").cast("long").alias("n_c"))
    ml = cells.groupBy("label").agg(F.sum("n_cl").cast("long").alias("n_l"))
    mi = (
        cells.join(F.broadcast(mc), "cluster_id")
        .join(F.broadcast(ml), "label")
        .join(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n_cl") * 1.0 / F.col("n")
                * F.log(
                    F.col("n") * 1.0 * F.col("n_cl") / (F.col("n_c") * F.col("n_l"))
                )
            ).alias("mi")
        )
    )
    hc = mc.join(F.broadcast(tot)).agg(
        (-F.sum(F.col("n_c") * 1.0 / F.col("n") * F.log(F.col("n_c") * 1.0 / F.col("n"))))
        .alias("h_c")
    )
    hl = ml.join(F.broadcast(tot)).agg(
        (-F.sum(F.col("n_l") * 1.0 / F.col("n") * F.log(F.col("n_l") * 1.0 / F.col("n"))))
        .alias("h_l")
    )
    pur = (
        cells.groupBy("cluster_id")
        .agg(F.max("n_cl").alias("mx"))
        .agg(F.sum("mx").alias("hits"))
    )
    counts = F.broadcast(
        mc.agg(F.count("*").cast("long").alias("n_clusters")).crossJoin(
            ml.agg(F.count("*").cast("long").alias("n_labels"))
        )
    )
    return (
        tot.crossJoin(counts)
        .crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("n").alias("n_vecs"),
            "n_clusters",
            "n_labels",
            F.round(F.col("hits") * 1.0 / F.col("n"), 4).alias("purity"),
            F.round("mi", 4).alias("mutual_info"),
            F.round(F.col("mi") / F.sqrt(F.col("h_c") * F.col("h_l")), 4).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_random_projection_jl — Johnson–Lindenstrauss sketching
# with its guarantee MEASURED: project the 64-d embeddings onto k=16
# deterministic ±1 directions (Achlioptas 2001 — sign projections are
# JL-valid and multiplication-free), then compare projected vs
# original squared distances over the consecutive-id pair sample. The
# report pins n_pairs, the mean/extreme distortion ratios, and the
# fraction inside [0.5, 2] — the audit that tells you whether the
# 4× cheaper sketch is safe for the ANN candidate tier (SRP-LSH and
# IVF above consume exactly this kind of projection). Deterministic:
# the sign matrix comes from the portable hash family on (dim, j) —
# no rand(), identical in DuckDB — and both engines fold the 64-term
# dot products left-to-right (list_reduce / F.aggregate), so the
# doubles agree bit-for-bit before the display rounding. Scale: the
# projection is a pure per-row expression (no shuffle); pairs join on
# adjacent ids; the audit aggregates to one row.
# ---------------------------------------------------------------------------

_JL_D = 64  # fixture embedding dimensionality (TESTDATA.md)
_JL_K = 16

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    hash_family as _jl_hf,
    hash_family_sql as _jl_hf_sql,
)


def _jl_sign_sql(i_expr: str, j: int) -> str:
    """±1.0 sign for dimension ``i_expr`` (0-based) of projection j."""
    return (
        f"CASE WHEN ({_jl_hf_sql(f'({i_expr}) * {_JL_K} + {j}', 0)}) % 2 = 0"
        " THEN 1.0 ELSE -1.0 END"
    )


def _jl_proj_sql(vec: str, j: int) -> str:
    """Left-fold Σ_i vec[i] * sign(i, j) (DuckDB lists are 1-based)."""
    return (
        f"list_reduce(list_transform(range(1, {_JL_D} + 1),"
        f" i -> ({vec})[i] * ({_jl_sign_sql('i - 1', j)})),"
        " (acc, x) -> acc + x)"
    )


_jl_d2_orig_sql = (
    f"list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> (va[i] - vb[i]) * (va[i] - vb[i])), (acc, x) -> acc + x)"
)

_jl_pair_cols_sql = ",\n         ".join(
    f"({_jl_proj_sql('va', j)}) - ({_jl_proj_sql('vb', j)}) AS dp{j}"
    for j in range(_JL_K)
)
_jl_d2_proj_sql = "(" + " + ".join(f"dp{j} * dp{j}" for j in range(_JL_K)) + f") / {_JL_K}.0"

JL_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(a.embedding AS DOUBLE[]) AS va,
         CAST(b.embedding AS DOUBLE[]) AS vb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
),
dists AS (
  SELECT id_a, {_jl_d2_orig_sql} AS d2_orig,
         {_jl_pair_cols_sql}
  FROM pairs
),
ratios AS (
  SELECT id_a, d2_orig, {_jl_d2_proj_sql} AS d2_proj,
         ({_jl_d2_proj_sql}) / d2_orig AS ratio
  FROM dists WHERE d2_orig > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(round(ratio * 1e8) AS BIGINT)) AS DOUBLE)
             / 1e8 / count(*), 4) AS mean_ratio,
       round(min(ratio), 4) AS min_ratio,
       round(max(ratio), 4) AS max_ratio,
       round(avg(CASE WHEN ratio BETWEEN 0.5 AND 2.0 THEN 1.0 ELSE 0.0 END), 4)
           AS frac_within_2x
FROM ratios
"""


@register("embedding_random_projection_jl", JL_ORACLE)
def embedding_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit: pairwise distances before vs after a signed-hash projection, distortion quantiles."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = a.join(b, "id_a")

    from insurance_helper_spark.functions.hashing import hash_family_py

    def proj_diff(j: int):
        # The ±1 sign depends only on (i, j) — fold it to a LITERAL
        # array at plan build (hash_family_py is bit-identical to the
        # Column avalanche, pinned by test): the per-pair-per-element
        # hash re-evaluation was most of this query's cost (r11:
        # 6.0 s → ~1 s warm at sf0.1). The zip_with products and the
        # 0.0-seeded left fold add in the SAME order as before, so the
        # doubles are unchanged. (An explicit 16×64 add-chain variant
        # was tried and REJECTED: it blows the janino 64 KB method
        # limit in the join-consume function and forfeits codegen for
        # the whole stage.)
        sarr = F.array(
            *[
                F.lit(1.0 if hash_family_py(i * _JL_K + j, 0) % 2 == 0 else -1.0)
                for i in range(_JL_D)
            ]
        )
        prods = F.zip_with(
            F.zip_with("va", "vb", lambda x, y: x - y), sarr, lambda d, s: d * s
        )
        return F.aggregate(
            prods, F.lit(0.0).cast("double"), lambda acc, x: acc + x
        ).alias(f"dp{j}")

    d2_orig = F.expr(
        f"aggregate(transform(sequence(1, {_JL_D}),"
        " i -> (va[i - 1] - vb[i - 1]) * (va[i - 1] - vb[i - 1])),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    ).alias("d2_orig")

    dists = pairs.select("id_a", d2_orig, *[proj_diff(j) for j in range(_JL_K)])
    d2_proj = F.expr(_jl_d2_proj_sql)
    ratios = dists.filter("d2_orig > 0").select(
        "id_a",
        "d2_orig",
        d2_proj.alias("d2_proj"),
        (d2_proj / F.col("d2_orig")).alias("ratio"),
    )
    # ENGINE-PARITY (r7 float-sum sweep): mean_ratio is the one
    # corpus-bounded double fold here — quantize each (deterministic,
    # left-fold-derived) per-row ratio to round(·1e8) AS BIGINT so the
    # sum is order-independent. min/max are order-safe by definition;
    # the within-2x fraction sums exact 0/1 doubles (exact to 2^53).
    return ratios.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.round(F.col("ratio") * 1e8).cast("long")).cast("double")
            / 1e8
            / F.count("*"),
            4,
        ).alias("mean_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
        F.round(
            F.avg(F.when(F.col("ratio").between(0.5, 2.0), 1.0).otherwise(0.0)), 4
        ).alias("frac_within_2x"),
    )


# ---------------------------------------------------------------------------
# ml_knn_classify — k-nearest-neighbor classification over the
# embedding table, evaluated honestly: deterministic 80/20 hash
# split, each held-out vector voted on by its 5 nearest training
# neighbors (cosine), confusion matrix out. This is the supervised
# complement of similarity_cosine_topk — same exact-scoring tier, but
# with labels and an eval. Deterministic: both engines compute the
# cosine from the SAME left-fold adds (bit-identical doubles, like
# the JL audit), rank on the 6-decimal rounding with a vec_id
# tiebreak, and break vote ties on the label. The Spark side
# precomputes each row's norm BEFORE the cross join (norms don't
# depend on the pair — 1200+4800 folds instead of 2×5.8M) and rides
# the dot as ONE single-pass zip_with fold per pair instead of three
# sequence→transform→aggregate chains; every product and every add
# happens in the same order as the oracle's per-pair list_reduce, so
# cos6 is bit-identical (r11: 23.5 s → ~5.5 s warm at sf0.1, bench-recorded — see the
# fold-shape measurement note in the function body). Scale:
# the exact test×train scoring is the sanctioned small-side baseline
# (test side broadcast); the production path is the SRP-LSH / IVF
# candidate tier above feeding the same voter.
# ---------------------------------------------------------------------------

_KNN_K = 5


def _fold_sql(expr: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {_JL_D} + 1), i -> {expr}),"
        " (acc, x) -> acc + x)"
    )


_KNN_COS_SQL = (
    f"({_fold_sql('va[i] * vb[i]')})"
    f" / (sqrt({_fold_sql('va[i] * va[i]')}) * sqrt({_fold_sql('vb[i] * vb[i]')}))"
)

KNN_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
         CASE WHEN ({_jl_hf_sql('vec_id', 11)}) % 5 = 0 THEN 1 ELSE 0 END AS is_test
  FROM embeddings
),
pairs AS (
  SELECT t.vec_id AS test_id, t.label AS true_label,
         r.vec_id AS train_id, r.label AS train_label,
         t.v AS va, r.v AS vb
  FROM vecs t JOIN vecs r ON t.is_test = 1 AND r.is_test = 0
),
scored AS (
  SELECT test_id, true_label, train_id, train_label,
         round({_KNN_COS_SQL}, 6) AS cos6
  FROM pairs
),
topk AS (
  SELECT *, row_number() OVER (PARTITION BY test_id
                               ORDER BY cos6 DESC, train_id) AS rk
  FROM scored
),
votes AS (
  SELECT test_id, true_label, train_label, count(*) AS n_votes
  FROM topk WHERE rk <= {_KNN_K}
  GROUP BY test_id, true_label, train_label
),
pred AS (
  SELECT test_id, true_label, train_label AS pred_label,
         row_number() OVER (PARTITION BY test_id
                            ORDER BY n_votes DESC, train_label) AS vrk
  FROM votes
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM pred WHERE vrk = 1
GROUP BY true_label, pred_label
ORDER BY true_label, pred_label
"""


@register("ml_knn_classify", KNN_ORACLE)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label vote over embeddings: broadcast exact cosine top-k then majority label per query."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
        F.when(_jl_hf(F.col("vec_id"), 11) % 5 == 0, 1).otherwise(0).alias("is_test"),
    )
    # Fold shapes chosen by MEASUREMENT (r11): at this scale the
    # per-run cost is dominated by fresh-plan codegen compilation, not
    # data work (same-DataFrame re-execution runs in 0.06 s). An
    # explicit 64-term add-chain halves the old interpreted-fold cost
    # (23.5 s → 10.4 s warm) but emits a janino method so large each
    # fresh run recompiles for seconds; single-pass array HOFs
    # (transform/zip_with) keep the generated code small — ~5.5 s warm,
    # bit-identical output. Products and 0.0-seeded left-fold adds are
    # in the oracle's element order in every variant.

    # Per-row norms BEFORE the cross join: the same adds (and
    # therefore the same double) the oracle evaluates per pair, but
    # computed once per row instead of once per pair.
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(v, x -> x * x),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
    )
    test = vecs.filter("is_test = 1").select(
        F.col("vec_id").alias("test_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("va"),
        norm.alias("norm_a"),
    )
    train = vecs.filter("is_test = 0").select(
        F.col("vec_id").alias("train_id"),
        F.col("label").alias("train_label"),
        F.col("v").alias("vb"),
        norm.alias("norm_b"),
    )

    # Per-pair work: ONE zip_with fold.
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    cos = dot / (F.col("norm_a") * F.col("norm_b"))
    # Parallelism must be sized by OUTPUT fan-out, not input bytes: the
    # embeddings parquet is one small file, so the stream side of the
    # broadcast cross join inherits 1-2 input splits — each carrying a
    # |test|× row fan-out of interpreted-HOF work. The r12 sf1 scale
    # probe caught this as a near-serial 2-task stage (~10 min at 10×);
    # one round-robin repartition restores 32-way parallelism.
    train = train.repartition(spark.sparkContext.defaultParallelism)
    scored = (
        train.crossJoin(F.broadcast(test))
        .select(
            "test_id",
            "true_label",
            "train_id",
            "train_label",
            F.round(cos, 6).alias("cos6"),
        )
    )
    from pyspark.sql import Window  # local: module has no top-level Window import

    top = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("test_id").orderBy(F.desc("cos6"), "train_id")
        ),
    ).filter(F.col("rk") <= _KNN_K)
    votes = top.groupBy("test_id", "true_label", "train_label").agg(
        F.count("*").alias("n_votes")
    )
    pred = votes.withColumn(
        "vrk",
        F.row_number().over(
            Window.partitionBy("test_id").orderBy(F.desc("n_votes"), "train_label")
        ),
    ).filter("vrk = 1")
    return (
        pred.groupBy(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("train_label").cast("long").alias("pred_label"),
        )
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


# ---------------------------------------------------------------------------
# embedding_srp_bit_agreement — the measured contract behind the SRP-
# LSH tier: for consecutive vector pairs, compute 16 signed-random-
# projection sign bits per vector (the SAME deterministic hash-family
# sign matrix as the JL audit) and compare the measured bit-agreement
# fraction against the Goemans–Williamson prediction 1 − θ/π. The gap
# is the evidence that hash-bucket collision probability tracks cosine
# — i.e. that the rows-only SRP ANN path recalls what it claims.
# ENGINE PARITY: bit agreements are EXACT integer counts; per-pair
# predictions are deterministic left-fold doubles quantized to
# round(·1e8) AS BIGINT before the corpus fold. Scale: pure per-row
# projection folds (no shuffle) + one global fold; pairs via the
# vec_id+1 self-join like the JL audit.
# ---------------------------------------------------------------------------

def _srp_bit_sql(vec: str, j: int) -> str:
    return f"CASE WHEN ({_jl_proj_sql(vec, j)}) >= 0 THEN 1 ELSE 0 END"


_srp_agree_sql = " + ".join(
    f"(CASE WHEN ({_srp_bit_sql('va', j)}) = ({_srp_bit_sql('vb', j)})"
    " THEN 1 ELSE 0 END)"
    for j in range(_JL_K)
)

_srp_dot_sql = (
    f"list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> va[i] * vb[i]), (acc, x) -> acc + x)"
)
_srp_na_sql = (
    f"sqrt(list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> va[i] * va[i]), (acc, x) -> acc + x))"
)
_srp_nb_sql = (
    f"sqrt(list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> vb[i] * vb[i]), (acc, x) -> acc + x))"
)

SRP_AGREE_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a,
         CAST(a.embedding AS DOUBLE[]) AS va,
         CAST(b.embedding AS DOUBLE[]) AS vb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
),
scored AS (
  SELECT CAST({_srp_agree_sql} AS BIGINT) AS n_agree,
         acos(least(greatest(({_srp_dot_sql})
              / (({_srp_na_sql}) * ({_srp_nb_sql})), -1.0), 1.0)) AS theta
  FROM pairs
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(n_agree) AS DOUBLE) / ({_JL_K} * count(*)), 4)
           AS measured_agreement,
       round(CAST(sum(CAST(round((1.0 - theta / pi()) * 1e8) AS BIGINT)) AS DOUBLE)
             / 1e8 / count(*), 4) AS predicted_agreement,
       round(CAST(sum(CAST(round(abs(CAST(n_agree AS DOUBLE) / {_JL_K}
                                     - (1.0 - theta / pi())) * 1e8) AS BIGINT))
             AS DOUBLE) / 1e8 / count(*), 4) AS mean_abs_gap
FROM scored
"""


@register("embedding_srp_bit_agreement", SRP_AGREE_ORACLE)
def embedding_srp_bit_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP bit-agreement audit, numpy-kernel edition.

    The 16 projections x 2 vectors + 3 cosine folds per pair were
    interpreted ``F.aggregate`` folds (~12 s warm at sf0.1); the
    mapInPandas kernel does the same arithmetic vectorized. EXACTNESS:
    every JVM fold here is a left-to-right DOUBLE accumulation over
    i = 1..64, so the kernel accumulates with a sequential loop over
    the dimension axis (one vectorized ``acc += term_i`` per step) —
    the identical IEEE addition sequence per row, NOT a BLAS dot
    (pairwise summation could differ in the last ulp and flip a
    near-zero projection bit). Signs come from the same portable
    hash family via ``npkernels.srp_sign_matrix``; acos/sqrt stay
    JVM-side so the libm surface vs the oracle is unchanged.
    """
    import numpy as np
    import pandas as pd

    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = a.join(b, "id_a")

    def run(batches):
        from insurance_helper_spark.functions.npkernels import srp_sign_matrix

        S = srp_sign_matrix(_JL_D, _JL_K)  # (d, k) of +-1.0
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.array(list(pdf["va"]), dtype=np.float64)
            vb = np.array(list(pdf["vb"]), dtype=np.float64)
            n = len(pdf)
            pa = np.zeros((n, _JL_K))
            pb = np.zeros((n, _JL_K))
            dot = np.zeros(n)
            na2 = np.zeros(n)
            nb2 = np.zeros(n)
            for i in range(_JL_D):  # sequential i order == the fold's order
                ca, cb = va[:, i], vb[:, i]
                pa += ca[:, None] * S[i]
                pb += cb[:, None] * S[i]
                dot += ca * cb
                na2 += ca * ca
                nb2 += cb * cb
            n_agree = ((pa >= 0) == (pb >= 0)).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"n_agree": n_agree, "dot": dot, "na2": na2, "nb2": nb2}
            )

    raw = pairs.mapInPandas(
        run, schema="n_agree bigint, dot double, na2 double, nb2 double"
    )
    theta = F.acos(
        F.least(
            F.greatest(
                F.col("dot") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
                F.lit(-1.0),
            ),
            F.lit(1.0),
        )
    )
    scored = raw.select(F.col("n_agree"), theta.alias("theta"))
    pred = 1.0 - F.col("theta") / F.lit(3.141592653589793)
    meas = F.col("n_agree").cast("double") / _JL_K
    return scored.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.sum("n_agree").cast("double") / (_JL_K * F.count("*")), 4
        ).alias("measured_agreement"),
        F.round(
            F.sum(F.round(pred * 1e8).cast("long")).cast("double") / 1e8 / F.count("*"),
            4,
        ).alias("predicted_agreement"),
        F.round(
            F.sum(F.round(F.abs(meas - pred) * 1e8).cast("long")).cast("double")
            / 1e8
            / F.count("*"),
            4,
        ).alias("mean_abs_gap"),
    )


# ---------------------------------------------------------------------------
# embedding_centroid_distance_matrix — pairwise cosine between LABEL
# centroids (the inter-cluster separation half of the diagnostic whose
# intra-cluster half is embedding_centroid_stats): well-separated
# centroids are what make IVF probing and centroid-routed semantic
# dedup work; a pair at cosine ~1 means two labels are one cluster.
# Scale: centroids are a labels × d relation built by ONE map-side-
# combined aggregation (corpus volume gone after it); the pair matrix
# is labels², never corpus-sized. ENGINE PARITY: centroid means and
# every dot/norm fold sum round(·1eN) AS BIGINT (the r7 sweep
# pattern); pairs rank/order only on exact keys.
# ---------------------------------------------------------------------------

CENTROID_DIST_ORACLE = """
WITH ex AS (
  SELECT label, i + 1 AS dim, CAST(embedding[i + 1] AS DOUBLE) AS val
  FROM (SELECT label, embedding, unnest(range(len(embedding))) AS i FROM embeddings)
),
cent AS (
  SELECT label, dim,
         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS c
  FROM ex GROUP BY 1, 2
),
cn AS (
  SELECT label,
         sqrt(CAST(sum(CAST(round(c * c * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nc
  FROM cent GROUP BY 1
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(sum(CAST(round(a.c * b.c * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       round(d.dot / (na.nc * nb.nc), 4) AS centroid_cosine
FROM dots d
JOIN cn na ON d.label_a = na.label
JOIN cn nb ON d.label_b = nb.label
ORDER BY label_a, label_b
"""


@register("embedding_centroid_distance_matrix", CENTROID_DIST_ORACLE)
def embedding_centroid_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", columns=["embedding", "label"])
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "val"),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    cent = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
            / 1e9
            / F.count("*")
        ).alias("c")
    )
    cent = cent.localCheckpoint(eager=True)  # feeds norms + both pair sides
    cn = cent.groupBy("label").agg(
        F.sqrt(
            F.sum(F.round(F.col("c") * F.col("c") * 1e12).cast("long")).cast("double")
            / 1e12
        ).alias("nc")
    )
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            (
                F.sum(
                    F.round(F.col("ca") * F.col("cb") * 1e12).cast("long")
                ).cast("double")
                / 1e12
            ).alias("dot")
        )
    )
    return (
        dots.join(
            F.broadcast(cn.select(F.col("label").alias("label_a"), F.col("nc").alias("na"))),
            "label_a",
        )
        .join(
            F.broadcast(cn.select(F.col("label").alias("label_b"), F.col("nc").alias("nb"))),
            "label_b",
        )
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias(
                "centroid_cosine"
            ),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# embedding_norm_percentiles — per-label L2-norm distribution (p10 /
# p50 / p90 + mean): the pre-flight that catches un-normalized or
# collapsed embedding batches before cosine math silently degrades.
# DISTRIBUTED SHAPE: norms are quantized to 1e-4 resolution and
# VALUE-COLLAPSED per label, so percentile selection is exact integer
# rank arithmetic (ceil(q·n/100) via (q·n+99) DIV 100) on cumulative
# counts over the reduced relation — the KS/PSI stance; no per-row
# sort window anywhere. ENGINE PARITY: the per-row norm fold and the
# mean fold are quantized BIGINT sums; rank selection compares exact
# integers only.
# ---------------------------------------------------------------------------

NORM_PCT_ORACLE = """
WITH norms AS (
  SELECT label,
         CAST(round(sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x), (acc, x) -> acc + x)) * 1e4) AS BIGINT) AS nq
  FROM embeddings
),
vc AS (SELECT label, nq, CAST(count(*) AS BIGINT) AS cnt FROM norms GROUP BY label, nq),
cum AS (
  SELECT label, nq, cnt,
         sum(cnt) OVER (PARTITION BY label ORDER BY nq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt,
         sum(cnt) OVER (PARTITION BY label) AS n
  FROM vc
)
SELECT label,
       CAST(any_value(n) AS BIGINT) AS n_vecs,
       round(min(CASE WHEN cum_cnt >= (10 * n + 99) // 100 THEN nq END) / 1e4, 4) AS p10_norm,
       round(min(CASE WHEN cum_cnt >= (50 * n + 99) // 100 THEN nq END) / 1e4, 4) AS p50_norm,
       round(min(CASE WHEN cum_cnt >= (90 * n + 99) // 100 THEN nq END) / 1e4, 4) AS p90_norm,
       round(CAST(sum(nq * cnt) AS DOUBLE) / 1e4 / any_value(n), 4) AS mean_norm
FROM cum
GROUP BY label
ORDER BY label
"""


@register("embedding_norm_percentiles", NORM_PCT_ORACLE)
def embedding_norm_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings", columns=["embedding", "label"])
    norm_fold = F.expr(
        "aggregate(transform(cast(embedding as array<double>), x -> x * x),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    norms = emb.select(
        "label", F.round(F.sqrt(norm_fold) * 1e4).cast("long").alias("nq")
    )
    vc = norms.groupBy("label", "nq").agg(F.count("*").cast("long").alias("cnt"))
    wc = (
        W.partitionBy("label")
        .orderBy("nq")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wl = W.partitionBy("label")
    cum = vc.select(
        "label",
        "nq",
        "cnt",
        F.sum("cnt").over(wc).alias("cum_cnt"),
        F.sum("cnt").over(wl).alias("n"),
    )

    def pct(q: int):
        tgt = F.expr(f"({q} * n + 99) div 100")
        return F.round(
            F.min(F.when(F.col("cum_cnt") >= tgt, F.col("nq"))) / 1e4, 4
        ).alias(f"p{q}_norm")

    return (
        cum.groupBy("label")
        .agg(
            F.any_value("n").cast("long").alias("n_vecs"),
            pct(10),
            pct(50),
            pct(90),
            F.round(
                F.sum(F.col("nq") * F.col("cnt")).cast("double")
                / 1e4
                / F.any_value("n"),
                4,
            ).alias("mean_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# similarity_ann_recall_eval — measured recall@10 of the banded-SRP
# ANN tier against the exact cosine top-10, ORACLE-BACKED: the 16 SRP
# sign bits (same deterministic hash-family sign matrix as the JL/
# bit-agreement rows) split into 4 bands of 4 bits; a corpus vector
# is a candidate iff it shares ≥1 band with the query. This turns
# the rows-only LSH tier's recall claim into a value-hashed number —
# the eval harness a 100 TB ANN deployment runs on a sample before
# trusting the index. The measured ~0.43 recall @ ~24% scan is
# DATA-BOUND, not an index defect: the fixture embeddings are isotropic
# (see similarity_ann_frontier_eval, which measures the full
# recall/scan frontier at three operating points including multiprobe
# and IVF tiers). Sampling (vec_id % 20), signatures, band keys,
# and the (cos6, id) ranking are all deterministic on both engines.
# Scale: candidates come from 4 UNIONed band EQUI-joins (the
# production plan — never the OR-join a naive formulation implies);
# the exact side is query-sample × corpus with the sample broadcast,
# the sanctioned brute-force baseline being audited.
# ---------------------------------------------------------------------------

_ANN_Q_MOD = 20
_ANN_TOPK = 10

_ann_band_sql = {
    f"b{t}": " + ".join(
        f"(CASE WHEN p{4 * t + j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
    )
    for t in range(4)
}

_ann_cos_sql = (
    f"round((list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> va[i] * vb[i]), (acc, x) -> acc + x))"
    f" / (sqrt(list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> va[i] * va[i]), (acc, x) -> acc + x))"
    f" * sqrt(list_reduce(list_transform(range(1, {_JL_D} + 1),"
    " i -> vb[i] * vb[i]), (acc, x) -> acc + x))), 6)"
)

ANN_RECALL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
),
proj AS (
  SELECT vec_id, vv,
         {", ".join(f"({_jl_proj_sql('vv', j)}) AS p{j}" for j in range(_JL_K))}
  FROM v
),
sig AS (
  SELECT vec_id, vv,
         {", ".join(f"({expr}) AS {name}" for name, expr in _ann_band_sql.items())}
  FROM proj
),
q AS (SELECT * FROM sig WHERE vec_id % {_ANN_Q_MOD} = 0),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, s.vec_id AS cid
  FROM q JOIN sig s ON s.vec_id <> q.vec_id
   AND (q.b0 = s.b0 OR q.b1 = s.b1 OR q.b2 = s.b2 OR q.b3 = s.b3)
),
exact_scored AS (
  SELECT qid, cid, {_ann_cos_sql} AS cos6 FROM (
    SELECT q.vec_id AS qid, s.vec_id AS cid, q.vv AS va, s.vv AS vb
    FROM q JOIN sig s ON s.vec_id <> q.vec_id
  )
),
exact_top AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, cid) AS rk
    FROM exact_scored
  ) WHERE rk <= {_ANN_TOPK}
),
lsh_scored AS (
  SELECT qid, cid, {_ann_cos_sql} AS cos6 FROM (
    SELECT c.qid, c.cid, a.vv AS va, b.vv AS vb
    FROM cand c JOIN v a ON c.qid = a.vec_id JOIN v b ON c.cid = b.vec_id
  )
),
lsh_top AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, cid) AS rk
    FROM lsh_scored
  ) WHERE rk <= {_ANN_TOPK}
),
hits AS (
  SELECT e.qid, e.cid FROM exact_top e JOIN lsh_top l
    ON e.qid = l.qid AND e.cid = l.cid
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
       (SELECT CAST(count(*) AS BIGINT) FROM exact_top) AS total_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS total_hits,
       round((SELECT count(*) FROM hits) * 1.0
             / (SELECT count(*) FROM exact_top), 6) AS recall_at_10,
       round((SELECT count(*) FROM cand) * 1.0
             / (SELECT count(*) FROM q), 2) AS avg_candidates
"""


def _srp_sig_df(vecs: DataFrame) -> DataFrame:
    """(vec_id, b0..b3) 4-bit SRP band keys via the numpy kernel —
    sequential dimension-order accumulation, bit-exact vs the
    F.aggregate/list_reduce projection folds (the
    embedding_srp_bit_agreement contract)."""
    import numpy as np
    import pandas as pd

    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(vecs.sparkSession)

    def run(batches):
        from insurance_helper_spark.functions.npkernels import srp_sign_matrix

        S = srp_sign_matrix(_JL_D, _JL_K)
        for pdf in batches:
            if not len(pdf):
                continue
            blk = np.array(list(pdf["vv"]), dtype=np.float64)
            n = len(pdf)
            pa = np.zeros((n, _JL_K))
            for i in range(_JL_D):  # sequential i order == the fold's order
                pa += blk[:, i : i + 1] * S[i]
            bits = (pa >= 0).astype(np.int64)
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)}
            for t in range(4):
                out[f"b{t}"] = sum(bits[:, 4 * t + j] << j for j in range(4))
            yield pd.DataFrame(out)

    return vecs.mapInPandas(
        run, schema="vec_id bigint, b0 bigint, b1 bigint, b2 bigint, b3 bigint"
    )


def _ann_topk(scored: DataFrame) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.desc("cos6"), "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ANN_TOPK)
        .select("qid", "cid")
    )


def _query_matrix_bcast(spark: SparkSession, qv: DataFrame):
    """Broadcast the (qid, va) QUERY side as driver numpy arrays —
    the sanctioned broadcast-side materialization (Arrow columnar
    buffers via arrow_id_matrix, never Row objects; same pattern as
    the exact-GEMM dispatch and the bitext grid). The query side is
    |corpus|/20 rows of 64 doubles — ~25 MB even at the 1M-vector
    dispatch ceiling."""
    from insurance_helper_spark.operators.similarity import arrow_id_matrix

    q_ids, q_mat = arrow_id_matrix(qv, "qid", "va")
    return spark.sparkContext.broadcast((q_ids, q_mat))


_SCORE_SCHEMA = "qid bigint, cid bigint, dot double, na2 double, nb2 double"


def _cos6_jvm(raw: DataFrame) -> DataFrame:
    """JVM-side rounding of the kernel's (dot, na2, nb2) triples —
    keeps the libm/rounding surface vs the oracle unchanged
    (the scoring contract every ANN leg shares)."""
    cos6 = F.round(F.col("dot") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6)
    return raw.select("qid", "cid", cos6.alias("cos6"))


def _score6_vs_all_queries(spark: SparkSession, cv: DataFrame, bq) -> DataFrame:
    """(qid, cid, cos6) for EVERY (query, corpus) pair — the exact
    brute-force leg — scanning the corpus ONCE against the broadcast
    query matrix (r14, guide §4.1/§2.3): the former plan replicated
    every corpus vector once per query and shipped TWO 64-double
    arrays per pair row through Arrow — |q|·|corpus|·1 KB of kernel
    input (quadratic bytes; 20 GB at sf1) for a scoring decision that
    needs each vector once. Accumulation stays the SEQUENTIAL
    dimension order of the former per-pair kernel (per-element `dot += ca*cb` at
    step i, vectorized across the (m, q) block), so dot/na2/nb2 — and
    the JVM-rounded cos6 — are bit-identical."""
    import numpy as np
    import pandas as pd

    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def run(batches):
        qids, qmat = bq.value  # (q,), (q, D)
        nq = len(qids)
        na2 = np.zeros(nq)
        for i in range(_JL_D):  # sequential == list_reduce order
            ca = qmat[:, i]
            na2 += ca * ca
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["cid"].to_numpy(dtype=np.int64)
            blk = np.array(list(pdf["vb"]), dtype=np.float64)
            m = len(cids)
            dot = np.zeros((m, nq))
            nb2 = np.zeros(m)
            for i in range(_JL_D):
                cb = blk[:, i]
                dot += cb[:, None] * qmat[:, i][None, :]
                nb2 += cb * cb
            yield pd.DataFrame(
                {
                    "qid": np.tile(qids, m),
                    "cid": np.repeat(cids, nq),
                    "dot": dot.ravel(),
                    "na2": np.tile(na2, m),
                    "nb2": np.repeat(nb2, nq),
                }
            )

    raw = cv.mapInPandas(run, schema=_SCORE_SCHEMA)
    return _cos6_jvm(raw.where(F.col("qid") != F.col("cid")))


def _score6_pairs_bcast(spark: SparkSession, cand_vb: DataFrame, bq) -> DataFrame:
    """(qid, cid, cos6) for a candidate (qid, cid, vb) relation: the
    query vector is looked up from the broadcast matrix INSIDE the
    kernel (r14), so each candidate row carries one 64-double array
    across the boundary instead of two — and the former join to the
    query-vector relation disappears from the plan entirely. Same
    sequential-dimension accumulation; bit-identical triples."""
    import numpy as np
    import pandas as pd

    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def run(batches):
        qids, qmat = bq.value
        order = np.argsort(qids)
        sq = qids[order]
        nq = len(qids)
        na2_all = np.zeros(nq)
        for i in range(_JL_D):
            ca = qmat[:, i]
            na2_all += ca * ca
        for pdf in batches:
            if not len(pdf):
                continue
            qid = pdf["qid"].to_numpy(dtype=np.int64)
            cid = pdf["cid"].to_numpy(dtype=np.int64)
            blk = np.array(list(pdf["vb"]), dtype=np.float64)
            idx = order[np.searchsorted(sq, qid)]
            qsel = qmat[idx]  # (m, D)
            m = len(qid)
            dot = np.zeros(m)
            nb2 = np.zeros(m)
            for i in range(_JL_D):
                cb = blk[:, i]
                ca = qsel[:, i]
                dot += ca * cb
                nb2 += cb * cb
            yield pd.DataFrame(
                {"qid": qid, "cid": cid, "dot": dot, "na2": na2_all[idx], "nb2": nb2}
            )

    return _cos6_jvm(cand_vb.mapInPandas(run, schema=_SCORE_SCHEMA))


@register("similarity_ann_recall_eval", ANN_RECALL_ORACLE)
def similarity_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall evaluation: SRP-bucketed candidates scored against the exact cosine top-k ground truth."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    ).localCheckpoint(eager=True)
    # signatures + all pair scoring in numpy kernels (bit-exact vs the
    # former interpreted folds — measured 13.9 s -> ~3 s warm at sf0.1)
    sig = _srp_sig_df(vecs).localCheckpoint(eager=True)
    q = sig.where(F.col("vec_id") % _ANN_Q_MOD == 0)

    # Production plan: one equi-join per band, unioned, distinct —
    # never the OR-join (which degenerates to a nested loop).
    cand = None
    for t in range(4):
        qt = q.select(F.col("vec_id").alias("qid"), F.col(f"b{t}").alias("bk"))
        st = sig.select(F.col("vec_id").alias("cid"), F.col(f"b{t}").alias("bk"))
        part = qt.join(st, "bk").where(F.col("qid") != F.col("cid")).select("qid", "cid")
        cand = part if cand is None else cand.unionByName(part)
    cand = cand.distinct()

    qv = vecs.where(F.col("vec_id") % _ANN_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("vv").alias("va")
    )
    # r14: the query side broadcasts as a driver numpy matrix; the
    # exact leg scans the corpus ONCE against it (quadratic kernel
    # INPUT bytes removed — see _score6_vs_all_queries) and the LSH
    # leg fetches only the corpus vector per candidate pair. The
    # repartition sizes the block side by compute fan-out, not
    # file-split count (r12 sf1 probe).
    bq = _query_matrix_bcast(spark, qv)
    cv = vecs.select(F.col("vec_id").alias("cid"), F.col("vv").alias("vb")).repartition(
        spark.sparkContext.defaultParallelism
    )
    exact_top = _ann_topk(_score6_vs_all_queries(spark, cv, bq))
    lsh_top = _ann_topk(
        _score6_pairs_bcast(spark, cand.join(cv, "cid").select("qid", "cid", "vb"), bq)
    )
    hits = exact_top.join(lsh_top, ["qid", "cid"])
    nq = q.agg(F.count("*").cast("long").alias("n_queries"))
    ne = exact_top.agg(F.count("*").cast("long").alias("total_exact"))
    nh = hits.agg(F.count("*").cast("long").alias("total_hits"))
    nc = cand.agg(F.count("*").cast("long").alias("n_cand"))
    return (
        nq.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nh))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_queries",
            "total_exact",
            "total_hits",
            F.round(F.col("total_hits") * 1.0 / F.col("total_exact"), 6).alias(
                "recall_at_10"
            ),
            F.round(F.col("n_cand") * 1.0 / F.col("n_queries"), 2).alias(
                "avg_candidates"
            ),
        )
    )


# ---------------------------------------------------------------------------
# similarity_ann_frontier_eval — the measured recall/scan FRONTIER of
# the engine's ANN tiers at three operating points, in one
# oracle-backed relation:
#   srp_bucket_16b4   — 16-bit SRP, 4 bands x 4 bits, exact buckets
#   srp_multiprobe_h1 — same bands, probing Hamming<=1 per band key
#   ivf_k16_nprobe4   — knuth-seeded k=16 coarse quantizer, one Lloyd
#                       refinement (quantized-integer means), probe the
#                       4 nearest centroids
# WHY A FRONTIER, NOT ONE TUNED POINT: the fixture embeddings are
# ISOTROPIC random vectors — measured within-label mean cosine 0.0005
# vs cross-label 0.0006, exact 10th-NN cosine ~0.32, and label-sharing
# among exact top-10 at chance (9.9% for 10 labels). With no angular
# structure, sublinear recall at high precision is information-
# theoretically unavailable (LSH guarantees need a near/far gap), so
# ANY index tier on this data trades recall ~ proportionally to scan.
# The honest deliverable is the measured frontier; on a real clustered
# corpus the identical tiers sit far above it (bucket mass concentrates
# with the neighbors). Scale: signatures/assignments are one kernel
# pass each; candidates come from band/cell EQUI-joins (never OR-joins
# or all-pairs); the exact side is the sanctioned query-sample x corpus
# brute force being audited, computed by one BLAS-shaped kernel pass.
# ---------------------------------------------------------------------------

_IVF_K = 16
_IVF_NPROBE = 4
_MP_FLIPS = [0, 1, 2, 4, 8]  # band key XOR masks: exact + 4 Hamming-1 probes

_ANN_FRONTIER_ORACLE = f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
),
proj AS (
  SELECT vec_id, vv,
         {", ".join(f"({_jl_proj_sql('vv', j)}) AS p{j}" for j in range(_JL_K))}
  FROM v
),
sig AS MATERIALIZED (
  SELECT vec_id, vv,
         {", ".join(f"({expr}) AS {name}" for name, expr in _ann_band_sql.items())}
  FROM proj
),
sig_long AS MATERIALIZED (
  {" UNION ALL ".join(f"SELECT vec_id, {t} AS t, b{t} AS key FROM sig" for t in range(4))}
),
q AS MATERIALIZED (SELECT * FROM sig WHERE vec_id % {_ANN_Q_MOD} = 0),
exact_top AS MATERIALIZED (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (
             PARTITION BY qid ORDER BY cos6 DESC, cid) AS rk
    FROM (SELECT q.vec_id AS qid, s.vec_id AS cid, {_ann_cos_sql} AS cos6
          FROM (SELECT vec_id, vv AS va FROM q) q
          JOIN (SELECT vec_id, vv AS vb FROM sig) s ON s.vec_id <> q.vec_id)
  ) WHERE rk <= {_ANN_TOPK}
),
-- tier 1: exact band buckets
cand_bucket AS MATERIALIZED (
  SELECT DISTINCT ql.vec_id AS qid, s.vec_id AS cid
  FROM (SELECT * FROM sig_long WHERE vec_id % {_ANN_Q_MOD} = 0) ql
  JOIN sig_long s ON s.t = ql.t AND s.key = ql.key AND s.vec_id <> ql.vec_id
),
-- tier 2: multiprobe, Hamming<=1 per band key
cand_mp AS MATERIALIZED (
  SELECT DISTINCT ql.vec_id AS qid, s.vec_id AS cid
  FROM (SELECT vec_id, t, xor(key, f.f) AS key
        FROM sig_long CROSS JOIN (SELECT unnest({_MP_FLIPS}) AS f) f
        WHERE vec_id % {_ANN_Q_MOD} = 0) ql
  JOIN sig_long s ON s.t = ql.t AND s.key = ql.key AND s.vec_id <> ql.vec_id
),
-- tier 3: IVF coarse quantizer (knuth seeds, one quantized Lloyd step)
seeds AS (
  SELECT vec_id AS centroid_id, vv AS cvec FROM v
  ORDER BY ((vec_id % {_KR}) * {_KMUL}) % {_KMOD}, vec_id
  LIMIT {_IVF_K}
),
a1 AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, s.centroid_id AS cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_cosine_similarity(v.vv, s.cvec), 4) DESC,
                      s.centroid_id) AS rn
    FROM v CROSS JOIN seeds s) WHERE rn = 1
),
cent2 AS MATERIALIZED (
  SELECT cell, list(mu ORDER BY dim) AS cvec FROM (
    SELECT a1.cell, i.i AS dim,
           CAST(sum(CAST(round(v.vv[i.i + 1] * 1e9) AS BIGINT)) AS DOUBLE)
             / 1e9 / count(*) AS mu
    FROM a1 JOIN v USING (vec_id)
    CROSS JOIN (SELECT unnest(range(0, {_JL_D})) AS i) i
    GROUP BY a1.cell, i.i)
  GROUP BY cell
),
a2 AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_cosine_similarity(v.vv, c.cvec), 4) DESC,
                      c.cell) AS rn
    FROM v CROSS JOIN cent2 c) WHERE rn = 1
),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.vec_id AS qid, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.vv, c.cvec), 4) DESC,
                      c.cell) AS rn
    FROM q CROSS JOIN cent2 c) WHERE rn <= {_IVF_NPROBE}
),
cand_ivf AS MATERIALIZED (
  SELECT DISTINCT p.qid, a2.vec_id AS cid
  FROM probes p JOIN a2 ON a2.cell = p.cell
  WHERE a2.vec_id <> p.qid
),
shared AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
         (SELECT CAST(count(*) AS BIGINT) FROM exact_top) AS total_exact,
         (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_corpus
),
tiers AS (
  SELECT 'srp_bucket_16b4' AS tier, qid, cid FROM cand_bucket
  UNION ALL SELECT 'srp_multiprobe_h1', qid, cid FROM cand_mp
  UNION ALL SELECT 'ivf_k16_nprobe4', qid, cid FROM cand_ivf
),
tier_top AS MATERIALIZED (
  SELECT tier, qid, cid FROM (
    SELECT t.tier, t.qid, t.cid, row_number() OVER (
             PARTITION BY t.tier, t.qid ORDER BY cos6 DESC, t.cid) AS rk
    FROM (SELECT t.tier, t.qid, t.cid, {_ann_cos_sql} AS cos6
          FROM tiers t
          JOIN (SELECT vec_id, vv AS va FROM v) a ON a.vec_id = t.qid
          JOIN (SELECT vec_id, vv AS vb FROM v) b ON b.vec_id = t.cid) t
  ) WHERE rk <= {_ANN_TOPK}
),
per_tier AS (
  SELECT t.tier,
         CAST(count(*) AS BIGINT) AS n_cand,
         (SELECT CAST(count(*) AS BIGINT) FROM tier_top tt
            JOIN exact_top e ON tt.qid = e.qid AND tt.cid = e.cid
          WHERE tt.tier = t.tier) AS total_hits
  FROM tiers t GROUP BY t.tier
)
SELECT p.tier,
       s.n_queries, s.total_exact,
       CAST(p.total_hits AS BIGINT) AS total_hits,
       round(p.total_hits * 1.0 / s.total_exact, 6) AS recall_at_10,
       round(p.n_cand * 1.0 / s.n_queries, 2) AS avg_candidates,
       round(p.n_cand * 1.0 / (s.n_queries * s.n_corpus), 4) AS scan_frac
FROM per_tier p CROSS JOIN shared s
ORDER BY p.tier
"""


@register("similarity_ann_frontier_eval", _ANN_FRONTIER_ORACLE)
def similarity_ann_frontier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three ANN operating points, one value-hashed relation — see the
    block comment above for why the deliverable is a frontier (the
    fixture embeddings are isotropic; measured r8 recall 0.43 @ 24%
    scan is data-bound, not an index defect).

    Spark plan: SRP signatures and all pair scoring run in numpy
    mapInPandas kernels with SEQUENTIAL dimension-order accumulation
    (bit-exact vs the F.aggregate/list_reduce folds — the
    embedding_srp_bit_agreement contract); cosine-vs-centroid
    assignments reuse the proven JVM `_cosine` + round(4) pair from
    ml_kmeans_lloyd_step; Lloyd means are exact 1e9-quantized integer
    sums. Candidates come from band/cell equi-joins; the multiprobe
    tier explodes 5 XOR keys per (query, band) and equi-joins — never
    an OR-join.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    ).localCheckpoint(eager=True)
    sig = _srp_sig_df(vecs).localCheckpoint(eager=True)
    sig_long = sig.selectExpr(
        "vec_id", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (t, key)"
    )
    q_long = sig_long.where(F.col("vec_id") % _ANN_Q_MOD == 0)

    qv = vecs.where(F.col("vec_id") % _ANN_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("vv").alias("va")
    )
    # r14: ONE broadcast query matrix serves the exact leg and all
    # three tier scorings (see _score6_vs_all_queries /
    # _score6_pairs_bcast — quadratic kernel-input bytes removed, one
    # join per scored leg dropped). The repartition sizes the block
    # side by compute fan-out, not file-split count (r12 sf1 probe).
    bq = _query_matrix_bcast(spark, qv)
    cv = vecs.select(F.col("vec_id").alias("cid"), F.col("vv").alias("vb")).repartition(
        spark.sparkContext.defaultParallelism
    )
    exact_top = _ann_topk(_score6_vs_all_queries(spark, cv, bq)).localCheckpoint(
        eager=True
    )

    # tier 1 + 2 candidates: band-key equi-joins (flips=[0] is tier 1)
    def srp_cand(flips):
        keys = q_long
        if len(flips) > 1:
            fdf = spark.createDataFrame([(f,) for f in flips], "f int")
            keys = q_long.crossJoin(F.broadcast(fdf)).select(
                "vec_id", "t", F.expr("int(key) ^ f").cast("long").alias("key")
            )
        joined = keys.select(
            F.col("vec_id").alias("qid"), "t", "key"
        ).join(
            sig_long.select(F.col("vec_id").alias("cid"), "t", "key"), ["t", "key"]
        )
        return joined.where(F.col("qid") != F.col("cid")).select("qid", "cid").distinct()

    cand_bucket = srp_cand([0])
    cand_mp = srp_cand(_MP_FLIPS)

    # tier 3: IVF — knuth seeds, one quantized Lloyd step, probe 4 cells
    hkey = (F.col("vec_id") % _KR) * _KMUL % _KMOD
    seeds = (
        vecs.orderBy(hkey, "vec_id")
        .limit(_IVF_K)
        .select(F.col("vec_id").alias("centroid_id"), F.col("vv").alias("cvec"))
    )

    # r14 (continuation): both Lloyd assignment passes run through the
    # kernel operators/vector_store._assign (one mapInPandas scan vs a
    # k-per-vector crossJoin + per-vec_id window — bit-identical
    # arithmetic, see that operator's docstring), and the mean rollup
    # reads vv straight off the kernel output instead of re-joining
    # vecs. Each pass collects its k centroids to the driver first.
    from insurance_helper_spark.operators.vector_store import _assign as _vs_assign
    from insurance_helper_spark.operators.vector_store import collect_quantizer

    def assign(base, cents, id_out):
        q = collect_quantizer(cents.select(F.col("centroid_id").alias("cell"), "cvec"))
        return _vs_assign(base, q).select(F.col("vec_id").alias(id_out), "cell", "vv")

    a1 = assign(vecs, seeds, "vec_id")
    cent2 = (
        a1.select("cell", F.posexplode(F.col("vv")).alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(
            (
                F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
                / 1e9
                / F.count("*")
            ).alias("mu")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s.mu
            ).alias("cvec")
        )
        .select(F.col("cell").alias("centroid_id"), "cvec")
        .localCheckpoint(eager=True)
    )
    a2 = assign(vecs, cent2, "cid").select("cid", "cell").localCheckpoint(eager=True)
    probes_scored = (
        vecs.where(F.col("vec_id") % _ANN_Q_MOD == 0)
        .crossJoin(F.broadcast(cent2))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("centroid_id").alias("cell"),
            F.round(_cosine(F.col("vv"), F.col("cvec")), 4).alias("cos_c"),
        )
    )
    wp = W.partitionBy("qid").orderBy(F.desc("cos_c"), "cell")
    probes = (
        probes_scored.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "cell")
    )
    cand_ivf = (
        probes.join(a2, "cell")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )

    # r15 (VERDICT r14 item 7): nq comes off the already-broadcast query
    # matrix — no count job; n_corpus is one cheap count over the
    # checkpointed vecs blocks.
    nq = int(len(bq.value[0]))
    n_corpus = vecs.count()
    ne_df = exact_top.agg(F.count("*").cast("long").alias("total_exact"))

    # r15: ONE kernel pass scores the DISTINCT union of all three
    # tiers' candidate pairs (bucket ⊆ multiprobe by construction, and
    # ivf overlaps heavily — the union is ~60% of the three legs'
    # summed pair counts), then tier membership joins the cos6 back.
    # The former per-tier loop launched three mapInPandas scoring
    # stages, three top-k windows, three exact joins and three
    # checkpoints; now one of each (guide §2.4 / §4 — fewer Python
    # stage launches, fewer bytes through Arrow). Per-pair cos6 is a
    # row-independent function of the pair, so scoring the union is
    # value-identical per tier.
    tagged = (
        cand_bucket.select(F.lit("srp_bucket_16b4").alias("tier"), "qid", "cid")
        .unionByName(
            cand_mp.select(F.lit("srp_multiprobe_h1").alias("tier"), "qid", "cid")
        )
        .unionByName(
            cand_ivf.select(F.lit("ivf_k16_nprobe4").alias("tier"), "qid", "cid")
        )
        .localCheckpoint(eager=True)
    )
    pairs = tagged.select("qid", "cid").distinct()
    scored = _score6_pairs_bcast(
        spark, pairs.join(cv, "cid").select("qid", "cid", "vb"), bq
    )
    wt = W.partitionBy("tier", "qid").orderBy(F.desc("cos6"), "cid")
    t_top = (
        tagged.join(scored, ["qid", "cid"])
        .withColumn("rk", F.row_number().over(wt))
        .where(F.col("rk") <= _ANN_TOPK)
        .select("tier", "qid", "cid")
    )
    nh = (
        t_top.join(exact_top, ["qid", "cid"])
        .groupBy("tier")
        .agg(F.count("*").cast("long").alias("total_hits"))
    )
    nc = tagged.groupBy("tier").agg(F.count("*").cast("long").alias("n_cand"))
    # left join + coalesce: a tier whose top-k hits nothing still
    # reports a 0 (the oracle's correlated-count semantics).
    return (
        nc.join(nh, "tier", "left")
        .withColumn("total_hits", F.coalesce(F.col("total_hits"), F.lit(0).cast("long")))
        .crossJoin(F.broadcast(ne_df))
        .select(
            "tier",
            F.lit(nq).cast("long").alias("n_queries"),
            "total_exact",
            "total_hits",
            F.round(F.col("total_hits") * 1.0 / F.col("total_exact"), 6).alias(
                "recall_at_10"
            ),
            F.round(F.col("n_cand") * 1.0 / F.lit(nq), 2).alias("avg_candidates"),
            F.round(
                F.col("n_cand") * 1.0 / (F.lit(nq) * F.lit(n_corpus)), 4
            ).alias("scan_frac"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# retrieval_hybrid_rrf_topk — the composed RAG retrieval query the
# reference declares as its Stage-3 surface ("semantic search / RAG
# querying", /root/reference/README.md:103-137): per query document,
# a LEXICAL leg (Okapi BM25 over the query doc's top-5 distinctive
# terms) and a VECTOR leg (exact cosine vs the query doc's embedding)
# are each ranked to depth 20, then fused by Reciprocal Rank Fusion
# score = 1/(60+lex_rank) + 1/(60+vec_rank) — the standard hybrid
# retrieval pattern (Cormack et al.'s RRF; what Elasticsearch/Vespa
# call "hybrid search"). Returns the fused top-10 per query with both
# leg ranks (0 = not in that leg's top-20).
# DETERMINISM/PARITY: query docs = the 4 smallest Knuth-hash vec_ids
# (embedded corpus only, so both legs always exist); per-term BM25
# contributions are quantized round(·1e9) AS BIGINT before the
# per-(query, doc) sum (libm ln never enters a float sum); leg ranks
# break ties on rounded scores + doc_id; the RRF score is a TWO-TERM
# IEEE expression of exact small integers — bit-identical across
# engines, so the fused ordering needs no quantization.
# Scale: posting-list shape — an in-plan functions/bm25 index whose
# tf rows exist only for the <=20 query terms (semi-join pushdown);
# N/avgdl are driver-side scalars; the vector leg broadcasts 4 query
# vectors; both legs' windows partition on qid. No all-pairs anywhere.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_NQ = 4  # query documents
_RRF_TERMS = 5  # lexical terms per query doc
_RRF_DEPTH = 20  # per-leg rank depth
_RRF_TOPN = 10  # fused results per query

_RRF_TOKS = (
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
)


def _rrf_oracle() -> str:
    from insurance_helper_spark.functions import text as _T

    sw = "', '".join(_T.EN_STOPWORDS)
    cos6 = (
        f"round((list_reduce(list_transform(range(1, {_JL_D} + 1),"
        " i -> va[i] * vb[i]), (acc, x) -> acc + x))"
        f" / (sqrt(list_reduce(list_transform(range(1, {_JL_D} + 1),"
        " i -> va[i] * va[i]), (acc, x) -> acc + x))"
        f" * sqrt(list_reduce(list_transform(range(1, {_JL_D} + 1),"
        " i -> vb[i] * vb[i]), (acc, x) -> acc + x))), 6)"
    )
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
),
corpus AS MATERIALIZED (
  SELECT d.doc_id, CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN [] ELSE {_RRF_TOKS} END AS toks
  FROM documents d JOIN emb ON emb.vec_id = d.doc_id
),
qids AS MATERIALIZED (
  SELECT vec_id AS qid FROM emb
  ORDER BY ((vec_id % {_KR}) * {_KMUL}) % {_KMOD}, vec_id
  LIMIT {_RRF_NQ}
),
qterms AS MATERIALIZED (
  SELECT qid, term FROM (
    SELECT q.qid, term, count(*) AS tf,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY count(*) DESC, term) AS rn
    FROM qids q JOIN corpus c ON c.doc_id = q.qid,
         unnest(c.toks) AS u(term)
    WHERE term NOT IN ('{sw}')
    GROUP BY q.qid, term
  ) WHERE rn <= {_RRF_TERMS}
),
dl AS (SELECT doc_id, len(toks) AS dl FROM corpus),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM corpus
),
tf AS MATERIALIZED (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM corpus)
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
lex AS MATERIALIZED (
  SELECT qid, doc_id, lex_rank FROM (
    SELECT s.qid, s.doc_id, s.bm4,
           row_number() OVER (PARTITION BY s.qid
             ORDER BY s.bm4 DESC, s.doc_id) AS lex_rank
    FROM (
      SELECT qt.qid, tf.doc_id,
             round(CAST(sum(CAST(round(
               ln(1 + (t.n_docs - dft.df + 0.5) / (dft.df + 0.5))
               * tf.tf * (1.2 + 1)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / t.avgdl))
               * 1e9) AS BIGINT)) AS DOUBLE) / 1e9, 4) AS bm4
      FROM qterms qt
      JOIN tf ON tf.term = qt.term
      JOIN dft ON dft.term = qt.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN totals t
      WHERE tf.doc_id <> qt.qid
      GROUP BY qt.qid, tf.doc_id
    ) s
  ) WHERE lex_rank <= {_RRF_DEPTH}
),
vec AS MATERIALIZED (
  SELECT qid, doc_id, vec_rank FROM (
    SELECT p.qid, p.doc_id, p.cos6,
           row_number() OVER (PARTITION BY p.qid
             ORDER BY p.cos6 DESC, p.doc_id) AS vec_rank
    FROM (
      SELECT q.qid, e.vec_id AS doc_id, {cos6} AS cos6
      FROM (SELECT qids.qid, emb.vv AS va FROM qids JOIN emb ON emb.vec_id = qids.qid) q
      JOIN (SELECT vec_id, vv AS vb FROM emb) e ON e.vec_id <> q.qid
    ) p
  ) WHERE vec_rank <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(l.qid, v.qid) AS qid,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(v.vec_rank, 0) AS vec_rank,
         (CASE WHEN l.lex_rank IS NOT NULL
               THEN 1.0 / ({_RRF_K} + l.lex_rank) ELSE 0.0 END)
         + (CASE WHEN v.vec_rank IS NOT NULL
                 THEN 1.0 / ({_RRF_K} + v.vec_rank) ELSE 0.0 END) AS rrf
  FROM lex l FULL JOIN vec v ON l.qid = v.qid AND l.doc_id = v.doc_id
)
SELECT qid, doc_id,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank,
       round(rrf, 6) AS rrf_score,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id)
            AS fused_rank
  FROM fused
) WHERE fused_rank <= {_RRF_TOPN}
ORDER BY qid, fused_rank
"""


@register("retrieval_hybrid_rrf_topk", _rrf_oracle())
def retrieval_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with RRF fusion — see the block
    comment. Reference parity: Stage-3 'semantic search / RAG querying'
    (/root/reference/README.md:103-137), composed from the engine's
    BM25 (functions/bm25) and exact-cosine machinery.
    """
    from pyspark.sql import Window as W

    from insurance_helper_spark.functions import bm25
    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    )
    corpus = (
        docs.join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=True)  # feeds the index + query terms
    )
    hkey = (F.col("vec_id") % _KR) * _KMUL % _KMOD
    qids = (
        emb.orderBy(hkey, "vec_id").limit(_RRF_NQ).select(F.col("vec_id").alias("qid"))
    )
    qterms = (
        F.broadcast(qids)
        .join(corpus, F.col("qid") == F.col("doc_id"))
        .select("qid", F.explode("toks").alias("term"))
        .filter(~F.col("term").isin(*T.EN_STOPWORDS))
        .groupBy("qid", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("tf"), "term")
            ),
        )
        .filter(F.col("rn") <= _RRF_TERMS)
        .select("qid", "term")
    )
    idx = bm25.build_index(corpus, qterms)
    w_lex = W.partitionBy("qid").orderBy(F.desc("bm4"), "doc_id")
    lex = (
        F.broadcast(qterms)
        .join(idx.postings, "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(bm25.quantized_sum(bm25.term_score(idx)).alias("bm4"))
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= _RRF_DEPTH)
        .select("qid", "doc_id", "lex_rank")
    )
    qvec = F.broadcast(qids).join(emb, F.col("qid") == F.col("vec_id")).select(
        "qid", F.col("vv").alias("va")
    )
    w_vec = W.partitionBy("qid").orderBy(F.desc("cos6"), "doc_id")
    vec = (
        emb.select(F.col("vec_id").alias("doc_id"), F.col("vv").alias("vb"))
        .crossJoin(F.broadcast(qvec))
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid",
            "doc_id",
            F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cos6"),
        )
        .withColumn("vec_rank", F.row_number().over(w_vec))
        .filter(F.col("vec_rank") <= _RRF_DEPTH)
        .select("qid", "doc_id", "vec_rank")
    )
    fused = lex.join(vec, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce(F.col("vec_rank"), F.lit(0)).cast("long").alias("vec_rank"),
        (
            F.when(
                F.col("lex_rank").isNotNull(),
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")),
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("vec_rank").isNotNull(),
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")),
            ).otherwise(F.lit(0.0))
        ).alias("rrf"),
    )
    w_f = W.partitionBy("qid").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_TOPN)
        .select(
            "qid",
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round("rrf", 6).alias("rrf_score"),
            "fused_rank",
        )
        .orderBy("qid", "fused_rank")
    )


# ---------------------------------------------------------------------------
# Cluster-quality index family (simplified silhouette, Davies-Bouldin,
# Calinski-Harabasz) over the labeled embedding corpus — the three
# standard "are these clusters real" diagnostics a curation team runs
# after k-means / SemDeDup assignment. All three share one geometry:
# per-label centroids (exact quantized-component means) and per-point
# squared distances to EVERY centroid, computed as one explode +
# broadcast-centroid join whose partial aggregation reduces each task
# to n_points x k cells. No pairwise point-point distances anywhere —
# that is what makes these indices usable at corpus scale while full
# silhouette is O(n^2).
# ---------------------------------------------------------------------------

_GEOM_SQL = """
x AS (
  SELECT vec_id, label, i.i AS dim, CAST(embedding[i.i + 1] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
cent AS (
  SELECT label AS clabel, dim,
         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             / count(*) AS c
  FROM x GROUP BY clabel, dim
),
d2 AS (
  SELECT x.vec_id, x.label, c.clabel,
         CAST(sum(CAST(round((x.val - c.c) * (x.val - c.c) * 1e12) AS BIGINT))
              AS DOUBLE) / 1e12 AS d2
  FROM x JOIN cent c ON c.dim = x.dim
  GROUP BY x.vec_id, x.label, c.clabel
)
"""


def _label_centroid_geometry(spark: SparkSession, sf_dir: str):
    """(x, cent, d2) for the cluster-index family: exploded components,
    per-label centroids, and per-(point, centroid) squared distances.
    Every float product is quantized to BIGINT per row before its
    distributed sum (house parity pattern)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"])
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
    )
    cent = x.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (
            F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
            / 1e9
            / F.count("*")
        ).alias("c")
    )
    diff = F.col("val") - F.col("c")
    d2 = (
        x.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            (
                F.sum(F.round(diff * diff * F.lit(1e12)).cast("long")).cast("double")
                / 1e12
            ).alias("d2")
        )
    )
    return x, cent, d2


# ---------------------------------------------------------------------------
# ml_silhouette_simplified — the centroid-based (a.k.a. "simplified")
# silhouette: a(i) = distance to own centroid, b(i) = distance to the
# nearest OTHER centroid, s(i) = (b-a)/max(a,b). Per-label mean and
# min. min() is order-safe on the deterministic per-point doubles;
# the mean quantizes s(i) to 1e8 BIGINTs first.
# ---------------------------------------------------------------------------

SILHOUETTE_ORACLE = f"""
WITH {_GEOM_SQL},
ab AS (
  SELECT vec_id, label,
         sqrt(max(CASE WHEN clabel = label THEN d2 END)) AS da,
         sqrt(min(CASE WHEN clabel <> label THEN d2 END)) AS db
  FROM d2 GROUP BY vec_id, label
),
s AS (
  SELECT label,
         CASE WHEN greatest(da, db) > 0
              THEN (db - da) / greatest(da, db) ELSE 0.0 END AS sil
  FROM ab
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(round(sil * 1e8) AS BIGINT)) AS DOUBLE) / 1e8
             / count(*), 4) AS avg_silhouette,
       round(min(sil), 4) AS min_silhouette
FROM s GROUP BY label ORDER BY label
"""


@register("ml_silhouette_simplified", SILHOUETTE_ORACLE)
def ml_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, d2 = _label_centroid_geometry(spark, sf_dir)
    ab = d2.groupBy("vec_id", "label").agg(
        F.sqrt(F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2")))).alias("da"),
        F.sqrt(F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2")))).alias("db"),
    )
    sil = F.when(
        F.greatest("da", "db") > 0,
        (F.col("db") - F.col("da")) / F.greatest("da", "db"),
    ).otherwise(F.lit(0.0))
    return (
        ab.select("label", sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.round(F.col("sil") * 1e8).cast("long")).cast("double")
                / 1e8
                / F.count("*"),
                4,
            ).alias("avg_silhouette"),
            F.round(F.min("sil"), 4).alias("min_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# ml_davies_bouldin — Davies-Bouldin index: per cluster, the worst
# (S_i + S_j) / M_ij ratio against any other cluster (S = mean
# point-to-centroid distance, M = centroid separation); the index is
# the mean of those worst ratios — lower is better. The argmax
# neighbor is picked by a row_number over (ratio DESC, j ASC) so ties
# are engine-identical. Scale: everything after the shared geometry
# runs on k and k^2-row relations.
# ---------------------------------------------------------------------------

DAVIES_BOULDIN_ORACLE = f"""
WITH {_GEOM_SQL},
own AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(sqrt(d2) * 1e8) AS BIGINT)) AS DOUBLE) / 1e8
             / count(*) AS s_i
  FROM d2 WHERE clabel = label GROUP BY label
),
cd AS (
  SELECT a.clabel AS i, b.clabel AS j,
         sqrt(CAST(sum(CAST(round((a.c - b.c) * (a.c - b.c) * 1e12) AS BIGINT))
              AS DOUBLE) / 1e12) AS m
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.clabel <> b.clabel
  GROUP BY a.clabel, b.clabel
),
r AS (
  SELECT oa.label, cd.j, oa.n, oa.s_i, (oa.s_i + ob.s_i) / cd.m AS r_ij,
         row_number() OVER (PARTITION BY oa.label
                            ORDER BY (oa.s_i + ob.s_i) / cd.m DESC, cd.j ASC)
             AS rn
  FROM own oa JOIN cd ON cd.i = oa.label JOIN own ob ON ob.label = cd.j
),
w AS (SELECT label, j, n, s_i, r_ij FROM r WHERE rn = 1),
db AS (
  SELECT CAST(sum(CAST(round(r_ij * 1e8) AS BIGINT)) AS DOUBLE) / 1e8
             / count(*) AS db_index
  FROM w
)
SELECT w.label, w.n AS n_vecs, round(w.s_i, 4) AS dispersion,
       w.j AS worst_neighbor, round(w.r_ij, 4) AS worst_ratio,
       round(db.db_index, 4) AS db_index
FROM w CROSS JOIN db
ORDER BY w.label
"""


@register("ml_davies_bouldin", DAVIES_BOULDIN_ORACLE)
def ml_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    _, cent, d2 = _label_centroid_geometry(spark, sf_dir)
    own = (
        d2.where(F.col("clabel") == F.col("label"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            (
                F.sum(F.round(F.sqrt("d2") * 1e8).cast("long")).cast("double")
                / 1e8
                / F.count("*")
            ).alias("s_i"),
        )
    )
    a, b = cent.alias("a"), cent.alias("b")
    cdiff = F.col("a.c") - F.col("b.c")
    cd = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.clabel") != F.col("b.clabel")),
        )
        .groupBy(F.col("a.clabel").alias("i"), F.col("b.clabel").alias("j"))
        .agg(
            F.sqrt(
                F.sum(F.round(cdiff * cdiff * F.lit(1e12)).cast("long")).cast("double")
                / 1e12
            ).alias("m")
        )
    )
    oa = own.alias("oa")
    ob = own.select(
        F.col("label").alias("j_label"), F.col("s_i").alias("s_j")
    )
    r_ij = (F.col("s_i") + F.col("s_j")) / F.col("m")
    r = (
        oa.join(F.broadcast(cd), F.col("oa.label") == F.col("i"))
        .join(F.broadcast(ob), F.col("j") == F.col("j_label"))
        .select("label", "j", "n", "s_i", r_ij.alias("r_ij"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("label").orderBy(F.col("r_ij").desc(), F.col("j").asc())
            ),
        )
    )
    w = r.where(F.col("rn") == 1).drop("rn")
    db = w.agg(
        (
            F.sum(F.round(F.col("r_ij") * 1e8).cast("long")).cast("double")
            / 1e8
            / F.count("*")
        ).alias("db_index")
    )
    return (
        w.crossJoin(F.broadcast(db))
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            F.round("s_i", 4).alias("dispersion"),
            F.col("j").alias("worst_neighbor"),
            F.round("r_ij", 4).alias("worst_ratio"),
            F.round("db_index", 4).alias("db_index"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# ml_calinski_harabasz — the variance-ratio criterion: CH =
# [B/(k-1)] / [W/(n-k)] with B = sum_i n_i ||c_i - g||^2 (between-
# cluster dispersion vs the global centroid) and W = sum of squared
# point-to-own-centroid distances. One scalar row; both dispersions
# fold as quantized BIGINT sums.
# ---------------------------------------------------------------------------

CALINSKI_ORACLE = f"""
WITH {_GEOM_SQL},
g AS (
  SELECT dim,
         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             / count(*) AS gc
  FROM x GROUP BY dim
),
sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_i FROM embeddings GROUP BY label),
bet AS (
  SELECT c.clabel,
         CAST(sum(CAST(round((c.c - g.gc) * (c.c - g.gc) * 1e12) AS BIGINT))
              AS DOUBLE) / 1e12 AS b2
  FROM cent c JOIN g ON g.dim = c.dim GROUP BY c.clabel
),
bsum AS (
  SELECT CAST(sum(CAST(round(s.n_i * b.b2 * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS b,
         CAST(count(*) AS BIGINT) AS k
  FROM bet b JOIN sizes s ON s.label = b.clabel
),
wsum AS (
  SELECT CAST(sum(CAST(round(d2 * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS w,
         CAST(count(*) AS BIGINT) AS n
  FROM d2 WHERE clabel = label
)
SELECT b.k AS k_clusters, w.n AS n_vecs,
       round(b.b, 4) AS between_ss, round(w.w, 4) AS within_ss,
       round((b.b / (b.k - 1)) / (w.w / (w.n - b.k)), 4) AS ch_index
FROM bsum b CROSS JOIN wsum w
"""


@register("ml_calinski_harabasz", CALINSKI_ORACLE)
def ml_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    x, cent, d2 = _label_centroid_geometry(spark, sf_dir)
    g = x.groupBy("dim").agg(
        (
            F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
            / 1e9
            / F.count("*")
        ).alias("gc")
    )
    emb_sizes = (
        d2.where(F.col("clabel") == F.col("label"))
        .groupBy(F.col("label"))
        .agg(F.count("*").cast("long").alias("n_i"))
    )
    gdiff = F.col("c") - F.col("gc")
    bet = (
        cent.join(F.broadcast(g), "dim")
        .groupBy("clabel")
        .agg(
            (
                F.sum(F.round(gdiff * gdiff * F.lit(1e12)).cast("long")).cast("double")
                / 1e12
            ).alias("b2")
        )
    )
    bsum = bet.join(
        F.broadcast(emb_sizes), bet.clabel == emb_sizes.label
    ).agg(
        (
            F.sum(F.round(F.col("n_i") * F.col("b2") * 1e6).cast("long")).cast("double")
            / 1e6
        ).alias("b"),
        F.count("*").cast("long").alias("k"),
    )
    wsum = d2.where(F.col("clabel") == F.col("label")).agg(
        (F.sum(F.round(F.col("d2") * 1e6).cast("long")).cast("double") / 1e6).alias("w"),
        F.count("*").cast("long").alias("n"),
    )
    return (
        bsum.crossJoin(F.broadcast(wsum))
        .select(
            F.col("k").alias("k_clusters"),
            F.col("n").alias("n_vecs"),
            F.round("b", 4).alias("between_ss"),
            F.round("w", 4).alias("within_ss"),
            F.round(
                (F.col("b") / (F.col("k") - 1)) / (F.col("w") / (F.col("n") - F.col("k"))),
                4,
            ).alias("ch_index"),
        )
    )


# ---------------------------------------------------------------------------
# similarity_mmr_rerank — Maximal Marginal Relevance: the diversified
# top-10 rerank every retrieval stack runs between ANN recall and the
# consumer. Relevance = cosine to the corpus centroid; the greedy
# selection (10 unrolled steps, lambda = 0.7) maximizes
#   7*rel_q - 3*max_sim_to_selected  (x10 integer-scaled, EXACT)
# over the top-50 candidate buffer, ties broken by vec_id — fully
# deterministic in both engines because relevance and pairwise
# similarities are quantized to 1e8 BIGINTs before any comparison.
# Scale: candidate generation is the distributed part (one corpus
# pass); the rerank then touches only the O(k^2) candidate buffer —
# the same bounded-buffer contract as production MMR. The greedy
# steps are lazy DataFrame ops over <=50-row relations (checkpointed
# per step to cut lineage), no driver-side data loop.
# ---------------------------------------------------------------------------


def _mmr_oracle() -> str:
    base = """
WITH x AS (
  SELECT vec_id, i.i AS dim, CAST(embedding[i.i + 1] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
g AS (
  SELECT dim,
         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             / count(*) AS gc
  FROM x GROUP BY dim
),
nc AS (
  SELECT sqrt(CAST(sum(CAST(round(gc * gc * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS nc
  FROM g
),
dots AS (
  SELECT x.vec_id,
         CAST(sum(CAST(round(x.val * g.gc * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot,
         sqrt(CAST(sum(CAST(round(x.val * x.val * 1e12) AS BIGINT)) AS DOUBLE)
              / 1e12) AS nv
  FROM x JOIN g ON g.dim = x.dim GROUP BY x.vec_id
),
rel AS (
  SELECT d.vec_id,
         CAST(round(d.dot / (d.nv * n.nc) * 1e8) AS BIGINT) AS rel_q
  FROM dots d CROSS JOIN nc n
),
cand AS MATERIALIZED (SELECT vec_id, rel_q FROM rel ORDER BY rel_q DESC, vec_id LIMIT 50),
xc AS (SELECT x.* FROM x JOIN cand c ON c.vec_id = x.vec_id),
nrm AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(round(val * val * 1e12) AS BIGINT)) AS DOUBLE)
              / 1e12) AS nv
  FROM xc GROUP BY vec_id
),
pd AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(sum(CAST(round(a.val * b.val * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM xc a JOIN xc b ON a.dim = b.dim AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
sims AS MATERIALIZED (
  SELECT p.a, p.b,
         CAST(round(p.dot / (na.nv * nb.nv) * 1e8) AS BIGINT) AS sim_q
  FROM pd p JOIN nrm na ON na.vec_id = p.a JOIN nrm nb ON nb.vec_id = p.b
),
sel1 AS MATERIALIZED (
  SELECT vec_id, rel_q, CAST(NULL AS BIGINT) AS msim, CAST(1 AS BIGINT) AS pos
  FROM cand ORDER BY rel_q DESC, vec_id LIMIT 1
)"""
    parts = [base]
    for t in range(2, 11):
        parts.append(f""",
s{t} AS MATERIALIZED (
  SELECT c.vec_id, c.rel_q, max(s.sim_q) AS msim, CAST({t} AS BIGINT) AS pos
  FROM cand c JOIN sims s ON s.a = c.vec_id
   AND s.b IN (SELECT vec_id FROM sel{t - 1})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
  GROUP BY c.vec_id, c.rel_q
  ORDER BY 7 * c.rel_q - 3 * max(s.sim_q) DESC, c.vec_id
  LIMIT 1
),
sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})""")
    parts.append(
        """
SELECT pos, vec_id, rel_q / 1e8 AS relevance,
       msim / 1e8 AS max_sim_to_selected
FROM sel10 ORDER BY pos"""
    )
    return "".join(parts)


MMR_ORACLE = _mmr_oracle()


@register("similarity_mmr_rerank", MMR_ORACLE)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank of cosine top-k: greedy relevance-vs-redundancy selection on the candidate set."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
    )
    g = x.groupBy("dim").agg(
        (
            F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
            / 1e9
            / F.count("*")
        ).alias("gc")
    )
    nc = g.agg(
        F.sqrt(
            F.sum(F.round(F.col("gc") * F.col("gc") * 1e12).cast("long")).cast("double")
            / 1e12
        ).alias("nc")
    )
    dots = (
        x.join(F.broadcast(g), "dim")
        .groupBy("vec_id")
        .agg(
            (
                F.sum(F.round(F.col("val") * F.col("gc") * 1e12).cast("long")).cast(
                    "double"
                )
                / 1e12
            ).alias("dot"),
            F.sqrt(
                F.sum(F.round(F.col("val") * F.col("val") * 1e12).cast("long")).cast(
                    "double"
                )
                / 1e12
            ).alias("nv"),
        )
    )
    rel = dots.crossJoin(F.broadcast(nc)).select(
        "vec_id",
        F.round(F.col("dot") / (F.col("nv") * F.col("nc")) * 1e8)
        .cast("long")
        .alias("rel_q"),
    )
    cand = (
        rel.orderBy(F.col("rel_q").desc(), "vec_id").limit(50).localCheckpoint(eager=True)
    )
    xc = x.join(F.broadcast(cand.select("vec_id")), "vec_id")
    nrm = xc.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(F.round(F.col("val") * F.col("val") * 1e12).cast("long")).cast("double")
            / 1e12
        ).alias("nv")
    )
    xa, xb = xc.alias("xa"), xc.alias("xb")
    pd_ = (
        xa.join(
            xb,
            (F.col("xa.dim") == F.col("xb.dim"))
            & (F.col("xa.vec_id") != F.col("xb.vec_id")),
        )
        .groupBy(F.col("xa.vec_id").alias("a"), F.col("xb.vec_id").alias("b"))
        .agg(
            (
                F.sum(
                    F.round(F.col("xa.val") * F.col("xb.val") * 1e12).cast("long")
                ).cast("double")
                / 1e12
            ).alias("dot")
        )
    )
    na = nrm.select(F.col("vec_id").alias("a"), F.col("nv").alias("na"))
    nb = nrm.select(F.col("vec_id").alias("b"), F.col("nv").alias("nb"))
    sims = (
        pd_.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select(
            "a",
            "b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")) * 1e8)
            .cast("long")
            .alias("sim_q"),
        )
    )
    # r14: the greedy MMR selection itself runs in ONE grouped kernel
    # over the bounded candidate set instead of 9 unrolled
    # Spark-job iterations (each a broadcast join + global limit(1) +
    # eager localCheckpoint — ~20 tiny jobs whose scheduling dominated
    # the query). The candidate set is limit(50) by construction, so a
    # single task holding the 50×50 quantized-sim matrix is the right
    # plan at EVERY corpus scale (guide §8: decide on small rows);
    # all arithmetic below is the same int64 quantities (rel_q, sim_q,
    # 7·rel − 3·msim) the unrolled loop compared, so the selection —
    # and the value hash — are bit-identical.
    rel_rows = cand.select(
        F.lit(0).alias("kind"),
        F.col("vec_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("rel_q").alias("v"),
    )
    sim_rows = sims.select(F.lit(1).alias("kind"), "a", "b", F.col("sim_q").alias("v"))

    def greedy(pdf):
        import pandas as pd

        rel = pdf[pdf["kind"] == 0]
        rels = {int(a): int(v) for a, v in zip(rel["a"], rel["v"])}
        simp = pdf[pdf["kind"] == 1]
        sim = {}
        for a, b, v in zip(simp["a"], simp["b"], simp["v"]):
            sim[(int(a), int(b))] = None if pd.isna(v) else int(v)
        remaining = set(rels)
        first = min(remaining, key=lambda x: (-rels[x], x))
        out = [(1, first, rels[first], None)]
        selected = [first]
        remaining.discard(first)
        for t in range(2, 11):
            if not remaining:
                break
            best = None
            for x in sorted(remaining):
                ms_vals = [
                    sim[(x, s)]
                    for s in selected
                    if (x, s) in sim and sim[(x, s)] is not None
                ]
                if ms_vals:  # score nulls sort last (Spark desc NULLS LAST)
                    ms = max(ms_vals)
                    key = (0, -(7 * rels[x] - 3 * ms), x)
                else:
                    ms = None
                    key = (1, 0, x)
                if best is None or key < best[0]:
                    best = (key, x, ms)
            _, x, ms = best
            out.append((t, x, rels[x], ms))
            selected.append(x)
            remaining.discard(x)
        res = pd.DataFrame(out, columns=["pos", "vec_id", "rel_q", "msim"])
        res["msim"] = res["msim"].astype("Int64")
        return res

    sel = (
        rel_rows.unionByName(sim_rows)
        .groupBy(F.lit(1).alias("g"))
        .applyInPandas(greedy, schema="pos long, vec_id long, rel_q long, msim long")
    )
    return sel.select(
        "pos",
        "vec_id",
        (F.col("rel_q") / 1e8).alias("relevance"),
        (F.col("msim") / 1e8).alias("max_sim_to_selected"),
    ).orderBy("pos")


# ---------------------------------------------------------------------------
# similarity_srp_plan_audit — the adaptive SRP planner (r13, ADVICE
# r12) as an oracle-checked artifact: for the fixture corpus and three
# hypothetical scale-ups, the (planes, tables) the engine would run
# dedup_embedding_cosine_lsh with, and the candidate recall those
# parameters deliver at the query's ACTUAL band (cos >= 0.4). The
# Spark side calls the REAL planner functions (folded to literals at
# plan build — pure driver math, nothing distributed); the oracle
# re-derives plane count (occupancy bound), table count (recall-held,
# 128-table cap) and recall (1-(1-p^b)^L, p = 1-acos(t)/pi) from the
# published closed forms. A divergence between code and formula is a
# hash mismatch — that is the audit.
# ---------------------------------------------------------------------------

SRP_PLAN_AUDIT_ORACLE = """
WITH nv AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM embeddings),
grid AS (SELECT unnest([1, 10, 100, 1000]) AS m),
base AS (
  SELECT CAST(g.m AS BIGINT) AS scale_mult,
         CAST(nv.n0 * g.m AS BIGINT) AS n_vectors,
         1 - acos(0.4) / pi() AS p
  FROM grid g CROSS JOIN nv
),
planned AS (
  SELECT scale_mult, n_vectors, p,
         CASE WHEN n_vectors <= 128 THEN 4
              ELSE greatest(4, CAST(ceil(log2(n_vectors / 128.0)) AS BIGINT))
         END AS n_planes
  FROM base
),
tabled AS (
  SELECT scale_mult, n_vectors, p, n_planes,
         CASE WHEN n_planes <= 4 THEN 16
              ELSE greatest(16, least(128, CAST(ceil(
                   ln(1 - (1 - power(1 - power(p, 4), 16)))
                   / ln(1 - power(p, n_planes))) AS BIGINT)))
         END AS n_tables
  FROM planned
)
SELECT scale_mult, n_vectors,
       CAST(n_planes AS BIGINT) AS n_planes,
       CAST(n_tables AS BIGINT) AS n_tables,
       round(1 - power(1 - power(p, n_planes), n_tables), 6) AS recall_at_band,
       round(1 - power(1 - power(p, 4), 16), 6) AS base_recall,
       CASE WHEN n_planes <= 4 THEN 'lsh-base'
            WHEN n_vectors <= 1000000
                 AND CAST(n_tables AS DOUBLE) / power(2, n_planes) >= 1.0 / 16
            THEN 'exact-gemm'
            ELSE 'lsh' END AS plan
FROM tabled ORDER BY scale_mult
"""


@register("similarity_srp_plan_audit", SRP_PLAN_AUDIT_ORACLE)
def similarity_srp_plan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adaptive SRP plan (planes via occupancy bound, tables via
    recall-holding at cos >= 0.4) for the fixture corpus at 1/10/100/
    1000x, with delivered-vs-base candidate recall. Driver-side math
    over the memoized corpus count; the relation is 4 literal rows."""
    from insurance_helper_spark.operators.similarity import (
        adaptive_srp_planes,
        adaptive_srp_tables,
        srp_recall,
    )
    from insurance_helper_spark.queries.shared_cache import corpus_count

    n0 = corpus_count(spark, sf_dir, "embeddings")
    rows = []
    for mult in (1, 10, 100, 1000):
        n = n0 * mult
        b = adaptive_srp_planes(n, base_planes=4)
        t = adaptive_srp_tables(b, target_cosine=0.4, base_planes=4, base_tables=16)
        # The dispatch rule dedup_embedding_cosine_lsh actually runs
        # (r13): recall-held LSH at a low band inspects L/2^b of the
        # exact grid at shuffle-join prices — below the broadcast
        # ceiling, blocked GEMM dominates once that fraction clears
        # 1/16 (probe receipt: 280 s LSH vs 19 s GEMM at 10× fixture).
        if b <= 4:
            plan = "lsh-base"
        elif n <= 1_000_000 and t / 2**b >= 1.0 / 16:
            plan = "exact-gemm"
        else:
            plan = "lsh"
        rows.append(
            (mult, n, b, t, srp_recall(b, t, 0.4), srp_recall(4, 16, 0.4), plan)
        )
    return (
        spark.createDataFrame(
            rows,
            "scale_mult long, n_vectors long, n_planes long, n_tables long,"
            " recall_raw double, base_raw double, plan string",
        )
        # rounding happens ENGINE-side (F.round vs DuckDB round — the
        # proven cross-engine pair), not in Python (banker's rounding)
        .select(
            "scale_mult", "n_vectors", "n_planes", "n_tables",
            F.round("recall_raw", 6).alias("recall_at_band"),
            F.round("base_raw", 6).alias("base_recall"),
            "plan",
        )
        .orderBy("scale_mult")
    )
