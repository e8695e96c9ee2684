"""Similarity search over embedding columns (array<float>).

Two tiers, per SURVEY §2B:
- brute-force cosine top-k — the exact baseline. Dot products are pure
  column expressions (zip_with + aggregate → JVM codegen); the top-k is
  a window per query. Scale: broadcast the (small) query set against
  the (huge) corpus — one pass, no shuffle of the corpus, per-partition
  partial top-k before the final k-merge.
- LSH-bucketed ANN (random hyperplanes) — the scale path: constant-bit
  signature per vector, candidates only within matching buckets.
  Hyperplanes are derived deterministically from a seed so runs are
  reproducible.

Embedding-cosine near-dup (dedup by cosine ≥ τ) reuses the same
primitives with a self-join restricted to LSH buckets.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def arrow_id_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Collect an (id, vector) relation to the driver as numpy arrays
    via Arrow batches — the broadcast-side materialization for the
    blocked-GEMM paths.

    ADVICE r13: ``df.collect()`` builds a Python Row object per vector,
    each holding a boxed-float list — several GB of driver overhead at
    the 1M×64 dispatch ceiling, far beyond the 0.5 GB float64 matrix
    actually needed. Arrow transfers columnar buffers; the list column
    is flattened zero-copy from the value buffer when the width is
    uniform (embeddings always are), so driver cost ≈ the matrix itself.

    Returns ``(ids: int64[n], mat: float64[n, dim])``.
    """
    tbl = df.select(id_col, vec_col).toArrow()
    ids = tbl.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
    return ids, arrow_matrix(tbl.column(vec_col))


def arrow_matrix(col) -> "np.ndarray":
    """float64[n, dim] of an Arrow list column, flattened zero-copy from
    the value buffer when every vector has the same width."""
    col = col.combine_chunks()
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    widths = np.diff(offs)
    if len(widths) and (widths == widths[0]).all() and col.null_count == 0:
        flat = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
        return flat[offs[0] : offs[-1]].reshape(len(col), int(widths[0]))
    # ragged or null-bearing vectors: fall back to the slow path
    return np.array(col.to_pylist(), dtype=np.float64)


def unit_rows(mat: "np.ndarray") -> "np.ndarray":
    """Row-normalize a matrix, mapping zero vectors to themselves."""
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_of(spark, a: str, b: str) -> Column:
    """``cosine(col(a), col(b))``, built once per session: its four
    higher-order functions cost ~0.1 s of driver round trips to build,
    which a per-request serving path would otherwise pay every time."""
    from insurance_helper_spark.queries.shared_cache import memo

    return memo(spark, ("cosine", a, b), lambda: cosine(F.col(a), F.col(b)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be the small side: it is collected to a normalized
    float64 matrix and broadcast; the corpus is scanned ONCE in
    mapInPandas blocks, each block BLAS-multiplied against the query
    matrix and reduced to its local top-k per query (global top-k ⊆
    union of block top-ks), so only ≤ k×n_queries rows per block reach
    the final window — never the full corpus×queries cross product.
    ~100× faster than the interpreted zip_with/aggregate dot it
    replaces, and the per-block reduction is what keeps it viable on a
    100 TB corpus.

    Excludes self-matches when ids collide. Similarity is rounded
    BEFORE ranking (with an id tiebreak) so rank order — including the
    per-block selection — is reproducible across engines at the chosen
    precision. Returns (query_id, neighbor_id, cosine_sim, nn_rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from insurance_helper_spark.shipping import ensure_shipped

    spark = corpus.sparkSession
    ensure_shipped(spark)

    q_rows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("vec")
    ).collect()
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["vec"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0.0] = 1.0
    q_unit = q_mat / q_norm[:, None]
    b_qids = spark.sparkContext.broadcast(q_ids)
    b_qunit = spark.sparkContext.broadcast(q_unit)

    out_schema = "query_id bigint, neighbor_id bigint, cosine_sim double"

    def run(batches):
        qids, qunit = b_qids.value, b_qunit.value
        for pdf in batches:
            ids = pdf["nid"].to_numpy(dtype=np.int64)
            blk = np.array(list(pdf["vec"]), dtype=np.float64)
            n = np.linalg.norm(blk, axis=1)
            n[n == 0.0] = 1.0
            sims = np.round((blk / n[:, None]) @ qunit.T, round_digits)  # block × queries
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid  # self-match exclusion
                cand_ids, cand_sims = ids[mask], col[mask]
                if len(cand_ids) > k:
                    # local top-k under the GLOBAL order (-sim, id)
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                else:
                    order = np.arange(len(cand_ids))
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_sims[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine_sim": out_s}
            )

    scored = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("vec")
    ).mapInPandas(run, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy needed at
    the executor — generated driver-side once, shipped as literals).

    Uses a splitmix64-style integer stream → uniform(-1,1). Reproducible
    across runs and languages given the same seed.
    """
    planes: list[list[float]] = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    def next_u64() -> int:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    for _ in range(n_planes):
        v = [next_u64() / 2**63 - 1.0 for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the full LSH bucket (all
    n_planes sign bits), then exact cosine re-rank within bucket.

    Scale: corpus is hashed once (one narrow pass); the join key is the
    bucket id — an equi-join, shuffle bounded by bucket sizes. Recall
    is tuned by n_planes (fewer planes → bigger buckets → higher
    recall, more compute). For multiprobe recall, re-run with bit
    flips; not needed at fixture scale.
    """
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.concat_ws("", *[x.cast("string") for x in [
            (dot(F.col(vec_col), F.array(*[F.lit(float(v)) for v in p])) >= 0).cast("int")
            for p in planes
        ]]).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.concat_ws("", *[x.cast("string") for x in [
            (dot(F.col(vec_col), F.array(*[F.lit(float(v)) for v in p])) >= 0).cast("int")
            for p in planes
        ]]).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("nn_rank", F.row_number().over(w)).filter(F.col("nn_rank") <= k)


def srp_bucket_ids_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow-batched SRP bucketing kernel: one BLAS matmul per block
    computes all n_tables×n_planes sign bits, packed into a LONG bucket
    id per table (integer join keys beat strings in the shuffle).
    Returns a pandas_udf ``vec -> array<long>`` of length n_tables."""
    from pyspark.sql.functions import pandas_udf

    planes_mat = np.array(hyperplanes(dim, n_planes * n_tables, seed), dtype=np.float64)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def bucket_ids(v: pd.Series) -> pd.Series:
        mat = np.array(list(v), dtype=np.float64)
        bits = (mat @ planes_mat.T) >= 0  # (n, n_tables*n_planes)
        ids = bits.reshape(len(mat), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(ids))

    return bucket_ids


def pair_cosine_udf(round_digits: int = 6):
    """Vectorized cosine over two vector columns (one BLAS pass per
    Arrow batch); round_digits pins cross-engine-stable values."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(list(a), dtype=np.float64)
        mb = np.array(list(b), dtype=np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0.0] = 1.0
        nb[nb == 0.0] = 1.0
        return pd.Series(np.round((ma * mb).sum(axis=1) / (na * nb), round_digits))

    return pair_cosine


def adaptive_srp_planes(
    n_rows: int, base_planes: int, target_occupancy: int = 128
) -> int:
    """Scale-aware SRP plane count: enough planes that the expected
    per-table bucket occupancy stays ≤ ``target_occupancy``, i.e.
    ``2^planes ≥ n/target`` — candidate volume per table is then
    ≤ target·n, LINEAR in corpus size instead of n²/2^base.

    The r12 sf1 scale probe measured the fixed-plane configurations at
    85×/135× their sf0.1 wall time at 10× rows (bucket occupancy grows
    linearly, per-bucket join output quadratically). More planes alone
    SACRIFICES recall at the query's similarity band — pair it with
    ``adaptive_srp_tables`` (r13, ADVICE r12), which grows the table
    count to hold the base configuration's recall at the band the
    query actually serves. Returns ``base_planes`` whenever the corpus
    is small enough that base already meets the target, so
    fixture-scale behavior (and every recall pin) is unchanged.
    """
    import math

    if n_rows <= target_occupancy:
        return base_planes
    return max(base_planes, math.ceil(math.log2(n_rows / target_occupancy)))


def srp_collision_p(cosine: float) -> float:
    """Per-hyperplane collision probability for a pair at the given
    cosine: p = 1 − θ/π (Goemans–Williamson / Charikar 2002)."""
    import math

    return 1.0 - math.acos(max(-1.0, min(1.0, cosine))) / math.pi


def srp_recall(n_planes: int, n_tables: int, cosine: float) -> float:
    """Probability a pair at the given cosine shares ≥1 bucket across
    L tables of b planes: 1 − (1 − p^b)^L with p = srp_collision_p."""
    p = srp_collision_p(cosine)
    return 1.0 - (1.0 - p**n_planes) ** n_tables


def adaptive_srp_tables(
    n_planes: int,
    target_cosine: float,
    base_planes: int,
    base_tables: int,
    max_tables: int = 128,
) -> int:
    """Table count that HOLDS the base configuration's recall at the
    query's actual similarity band as the plane count grows with
    corpus size (ADVICE r12: growing planes alone silently collapses
    recall — at cos ≥ 0.4, p ≈ 0.63, so 4→8 planes drops per-table
    collision from 0.159 to 0.025 and 16-table recall from 0.94 to
    0.33; the recall figure a query advertises must be re-bought with
    tables).

    Solves 1-(1-p^planes)^L ≥ recall(base_planes, base_tables, p) for
    L, capped at ``max_tables``. The cap is the honest cost ceiling:
    holding recall at a LOW band is intrinsically super-linear — with
    occupancy-targeted planes (b = log2(n/occ)) and recall held, total
    candidate volume grows as n^(1+log2(2·p)/1)… ≈ n^1.66 at p = 0.63
    — so past the cap the engine degrades recall gracefully instead of
    exploding cost; callers can report the delivered figure via
    ``srp_recall``. At the production near-dup band (cos ≥ 0.9,
    p = 0.856) the same formula stays cheap: 8 planes need only 39
    tables to hold the 4-plane×16-table recall of 0.9999, and recall
    0.99 needs just 16.

    Returns ``base_tables`` unchanged when planes == base_planes, so
    fixture-scale behavior (and every recall/rows pin) is identical.
    """
    import math

    if n_planes <= base_planes:
        return base_tables
    p = srp_collision_p(target_cosine)
    target_recall = srp_recall(base_planes, base_tables, target_cosine)
    miss = 1.0 - p**n_planes
    if miss <= 0.0:
        return base_tables
    need = math.ceil(math.log(max(1.0 - target_recall, 1e-300)) / math.log(miss))
    return max(base_tables, min(max_tables, need))


def cross_bucket_candidates(
    left: DataFrame,
    right: DataFrame,
    dim: int,
    left_id: str = "x_id",
    right_id: str = "y_id",
    vec_col: str = "vec",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    materialize: bool = True,
) -> DataFrame:
    """Candidate (left_id, right_id) pairs between TWO relations that
    share any SRP bucket in any of ``n_tables`` hash tables — the
    bipartite analog of embedding_near_dup_pairs' self-join.

    Scale: each side is hashed once (one narrow Arrow pass); the join
    carries only 24-byte (tbl, bucket, id) rows — vectors never ride
    through the many-to-many bucket join; a pair matching in several
    tables is deduplicated BEFORE any cosine is computed. Recall is
    1 - (1 - p^b)^L with p = 1 - θ/π — tune n_planes/n_tables, never
    the join shape.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(left.sparkSession)
    bucket_ids = srp_bucket_ids_udf(dim, n_planes, n_tables, seed)
    lsig = left.select(
        F.col(left_id), F.posexplode(bucket_ids(F.col(vec_col))).alias("tbl", "bucket")
    )
    rsig = right.select(
        F.col(right_id), F.posexplode(bucket_ids(F.col(vec_col))).alias("tbl", "bucket")
    )
    if materialize:
        # Both signature relations feed one join; checkpointing keeps
        # the Python bucketing kernel to exactly one pass per side.
        lsig = lsig.localCheckpoint(eager=True)
        rsig = rsig.localCheckpoint(eager=True)
    return (
        lsig.join(rsig, ["tbl", "bucket"])
        .dropDuplicates([left_id, right_id])
        .select(left_id, right_id)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    exact: bool = False,
    n_tables: int = 1,
    materialize: bool = True,
) -> DataFrame:
    """Pairs with cosine ≥ threshold (embedding near-duplicate dedup).

    ``exact=True`` does the all-pairs blocked-BLAS scan
    (oracle-checkable at small SF; driver-collect ceiling ~1M×64 —
    see _exact_pairs_numpy). The default is the 100 TB path:
    signed-random-projection LSH. A pair lands in the same bucket of
    one table with probability (1 - θ/π)^n_planes, so with L
    independent tables recall = 1 - (1 - p^b)^L — ``n_tables`` trades
    candidate volume for recall without touching the per-bucket join
    shape. Candidates are per-(table, bucket) equi-joins — never
    all-pairs — and a pair matching in several tables is deduplicated
    BEFORE the cosine is computed, so the verification matmul runs once
    per candidate pair.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    base = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    if exact:
        return _exact_pairs_numpy(base, threshold)
    ensure_shipped(base.sparkSession)

    # All n_tables×n_planes sign bits in ONE Arrow-batched matmul per
    # block (srp_bucket_ids_udf). The per-element interpreted-HOF dot
    # (64 aggregate/zip_with trees per row) measured ~6× slower than
    # the exact path at sf0.1 — this formulation is the fix.
    bucket_ids = srp_bucket_ids_udf(dim, n_planes, n_tables, seed)
    pair_cosine = pair_cosine_udf(6)

    # Bucket join carries ONLY (tbl, bucket, id) — never the vectors:
    # a candidate row is 24 bytes, so even a hot bucket shuffles cheaply,
    # and the Arrow/EvalPython buffering of wide rows (the memory killer
    # when vectors ride through a many-to-many join) never happens.
    # Vectors are fetched per DEDUPED candidate pair via two equi-joins
    # back to the (id, vec) relation, then verified in one vectorized
    # batch pass.
    sig = base.select(
        "vid", F.posexplode(bucket_ids(F.col("vec"))).alias("tbl", "bucket")
    )
    if materialize:
        # Self-joins clone lineage: without this the bucket_ids Python
        # UDF (the only Python in the plan) runs over the corpus twice.
        # 24 B × n_tables per vector checkpointed vs a second full
        # Arrow round-trip — the checkpoint wins at every scale.
        sig = sig.localCheckpoint(eager=True)
    a = sig.select(F.col("vid").alias("id_a"), "tbl", "bucket")
    b = sig.select(F.col("vid").alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair matching in several tables verifies once
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    va = base.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine_sim", pair_cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def _exact_pairs_numpy(base: DataFrame, threshold: float) -> DataFrame:
    """All-pairs exact cosine via blocked numpy matmul in mapInPandas.

    The interpreted zip_with/aggregate dot over an O(n²) pair join is
    ~100× slower than BLAS (measured 117s vs ~2s for 2k×2k×64 at
    sf0.1) — this is the canonical "vectorized Python beats builtin"
    case. One side of the product is broadcast as a normalized float64
    matrix (n×dim — 0.5 GB at 1M×64, the practical ceiling); each
    partition multiplies its row block against it. Beyond that scale
    the LSH-bucketed path (exact=False) is the design point.

    float64 accumulation matches the DuckDB oracle's
    list_cosine_similarity(CAST AS DOUBLE[]) at the 4-decimal rounding
    the catalog queries use.
    """
    import numpy as np
    import pandas as pd

    from insurance_helper_spark.shipping import ensure_shipped

    spark = base.sparkSession
    ensure_shipped(spark)

    # Driver materialization of the BROADCAST side only — via Arrow
    # (arrow_id_matrix), not Row objects: at the 1M×64 dispatch ceiling
    # collect()'s per-row boxing costs several GB beyond the 0.5 GB
    # float64 matrix; Arrow keeps driver cost ≈ the matrix (ADVICE r13).
    ids, mat = arrow_id_matrix(base, "vid", "vec")
    unit = unit_rows(mat)
    b_ids = spark.sparkContext.broadcast(ids)
    b_unit = spark.sparkContext.broadcast(unit)

    out_schema = "id_a bigint, id_b bigint, cosine_sim double"

    def run(batches):
        all_ids, all_unit = b_ids.value, b_unit.value
        for pdf in batches:
            blk_ids = pdf["vid"].to_numpy(dtype=np.int64)
            blk = np.array(list(pdf["vec"]), dtype=np.float64)
            n = np.linalg.norm(blk, axis=1)
            n[n == 0.0] = 1.0
            sims = (blk / n[:, None]) @ all_unit.T
            sims = np.round(sims, 6)
            # the id_a < id_b mask yields each unordered pair exactly once
            hit_r, hit_c = np.nonzero((sims >= threshold) & (blk_ids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": blk_ids[hit_r],
                    "id_b": all_ids[hit_c],
                    "cosine_sim": sims[hit_r, hit_c],
                }
            )

    # Without this, the block side inherits FILE-SPLIT parallelism — a
    # single-file corpus scan is 1-2 tasks, each multiplying half the
    # n×n grid serially. Size by compute fan-out, not input bytes.
    base = base.repartition(spark.sparkContext.defaultParallelism)
    return base.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantization scale path
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    lloyd_iters: int = 1,
):
    """Train IVF coarse centroids: deterministic seeded sample + a few
    DISTRIBUTED Lloyd refinements. Returns a float64 numpy matrix
    (n_centroids × dim), driver-side (it's tiny — the index metadata).

    Seeding: the n_centroids corpus vectors with the smallest
    xxhash64(id, seed) — a uniform pseudo-random sample that is
    reproducible and needs only a TakeOrdered (no full sort, no RNG
    state on executors). Refinement: assign every vector to its nearest
    centroid in one mapInPandas pass (block × centroid BLAS matmul),
    then recompute each cell's mean via posexplode(dim) + groupBy avg —
    fully codegen'd, shuffle bounded by n_centroids × dim rows.
    """
    import numpy as np

    from insurance_helper_spark.shipping import ensure_shipped

    spark = corpus.sparkSession
    ensure_shipped(spark)

    seeds = (
        corpus.select(F.col(vec_col).alias("vec"), F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    cent = np.array([r["vec"] for r in seeds], dtype=np.float64)

    for _ in range(lloyd_iters):
        b_cent = spark.sparkContext.broadcast(cent)

        def assign(batches):
            import pandas as pd

            c = b_cent.value
            c_norm = np.linalg.norm(c, axis=1)
            c_norm[c_norm == 0.0] = 1.0
            cu = c / c_norm[:, None]
            for pdf in batches:
                blk = np.array(list(pdf["vec"]), dtype=np.float64)
                n = np.linalg.norm(blk, axis=1)
                n[n == 0.0] = 1.0
                cells = np.argmax((blk / n[:, None]) @ cu.T, axis=1)
                yield pd.DataFrame({"cell": cells.astype(np.int32), "vec": pdf["vec"]})

        assigned = corpus.select(F.col(vec_col).alias("vec")).mapInPandas(
            assign, schema="cell int, vec array<float>"
        )
        means = (
            assigned.select("cell", F.posexplode("vec").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        new_cent = cent.copy()  # cells that lost all members keep their old centroid
        for r in means:
            new_cent[r["cell"], r["dim"]] = r["mu"]
        cent = new_cent
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """IVF ANN top-k: score each query only against corpus vectors whose
    cell is among the query's n_probe nearest centroids.

    One corpus pass: each mapInPandas block computes its rows' cell
    assignments (block × centroid matmul) and scores each query ONLY
    against the probe-cell mask — skipping ~(1 − n_probe/n_centroids)
    of the dot products. At warehouse scale the assignment pass is done
    once at ingest and the corpus is stored partitioned by cell, so
    probing becomes partition pruning; the query-time plan is identical.
    Returns (query_id, neighbor_id, cosine_sim, nn_rank).
    """
    import numpy as np
    from pyspark.sql import Window

    from insurance_helper_spark.shipping import ensure_shipped

    spark = corpus.sparkSession
    ensure_shipped(spark)

    cent = ivf_centroids(corpus, id_col, vec_col, n_centroids, seed)
    c_norm = np.linalg.norm(cent, axis=1)
    c_norm[c_norm == 0.0] = 1.0
    cent_unit = cent / c_norm[:, None]

    q_rows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("vec")
    ).collect()
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["vec"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0.0] = 1.0
    q_unit = q_mat / q_norm[:, None]
    # n_probe nearest centroids per query, driver-side (tiny matrix)
    probe = np.argsort(-(q_unit @ cent_unit.T), axis=1)[:, :n_probe]

    b = spark.sparkContext.broadcast((q_ids, q_unit, cent_unit, probe))
    out_schema = "query_id bigint, neighbor_id bigint, cosine_sim double"

    def run(batches):
        import pandas as pd

        qids, qunit, cu, prb = b.value
        for pdf in batches:
            ids = pdf["nid"].to_numpy(dtype=np.int64)
            blk = np.array(list(pdf["vec"]), dtype=np.float64)
            n = np.linalg.norm(blk, axis=1)
            n[n == 0.0] = 1.0
            unit = blk / n[:, None]
            cells = np.argmax(unit @ cu.T, axis=1)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                mask = np.isin(cells, prb[j]) & (ids != qid)
                if not mask.any():
                    continue
                cand_ids = ids[mask]
                sims = np.round(unit[mask] @ qunit[j], round_digits)
                if len(cand_ids) > k:
                    order = np.lexsort((cand_ids, -sims))[:k]
                else:
                    order = np.arange(len(cand_ids))
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(sims[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine_sim": out_s}
            )

    scored = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("vec")
    ).mapInPandas(run, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("nn_rank", F.row_number().over(w)).filter(F.col("nn_rank") <= k)
