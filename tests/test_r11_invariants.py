"""Structural invariants for the r11 wave — properties that must hold
on ANY data, pinned at the fixture SF (the r9/r10 invariant-file
pattern). Value correctness is the oracle harness's job; these pin the
mathematical contracts the oracles can't see."""

from __future__ import annotations

import pytest

from insurance_helper_spark.queries import catalog
from tests.conftest import SF_DIR

catalog.load_all()


def _q(spark, name):
    return catalog.QUERIES[name](spark, SF_DIR)


def test_assignment_census_partitions_the_corpus(spark):
    rows = _q(spark, "vector_store_assignment_census").collect()
    n_corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r["n_vectors"] for r in rows) == n_corpus  # every vector in exactly one cell
    assert all(0 <= r["cell"] < 16 for r in rows)
    assert abs(sum(r["share_pct"] for r in rows) - 100.0) < 0.01
    assert all(-1.0 <= r["mean_cos"] <= 1.0 for r in rows)


def test_incremental_assign_covers_the_delta(spark):
    rows = _q(spark, "vector_store_incremental_assign").collect()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_delta = emb.where("vec_id % 2 = 1").count()
    assert sum(r["n_new"] for r in rows) == n_delta
    assert all(0 <= r["cell"] < 8 for r in rows)


def test_occupancy_psi_is_nonnegative_and_consistent(spark):
    r = _q(spark, "vector_store_occupancy_psi").first()
    # PSI is a sum of (p-q)ln(p/q) terms, each >= 0
    assert r["occupancy_psi"] >= 0.0
    assert r["alarm"] == (r["occupancy_psi"] >= 0.25)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert r["n_hist"] == emb.where("vec_id % 2 = 0").count()
    assert r["n_batch"] == emb.where("vec_id % 2 = 1").count()


def test_calmar_components_are_coherent(spark):
    r = _q(spark, "finance_calmar_ulcer").first()
    assert r["n_days"] > 0
    assert r["max_drawdown_pct"] >= 0.0
    assert r["ulcer_index"] >= 0.0
    # Ulcer (RMS of the drawdown series) can never exceed the max drawdown
    assert r["ulcer_index"] <= r["max_drawdown_pct"] + 1e-3
    if r["calmar_ratio"] is not None and r["max_drawdown_pct"] > 0:
        assert (r["calmar_ratio"] > 0) == (r["ann_return_pct"] > 0) or (
            r["ann_return_pct"] == 0
        )


def test_zipf_slope_is_negative_on_natural_text(spark):
    r = _q(spark, "text_zipf_slope").first()
    # the fixture vocab at sf0.001 is only ~31 distinct terms; the cap
    # is 100 — the fit just uses what exists
    assert 2 <= r["n_terms"] <= 100
    # rank-frequency is monotone-decreasing by construction -> slope < 0
    assert r["zipf_slope"] < 0.0
    # intercept is ln(freq) at rank 1: must be at least the slope-implied
    # positive head mass
    assert r["zipf_intercept"] > 0.0


def test_benford_mad_class_matches_value(spark):
    r = _q(spark, "dq_benford_mad").first()
    assert r["n_values"] > 0 and r["benford_mad"] >= 0.0
    m = r["benford_mad"]
    want = (
        "close"
        if m < 0.006
        else "acceptable"
        if m < 0.012
        else "marginal"
        if m < 0.015
        else "nonconformity"
    )
    assert r["conformity"] == want


def test_elect_centroids_is_deterministic_and_dense(spark):
    """The store's quantizer election: dense 0..k-1 cells, stable under
    re-execution (the property re-election's replay contract rests on)."""
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import vector_store as VS

    vecs = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vv"))
    )
    a = VS._elect_centroids(vecs, 8)
    b = VS._elect_centroids(vecs, 8)
    assert a.cells.tolist() == b.cells.tolist() and a.mat.tolist() == b.mat.tolist()
    assert a.cells.tolist() == list(range(8))


# --- r11 wave, part 2: hurst / energy / ewma-vol / boilerplate ---------------


def _round_half_away(x):
    # F.round(double).cast(long) twin — npkernels.half_up_long, NOT
    # floor(x + 0.5) (the addition can cross a rounding boundary; see
    # the npkernels module docstring).
    from insurance_helper_spark.functions.npkernels import half_up_long

    return half_up_long(x)


def _daily_cents(sf_dir):
    """Day-ordered daily revenue cents, the wave's shared base relation."""
    import duckdb

    con = duckdb.connect()
    return [
        v
        for (v,) in con.execute(
            "SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            f" FROM '{sf_dir}/orders.parquet'"
            " GROUP BY CAST(o_orderdate AS DATE)"
            " ORDER BY CAST(o_orderdate AS DATE)"
        ).fetchall()
    ]


def test_hurst_matches_numpy_brute_force(spark):
    """From-scratch numpy replication of the aggregated-variance method
    (same 1e3/1e6 quantization, same full-block rule, same OLS closed
    form — no shared code with the query) must match slope and H."""
    import math

    import numpy as np

    r = _q(spark, "stat_hurst_exponent").collect()[0]

    cents = np.array(_daily_cents(SF_DIR), dtype=np.float64)
    prev, cur = cents[:-1], cents[1:]
    mask = prev > 0
    q = _round_half_away(1e3 * (cur[mask] - prev[mask]) / prev[mask]).astype(np.int64)
    pts = []
    for m in (1, 2, 4, 8, 16):
        nb = len(q) // m
        if nb < 2:
            continue
        s = q[: nb * m].reshape(nb, m).sum(axis=1)
        ss, ss2 = int(s.sum()), int((s.astype(object) ** 2).sum())
        num = nb * ss2 - ss * ss
        if num <= 0:
            continue
        var = float(num) / (float(nb) * nb * m * m * 1e6)
        pts.append(
            (round(1e6 * math.log(m)), round(1e6 * math.log(var)))
        )
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)

    assert r["n_scales"] == n == 5
    assert abs(r["agg_var_slope"] - slope) < 2e-6
    assert abs(r["hurst"] - (1.0 + slope / 2)) < 2e-6
    assert 0.0 < r["hurst"] < 1.0


def test_energy_distance_matches_numpy_brute_force(spark):
    """Székely's V-statistic energy distance computed the O(n²) way —
    full pairwise |x−y| means in numpy — must match the ECDF-walk
    closed form (nonnegativity of D² comes free)."""
    import duckdb
    import numpy as np

    r = _q(spark, "stat_energy_distance").collect()[0]

    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(round(o_totalprice * 100) AS BIGINT),"
        " o_orderpriority IN ('1-URGENT', '2-HIGH')"
        f" FROM '{SF_DIR}/orders.parquet'"
    ).fetchall()
    x = np.array([v for v, hi in rows if hi], dtype=np.float64)
    y = np.array([v for v, hi in rows if not hi], dtype=np.float64)

    def mean_abs_diff(a: np.ndarray, b: np.ndarray, tile: int = 2048) -> float:
        # Tiled pairwise sum: a full a[:,None]-b[None,:] matrix is fine
        # at the default sf0.001 fixture (589×911) but ~30 GB if
        # SPARK_GRAFT_TEST_SF_DIR points at sf0.1 (45k×105k), which
        # conftest explicitly supports; tiles keep it ≤ tile² × 8 B.
        tot = 0.0
        for i in range(0, len(a), tile):
            ai = a[i : i + tile, None]
            for j in range(0, len(b), tile):
                tot += float(np.abs(ai - b[None, j : j + tile]).sum())
        return tot / (len(a) * len(b))

    e_xy = mean_abs_diff(x, y)
    e_xx = mean_abs_diff(x, x)
    e_yy = mean_abs_diff(y, y)
    d2 = 2 * e_xy - e_xx - e_yy

    assert r["n_hi"] == len(x) and r["n_lo"] == len(y)
    assert abs(r["e_xy_dollars"] - e_xy / 100) < 1e-3
    assert abs(r["energy_dist_dollars"] - d2 / 100) < 1e-3
    assert r["energy_dist_dollars"] >= 0.0
    expected_t = len(x) * len(y) / (len(x) + len(y)) * d2 / 100
    assert abs(r["energy_test_stat"] - expected_t) < max(1e-3, 1e-6 * expected_t)


def test_ewma_volatility_matches_numpy_brute_force(spark):
    """RiskMetrics fold replicated in numpy with the same 1e3/1e6
    quantization; internal daily→annual consistency also pinned."""
    import numpy as np

    r = _q(spark, "finance_ewma_volatility").collect()[0]

    cents = np.array(_daily_cents(SF_DIR), dtype=np.float64)
    prev, cur = cents[:-1], cents[1:]
    mask = prev > 0
    rq = _round_half_away(1e3 * (cur[mask] - prev[mask]) / prev[mask]).astype(np.int64)
    t = len(rq)
    wq = _round_half_away(1e6 * 0.94 ** (t - 1 - np.arange(t, dtype=np.float64)))
    sc = int((wq.astype(np.int64) * rq * rq).sum())
    var = 0.06 * sc / 1e12

    assert r["n_returns"] == t
    assert abs(r["ewma_var"] - var) < max(1e-7, 1e-9 * var)
    assert r["ewma_var"] >= 0.0
    assert abs(r["ewma_vol_daily_pct"] - 100 * var**0.5) < 1e-3
    assert (
        abs(r["ewma_vol_annual_pct"] - 100 * (365 * var) ** 0.5)
        < max(1e-3, 1e-6 * r["ewma_vol_annual_pct"])
    )


def test_boilerplate_census_structure(spark):
    """Top-20 screen: always 20 rows (never a vacuous driver hash), a
    total sort order, df ≤ occurrences, df ≤ n_docs, and the
    is_boilerplate flag consistent with the max(3, 1%·docs) threshold."""
    import math

    rows = _q(spark, "corpus_boilerplate_ngrams").collect()
    n_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where("trim(text) <> ''")
        .count()
    )
    thr = max(3, math.ceil(0.01 * n_docs))
    assert len(rows) == 20
    keys = [(-r["doc_freq"], -r["n_occurrences"], r["shingle"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert 1 <= r["doc_freq"] <= min(r["n_occurrences"], n_docs)
        assert 0.0 < r["pct_docs"] <= 100.0
        assert r["is_boilerplate"] == (r["doc_freq"] >= thr)


def test_knn_and_jl_plans_keep_their_fold_shapes(spark):
    """Plan pins for the r11 fold-shape work: ml_knn_classify must not
    regress to per-pair sequence(1, d) folds (the 23.5 s shape), and
    embedding_random_projection_jl's projection signs must stay
    plan-time literals — no hash-family avalanche (Knuth multiply) may
    appear anywhere in its plan."""
    knn_plan = (
        _q(spark, "ml_knn_classify")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "zip_with" in knn_plan
    # norms may fold over the array itself; the banned shape is the
    # indexed sequence fold that re-walks both arrays per pair
    assert "sequence(1" not in knn_plan.replace(" ", "")
    jl_plan = (
        _q(spark, "embedding_random_projection_jl")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "2654435761" not in jl_plan  # KNUTH_MUL: signs are literals now


def test_approx_distinct_never_sketches_per_distinct_key(spark):
    """agg_approx_distinct_bounds must keep the exact and approximate
    counts in SEPARATE aggregations: mixing count(DISTINCT) with an
    imperative HLL in one agg() makes Catalyst's distinct rewrite key
    the first partial aggregate by (group, distinct_key) — one ~100 KB
    sketch buffer per distinct part key (24 s vs <1 s at sf0.1;
    gigabytes of aggregation state at corpus scale)."""
    plan = (
        _q(spark, "agg_approx_distinct_bounds")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "approx_count_distinct" in line and "keys=[" in line:
            keys = line.split("keys=[", 1)[1].split("]", 1)[0]
            assert "l_partkey" not in keys, line


def test_energy_distance_degenerate_single_value(spark, tmp_path):
    """A corpus where EVERY order has the same price has zero distinct
    gaps: the ECDF walk is empty and the int64-headroom guard's bound
    aggregates to NULL. The guard must pass the degenerate NULL-
    integral row through (coalesce to 0.0), NOT throw its misleading
    'exceeds int64 budget' assertion (ADVICE r12)."""
    spark.createDataFrame(
        [("1-URGENT", 10.0), ("3-MEDIUM", 10.0), ("5-LOW", 10.0)],
        "o_orderpriority string, o_totalprice double",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    rows = catalog.QUERIES["stat_energy_distance"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["e_xy_dollars"] is None and r["energy_dist_dollars"] is None
