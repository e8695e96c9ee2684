"""Focused pins for the r14 kernel rewrite of the IVF nearest-centroid
assignment (operators/vector_store.py::_assign — optimization round,
OPTIMIZATION_r14.md entry 16).

The kernel must be BIT-IDENTICAL to the plan it replaced (crossJoin of
k candidate rows per vector + interpreted HOF cosine + per-vec_id
row_number window): same sequential dimension-order float64
accumulation, same round-4 HALF_UP argmax key, same desc/cell-asc tie
rule, same F.round'd raw cosine on the value path. These tests pin the
equivalence against an inline reference implementation of the OLD plan
(kept here, not in the operator, so the production path stays single)
and the rounding emulation against Spark's own F.round on crafted
knife-edge values.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from insurance_helper_spark.operators.similarity import cosine
from insurance_helper_spark.operators.vector_store import (
    Quantizer,
    _assign,
    _elect_centroids,
    _round4_half_up_matrix,
    centroid_frame,
    collect_quantizer,
)


def _assign_reference(vecs, cents):
    """The pre-r14 _assign plan, verbatim: the behavioral oracle."""
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_c"), "cell")
    return (
        vecs.crossJoin(F.broadcast(cents.select("cell", "cvec")))
        .select(
            "vec_id",
            "vv",
            "cell",
            F.round(cosine(F.col("vv"), F.col("cvec")), 4).alias("cos_c"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _as_map(df):
    return {r["vec_id"]: (r["cell"], r["cos_c"]) for r in df.collect()}


def test_round4_half_up_matrix_matches_spark_round(spark):
    # Exact binary halves: v = k/8192 with v*1e4 landing exactly on
    # x.5 — the knife edge where naive float rounding and HALF_UP can
    # part ways, forced through the Decimal(repr()) fallback.
    exact_halves = []
    for k in range(1, 8192):
        v = k / 8192.0
        frac = v * 1e4 - math.floor(v * 1e4)
        if frac == 0.5:
            exact_halves.append(v)
    assert exact_halves, "expected exact .00005 halves on the 1/8192 grid"
    near = [0.12345 + d for d in (-1e-13, 0.0, 1e-13)]
    vals = (
        exact_halves[:50]
        + [-v for v in exact_halves[:50]]
        + near
        + [-v for v in near]
        + [0.0, 1.0, -1.0, 0.99995, -0.99995, 0.33333, -0.66667]
    )
    got = _round4_half_up_matrix(np.array(vals, dtype=np.float64))
    want = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 4).alias("r"))
        .collect()
    ]
    assert list(got) == want


def test_round4_half_up_matrix_nan_passthrough():
    out = _round4_half_up_matrix(np.array([float("nan"), 0.5, float("inf")]))
    assert math.isnan(out[0]) and out[1] == 0.5 and math.isinf(out[2])


def test_kernel_assign_matches_reference_synthetic_with_ties(spark):
    rng = np.random.default_rng(7)
    d, n, k = 8, 300, 6
    vecs_np = rng.normal(size=(n, d)).round(3)
    cents_np = rng.normal(size=(k, d)).round(3)
    # Manufacture exact round-4 ties: duplicate a centroid under a new
    # cell id, and make some vectors exact copies of centroids.
    cents_np[k - 1] = cents_np[0]
    vecs_np[:10] = cents_np[2]
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs_np)],
        "vec_id long, vv array<double>",
    )
    cents = spark.createDataFrame(
        [(c, [float(x) for x in row]) for c, row in enumerate(cents_np)],
        "cell int, cvec array<double>",
    )
    got = _as_map(_assign(vecs, collect_quantizer(cents)))
    want = _as_map(_assign_reference(vecs, cents))
    assert got == want
    # the duplicated-centroid tie must resolve to the LOWER cell id
    dup_members = [c for c, _ in got.values() if c in (0, k - 1)]
    assert k - 1 not in dup_members


def test_kernel_assign_matches_reference_fixture(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    ).localCheckpoint(eager=True)
    q = _elect_centroids(vecs, 8)
    cents = centroid_frame(spark, q)
    assert _as_map(_assign(vecs, q)) == _as_map(_assign_reference(vecs, cents))


def test_kernel_assign_rejects_ragged_vectors(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], "vec_id long, vv array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cell int, cvec array<double>"
    )
    with pytest.raises(Exception, match="uniform width"):
        _assign(vecs, collect_quantizer(cents)).collect()


@pytest.mark.parametrize("cell_type", ["tinyint", "smallint", "int", "bigint"])
def test_kernel_assign_keeps_every_integral_cell_type(spark, cell_type):
    rng = np.random.default_rng(11)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(rng.normal(size=(80, 4)))],
        "vec_id long, vv array<double>",
    )
    # unordered ids at the edges of the narrowest type
    ids = [127, -128, 3, 42, 0, -7]
    cents = spark.createDataFrame(
        [(c, [float(x) for x in rng.normal(size=4)]) for c in ids],
        f"cell {cell_type}, cvec array<double>",
    )
    got = _assign(vecs, collect_quantizer(cents))
    assert got.schema["cell"].dataType.simpleString() == cell_type
    assert _as_map(got) == _as_map(_assign_reference(vecs, cents))
    assert {c for c, _ in _as_map(got).values()} <= set(ids)


def test_kernel_assign_rejects_non_integral_cell_ids(spark):
    cents = spark.createDataFrame(
        [(0.0, [1.0, 0.0])], "cell double, cvec array<double>"
    )
    with pytest.raises(TypeError, match="integral type"):
        collect_quantizer(cents)
    vecs = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, vv array<double>")
    floats = Quantizer(np.array([0.0]), np.array([[1.0, 0.0]]))
    with pytest.raises(TypeError, match="int8/16/32/64"):
        _assign(vecs, floats)
