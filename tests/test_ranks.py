"""functions/ranks: the two-phase bucketed prefix primitive
(``cum_counts``) and the bucketed next-value lead (``with_next_value``)
must equal their naive single-window forms, and the queries that walk
through them keep their Spark job budgets."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from insurance_helper_spark.functions.ranks import cum_counts, with_next_value
from tests.conftest import SF_DIR_ORACLE

_UNB, _CUR = Window.unboundedPreceding, Window.currentRow


def _naive(df, part_cols, order_cols, cnt_cols):
    """Single-window reference: upto = RANGE (unbounded, current),
    before = upto − the peers' sum, total = the group sum."""
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    peers = Window.partitionBy(*part_cols, *order_cols)
    out = df
    for c in cnt_cols:
        out = (
            out.withColumn(f"{c}_nupto", F.sum(c).over(w.rangeBetween(_UNB, _CUR)))
            .withColumn(f"{c}_nbefore", F.col(f"{c}_nupto") - F.sum(c).over(peers))
            .withColumn(f"{c}_ntotal", F.sum(c).over(Window.partitionBy(*part_cols)))
        )
    return out


def _rows(df, key_cols, cols):
    return {tuple(r[k] for k in key_cols): tuple(r[c] for c in cols) for r in df.collect()}


def _assert_matches(df, part_cols, order_cols, cnt_cols, bucket_div, key_cols):
    got = cum_counts(df, part_cols, order_cols, cnt_cols, bucket_div)
    want = _naive(df, part_cols, order_cols, cnt_cols)
    kinds = ("before", "upto", "total")
    assert _rows(got, key_cols, [f"{c}_{k}" for c in cnt_cols for k in kinds]) == _rows(
        want, key_cols, [f"{c}_n{k}" for c in cnt_cols for k in kinds]
    )


def test_collapsed_with_negatives_matches_naive(spark):
    rng = random.Random(11)
    # values straddle bucket boundaries (div 100), include negatives
    # and heavy ties before the collapse
    data = [
        (rng.choice([-250, -100, -1, 0, 1, 99, 100, 101, 250, 10_000]),
         rng.randint(0, 5), rng.randint(0, 3))
        for _ in range(400)
    ]
    df = (
        spark.createDataFrame(data, "v long, a long, b long")
        .groupBy("v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    )
    _assert_matches(df, [], ["v"], ["a", "b"], 100, ["v"])


def test_bucket_boundaries_match_naive(spark):
    # every 50-wide bucket edge is hit or straddled by the 7-step grid
    df = spark.createDataFrame([(v, 1 + v % 3) for v in range(0, 1000, 7)], "v long, c long")
    _assert_matches(df, [], ["v"], ["c"], 50, ["v"])


def test_grouped_matches_naive(spark):
    rng = random.Random(13)
    data = [
        (rng.choice(["g1", "g2", "g3"]), rng.randint(-500, 500), rng.randint(1, 4))
        for _ in range(300)
    ]
    df = (
        spark.createDataFrame(data, "g string, v long, c long")
        .groupBy("g", "v")
        .agg(F.sum("c").alias("c"))
    )
    _assert_matches(df, ["g"], ["v"], ["c"], 100, ["g", "v"])


def test_uncollapsed_ties_match_naive(spark):
    rng = random.Random(17)
    vals = [-30, -3, 0, 5, 5, 19, 20, 21, 64]
    data = [(i, rng.choice("xy"), rng.choice(vals), rng.randint(1, 3)) for i in range(250)]
    df = spark.createDataFrame(data, "id long, g string, v long, c long")
    _assert_matches(df, ["g"], ["v"], ["c"], 10, ["id"])
    # the tie size is upto − before: every row sees its value's group count
    got = cum_counts(df, ["g"], ["v"], ["c"], 10).select(
        "g", "v", (F.col("c_upto") - F.col("c_before")).alias("tie")
    )
    ties = df.groupBy("g", "v").agg(F.sum("c").alias("want"))
    assert got.join(ties, ["g", "v"]).where(F.col("tie") != F.col("want")).count() == 0


def test_double_values_width_one_match_naive(spark):
    rng = random.Random(19)
    vals = [-2.5, -1.0, -0.5, 0.0, 0.25, 0.999, 1.0, 1.5, 7.75]
    data = [(i, rng.choice("pq"), rng.choice(vals), 1) for i in range(300)]
    df = spark.createDataFrame(data, "id long, g string, v double, c long")
    _assert_matches(df, ["g"], ["v"], ["c"], 1, ["id"])


def test_total_order_upto_is_row_number(spark):
    rng = random.Random(23)
    data = [(k, rng.randint(-40, 40)) for k in range(500)]
    df = spark.createDataFrame(data, "key long, m long").withColumn("one", F.lit(1))
    got = cum_counts(df, [], ["m", "key"], ["one"], 16)
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("m", "key")))
    assert _rows(got, ["key"], ["one_upto", "one_before", "one_total"]) == {
        k: (rn, rn - 1, 500) for k, (rn,) in _rows(want, ["key"], ["rn"]).items()
    }


def test_total_is_group_sum(spark):
    df = spark.createDataFrame(
        [("a", 1, 2), ("a", 900, 3), ("b", 5, 7), ("b", 5, 1), ("c", -400, 4)],
        "g string, v long, c long",
    )
    got = cum_counts(df, ["g"], ["v"], ["c"], 100)
    assert {(r["g"], r["c_total"]) for r in got.collect()} == {("a", 5), ("b", 8), ("c", 4)}


def test_empty_input(spark):
    df = spark.createDataFrame([], "g string, v long, c long")
    got = cum_counts(df, ["g"], ["v"], ["c"], 10)
    assert got.collect() == []
    assert {"c_before", "c_upto", "c_total"} <= set(got.columns)


def test_next_value_matches_whole_relation_lead(spark):
    rng = random.Random(29)
    vals = sorted(set(rng.randint(-3000, 3000) for _ in range(200)) | {0, 999, 1000, 1001})
    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    got = _rows(with_next_value(df, "cents", 1000), ["cents"], ["next_cents"])
    want = _rows(
        df.withColumn("next_cents", F.lead("cents").over(Window.orderBy("cents"))),
        ["cents"],
        ["next_cents"],
    )
    assert got == want
    assert got[(max(vals),)] == (None,)


# Spark jobs per query at sf0.01 in the test session, one query run each
# (parent counts before the walks shared cum_counts: mood 31, RFM 21,
# Spearman 19, Kruskal–Wallis 10, ABC 12, Wasserstein 15).
# stat_ks_two_sample keeps its single-window walk over the value-collapsed
# relation: through cum_counts it ran 8 jobs (7 without the value
# collapse) against this 6, and slower at sf0.1 on 4 cores.
_JOB_BUDGET = {
    "stat_mood_median_test": 25,
    "customer_rfm_segments": 19,
    "stat_spearman_corr": 15,
    "stat_kruskal_wallis": 9,
    "part_abc_classification": 10,
    "stat_wasserstein_hi_lo": 14,
    "stat_ks_two_sample": 6,
}


@pytest.mark.parametrize("name", sorted(_JOB_BUDGET))
def test_query_job_budget(spark, name):
    from insurance_helper_spark.queries import catalog

    catalog.load_all()
    sc = spark.sparkContext
    group = f"t-ranks-{name}"
    sc.setJobGroup(group, group)
    try:
        catalog.QUERIES[name](spark, SF_DIR_ORACLE).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == _JOB_BUDGET[name]
