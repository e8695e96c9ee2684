"""Table-statistics collection (ANALYZE surface) + broadcast advisor +
skew report."""

from __future__ import annotations

import pyspark.sql.functions as F

from insurance_helper_spark.sources import stats
from insurance_helper_spark.sources.tables import load_table


def test_column_stats_single_pass_and_values(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    out = {r["column"]: r for r in stats.collect_column_stats(nation).collect()}
    assert set(out) == set(nation.columns)
    r = out["n_nationkey"]
    assert r["n_rows"] == 25 and r["n_nulls"] == 0
    assert 23 <= r["approx_ndv"] <= 27  # 25 distinct keys, rsd=5%
    assert r["min_value"] == "0" and r["max_value"] == "24"


def test_column_stats_is_one_job(spark, sf_dir):
    # every aggregate fused into a single aggregation over one scan:
    # exactly one Exchange in the plan (the global agg's).
    from insurance_helper_spark.plans import audit
    from tests import plan_helpers

    df = stats.collect_column_stats(load_table(spark, sf_dir, "orders"))
    assert audit.exchange_count(df) <= 1
    assert plan_helpers.count_in_plan(df, "FileScan") == 1


def test_analyze_persists_and_reloads(spark, sf_dir, tmp_path):
    out = stats.analyze_table(spark, sf_dir, "region", stats_dir=str(tmp_path))
    rows = out.collect()
    assert all(r["table"] == "region" for r in rows)
    assert all(r["size_bytes"] > 0 for r in rows)
    again = spark.read.parquet(str(tmp_path / "region"))
    assert again.count() == len(rows)


def test_broadcast_advice_flags_dims_not_facts(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as _F

    all_stats = None
    for t in ("region", "nation", "lineitem"):
        s = stats.analyze_table(spark, sf_dir, t)
        all_stats = s if all_stats is None else all_stats.unionByName(s)
    advice = {r["table"]: r for r in stats.broadcast_advice(all_stats).collect()}
    assert advice["region"]["broadcastable"]
    assert advice["nation"]["broadcastable"]
    # threshold tuned far below lineitem's size makes the advisor say no
    tight = {
        r["table"]: r
        for r in stats.broadcast_advice(all_stats, threshold_bytes=1024).collect()
    }
    assert not tight["lineitem"]["broadcastable"]


def test_skew_report_finds_planted_hot_key(spark):
    rows = [(1, "hot") for _ in range(90)] + [(i, "cold") for i in range(2, 12)]
    df = spark.createDataFrame(rows, "k long, v string")
    top = stats.skew_report(df, ["k"], top_n=3).collect()
    assert top[0]["k"] == 1 and top[0]["n_rows"] == 90
    assert abs(top[0]["share"] - 0.9) < 1e-6


def test_column_stats_handles_arrays_and_ntz(spark, sf_dir):
    # arrays: no min/max (unorderable) but NDV/nulls still computed;
    # NTZ timestamps: orderable, min/max as strings.
    emb = load_table(spark, sf_dir, "embeddings")
    out = {r["column"]: r for r in stats.collect_column_stats(emb).collect()}
    assert out["embedding"]["min_value"] is None
    assert out["embedding"]["approx_ndv"] > 0
    ev = load_table(spark, sf_dir, "events")
    out = {r["column"]: r for r in stats.collect_column_stats(ev).collect()}
    assert out["ts"]["min_value"] is not None and out["ts"]["n_nulls"] == 0
