"""Compaction test: the rewrite lands exactly n_files files and keeps
every row."""

from __future__ import annotations

import glob

from insurance_helper_spark.sources import maintenance


def test_compact_writes_exact_file_count(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_compact")
    maintenance.compact(orders, path, n_files=4, sort_cols=["o_orderkey"])
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == 4
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
