"""Approx frequent items and stratified sampling — the sketch and
sampling corners of the surface."""

from __future__ import annotations


def test_freq_items_sketch_covers_exact_heavy_hitters(spark, sf_dir):
    # stat.freqItems: the sketch answer must be a superset of the exact
    # heavy hitters at the same support (one-sided error guarantee).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_returnflag")
    approx = set(li.stat.freqItems(["l_returnflag"], support=0.2).head()[0])
    total = li.count()
    exact = {
        r["l_returnflag"]
        for r in li.groupBy("l_returnflag").count().collect()
        if r["count"] / total >= 0.2
    }
    assert exact <= approx


def test_stratified_sample_by_seeded(spark, sf_dir):
    # sampleBy: per-stratum Bernoulli sampling, seed-deterministic —
    # the class-rebalancing primitive for training-data curation.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    fracs = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    s1 = docs.sampleBy("source", fracs, seed=7)
    s2 = docs.sampleBy("source", fracs, seed=7)
    # determinism under a fixed seed
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )
    counts = {r["source"]: r["count"] for r in s1.groupBy("source").count().collect()}
    full = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    assert counts.get("src0") == full["src0"]      # keep all
    assert "src2" not in counts                    # drop all
    assert 0 < counts.get("src1", 0) < full["src1"]  # true subsample
