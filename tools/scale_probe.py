#!/usr/bin/env python
"""One-shot sf1.0 scaling probe (VERDICT r11 item 3): time the most
expensive catalog queries at sf0.1 (bench SF) and at the self-generated
sf1 dataset (tools/gen_scale_probe_data.py, 10x rows), and report the
wall-clock ratio. Healthy queries on 32 local cores should grow well
under the 10x data factor (fixed stage overhead dominates at sf0.1);
a ratio > ~3x flags superlinear work worth a plan investigation — the
class of surprise the r8 O(n^2) PR-curve and the r11 per-key HLL
blow-up were.

Methodology mirrors bench.py: noop sink, cold pass then two warm
passes (min kept), block release between queries, memoized family
relations built during the cold pass. Usage:

    python tools/scale_probe.py [query ...]   # default: TOP list
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOP = [
    "dedup_ngram_jaccard_prefix",
    "ml_knn_classify",
    "similarity_ann_frontier_eval",
    "crosslingual_margin_pairs_lsh",
    "dedup_minhash_estimate_audit",
    "pipeline_dedup_corpus",
    "graph_pagerank_copurchase",
    "dedup_embedding_cosine_lsh",
    "stat_spearman_corr",
    "graph_pagerank_iterations",
    "similarity_cosine_topk",  # BLAS scale path, for contrast with the exact twin
    # two-phase bucketed walks (functions/ranks.cum_counts): does the
    # bucket-prefix overhead pay off by sf1?
    "customer_rfm_segments",
    "part_abc_classification",
    "stat_kruskal_wallis",
    "stat_mood_median_test",
]

SF01 = "/root/testdata/sf0.1"
SF1 = "/root/repo/scaledata/sf1"
SF10 = "/root/repo/scaledata/sf10"  # 100x bench; gen with --src sf1 --dst sf10


def main() -> None:
    args = sys.argv[1:]
    all_sfs = [("sf0.1", SF01), ("sf1", SF1), ("sf10", SF10)]
    picked = []
    while args and args[0] in ("--sf0.1", "--sf1", "--sf10"):
        picked.append(args[0].lstrip("-"))
        args = args[1:]
    sfs = [s for s in all_sfs if s[0] in picked] if picked else all_sfs[:2]
    names = args or TOP
    import bench
    from insurance_helper_spark.queries import catalog
    from insurance_helper_spark.session import get_spark

    catalog.load_all()
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF01}/region.parquet").count()

    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_tag, sf_dir in sfs:
        passes: list[dict[str, float]] = [{}, {}, {}]
        for label, store in zip(("cold", "warm1", "warm2"), passes):
            for name in names:
                t0 = time.perf_counter()
                catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                store[name] = round(time.perf_counter() - t0, 3)
                print(f"  [{sf_tag} {label}] {name}: {store[name]}s", file=sys.stderr)
                bench._release_blocks(spark)
        for name in names:
            results[name][sf_tag] = min(passes[1][name], passes[2][name])
            results[name][f"{sf_tag}_cold"] = passes[0][name]

    tags = [t for t, _ in sfs]
    print(f"{'query':36s} " + " ".join(f"{t:>8s}" for t in tags)
          + (f" {'ratio':>7s}" if len(tags) == 2 else ""))
    for name in names:
        row = " ".join(f"{results[name][t]:8.3f}" for t in tags)
        if len(tags) == 2:
            row += f" {results[name][tags[1]] / results[name][tags[0]]:7.2f}"
        print(f"{name:36s} {row}")
    # machine-readable record (r15: the core-scaling probe runs this at
    # several $SPARK_GRAFT_CPUS values and diffs the JSON)
    import json

    print(json.dumps({
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "results": results,
    }))


if __name__ == "__main__":
    main()
