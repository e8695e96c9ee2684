"""ANSI-on execution sweep of the full catalog at a scale factor the
driver's correctness gate never reaches.

The driver verifies values at sf0.01 and the bench/test sessions run
ANSI-OFF, so an exact-BIGINT expression that overflows int64 somewhere
between sf0.01 and production WRAPS SILENTLY in every existing gate.
This sweep runs EVERY catalog query under a runtime-ANSI session at
$SPARK_GRAFT_SWEEP_SF_DIR (default sf0.1, 10x the correctness SF) and
reports any that throw — ARITHMETIC_OVERFLOW here means wrong numbers
in the ANSI-off bench at the same scale.

r10 provenance: the first run of this sweep found five overflows
(cent-square second moments, OLS n*sxy cross-products) that had been
silently wrapping at sf0.1 since the queries shipped. Run it for every
new wave:

    python tools/ansi_sweep.py            # all queries at sf0.1
    python tools/ansi_sweep.py stat_ ml_  # only matching prefixes
"""

from __future__ import annotations

import gc
import os
import sys


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.1")
    prefixes = tuple(sys.argv[1:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the graph/dedup checkpoint builds need real driver heap — the
        # 1g default OOMs the JVM mid-sweep
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_SWEEP_MEM", "16g"))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from insurance_helper_spark.queries import catalog

    catalog.load_all()
    names = [
        n for n in sorted(catalog.QUERIES)
        if not prefixes or n.startswith(prefixes)
    ]
    fails: list[tuple[str, str]] = []
    for i, name in enumerate(names, 1):
        try:
            catalog.QUERIES[name](spark, sf_dir).collect()
        except Exception as exc:  # noqa: BLE001 - report and continue
            fails.append((name, str(exc).splitlines()[0][:160]))
            print(f"FAIL {name}: {fails[-1][1]}", file=sys.stderr, flush=True)
        if i % 50 == 0:
            print(f"... {i}/{len(names)}", file=sys.stderr, flush=True)
        gc.collect()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
        spark.catalog.clearCache()
    print(f"swept {len(names)} queries at {sf_dir} under ANSI: {len(fails)} failures")
    for name, msg in fails:
        print(f"  {name}: {msg}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
