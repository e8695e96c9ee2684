"""Compare the benchmark's generated sf0.1 tables with a copy of the
repository's sf0.1 fixture.

    python3 perfbench/fixture_compare.py PATH/TO/sf0.1 [--seed 42]

Prints the digest of the fixture, of the build and the one ``tables.py``
pins, then per table the row counts and whether schema and values are
equal. Exits 0 when every table is equal, 1 otherwise. The benchmark
does not run this; it shows that ``tables.py`` builds the fixture.
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tables  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("fixture_dir")
    p.add_argument("--seed", type=int, default=tables.FIXTURE_SEED)
    args = p.parse_args()
    built = tables.build_tables(args.seed)
    fixture = {
        f[: -len(".parquet")]: pq.read_table(os.path.join(args.fixture_dir, f))
        for f in os.listdir(args.fixture_dir) if f.endswith(".parquet")
    }
    print(f"digest of the fixture  {tables.digest(fixture)}")
    print(f"digest of the build    {tables.digest(built)}")
    print(f"digest tables.py pins  {tables.FIXTURE_DIGEST}")
    differ = 0
    for name in sorted(set(fixture) | set(built)):
        want, got = fixture.get(name), built.get(name)
        same = want is not None and got is not None and want.equals(got)
        rows = " / ".join("-" if t is None else str(t.num_rows) for t in (want, got))
        print(f"{name:<11} rows {rows:>17}  {'equal' if same else 'DIFFERS'}")
        differ += not same
    print("all tables equal" if not differ else f"{differ} tables differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
