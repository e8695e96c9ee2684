"""The primary correctness gate, run locally: every query with an
oracle must hash-match DuckDB at sf0.01 (same check the driver runs).
The default run parametrizes over every name in ``ORACLE_SQL``."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_ORACLE
from tests.oracle_harness import compare, run_oracle


def _all_queries():
    from insurance_helper_spark.queries import catalog

    catalog.load_all()
    return catalog


@pytest.mark.parametrize("query_name", sorted(_all_queries().ORACLE_SQL))
def test_oracle_parity(spark, query_name):
    cat = _all_queries()
    spark_df = cat.QUERIES[query_name](spark, SF_DIR_ORACLE)
    oracle_pdf = run_oracle(cat.ORACLE_SQL[query_name], SF_DIR_ORACLE)
    ok, msg = compare(spark_df, oracle_pdf)
    assert ok, f"{query_name}: {msg}"


def test_rows_only_queries_run(spark):
    cat = _all_queries()
    rows_only = set(cat.QUERIES) - set(cat.ORACLE_SQL)
    for name in sorted(rows_only):
        n = cat.QUERIES[name](spark, SF_DIR_ORACLE).count()
        assert n >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3
