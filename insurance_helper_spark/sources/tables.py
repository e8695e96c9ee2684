"""Fixture-table loaders.

The driver provides TPC-H-ish parquet tables plus ``events``,
``documents`` and ``embeddings`` at ``/root/testdata/sf*/`` (TESTDATA.md).
All reads go through here so that scan-level concerns (column pruning,
pushdown) are applied uniformly: callers pass ``columns=`` to prune at
the scan, which shows up as ``ReadSchema`` in the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, columns: list[str] | None = None
) -> DataFrame:
    """Read one fixture table; optionally prune columns at the scan.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark reads as
    nanosecond longs (spark.sql.legacy.parquet.nanosAsLong); convert to
    a µs TIMESTAMP here — truncation matches DuckDB's ns→µs read.
    """
    if name == "events":
        # Must be set BEFORE the read (the driver's own session won't
        # have it); runtime-settable, verified on Spark 4.1.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if columns:
        df = df.select(*columns)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (lazy — no action triggered)."""
    return {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Expose every fixture table as a temp view so the whole engine is
    queryable via ``spark.sql`` — same names the DuckDB oracle uses, so
    an oracle SQL string often runs on BOTH engines. Views are lazy
    plans over ``load_table`` (events ns→µs conversion included)."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)
