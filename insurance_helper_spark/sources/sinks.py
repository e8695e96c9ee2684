"""Table sinks: the reference's writers re-expressed as Spark writes.

- Bronze CSV append sink — port of W1 (reference
  src/irdai_scraper/storage/csv_writer.py:58-96): fixed column order,
  ``None`` → empty string, an appended ``scraped_at`` timestamp column,
  append-only semantics. In Spark, "append if exists else create with
  header" collapses to ``mode('append')`` — every part file carries its
  own header and the CSV reader skips them per-file. The reader maps
  columns by position, though, so an append must follow the table's
  existing header: ``bronze_csv_header`` reads it on the driver.
- Partitioned parquet sink — the physical realization of K3's
  ``downloads/{type}/{FY}/{Insurer}/...`` path synthesis
  (downloader/file_manager.py:70-114): ``write.partitionBy`` gives the
  same layout plus partition pruning on read.
- JSON sink/roundtrip — state-file-shaped records (storage/state.py:49-83)
  as line-delimited JSON, the Spark-native exchange format.

Scale: all writers are executor-side and embarrassingly parallel; the
partition columns are chosen low-cardinality (product_type, year) so a
100 TB write produces wide files per partition rather than millions of
tiny ones. ``maxRecordsPerFile`` guards the opposite failure mode.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def write_bronze_csv(
    df: DataFrame,
    path: str,
    columns: list[str] | None = None,
    stamp_scraped_at: bool = True,
    mode: str = "append",
) -> None:
    """W1: append rows to a CSV table with bronze fidelity.

    ``None`` → "" via the writer's ``emptyValue``/``nullValue`` options
    (csv_writer.py:44-51 collapses None to empty string); ``scraped_at``
    is stamped once per write like csv_writer.py:53-54.
    """
    out = df
    if columns:
        out = out.select(*columns)
    if stamp_scraped_at and "scraped_at" not in out.columns:
        out = out.withColumn(
            "scraped_at", F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss")
        )
    (
        out.write.mode(mode)
        .option("header", "true")
        .option("nullValue", "")
        .option("emptyValue", "")
        .csv(path)
    )


def read_bronze_csv(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Read a bronze CSV table back, all-string (the reference's
    all-string cells, SURVEY §1.2). Given its header as ``columns``
    (``bronze_csv_header``), the read runs no header-inference job."""
    reader = spark.read.option("header", "true")
    if columns is not None:
        reader = reader.schema(StructType([StructField(c, StringType()) for c in columns]))
    return reader.csv(path)


def bronze_csv_header(path: str) -> list[str] | None:
    """Column names of the bronze CSV table at ``path``, parsed on the
    driver from the first line of its first non-empty part file (no
    Spark job); None when there is no such file yet."""
    if not os.path.isdir(path):
        return None
    for name in sorted(os.listdir(path)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(path, name), newline="", encoding="utf-8") as f:
            header = next(csv.reader(f), None)
        if header:
            return header
    return None


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    """K3's layout as a physical partitioned write. Partition pruning on
    read is the scan-side payoff (PartitionFilters in the plan)."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Line-delimited JSON sink (state-record exchange format)."""
    df.write.mode(mode).json(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the columnar alternative for Hive-ecosystem consumers.

    Same pushdown/pruning properties as parquet on the read side
    (PushedFilters appear in the scan); useful where the downstream
    warehouse is ORC-native. Executor-side and embarrassingly parallel
    like every writer here.
    """
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Raw text source: one row per line (or per file with ``whole``) —
    the ingest shape for unstructured corpus files feeding the text/
    dedup operators."""
    return spark.read.text(path, wholetext=whole)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory written by SEVERAL schema versions with
    schema merging: columns added over time come back as one unified
    schema, with nulls where an older file lacks the column — the
    append-only table-evolution contract a long-lived bronze layer
    needs (the reference recreates its CSVs wholesale; an engine
    cannot). mergeSchema reads every file's footer (a metadata pass,
    not a data pass); at 100 TB prefer declaring the CURRENT schema
    explicitly and letting parquet's by-name column resolution null-fill
    older files — this helper is the discovery path.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
