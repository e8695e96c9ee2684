"""Table sinks: the reference's writers re-expressed as Spark writes.

- Bronze CSV append sink — port of W1 (reference
  src/irdai_scraper/storage/csv_writer.py:58-96): fixed column order,
  ``None`` → empty string, an appended ``scraped_at`` timestamp column,
  append-only semantics. In Spark, "append if exists else create with
  header" collapses to ``mode('append')`` — every part file carries its
  own header and the CSV reader skips them per-file. The reader maps
  columns by position, though, so an append must follow the table's
  existing header: ``bronze_csv_header`` reads it on the driver.
- JSON sink — state-file-shaped records (storage/state.py:49-83) as
  line-delimited JSON, the Spark-native exchange format.

Scale: all writers are executor-side and embarrassingly parallel.
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


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Line-delimited JSON sink (state-record exchange format)."""
    df.write.mode(mode).json(path)
