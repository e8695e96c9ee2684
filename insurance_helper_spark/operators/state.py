"""Checkpoint/state management as TABLES (C1-C3, O4).

The reference keeps one JSON file with an in-memory set of completed
URLs and list of failures (storage/state.py:20-83) — fine at 8.5k rows,
impossible at 100 TB. Here state is three parquet tables under a state
directory, every mutation an idempotent dataframe transform + atomic
swap write:

- sessions(product_type, last_completed_page, status, total_products,
  started_at, completed_at)            — C2 cursor ops
- completed_downloads(url)             — J1 membership set
- failed_downloads(url, error, retries, last_attempt) — J4 upserts

Corruption fallback (C1, ref state.py:43-45): absent or unreadable
table → empty state, never an exception. A scrape reads each table once
and writes it at most once. Reset (C3, ref state.py:169-179) drops rows
or the whole directory. ``retry_failed`` (O4, ref cli.py:416-461)
re-drives failures through the download stage and reconciles.

Atomic swap: parquet has no MERGE, so each save writes to a temp subdir
and renames over the old one — the single-writer checkpoint pattern.
(On Delta/Iceberg these become MERGE INTO / DELETE WHERE; the operator
surface is identical.)
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from insurance_helper_spark import schemas
from insurance_helper_spark.operators import incremental


class StateStore:
    """Parquet-backed state tables with corruption fallback."""

    TABLES = {
        "sessions": schemas.SESSIONS_SCHEMA,
        "completed_downloads": schemas.COMPLETED_DOWNLOADS_SCHEMA,
        "failed_downloads": schemas.FAILED_DOWNLOADS_SCHEMA,
    }

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # -- C1: load with corruption fallback ------------------------------
    def read(self, table: str) -> DataFrame:
        path = os.path.join(self.state_dir, table)
        schema = self.TABLES[table]
        if os.path.isdir(path):
            try:
                df = self.spark.read.schema(schema).parquet(path)
                df.head(1)  # force schema/footer validation now
                return df
            except Exception:
                pass  # corrupted → fresh empty state (ref state.py:43-45)
        # an empty RDD, not an empty list: no Python tasks to run
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), schema)

    # -- atomic swap write ---------------------------------------------
    def write(self, table: str, df: DataFrame) -> None:
        path = os.path.join(self.state_dir, table)
        tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    # -- C2: session cursor ops (ref state.py:92-131) -------------------
    def sessions(self) -> dict[str, Row]:
        """Session rows by product type: a run's one sessions read."""
        return {r["product_type"]: r for r in self.read("sessions").collect()}

    def complete_sessions(
        self, sessions: dict[str, Row], progress: dict[str, tuple[int, int]]
    ) -> None:
        """A run's one sessions write (ref cli.py:148, state.py:108-131).
        ``sessions`` is the run's earlier read, less any type it starts
        afresh. Each type in ``progress`` (type → (last page, products))
        moves its cursor to that page, adds its products to its total,
        keeps its started_at and is marked completed; other rows stay."""
        now = datetime.now()
        rows = {pt: tuple(r) for pt, r in sessions.items()}
        for pt, (page, n_products) in progress.items():
            prev = sessions.get(pt)
            total = (prev["total_products"] or 0) if prev else 0
            started_at = prev["started_at"] if prev else None
            rows[pt] = (pt, page, "completed", total + n_products, started_at or now, now)
        self.write(
            "sessions", self.spark.createDataFrame(list(rows.values()), schemas.SESSIONS_SCHEMA)
        )

    # -- C3: reset ------------------------------------------------------
    def reset_session(self, product_type: str) -> None:
        sessions = self.read("sessions")
        self.write(
            "sessions", sessions.filter(F.col("product_type") != product_type)
        )

    def reset_all(self) -> None:
        for t in self.TABLES:
            p = os.path.join(self.state_dir, t)
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)

    # -- J4 state maintenance ------------------------------------------
    def mark_failed(self, failures: DataFrame, succeeded: DataFrame | None = None) -> None:
        """failures: (url, error, last_attempt). Clears the rows of
        ``succeeded`` URLs (J4 complement), then upserts per J4."""
        failed = self.read("failed_downloads")
        if succeeded is not None:
            failed = incremental.clear_succeeded(failed, succeeded, "url")
        merged = incremental.upsert_failed(failed, failures, key="url")
        self.write("failed_downloads", merged.select(*schemas.FAILED_DOWNLOADS_SCHEMA.fieldNames()))

    # -- A2: summary ----------------------------------------------------
    def summary(self) -> DataFrame:
        """Per-type session status + global completed/failed counts
        (ref state.py:181-195, rendered cli.py:382-413)."""
        sessions = self.read("sessions").select(
            "product_type", "status", "last_completed_page", "total_products"
        )
        counts = self.spark.createDataFrame(
            [
                ("completed_downloads", self.read("completed_downloads").count()),
                ("failed_downloads", self.read("failed_downloads").count()),
            ],
            "counter string, n long",
        )
        return sessions, counts


def resume_page(sessions: dict[str, Row], product_type: str) -> int:
    """Page a type's scan resumes from: its last completed page + 1."""
    row = sessions.get(product_type)
    return ((row["last_completed_page"] or 0) if row else 0) + 1


def record_download_outcomes(
    state: StateStore, results: DataFrame, completed: DataFrame | None = None
) -> DataFrame:
    """Post-download reconciliation (ref cli.py:115-143): successes join
    the completed set and clear old failures; failures upsert into
    failed_downloads — one write per table. ``results`` follows
    DOWNLOAD_RESULT_SCHEMA; ``completed`` is the completed set as the
    caller already read it (read here when omitted).

    The result lineage may read the very state tables this function
    rewrites (retry_failed does exactly that), so the lineage is cut with
    an eager localCheckpoint before any swap — otherwise a later action on
    ``results`` would re-scan parquet files the swap already replaced.
    Returns the checkpointed relation; callers must use it, not the input.
    """
    results = results.localCheckpoint(eager=True)
    ok = results.filter(F.col("success")).select("url")
    if completed is None:
        completed = state.read("completed_downloads")
    state.write("completed_downloads", incremental.mark_completed(completed, ok, "url"))
    failed = (
        results.filter(~F.col("success"))
        .select("url", F.coalesce("error", F.lit("unknown")).alias("error"))
        .withColumn("last_attempt", F.current_timestamp())
    )
    state.mark_failed(failed, succeeded=ok)
    return results


def retry_failed(
    state: StateStore,
    downloader,
    retry_dir: str = "downloads/retry",
    config=None,
) -> DataFrame:
    """O4 (ref cli.py:416-461): re-drive everything in failed_downloads
    through the download stage; dest = retry/file_{sha2(url)}{ext}.
    Success → completed + failure cleared. Returns the result relation.
    """
    from insurance_helper_spark.functions import cleaning
    from insurance_helper_spark.sources import http

    failed = state.read("failed_downloads")
    tasks = failed.select(
        "url",
        cleaning.retry_destination(F.col("url"), retry_dir).alias("destination"),
        F.lit("retry").alias("product_type"),
        F.lit(None).cast("string").alias("uin"),
    )
    results = http.download_batch(tasks, downloader=downloader, config=config)
    return record_download_outcomes(state, results)
