"""StateStore: checkpoint tables C1-C3, outcome reconciliation (J1/J4),
retry-failed driver O4 (ref: storage/state.py, cli.py:416-461).

All state lives in parquet tables written via atomic swap — no driver-side
sets, so the same code path holds at 100 TB (state is joined, never
collected into memory).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from insurance_helper_spark import schemas
from insurance_helper_spark.operators.state import (
    StateStore,
    record_download_outcomes,
    resume_page,
    retry_failed,
)
from insurance_helper_spark.sources.http import ScrapeConfig


@pytest.fixture()
def store(spark, tmp_path):
    return StateStore(spark, str(tmp_path / "state"))


def test_missing_tables_are_empty(store):
    # C1 corruption/missing fallback: fresh empty state, never an exception
    for t in StateStore.TABLES:
        df = store.read(t)
        assert df.count() == 0
        assert df.schema == StateStore.TABLES[t]


def test_corrupted_table_falls_back_to_empty(store, tmp_path):
    path = os.path.join(store.state_dir, "sessions")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    assert store.read("sessions").count() == 0


def test_session_cursor_roundtrip(store):
    # C2: resume = last_completed_page + 1; totals accumulate across the
    # one sessions write each run makes, which completes its types
    assert resume_page(store.sessions(), "life") == 1
    store.complete_sessions(store.sessions(), {"life": (3, 60)})
    first = store.sessions()["life"]
    assert first["started_at"] is not None
    store.complete_sessions(store.sessions(), {"life": (4, 55)})
    sessions = store.sessions()
    assert resume_page(sessions, "life") == 5
    row = sessions["life"]
    assert row["total_products"] == 115
    assert row["started_at"] == first["started_at"]  # sticks across runs
    assert row["status"] == "completed"
    assert row["completed_at"] is not None

    # C3: reset one type; other types untouched
    store.complete_sessions(store.sessions(), {"health": (1, 10)})
    store.reset_session("life")
    assert resume_page(store.sessions(), "life") == 1
    assert resume_page(store.sessions(), "health") == 2

    store.reset_all()
    assert store.read("sessions").count() == 0


def test_record_download_outcomes_reconciles(store, spark):
    # seed an existing failure for u2 with one retry already recorded
    store.mark_failed(
        spark.createDataFrame(
            [("u2", "timeout")], "url string, error string"
        ).withColumn("last_attempt", F.current_timestamp())
    )
    results = spark.createDataFrame(
        [
            ("u1", True, "/tmp/u1.pdf", 10, None, 1),
            ("u2", True, "/tmp/u2.pdf", 20, None, 2),
            ("u3", False, None, None, "boom", 3),
            ("u3", False, None, None, "boom-again", 3),
        ],
        schemas.DOWNLOAD_RESULT_SCHEMA,
    )
    record_download_outcomes(store, results)

    completed = {r["url"] for r in store.read("completed_downloads").collect()}
    assert completed == {"u1", "u2"}
    failed = store.read("failed_downloads").collect()
    # u2 succeeded → its failure row cleared; u3 upserted with bumped retries
    assert {r["url"] for r in failed} == {"u3"}
    assert failed[0]["retries"] >= 1

    # idempotency: re-recording the same outcomes changes nothing (J1 union
    # is a set union; J4 keeps one row per url)
    record_download_outcomes(store, results)
    assert store.read("completed_downloads").count() == 2
    assert store.read("failed_downloads").count() == 1


def test_retry_failed_drains_failures(store, spark, tmp_path):
    # O4: failures re-driven through the download stage; successes move to
    # completed and clear their failure rows
    store.mark_failed(
        spark.createDataFrame(
            [("http://x/a.pdf", "e1"), ("http://x/b.xlsx", "e2")],
            "url string, error string",
        ).withColumn("last_attempt", F.current_timestamp())
    )

    def fake_downloader(url: str) -> bytes:
        if url.endswith("a.pdf"):
            return b"%PDF-ok"
        raise IOError("still down")

    cfg = ScrapeConfig(retry_attempts=1, retry_delay_s=0.0)
    results = retry_failed(
        store,
        downloader=fake_downloader,
        retry_dir=str(tmp_path / "retry"),
        config=cfg,
    )
    rows = {r["url"]: r for r in results.collect()}
    assert rows["http://x/a.pdf"]["success"] is True
    # dest = retry/file_{sha2(url)}{ext} — extension inferred per K2
    assert rows["http://x/a.pdf"]["file_path"].endswith(".pdf")
    assert rows["http://x/b.xlsx"]["success"] is False

    completed = {r["url"] for r in store.read("completed_downloads").collect()}
    assert "http://x/a.pdf" in completed
    failed = {r["url"] for r in store.read("failed_downloads").collect()}
    assert failed == {"http://x/b.xlsx"}


def test_retry_destination_is_deterministic(store, spark):
    """Retry dest = retry/file_{sha2(url)[:16]}{ext}. The reference uses
    Python hash(url) (cli.py:444-445) which is PYTHONHASHSEED-random
    across processes — unusable on a cluster, where the same URL must
    map to the same destination on every executor and every run. The
    sha2 prefix is the deterministic stand-in; this pins the exact
    string."""
    import hashlib

    from insurance_helper_spark.functions import cleaning

    url = "https://irdai.gov.in/docs/report%20final.pdf?v=3"
    df = spark.createDataFrame([(url,)], "url string").select(
        F.concat(
            F.lit("downloads/retry/file_"),
            F.substring(cleaning.url_key(F.col("url")), 1, 16),
            cleaning.extension_from_url(F.col("url")),
        ).alias("destination")
    )
    expected = "downloads/retry/file_" + hashlib.sha256(url.encode()).hexdigest()[:16] + ".pdf"
    assert df.first()["destination"] == expected
