"""CLI command tests (ref cli.py:236-503) — injected IO, no network/TTY."""

from __future__ import annotations

import pytest

from insurance_helper_spark import cli
from tests.test_scrape_pipeline import NONLIFE_ROWS, fake_fetcher, make_listing_html


@pytest.fixture()
def pages():
    return {"_cur=1": make_listing_html(NONLIFE_ROWS, total=60)}


def run(spark, argv, fetcher=None, downloader=None, answers=()):
    lines: list[str] = []
    answer_iter = iter(answers)
    rc = cli.main(
        argv,
        spark=spark,
        fetcher=fetcher,
        downloader=downloader,
        out=lines.append,
        input_fn=lambda _msg: next(answer_iter),
    )
    return rc, "\n".join(lines)


class TestStatus:
    def test_empty_state(self, spark, tmp_path):
        rc, out = run(spark, ["status", "--state-dir", str(tmp_path / "state")])
        assert rc == 0
        # All four product types render as not-started rows (cli.py:397-405)
        for pt in cli.PRODUCT_TYPES:
            assert pt in out
        assert out.count("not started") == 4
        assert "Completed Downloads: 0" in out
        assert "Failed Downloads: 0" in out


class TestScrape:
    def test_metadata_only_then_status(self, spark, tmp_path, pages):
        state = str(tmp_path / "state")
        rc, out = run(
            spark,
            ["scrape", "-t", "nonlife", "-m", "--total-pages", "1",
             "--output", str(tmp_path / "data"), "--state-dir", state,
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
        )
        assert rc == 0
        assert "nonlife: 3 products scraped" in out
        # CSV metadata landed (W1)
        assert (tmp_path / "data" / "metadata" / "nonlife").exists()
        rc, out = run(spark, ["status", "--state-dir", state])
        assert rc == 0
        assert any("nonlife" in l and "completed" in l for l in out.splitlines())

    def test_full_scrape_after_metadata_only_follows_header(self, spark, tmp_path, pages):
        """A scrape that appends to an existing metadata CSV aligns its
        rows to that CSV's header (as the delta does): every part file
        carries one header and the table reads back column by column."""
        common = ["--total-pages", "1", "--output", str(tmp_path / "data"),
                  "--state-dir", str(tmp_path / "state"), "--base-url", "https://x"]
        rc, _ = run(spark, ["scrape", "-t", "nonlife", "-m", *common],
                    fetcher=fake_fetcher(pages))
        assert rc == 0
        rc, out = run(spark, ["scrape", "-t", "nonlife", "--no-resume", *common],
                      fetcher=fake_fetcher(pages), downloader=lambda url: b"%PDF-1.4")
        assert rc == 0 and "nonlife: 3 products scraped" in out
        from insurance_helper_spark.sources import sinks

        d = tmp_path / "data" / "metadata" / "nonlife"
        parts = [p for p in d.iterdir() if p.name.startswith("part-") and p.stat().st_size]
        assert len({p.read_text().splitlines()[0] for p in parts}) == 1
        urls = [r["document_url"] for r in sinks.read_bronze_csv(spark, str(d)).collect()]
        assert len(urls) == 6
        assert all(u.startswith("https://") and "/documents/" in u for u in urls), urls

    def test_invalid_type(self, spark, tmp_path):
        rc, out = run(
            spark,
            ["scrape", "-t", "bogus", "--state-dir", str(tmp_path / "s")],
        )
        assert rc == 1 and "Invalid product type" in out

    def test_download_and_retry(self, spark, tmp_path, pages):
        state = str(tmp_path / "state")
        calls = {"n": 0}

        def flaky_downloader(url: str) -> bytes:
            calls["n"] += 1
            if "travel" in url:
                raise RuntimeError("boom")
            return b"%PDF-1.4 payload"

        rc, out = run(
            spark,
            ["scrape", "-t", "nonlife", "--total-pages", "1",
             "--output", str(tmp_path / "data"), "--state-dir", state,
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
            downloader=flaky_downloader,
        )
        assert rc == 0
        rc, out = run(spark, ["status", "--state-dir", state])
        assert "Completed Downloads: 2" in out
        assert "Failed Downloads: 1" in out

        # O4: retry with a now-healthy downloader reconciles state
        rc, out = run(
            spark,
            ["retry-failed", "--output", str(tmp_path / "data"),
             "--state-dir", state],
            downloader=lambda url: b"ok now",
        )
        assert rc == 0 and "1 succeeded" in out
        rc, out = run(spark, ["status", "--state-dir", state])
        assert "Completed Downloads: 3" in out
        assert "Failed Downloads: 0" in out

        rc, out = run(spark, ["retry-failed", "--state-dir", state])
        assert rc == 0 and "No failed downloads" in out


class TestReset:
    def test_confirm_declined(self, spark, tmp_path, pages):
        state = str(tmp_path / "state")
        run(
            spark,
            ["scrape", "-t", "nonlife", "-m", "--total-pages", "1",
             "--output", str(tmp_path / "d"), "--state-dir", state,
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
        )
        rc, out = run(spark, ["reset", "--state-dir", state], answers=("n",))
        assert rc == 0 and "Cancelled" in out
        _, out = run(spark, ["status", "--state-dir", state])
        assert "completed" in out

    def test_reset_one_type_and_all(self, spark, tmp_path, pages):
        state = str(tmp_path / "state")
        run(
            spark,
            ["scrape", "-t", "nonlife", "-m", "--total-pages", "1",
             "--output", str(tmp_path / "d"), "--state-dir", state,
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
        )
        rc, out = run(spark, ["reset", "-t", "nonlife", "--state-dir", state],
                      answers=("y",))
        assert rc == 0 and "Reset state for nonlife" in out
        _, out = run(spark, ["status", "--state-dir", state])
        assert out.count("not started") == 4
        rc, out = run(spark, ["reset", "--yes", "--state-dir", state])
        assert rc == 0 and "Reset all state" in out


class TestQuery:
    def test_list_and_run(self, spark):
        rc, out = run(spark, ["query", "list"])
        assert rc == 0 and "flagship" in out
        rc, out = run(
            spark,
            ["query", "text_stats", "--sf-dir", "/root/testdata/sf0.001",
             "--limit", "3"],
        )
        assert rc == 0 and "(3+ rows, limit 3)" in out

    def test_unknown_query(self, spark):
        rc, out = run(spark, ["query", "nope"])
        assert rc == 1 and "Unknown query" in out


class TestProbeAndStorage:
    def test_probe_total_pages_from_counter(self, spark, tmp_path):
        # no --total-pages → CLI probes page 1: "of 120 results" / 60
        # per page → 2 pages (S3 + ceil-div, ref get_total_pages)
        pages = {
            "_cur=1": make_listing_html(NONLIFE_ROWS, total=120),
            "_cur=2": make_listing_html(
                [{"cells": ["", "9", "FY 2022-23", "Acme", "PageTwo", "Retail",
                            "UIN009", "05-04-2022", "download"],
                  "href": "/documents/p2.pdf", "link_text": "PageTwo Policy"}]
            ),
        }
        rc, out = run(
            spark,
            ["scrape", "-t", "nonlife", "-m",
             "--output", str(tmp_path / "d"), "--state-dir", str(tmp_path / "s"),
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
        )
        assert rc == 0
        assert "Total pages: 2" in out
        assert "nonlife: 4 products scraped" in out  # 3 from page1 + 1 from page2

    def test_object_storage_writes_manifest(self, spark, tmp_path, pages):
        rc, out = run(
            spark,
            ["scrape", "-t", "nonlife", "--total-pages", "1",
             "--storage", "object",
             "--output", str(tmp_path / "d"), "--state-dir", str(tmp_path / "s"),
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0
        manifest = spark.read.json(str(tmp_path / "d" / "object_manifest" / "nonlife"))
        rows = {r["object_key"]: r["content_type"] for r in manifest.collect()}
        assert rows and all(k.startswith("nonlife/") for k in rows)
        assert "application/pdf" in rows.values()

    def test_object_only_storage_deletes_local_after_verified_upload(
        self, spark, tmp_path, pages
    ):
        # R2-only mode (ref cli.py:210-212): blob lands in the object
        # dest, the local download is removed after the verify passes.
        rc, out = run(
            spark,
            ["scrape", "-t", "nonlife", "--total-pages", "1",
             "--storage", "object",
             "--output", str(tmp_path / "d"), "--state-dir", str(tmp_path / "s"),
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0
        assert "objects uploaded (local copies removed)" in out
        objects = [
            p for p in (tmp_path / "d" / "objects").rglob("*") if p.is_file()
        ]
        assert objects and all(p.read_bytes() == b"%PDF-1.4" for p in objects)
        leftovers = [
            p for p in (tmp_path / "d" / "downloads").rglob("*") if p.is_file()
        ]
        assert leftovers == []

    def test_rate_limit_zero_and_concurrent(self, spark, tmp_path, pages):
        # --rate-limit 0 = no throttle (reference semantics), -c sets
        # download partitioning; scrape must complete normally.
        rc, out = run(
            spark,
            ["scrape", "-t", "nonlife", "--total-pages", "1",
             "--rate-limit", "0", "-c", "2",
             "--output", str(tmp_path / "d"), "--state-dir", str(tmp_path / "s"),
             "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0 and "nonlife: 3 products scraped" in out


class TestIngestPlan:
    """``scrape -t all`` and ``delta`` run as one all-types plan: every
    listing page is fetched once by the scan, every document once, and
    the Spark job count of each command is pinned."""

    # named cells per type (life.py, life_list.py, nonlife.py, health.py)
    NAMED = {"life": 11, "life_list": 3, "nonlife": 7, "health": 5}

    def site(self):
        pages = {}
        for pt, n_named in self.NAMED.items():
            rows = []
            for k in range(3):
                cells = ["", *[f"{pt}-{k}-{j}" for j in range(n_named)]]
                cells += ["x"] if pt == "health" else []
                # the last row repeats the first row's document
                doc = f"/documents/{pt}-{k % 2}.pdf"
                rows.append({"cells": [*cells, "download"], "href": doc,
                             "link_text": f"{pt} policy {k}"})
            base = f"https://x{cli.URL_PATHS[pt]}?_cur="
            pages[base + "1"] = make_listing_html(rows[:2], total=120)
            pages[base + "2"] = make_listing_html(rows[2:])
        return pages

    @staticmethod
    def logged(log, fn):
        path = str(log)

        def call(url):
            # the scan runs in Python workers: count through a file
            with open(path, "a") as f:
                f.write(url + "\n")
            return fn(url)

        return call

    @staticmethod
    def jobs(spark, group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    def test_scrape_all_fetches_each_page_once_then_noop_delta(self, spark, tmp_path):
        import collections

        pages = self.site()
        fetcher = self.logged(tmp_path / "pages.log", lambda url: pages[url])
        downloader = self.logged(tmp_path / "docs.log", lambda url: b"%PDF-1.4 " + url.encode())
        common = ["--output", str(tmp_path / "d"), "--base-url", "https://x"]
        (rc, out), scrape_jobs = self.jobs(spark, "test-ingest-scrape", lambda: run(
            spark, ["scrape", "-t", "all", *common, "--state-dir", str(tmp_path / "s")],
            fetcher=fetcher, downloader=downloader,
        ))
        assert rc == 0
        for pt in cli.PRODUCT_TYPES:
            assert f"{pt}: 3 products scraped" in out
        fetched = collections.Counter((tmp_path / "pages.log").read_text().split())
        # page 1 twice (the probe, then the scan), page 2 once
        assert fetched == {url: 2 if url.endswith("=1") else 1 for url in pages}
        downloaded = collections.Counter((tmp_path / "docs.log").read_text().split())
        assert set(downloaded.values()) == {1}
        assert len(downloaded) == 2 * len(cli.PRODUCT_TYPES)

        (rc, out), delta_jobs = self.jobs(spark, "test-ingest-delta", lambda: run(
            spark, ["delta", *common], fetcher=fetcher, downloader=downloader,
        ))
        assert rc == 0 and "New products: 0" in out and "Total products: 12" in out
        assert sum(collections.Counter((tmp_path / "docs.log").read_text().split()).values()) == 8
        assert (scrape_jobs, delta_jobs) == (18, 9)


class TestAnalyze:
    def test_analyze_one_table_with_persist(self, spark, tmp_path):
        rc, out = run(
            spark,
            ["analyze", "-t", "nation", "--stats-dir", str(tmp_path / "stats")],
        )
        assert rc == 0
        assert "n_nationkey: rows=25 nulls=0" in out
        assert "nation:" in out and "broadcast advice" in out
        assert "nation:" in out.split("broadcast advice")[1]
        assert spark.read.parquet(str(tmp_path / "stats" / "nation")).count() > 0

    def test_analyze_unknown_table(self, spark):
        rc, out = run(spark, ["analyze", "-t", "nope"])
        assert rc == 1 and "Unknown table" in out


class TestDelta:
    """Reference scripts/delta_download.py parity: diff vs existing CSV
    by document_url, append + download only the new rows, idempotent."""

    def test_delta_first_run_then_incremental_then_idempotent(
        self, spark, tmp_path, pages
    ):
        args_common = [
            "--total-pages", "1", "--output", str(tmp_path / "d"),
            "--base-url", "https://x",
        ]
        # first run: everything is new
        rc, out = run(
            spark, ["delta", "-t", "nonlife", *args_common],
            fetcher=fake_fetcher(pages),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0
        assert "nonlife: total 3, new 3" in out
        assert "New products: 3" in out

        # second run: one extra row on the page → only it is new
        from tests.test_scrape_pipeline import make_listing_html

        grown = dict(pages)
        grown["_cur=1"] = make_listing_html(
            NONLIFE_ROWS
            + [{"cells": ["", "9", "FY 2022-23", "Acme", "Brand New", "Retail",
                          "UIN999", "01-04-2022", "download"],
                "href": "/documents/new999.pdf", "link_text": "Brand New Policy"}],
            total=60,
        )
        rc, out = run(
            spark, ["delta", "-t", "nonlife", *args_common],
            fetcher=fake_fetcher(grown),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0
        assert "nonlife: total 4, new 1" in out

        # third run, unchanged site: nothing new (idempotent)
        rc, out = run(
            spark, ["delta", "-t", "nonlife", *args_common],
            fetcher=fake_fetcher(grown),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0
        assert "nonlife: total 4, new 0" in out
        assert "New products: 0" in out

        # CSV holds exactly the 4 distinct products across the 3 runs
        from insurance_helper_spark.sources import sinks

        csv = sinks.read_bronze_csv(spark, str(tmp_path / "d" / "metadata" / "nonlife"))
        assert csv.select("document_url").distinct().count() == 4
        assert csv.count() == 4

    def test_delta_object_storage_uploads_new_blobs(self, spark, tmp_path, pages):
        rc, out = run(
            spark,
            ["delta", "-t", "nonlife", "--total-pages", "1",
             "--storage", "object",
             "--output", str(tmp_path / "d"), "--base-url", "https://x"],
            fetcher=fake_fetcher(pages),
            downloader=lambda url: b"%PDF-1.4",
        )
        assert rc == 0
        assert "objects uploaded (local copies removed)" in out
        objects = [p for p in (tmp_path / "d" / "objects").rglob("*") if p.is_file()]
        assert objects
        leftovers = [p for p in (tmp_path / "d" / "downloads").rglob("*") if p.is_file()]
        assert leftovers == []


class TestExplain:
    def test_query_explain_prints_plan_without_execution(self, spark):
        rc, out = run(spark, ["query", "q1_pricing_summary", "--explain"])
        assert rc == 0
        assert "Physical Plan" in out and "Scan parquet" in out
        assert "PushedFilters" in out


class TestRetrieve:
    def test_retrieve_free_text(self, spark):
        rc, text = run(spark, [
            "retrieve", "window merge scan", "--sf-dir", "/root/testdata/sf0.001",
            "--topn", "5",
        ])
        assert rc == 0
        lines = [l for l in text.splitlines() if l.lstrip().startswith(("1.", "2.", "3.", "4.", "5."))]
        assert len(lines) == 5
        # lexical leg must have fired; Rocchio vector leg exists (some
        # vec ranks may be 0 = outside that leg's top-20)
        assert "lex#" in lines[0] and "vec#" in lines[0]

    def test_retrieve_query_by_example(self, spark):
        rc, text = run(spark, [
            "retrieve", "--doc-id", "3", "--sf-dir", "/root/testdata/sf0.001",
            "--topn", "5",
        ])
        assert rc == 0
        body = [l for l in text.splitlines()[1:] if l.strip()]
        assert len(body) == 5
        import re as _re

        # the query document itself is excluded from results
        hit_ids = [int(m.group(1)) for l in body for m in [_re.search(r"doc\s+(\d+)", l)] if m]
        assert len(hit_ids) == 5 and 3 not in hit_ids
        # both legs fire in query-by-example mode: at least one hit
        # carries a nonzero rank in each leg
        lex_ranks = [int(m.group(1)) for l in body for m in [_re.search(r"lex#(\d+)", l)] if m]
        vec_ranks = [int(m.group(1)) for l in body for m in [_re.search(r"vec#(\d+)", l)] if m]
        assert any(r > 0 for r in lex_ranks)
        assert any(r > 0 for r in vec_ranks)

    def test_retrieve_requires_exactly_one_query_form(self, spark):
        rc, text = run(spark, ["retrieve", "--sf-dir", "/root/testdata/sf0.001"])
        assert rc == 1 and "exactly one" in text
        rc, text = run(spark, [
            "retrieve", "words", "--doc-id", "1", "--sf-dir", "/root/testdata/sf0.001",
        ])
        assert rc == 1 and "exactly one" in text

    def test_retrieve_stopword_only_query_errors_cleanly(self, spark):
        rc, text = run(spark, [
            "retrieve", "the and of", "--sf-dir", "/root/testdata/sf0.001",
        ])
        assert rc == 1
        assert "no indexable terms" in text

    def test_retrieve_deterministic(self, spark):
        outs = []
        for _ in range(2):
            rc, text = run(spark, [
                "retrieve", "customer filter stream", "--sf-dir",
                "/root/testdata/sf0.001", "--topn", "3",
            ])
            assert rc == 0
            outs.append(text)
        assert outs[0] == outs[1]


class TestCurate:
    def test_curate_end_to_end(self, spark, tmp_path):
        out_dir = str(tmp_path / "corpus")
        rc, text = run(spark, [
            "curate", "--sf-dir", "/root/testdata/sf0.001",
            "--output", out_dir, "--min-tokens", "10",
        ])
        assert rc == 0
        lines = dict(
            l.split(": ", 1) for l in text.splitlines() if ": " in l
        )
        n_raw = int(lines["raw"])
        n_gated = int(lines["quality-gated"].split(" ")[0])
        n_unique = int(lines["exact-unique"].split(" ")[0])
        assert n_raw >= n_gated >= n_unique > 0
        splits = {k: int(lines[k]) for k in ("train", "val", "test")}
        assert sum(splits.values()) == n_unique
        assert splits["train"] > splits["val"]
        # Partitioned layout is real and re-readable, split column intact.
        back = spark.read.parquet(out_dir)
        assert back.count() == n_unique
        assert set(r["split"] for r in back.select("split").distinct().collect()) <= {
            "train", "val", "test"
        }

    def test_curate_deterministic(self, spark, tmp_path):
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        for out_dir in (a, b):
            rc, _ = run(spark, ["curate", "--sf-dir", "/root/testdata/sf0.001",
                                "--output", out_dir, "--min-tokens", "10"])
            assert rc == 0
        ida = sorted(r.doc_id for r in spark.read.parquet(a).select("doc_id").collect())
        idb = sorted(r.doc_id for r in spark.read.parquet(b).select("doc_id").collect())
        assert ida == idb


class TestVectorStoreCli:
    """vector-store subcommand: the Stage-3 vector database exposed at
    the reference's user surface — ingest, status, search, reassign."""

    @staticmethod
    def _write_input(tmp_path):
        from tests.test_vector_store import _write_batches

        return _write_batches(tmp_path)

    def test_ingest_status_search_reassign_e2e(self, spark, tmp_path):
        in_dir = self._write_input(tmp_path)
        store = str(tmp_path / "store")
        rc, text = run(spark, ["vector-store", "ingest", "--input", in_dir,
                               "--store", store, "--centroids", "4"])
        assert rc == 0
        lines = [l for l in text.splitlines() if l.startswith("batch")]
        assert len(lines) == 3
        assert "initial_epoch" in lines[0] and "reelected" in lines[2]

        rc, text = run(spark, ["vector-store", "status", "--store", store])
        assert rc == 0
        # batch 2 re-elected AND reassigned batches 0+1 inline (r12):
        # the store ends fully on the current epoch
        assert "epoch 1, 120 vectors, 0 stale" in text

        rc, text = run(spark, ["vector-store", "search", "--store", store,
                               "--vec-id", "200", "--topk", "3",
                               "--n-probe", "4"])
        assert rc == 0
        hits = [l for l in text.splitlines() if l.lstrip().startswith(("1.", "2.", "3."))]
        assert len(hits) == 3 and "cos=" in hits[0]

        # explicit maintenance finds nothing left to do
        rc, text = run(spark, ["vector-store", "reassign", "--store", store])
        assert rc == 0 and "reassigned 0 stale vectors" in text
        rc, text = run(spark, ["vector-store", "status", "--store", store])
        assert rc == 0 and "0 stale" in text

    def test_status_stale_fraction_equals_fallback_volume(self, spark, tmp_path):
        """status renders stale_fraction, and the metric IS the
        serving contract: with batch 0 manufactured stale (40/120
        rows), a search must still rank every stale row via the
        exact-scan fallback — its output equals a brute-force top-k
        over ALL rows (VERDICT r12 item 7)."""
        import numpy as np
        from pyspark.sql import functions as F

        from insurance_helper_spark.operators import vector_store as VS

        in_dir = self._write_input(tmp_path)
        store = str(tmp_path / "store")
        rc, _ = run(spark, ["vector-store", "ingest", "--input", in_dir,
                            "--store", store, "--centroids", "4"])
        assert rc == 0
        # manufacture partial staleness: rewrite batch 0's partition
        # under a bygone epoch (the crash-window shape, but partial)
        vec = VS.read_vector_store(spark, store)
        cur = VS.read_centroids(spark, store).first()["epoch"]
        b0 = vec.where(F.col("ingest_batch") == 0).localCheckpoint(eager=True)
        (
            b0.select(
                "vec_id", "vv", "cell",
                F.lit(cur - 1).cast("long").alias("epoch"), "ingest_batch",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(f"{store}/vectors")
        )
        rc, text = run(spark, ["vector-store", "status", "--store", store])
        assert rc == 0
        assert "40 stale (stale_fraction=0.3333)" in text
        # fallback completeness: full-probe search over the 2/3-current
        # store equals numpy brute force over ALL 120 rows — possible
        # only if every stale row rode the exact-scan fallback
        queries = (
            VS.read_vector_store(spark, store)
            .where(F.col("vec_id") == 0)
            .select(F.col("vec_id").alias("query_id"), "vv")
            .localCheckpoint(eager=True)
        )
        got = {
            r["nn_rank"]: (r["neighbor_id"], r["cosine_sim"])
            for r in VS.vector_store_search(
                spark, store, queries, k=5, n_probe=4
            ).collect()
        }
        rows = VS.read_vector_store(spark, store).select("vec_id", "vv").collect()
        mat = {r["vec_id"]: np.array(r["vv"]) for r in rows}
        q = mat[0]
        scored = sorted(
            (
                (-round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6), i)
                for i, v in mat.items() if i != 0
            )
        )[:5]
        want = {rk + 1: (i, -s) for rk, (s, i) in enumerate(scored)}
        assert got == want
        # at least one top hit comes from the stale partition (ids<40)
        assert any(nid < 40 for nid, _ in got.values())

    def test_search_unknown_id_and_missing_store(self, spark, tmp_path):
        rc, text = run(spark, ["vector-store", "status",
                               "--store", str(tmp_path / "nope")])
        assert rc == 1 and "no vector store" in text
        in_dir = self._write_input(tmp_path)
        store = str(tmp_path / "store")
        rc, _ = run(spark, ["vector-store", "ingest", "--input", in_dir,
                            "--store", store, "--centroids", "4"])
        assert rc == 0
        rc, text = run(spark, ["vector-store", "search", "--store", store,
                               "--vec-id", "99999"])
        assert rc == 1 and "not in the store" in text
