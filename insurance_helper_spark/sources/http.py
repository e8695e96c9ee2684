"""Paginated-HTTP scrape source + bounded download stage, Spark-first.

The reference runs one asyncio loop on one machine (SURVEY §3); here
every stage is a DataFrame transform so pages and downloads partition
across executors. One plan covers every product type of a run:

  pages(range per type, keyed by product_type)
    → fetch+parse (mapInPandas, injected fetcher; each page once)
    → typed projection/filters of all types in one pass (P5/F1/F2)
    → materialize once (feeds both the tasks and the result join)
    → per-type tasks, anti-join completed (J1) → one download stage
      over all types (mapInPandas, token bucket + retries, D1-D4)
    → join results by (product_type, document_url) (J3)

Politeness invariant (ref: config.py:39, async_downloader.py:30): the
10 req/s cap must hold GLOBALLY. Spark has no cross-executor limiter,
so each of the k partitions gets rate/k — the honest distributed
equivalent (SURVEY §4). IO is injected (``fetcher``/``downloader``
callables), so tests run on local fixtures and never touch the network.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from insurance_helper_spark import schemas
from insurance_helper_spark.functions import cleaning
from insurance_helper_spark.sources import html_parse

# Reference defaults (config.py:27-46)
DEFAULT_PAGE_SIZE = 60
DEFAULT_RATE_LIMIT = 10.0      # req/s, GLOBAL
DEFAULT_MAX_CONCURRENT = 10
DEFAULT_RETRY_ATTEMPTS = 3
DEFAULT_RETRY_DELAY_S = 2.0    # linear backoff: delay * attempt_no
USER_AGENT = "Mozilla/5.0 (compatible; spark-scraper/0.1)"

Fetcher = Callable[[str], str]          # url -> html (raises on error)
Downloader = Callable[[str], bytes]     # url -> payload (raises on error)

# Parsed rows and download results carry the product_type of their page
# or task, so one plan over several types keys back to each type.
_TYPE_FIELD = T.StructField("product_type", T.StringType(), True)
_PARSED_SCHEMA = T.StructType([*schemas.PARSED_ROW_SCHEMA.fields, _TYPE_FIELD])
_RESULT_SCHEMA = T.StructType([*schemas.DOWNLOAD_RESULT_SCHEMA.fields, _TYPE_FIELD])


class TokenBucket:
    """Per-partition token bucket. With k partitions each running
    ``rate/k``, the fleet stays under the global cap."""

    def __init__(self, rate_per_s: float) -> None:
        # rate <= 0 means "no limit" (reference --rate-limit 0); acquire
        # short-circuits before any division in that case.
        self.rate = rate_per_s
        self.tokens = 1.0  # capacity: one token, no burst
        self.last = time.monotonic()

    def acquire(self) -> None:
        if self.rate <= 0:  # reference semantics: rate 0 = no limit
            return
        while True:
            now = time.monotonic()
            self.tokens = min(1.0, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            time.sleep(min((1.0 - self.tokens) / self.rate, 0.5))


def default_fetcher(timeout_s: float = 60.0) -> Fetcher:
    """requests-based page fetcher mirroring the reference client:
    UA header, SSL verification off (config.py:40-42), page timeout
    (config.py:36)."""
    import requests
    import urllib3

    urllib3.disable_warnings()
    session = requests.Session()
    session.headers["User-Agent"] = USER_AGENT

    def fetch(url: str) -> str:
        resp = session.get(url, timeout=timeout_s, verify=False)
        resp.raise_for_status()
        return resp.text

    return fetch


def default_downloader(timeout_s: float = 300.0) -> Downloader:
    """requests-based file downloader (download timeout config.py:35),
    streamed in 8 KiB chunks (D3 — async_downloader.py:89)."""
    import requests
    import urllib3

    urllib3.disable_warnings()
    session = requests.Session()
    session.headers["User-Agent"] = USER_AGENT

    def download(url: str) -> bytes:
        resp = session.get(url, timeout=timeout_s, verify=False, stream=True)
        resp.raise_for_status()
        return b"".join(resp.iter_content(chunk_size=8192))

    return download


@dataclass
class ScrapeConfig:
    rate_limit: float = DEFAULT_RATE_LIMIT
    retry_attempts: int = DEFAULT_RETRY_ATTEMPTS
    retry_delay_s: float = DEFAULT_RETRY_DELAY_S
    fetch_partitions: int = 4


def page_urls(
    spark: SparkSession,
    url_template: str,
    total_pages: int,
    start_page: int = 1,
    end_page: int | None = None,
) -> DataFrame:
    """S1+O3: page work-list as a DataFrame. ``{page}`` in the template
    is substituted; start/end bound the scan (partition-pruning analog)."""
    end = min(end_page or total_pages, total_pages)
    prefix, _, suffix = url_template.partition("{page}")
    return spark.range(start_page, end + 1).select(
        F.col("id").alias("page"),
        F.concat(F.lit(prefix), F.col("id").cast("string"), F.lit(suffix)).alias("page_url"),
    )


def _error_row(page, error: str) -> dict:
    """A page that failed as one parsed row carrying its error (F3)."""
    row = dict.fromkeys(schemas.PARSED_ROW_SCHEMA.fieldNames())
    return {**row, "page": int(page), "parse_error": error}


def fetch_and_parse_pages(
    pages: DataFrame,
    fetcher: Fetcher | None = None,
    config: ScrapeConfig | None = None,
) -> DataFrame:
    """S2+S5+S6: fetch each page and parse its listing table.

    ``pages`` carries (product_type, page, page_url). mapInPandas with
    one fetcher + token bucket per partition; page fetch errors become
    parse_error rows (F3), never task failures. Output matches
    schemas.PARSED_ROW_SCHEMA plus the page's product_type.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(pages.sparkSession)
    cfg = config or ScrapeConfig()
    n_parts = max(cfg.fetch_partitions, 1)
    per_partition_rate = cfg.rate_limit / n_parts

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetcher or default_fetcher()
        bucket = TokenBucket(per_partition_rate)
        for pdf in batches:
            out: list[dict] = []
            for pt, page, url in zip(pdf["product_type"], pdf["page"], pdf["page_url"]):
                try:
                    bucket.acquire()
                    rows = html_parse.parse_listing_page(fetch(url), int(page))
                except Exception as ex:  # F3 page containment
                    rows = [_error_row(page, f"fetch-error: {ex}")]
                out.extend({**r, "product_type": pt} for r in rows)
            yield pd.DataFrame(out, columns=_PARSED_SCHEMA.fieldNames())

    return pages.repartition(n_parts).mapInPandas(run, schema=_PARSED_SCHEMA)


def parse_pages(pages_html: DataFrame, page_col: str = "page", html_col: str = "html") -> DataFrame:
    """S5+S6 over an already-materialized page snapshot: parse listing
    HTML carried as a column instead of fetching it.

    This is the replay path for a raw-HTML lake (store fetched pages
    once, re-parse on parser upgrades without re-crawling): no network,
    no rate limit, embarrassingly parallel over whatever partitioning
    the snapshot relation already has. Parse errors become
    ``parse_error`` rows (F3), never task failures.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(pages_html.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for page, html in zip(pdf[page_col], pdf[html_col]):
                try:
                    out.extend(html_parse.parse_listing_page(html, int(page)))
                except Exception as ex:  # F3 page containment
                    out.append(_error_row(page, f"parse-error: {ex}"))
            yield pd.DataFrame(out, columns=[f.name for f in schemas.PARSED_ROW_SCHEMA])

    return pages_html.select(page_col, html_col).mapInPandas(
        run, schema=schemas.PARSED_ROW_SCHEMA
    )


# Positional cell → column maps (P5): ref scraper/{life,life_list,
# nonlife,health}.py parse_row comments; cited per type below.
_PROJECTIONS: dict[str, list[str]] = {
    # life.py:18-66 — 13+ cells
    "life": [
        "financial_year", "insurer", "product_name", "uin", "type_of_product",
        "launch_modification_date", "closing_withdrawal_date",
        "protection_savings_retirement", "par_nonpar", "individual_group",
        "remarks",
    ],
    # life_list.py:18-50 — 5+ cells
    "life_list": ["short_description", "last_updated", "sub_title"],
    # nonlife.py:18-58 — 9+ cells
    "nonlife": [
        "s_no", "financial_year", "insurer", "product_name", "type_of_product",
        "uin", "date_of_approval",
    ],
    # health.py:18-59 — 8+ cells (doc link from cells[-2]/[-1])
    "health": [
        "financial_year", "insurer", "uin", "product_name", "date_of_approval",
    ],
}


def _types(product_type: str | Sequence[str]) -> list[str]:
    types = [product_type] if isinstance(product_type, str) else list(product_type)
    unknown = [t for t in types if t not in _PROJECTIONS]
    if unknown:
        raise ValueError(f"unknown product_type: {unknown[0]}")
    return types


def _by_type(types: list[str], value: Callable[[str], Column]) -> Column:
    """One expression that takes each row's value from its own product
    type: ``value(t)`` itself for one type; for several, a CASE over the
    ``product_type`` column (null for a row of any other type)."""
    if len(types) == 1:
        return value(types[0])
    expr = F.when(F.col("product_type") == types[0], value(types[0]))
    for t in types[1:]:
        expr = expr.when(F.col("product_type") == t, value(t))
    return expr


def project_products(
    parsed_rows: DataFrame, product_type: str | Sequence[str]
) -> DataFrame:
    """P5+F1+F2+P4: positional cells → named columns, arity and key
    guards, archive classification, document link/filename columns.

    ``product_type`` is one type or several; with several, each row is
    projected by its own ``product_type`` in one pass onto the union of
    the types' columns (``rows_of_type`` cuts one type back out).
    Pure column expressions over the parsed-row relation — Catalyst
    pushes the guards below everything downstream.
    """
    types = _types(product_type)

    def cell(name: str) -> Column:
        return _by_type(
            types,
            lambda t: F.col("cells").getItem(_PROJECTIONS[t].index(name) + 1)
            if name in _PROJECTIONS[t] else F.lit(None).cast("string"),
        )

    # rows of any type not asked for fail the arity guard (null bound)
    base = parsed_rows.filter(
        F.col("parse_error").isNull()
        & (F.size("cells") >= _by_type(types, lambda t: F.lit(schemas.MIN_CELLS[t])))
    )
    names = dict.fromkeys(n for t in types for n in _PROJECTIONS[t])
    projected = base.select(
        "page",
        "row_index",
        _by_type(types, F.lit).alias("product_type"),
        cleaning.archive_status(
            F.col("row_class"), F.col("cells").getItem(0)
        ).alias("archive_status"),
        *[cell(name).alias(name) for name in names],
        F.col("link_url").alias("document_url"),
        F.coalesce(
            F.when(F.length("link_text") >= 3, F.col("link_text")),
            cleaning.filename_from_url(F.col("link_url")),
        ).alias("document_filename"),
    )
    # F2: key must be non-empty
    key = _by_type(types, lambda t: F.col(schemas.KEY_COLUMN[t]))
    return projected.filter(key.isNotNull() & (F.trim(key) != ""))


def rows_of_type(products: DataFrame, product_type: str) -> DataFrame:
    """One type's rows of a multi-type product relation, in the column
    layout a single-type scrape gives them: the type's projection and
    ``scraped_at``; after a download stage, ``document_url`` first and
    the two download columns last."""
    cols = [
        "page", "row_index", "product_type", "archive_status",
        *_PROJECTIONS[product_type], "document_url", "document_filename", "scraped_at",
    ]
    if "download_success" in products.columns:
        cols = [
            "document_url", *(c for c in cols if c != "document_url"),
            "local_file_path", "download_success",
        ]
    return products.filter(F.col("product_type") == product_type).select(*cols)


def build_download_tasks(
    products: DataFrame,
    product_type: str | Sequence[str],
    completed: DataFrame | None = None,
    base_dir: str = "downloads",
) -> DataFrame:
    """K3+K4+J1: synthesize destination paths, drop null URLs, dedup
    URLs per type, anti-join the completed set (ref: cli.py:98-108,
    file_manager.py:116-134). ``product_type``: one type or several;
    ``completed``: URLs for every type, or per ``product_type``."""
    types = _types(product_type)

    def named(column: str, fallback: Callable[[str], Column]) -> Column:
        return _by_type(
            types, lambda t: F.col(column) if column in _PROJECTIONS[t] else fallback(t)
        )

    def key(t: str) -> Column:
        return F.col(schemas.KEY_COLUMN[t])

    pt = _by_type(types, F.lit)
    uin = named("uin", key)
    tasks = (
        products.filter(F.col("document_url").isNotNull())
        .select(
            F.col("document_url").alias("url"),
            cleaning.partitioned_path(
                pt,
                named("financial_year", lambda t: F.lit("unknown")),
                named("insurer", lambda t: F.lit("unknown")),
                uin,
                named("product_name", key),
                cleaning.extension_from_url(F.col("document_url")),
                base=base_dir,
            ).alias("destination"),
            pt.alias("product_type"),
            uin.alias("uin"),
        )
        .dropDuplicates(["product_type", "url"])
    )
    if completed is not None:
        keys = [c for c in ("product_type", "url") if c in completed.columns]
        tasks = tasks.join(completed.select(*keys), on=keys, how="left_anti")
    return tasks.select("url", "destination", "product_type", "uin")


def download_batch(
    tasks: DataFrame,
    downloader: Downloader | None = None,
    config: ScrapeConfig | None = None,
    download_partitions: int | None = None,
    write_files: bool = True,
) -> DataFrame:
    """D1-D4: bounded, rate-limited, retrying bulk download.

    Each partition runs one downloader with ``rate/k`` tokens; failures
    become error ROWS (success=false), never exceptions (D4). Retry:
    ``retry_attempts`` tries with linear backoff ``delay*attempt``
    (ref: async_downloader.py:50-70, config.py:37-38).
    Output matches schemas.DOWNLOAD_RESULT_SCHEMA plus the task's
    product_type.
    """
    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(tasks.sparkSession)
    cfg = config or ScrapeConfig()
    n_parts = download_partitions or DEFAULT_MAX_CONCURRENT
    per_partition_rate = cfg.rate_limit / max(n_parts, 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        dl = downloader or default_downloader()
        bucket = TokenBucket(per_partition_rate)
        for pdf in batches:
            out: list[dict] = []
            for url, dest, pt in zip(pdf["url"], pdf["destination"], pdf["product_type"]):
                attempts, err, payload = 0, None, None
                while attempts < cfg.retry_attempts:
                    attempts += 1
                    try:
                        bucket.acquire()
                        payload = dl(url)
                        err = None
                        break
                    except Exception as ex:
                        err = str(ex)
                        # linear backoff: delay * attempt number
                        time.sleep(cfg.retry_delay_s * attempts)
                if payload is not None and write_files and dest:
                    try:
                        os.makedirs(os.path.dirname(dest), exist_ok=True)
                        with open(dest, "wb") as f:
                            f.write(payload)
                    except Exception as ex:
                        err, payload = f"write-error: {ex}", None
                out.append(
                    {
                        "url": url,
                        "success": payload is not None,
                        "file_path": dest if payload is not None else None,
                        "file_size": len(payload) if payload is not None else None,
                        "error": err,
                        "attempts": attempts,
                        "product_type": pt,
                    }
                )
            yield pd.DataFrame(out, columns=_RESULT_SCHEMA.fieldNames())

    return tasks.repartition(n_parts).mapInPandas(run, schema=_RESULT_SCHEMA)


def join_results(products: DataFrame, results: DataFrame) -> DataFrame:
    """J3: correlate download results back to products, setting
    local_file_path (ref: cli.py:119-138), by (product_type, url): one
    URL listed under two types has a download of its own in each. Left
    join keeps products whose download failed or was skipped."""
    r = results.select(
        "product_type",
        F.col("url").alias("document_url"),
        F.col("file_path").alias("local_file_path"),
        F.col("success").alias("download_success"),
    )
    return products.join(r, on=["product_type", "document_url"], how="left")


def scrape_pipeline(
    spark: SparkSession,
    url_template: str | dict[str, str],
    total_pages: int | dict[str, int],
    product_type: str | Sequence[str],
    fetcher: Fetcher | None = None,
    downloader: Downloader | None = None,
    completed: DataFrame | None = None,
    config: ScrapeConfig | None = None,
    download_dir: str = "downloads",
    metadata_only: bool = False,
    start_page: int | dict[str, int] = 1,
    end_page: int | None = None,
    download_partitions: int | None = None,
) -> DataFrame:
    """O1/O2/O5 composed: the scrape of one or several product types as
    ONE DataFrame plan. ``product_type`` is one type or a sequence of
    types; ``url_template``, ``total_pages`` and ``start_page`` are one
    value or a dict keyed by type. ``completed``: see
    ``build_download_tasks``.

    metadata_only (O2) skips the download stage — with a lazy DAG the
    stage simply never exists, and the plan stays lazy. Otherwise the
    projected products are materialized once, because they feed both
    the download tasks and the result join; the new documents of every
    type then download in one stage. Returns the product table with
    local_file_path/download_success populated (or null).
    """
    types = _types(product_type)

    def of(value, pt: str):
        return value[pt] if isinstance(value, dict) else value

    pages = functools.reduce(DataFrame.unionByName, [
        page_urls(spark, of(url_template, pt), of(total_pages, pt), of(start_page, pt), end_page)
        .withColumn("product_type", F.lit(pt))
        for pt in types
    ])
    parsed = fetch_and_parse_pages(pages, fetcher, config)
    products = project_products(parsed, types).withColumn(
        "scraped_at", F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss")
    )
    if metadata_only:
        return products
    products = products.localCheckpoint(eager=True)
    tasks = build_download_tasks(products, types, completed, download_dir)
    results = download_batch(tasks, downloader, config, download_partitions)
    return join_results(products, results)


def probe_total_pages(
    url_template: str,
    fetcher: Fetcher,
    page_size: int = DEFAULT_PAGE_SIZE,
) -> int:
    """S3+S4 composed: the reference's ``get_total_pages``
    (scraper/base.py): fetch page 1, read the "of N results" counter →
    ceil(N / page_size); fall back to the max ``_cur=N`` pagination
    href; fall back to 1. Driver-side single fetch — the one probe
    request that sizes the distributed page scan.
    """
    prefix, _, suffix = url_template.partition("{page}")
    html = fetcher(f"{prefix}1{suffix}")
    parsed = html_parse.parse_html(html)
    total = html_parse.total_results(parsed)
    if total is not None:
        return max(1, -(-total // page_size))
    max_page = html_parse.max_page_from_pagination(parsed)
    return max_page if max_page is not None else 1
