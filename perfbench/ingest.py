"""ingest_monthly: the reference's own job, run against the seeded site.

One measured run, in order: ``cli scrape`` of all four listings with no
rate limit, Stage-2 text extraction of every downloaded PDF, the site
advancing one month, ``cli delta``, and ``cli delta`` again (which must
append nothing). It drives the HTTP source, the listing parser, the
cleaning expressions, the state store, the sinks and the PDF text
extractor, and no catalog query.
"""

from __future__ import annotations

import collections
import csv
import glob
import hashlib
import os
import time

from irdai_site import COLUMNS, PRODUCT_TYPES, URL_PATHS, SiteServer, generate, path_key

# Share of the golden listing sizes the site carries. A scrape's cost
# is mostly per Spark job, not per row: on a 4-core host the full golden
# site (~7,600 documents) scrapes in ~35 s and an eighth in ~31 s. A
# sixteenth keeps every dirty shape and all four listings, and keeps
# the run inside its budget.
SCALE = 0.0625


def prepare(ctx) -> None:
    ctx.site_server = SiteServer(ctx.seed, SCALE)
    ctx.cleanup.append(ctx.site_server.stop)
    ctx.site = generate(ctx.seed, ctx.site_server.base_url, SCALE)
    if ctx.site.digest() != ctx.site_server.digest:
        raise RuntimeError("site server and generator disagree")


def setup(ctx) -> None:
    """Inputs reachable: the first listing page answers."""
    from urllib.request import urlopen

    with urlopen(f"{ctx.site.base_url}{URL_PATHS['life']}?_cur=1", timeout=60) as r:
        r.read()
    ctx.site_server.reset_counters()


def measure(ctx) -> dict:
    from insurance_helper_spark import cli
    from insurance_helper_spark.sources import binary

    spark, tr, base = ctx.spark, ctx.tracer, ctx.site.base_url
    out_dir, state_dir = os.path.join(ctx.work, "out"), os.path.join(ctx.work, "state")
    logs: dict[str, list[str]] = {}
    phases: dict[str, dict] = {}
    rcs: dict[str, int] = {}

    def cli_step(name: str, argv: list[str]) -> None:
        logs[name] = []
        with tr.span(f"cli.{name}"):
            rcs[name] = cli.main(argv, spark=spark, out=logs[name].append)
        phases[name] = ctx.site_server.stats()
        ctx.site_server.reset_counters()

    # The operator's one request is the whole monthly job; its steps
    # are spans in the traced run.
    t0 = time.perf_counter()

    # one client: no more download partitions (connections) than cores
    common = ["--rate-limit", "0", "--concurrent", str(ctx.nproc), "--output", out_dir,
              "--base-url", base]
    cli_step("scrape", ["scrape", "--type", "all", *common, "--state-dir", state_dir])

    with tr.span("sources.pdf_text.extract"):
        bins = binary.read_binary_dir(spark, os.path.join(out_dir, "downloads"))
        binary.pdf_text_extract(bins).write.parquet(os.path.join(out_dir, "text"))

    ctx.site_server.set_month(1)
    cli_step("delta", ["delta", *common])
    cli_step("delta_noop", ["delta", *common])
    ctx.op("monthly_job", time.perf_counter() - t0)
    return {"out": out_dir, "state": state_dir, "logs": logs, "phases": phases, "rcs": rcs}


# ---------------------------------------------------------------- checks


def read_bronze(path: str) -> list[dict[str, str]]:
    """Rows of a bronze CSV table written by Spark (one header per part
    file, backslash-escaped quotes, empty string for null)."""
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(f, escapechar="\\", doublequote=False)
            header = next(reader, None)
            for rec in reader:
                rows.append(dict(zip(header, rec)))
    return rows


def read_text_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _key(row: dict, cols: list[str]) -> tuple:
    return tuple(row.get(c) or "" for c in cols)


def check(ctx, res: dict) -> list[str]:
    site = ctx.site
    errors: list[str] = []
    for name, rc in res["rcs"].items():
        if rc != 0:
            errors.append(f"cli {name} exited {rc}")
    want_rows = site.expected_rows(0)
    new_rows = site.new_rows()
    by_path: dict[str, str] = {}
    for pt in PRODUCT_TYPES:
        cols = [*COLUMNS[pt], "archive_status", "document_url", "document_filename"]
        got = read_bronze(os.path.join(res["out"], "metadata", pt))
        want = collections.Counter(_key(r, cols) for r in want_rows[pt] + new_rows[pt])
        have = collections.Counter(_key(r, cols) for r in got)
        if have != want:
            missing = sum((want - have).values())
            extra = sum((have - want).values())
            errors.append(f"bronze {pt}: {missing} expected rows missing, {extra} unexpected rows")
        for r in got:
            url, path = r.get("document_url"), r.get("local_file_path")
            if not path:
                errors.append(f"bronze {pt}: no local file for {url}")
                continue
            try:
                with open(path, "rb") as f:
                    blob = f.read()
            except OSError as exc:
                errors.append(f"bronze {pt}: {exc}")
                continue
            doc = site.docs.get(url)
            if doc is None or hashlib.sha256(blob).digest() != hashlib.sha256(doc).digest():
                errors.append(f"bronze {pt}: {path} does not hold the bytes served for {url}")
            by_path[os.path.abspath(path)] = url
    # Every scraped document gets one text row. A row the extractor
    # marked with extract_error is a failure the program reported and
    # counts in ``failed``; every other row must hold the generated text.
    texts = read_text_rows(os.path.join(res["out"], "text"))
    scraped_urls = site.doc_urls(0)
    seen: list[str] = []
    for row in texts:
        path = row["path"][len("file:"):] if row["path"].startswith("file:") else row["path"]
        url = by_path.get(os.path.abspath(path))
        if url is None:
            errors.append(f"text: extracted a file no bronze row names: {path}")
            continue
        seen.append(url)
        got_lines = [ln.strip() for ln in (row["text"] or "").splitlines() if ln.strip()]
        if not row["extract_error"] and got_lines != site.doc_text[url]:
            errors.append(f"text: {path} does not hold the generated text of {url}")
    if sorted(seen) != sorted(scraped_urls):
        errors.append(
            f"text: {len(seen)} text rows for {len(scraped_urls)} scraped documents"
        )
    new_urls = {path_key(r["document_url"]) for rows in new_rows.values() for r in rows}
    delta_docs = set(res["phases"]["delta"]["docs"])
    if delta_docs != new_urls:
        errors.append(
            f"delta requested {len(delta_docs)} documents, {len(new_urls)} are new"
        )
    if res["phases"]["delta_noop"]["docs"]:
        errors.append("second delta requested documents")
    n_new = sum(len(v) for v in new_rows.values())
    if f"New products: {n_new}" not in res["logs"]["delta"]:
        errors.append(f"delta did not report {n_new} new products")
    if "New products: 0" not in res["logs"]["delta_noop"]:
        errors.append("second delta did not report 0 new products")
    return errors


def counts(ctx, res: dict) -> tuple[int, int]:
    """(operations attempted, operations the program reported failed):
    downloads, text extractions and CLI invocations."""
    attempted = failed = 0
    for pt in PRODUCT_TYPES:
        for r in read_bronze(os.path.join(res["out"], "metadata", pt)):
            if r.get("download_success"):
                attempted += 1
                failed += r["download_success"].lower() != "true"
    for row in read_text_rows(os.path.join(res["out"], "text")):
        attempted += 1
        failed += bool(row["extract_error"])
    attempted += len(res["rcs"])
    failed += sum(rc != 0 for rc in res["rcs"].values())
    return attempted, failed


LAYER_METRICS = [
    ("cli.scrape_s", "s"), ("cli.delta_s", "s"), ("cli.delta_noop_s", "s"),
    ("sources.http.pages_requested", "count"), ("sources.http.docs_requested", "count"),
    ("sources.http.repeat_requests", "count"), ("sources.http.bytes_served", "bytes"),
    ("sources.http.useful_request_ratio", "ratio"),
    ("sources.pdf_text.extract_s", "s"), ("sources.pdf_text.docs", "count"),
    ("sources.pdf_text.errors", "count"),
    ("storage.bronze_bytes", "bytes"), ("storage.download_bytes", "bytes"),
    ("storage.state_bytes", "bytes"), ("storage.text_bytes", "bytes"),
    ("storage.files", "count"), ("storage.stored_bytes_per_input_byte", "ratio"),
]


def layer_metrics(ctx, res: dict) -> dict:
    from harness import dir_bytes

    site, tr = ctx.site, ctx.tracer
    out: dict[str, tuple] = {}
    for name in ("scrape", "delta", "delta_noop"):
        (sp,) = tr.by_name(f"cli.{name}")
        out[f"cli.{name}_s"] = (sp.end - sp.start, "s", 1)
    (ex,) = tr.by_name("sources.pdf_text.extract")
    out["sources.pdf_text.extract_s"] = (ex.end - ex.start, "s", 1)
    texts = read_text_rows(os.path.join(res["out"], "text"))
    out["sources.pdf_text.docs"] = (len(texts), "count", 1)
    out["sources.pdf_text.errors"] = (sum(bool(t["extract_error"]) for t in texts), "count", 1)

    pages_needed = {
        m: sum(site.months[m].n_pages(pt) for pt in PRODUCT_TYPES) for m in (0, 1)
    }
    docs_needed = {
        "scrape": len(site.doc_urls(0)),
        "delta": len({r["document_url"] for v in site.new_rows().values() for r in v}),
        "delta_noop": 0,
    }
    pages = docs = repeats = served = needed = 0
    for name, ph in res["phases"].items():
        p, d = sum(ph["pages"].values()), sum(ph["docs"].values())
        pages += p
        docs += d
        repeats += p + d - len(ph["pages"]) - len(ph["docs"])
        served += ph["bytes_served"]
        needed += pages_needed[0 if name == "scrape" else 1] + docs_needed[name]
    out["sources.http.pages_requested"] = (pages, "count", 1)
    out["sources.http.docs_requested"] = (docs, "count", 1)
    out["sources.http.repeat_requests"] = (repeats, "count", 1)
    out["sources.http.bytes_served"] = (served, "bytes", 1)
    out["sources.http.useful_request_ratio"] = (needed / max(pages + docs, 1), "ratio", 1)

    sizes = {
        "bronze": dir_bytes(os.path.join(res["out"], "metadata")),
        "download": dir_bytes(os.path.join(res["out"], "downloads")),
        "state": dir_bytes(res["state"]),
        "text": dir_bytes(os.path.join(res["out"], "text")),
    }
    for k, (b, _) in sizes.items():
        out[f"storage.{k}_bytes"] = (b, "bytes", 1)
    out["storage.files"] = (dir_bytes(res["out"])[1] + dir_bytes(res["state"])[1], "count", 1)
    out["storage.stored_bytes_per_input_byte"] = (stored_bytes_per_input_byte(ctx, res), "ratio", 1)
    return out


def stored_bytes_per_input_byte(ctx, res: dict) -> float:
    """Bytes left in the output and state directories ÷ bytes the site served."""
    from harness import dir_bytes

    served = sum(ph["bytes_served"] for ph in res["phases"].values())
    return (dir_bytes(res["out"])[0] + dir_bytes(res["state"])[0]) / served
