"""User-facing CLI: scrape / delta / status / retry-failed / reset / query.

Parity surface for the reference's typer app
(/root/reference/src/irdai_scraper/cli.py:236-298 ``scrape``,
:382-413 ``status``, :416-461 ``retry_failed``, :464-503 ``reset``),
re-expressed over the Spark engine:

- stdlib ``argparse`` + plain-text rendering instead of typer/rich —
  the reference already falls back to plain printing under CI
  (cli.py:27-33); that mode is the only one that makes sense for a
  driver process whose stdout is a log.
- ``scrape`` and ``delta`` share one ingest path (``_cmd_ingest``)
  instead of an asyncio loop per type: one ``sources.http.scrape_pipeline``
  plan over all requested product types (each listing page fetched
  once, one download stage), materialized once, then one bronze CSV
  slice per type and at most one state-table write per table;
  ``--metadata-only`` elides the download stage from the DAG rather
  than branching imperatively.
- ``status`` renders ``StateStore.summary()`` — same columns as the
  reference's rich table (Product Type / Status / Last Page / Products)
  plus the completed/failed counters (cli.py:391-412).
- ``reset`` honors the same confirm-unless ``--yes`` contract
  (cli.py:480-487) reading the confirmation from stdin.
- ``query`` is engine-native (no reference analog): run any catalog
  query against a parquet scale-factor directory.

IO seams (``fetcher``/``downloader``/``input_fn``) are injectable so
tests exercise every command without network or TTY. The SparkSession
is built lazily — ``status``/``reset`` on an empty state dir still need
one because state lives in parquet tables, but no network.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Callable

from pyspark.sql import SparkSession

PRODUCT_TYPES = ("life", "life_list", "nonlife", "health")

# Reference page templates (config.py:49-115): site-relative paths the
# scraper paginates with a ``?_cur={page}`` cursor.
URL_PATHS = {
    "life": "/life-insurance-products",
    "life_list": "/list-of-life-products",
    "nonlife": "/non-life-insurance-products",
    "health": "/health-insurance-products",
}


def _build_spark() -> SparkSession:
    from insurance_helper_spark.session import get_spark

    return get_spark(app_name="insurance-helper-cli")


def render_status(sessions_rows: list, counter_rows: list) -> str:
    """Plain-text analog of the reference's rich status table
    (cli.py:382-413): one row per product type (``not started`` when the
    sessions table has no row), then the download counters."""
    by_type = {r["product_type"]: r for r in sessions_rows}
    header = f"{'Product Type':<12} {'Status':<12} {'Last Page':>9} {'Products':>9}"
    lines = ["Scraper Status", "", header, "-" * len(header)]
    for pt in PRODUCT_TYPES:
        row = by_type.get(pt)
        status = row["status"] if row else "not started"
        last = row["last_completed_page"] if row else 0
        total = row["total_products"] if row else 0
        lines.append(f"{pt:<12} {status:<12} {last or 0:>9} {total or 0:>9}")
    counters = {r["counter"]: r["n"] for r in counter_rows}
    lines += [
        "",
        f"Completed Downloads: {counters.get('completed_downloads', 0)}",
        f"Failed Downloads: {counters.get('failed_downloads', 0)}",
    ]
    return "\n".join(lines)


def _cmd_status(args, spark: SparkSession, out: Callable[[str], None]) -> int:
    from insurance_helper_spark.operators.state import StateStore

    store = StateStore(spark, args.state_dir)
    sessions, counts = store.summary()
    out(render_status(sessions.collect(), counts.collect()))
    return 0


def _cmd_reset(args, spark: SparkSession, out, input_fn) -> int:
    if not args.yes:
        if args.type:
            msg = f"Reset state for {args.type}? [y/N] "
        else:
            msg = "Reset ALL state? This will clear progress for all product types. [y/N] "
        if input_fn(msg).strip().lower() not in ("y", "yes"):
            out("Cancelled")
            return 0
    from insurance_helper_spark.operators.state import StateStore

    store = StateStore(spark, args.state_dir)
    if args.type:
        store.reset_session(args.type)
        out(f"Reset state for {args.type}")
    else:
        store.reset_all()
        out("Reset all state")
    return 0


def _cmd_ingest(args, spark, out, fetcher, downloader) -> int:
    """``scrape`` and ``delta`` as one all-types plan: check the types,
    probe each type's page total, run ONE ``scrape_pipeline`` over every
    type (each listing page fetched once, one download stage of
    ``--concurrent`` partitions), materialize the rows once, then write
    each type's bronze CSV slice and object manifest. The commands
    differ in two ways:

    - known URLs: ``scrape`` skips the downloads in
      ``completed_downloads``; ``delta`` (the reference's
      scripts/delta_download.py) diffs by document_url against each
      type's EXISTING metadata CSV, not the state store.
    - rows appended: ``scrape`` appends every row (and reads and
      writes each state table once); ``delta`` appends only the new
      rows, so a rerun appends nothing. Both align the rows to the
      type's existing CSV header.
    """
    from functools import reduce

    from pyspark.sql import DataFrame, Observation
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import state as state_ops
    from insurance_helper_spark.sources import http, sinks

    delta = args.command == "delta"
    types = PRODUCT_TYPES if args.type == "all" else (args.type,)
    unknown = [t for t in types if t not in PRODUCT_TYPES]
    if unknown:
        out(f"Invalid product type: {unknown[0]}")
        return 1
    store = None if delta else state_ops.StateStore(spark, args.state_dir)
    sessions = store.sessions() if store else {}
    templates, starts, totals = {}, {}, {}
    for pt in types:
        out(f"Delta scraping {pt}..." if delta else f"Scraping {pt}...")
        templates[pt] = f"{args.base_url}{URL_PATHS[pt]}?_cur={{page}}"
        if store and args.no_resume and not args.start_page:
            sessions.pop(pt, None)  # start this type afresh
        starts[pt] = args.start_page or state_ops.resume_page(sessions, pt)
        if store and starts[pt] > 1:
            out(f"Resuming from page {starts[pt]}")
        if args.total_pages is not None:
            totals[pt] = args.end_page or args.total_pages
        else:
            # reference get_total_pages: probe page 1 (S3), pagination
            # fallback (S4), with the same client the page scan uses
            totals[pt] = args.end_page or http.probe_total_pages(
                templates[pt], fetcher or http.default_fetcher()
            )
            if store:
                out(f"Total pages: {totals[pt]}")

    # each type's metadata CSV header, read on the driver: appended rows
    # follow it, and a delta reads the table once for its URLs with it as
    # the schema (no CSV yet: every row of the type is new)
    csv_dirs = {pt: f"{args.output}/metadata/{pt}" for pt in types}
    headers = {pt: sinks.bronze_csv_header(d) for pt, d in csv_dirs.items()}
    headers = {pt: h for pt, h in headers.items() if h}
    if delta:
        known = reduce(DataFrame.unionByName, [
            sinks.read_bronze_csv(spark, csv_dirs[pt], columns=h).select(
                F.lit(pt).alias("product_type"), F.col("document_url").alias("url")
            )
            for pt, h in headers.items()
        ]) if headers else None
    else:
        known = store.read("completed_downloads")
    # rate_limit passes through verbatim: 0 means "no limit" in the
    # reference CLI, and TokenBucket honors rate<=0 as uncapped.
    products = http.scrape_pipeline(
        spark, templates, totals, types, fetcher=fetcher, downloader=downloader,
        completed=known, config=http.ScrapeConfig(rate_limit=args.rate_limit),
        download_dir=f"{args.output}/downloads", metadata_only=args.metadata_only,
        start_page=starts, end_page=args.end_page, download_partitions=args.concurrent,
    )
    if delta and known is not None:
        seen = known.select(
            "product_type", F.col("url").alias("document_url"), F.lit(True).alias("seen")
        ).distinct()
        products = products.join(seen, ["product_type", "document_url"], "left")
        is_new = F.col("seen").isNull()
    else:
        is_new = F.lit(True)
    # one materialization; the per-type counts ride on it as observed
    # metrics instead of costing jobs of their own
    counts = Observation("ingest")
    products = products.withColumn("is_new", is_new).observe(counts, *[
        F.count_if((F.col("product_type") == pt) & cond).alias(f"{pt}_{name}")
        for pt in types for name, cond in (("total", F.lit(True)), ("new", F.col("is_new")))
    ]).localCheckpoint(eager=True)
    n = counts.get
    if store and not args.metadata_only:
        # Reconcile only rows the download stage actually attempted
        # (skipped/anti-joined rows carry a null download_success).
        attempted = products.filter(F.col("download_success").isNotNull())
        state_ops.record_download_outcomes(store, attempted.select(
            F.col("document_url").alias("url"),
            F.col("download_success").alias("success"),
            F.when(~F.col("download_success"), F.lit("download failed")).alias("error"),
        ), completed=known)
    new_rows = products.filter("is_new")
    for pt in types:
        n_total, n_new = n[f"{pt}_total"], n[f"{pt}_new"]
        if n_new:
            rows = http.rows_of_type(new_rows, pt)
            _object_storage_postprocess(rows, pt, args, out)
            if pt in headers:
                # CSV appends are positional: align to the existing
                # table's header, null-filling columns this run lacks
                # (e.g. download bookkeeping after a -m run).
                rows = rows.select(*[
                    F.col(c) if c in rows.columns else F.lit(None).cast("string").alias(c)
                    for c in headers[pt]
                ])
            sinks.write_bronze_csv(rows, csv_dirs[pt], stamp_scraped_at=False)
        out(f"{pt}: total {n_total}, new {n_new}" if delta else f"{pt}: {n_total} products scraped")
    if delta:
        out(f"Total products: {sum(n[f'{pt}_total'] for pt in types)}")
        out(f"New products: {sum(n[f'{pt}_new'] for pt in types)}")
    else:
        store.complete_sessions(sessions, {pt: (totals[pt], n[f"{pt}_total"]) for pt in types})
    return 0


def _cmd_retry_failed(args, spark, out, downloader) -> int:
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import state as state_ops

    store = state_ops.StateStore(spark, args.state_dir)
    failed_n = store.read("failed_downloads").count()
    if failed_n == 0:
        out("No failed downloads to retry!")
        return 0
    out(f"Retrying {failed_n} failed downloads...")
    results = state_ops.retry_failed(
        store, downloader, retry_dir=f"{args.output}/downloads/retry"
    )
    ok = results.filter(F.col("success")).count()
    out(f"Retried: {ok} succeeded, {failed_n - ok} failed")
    return 0


def _cmd_query(args, spark, out) -> int:
    from insurance_helper_spark.queries import catalog

    catalog.load_all()
    if args.name == "list" or args.name not in catalog.QUERIES:
        if args.name != "list":
            out(f"Unknown query: {args.name}")
        out("\n".join(sorted(catalog.QUERIES)))
        return 0 if args.name == "list" else 1
    df = catalog.QUERIES[args.name](spark, args.sf_dir)
    if getattr(args, "explain", False):
        # formatted physical plan — the .explain('formatted') surface
        # (scan pruning / PushedFilters / exchanges) without executing.
        out(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ) if hasattr(df, "_sc") else df._jdf.queryExecution().explainString("formatted"))
        return 0
    # limit+1 so "are there more rows" costs no second full execution
    rows = df.limit(args.limit + 1).collect()
    out(" | ".join(df.columns))
    for r in rows[: args.limit]:
        out(" | ".join(str(v) for v in r))
    shown = min(len(rows), args.limit)
    more = "+" if len(rows) > args.limit else ""
    out(f"({shown}{more} rows, limit {args.limit})")
    return 0


def _object_storage_postprocess(products, pt, args, out) -> None:
    """W3 storage modes shared by scrape and delta: write the object
    manifest (key/content-type per downloaded doc), and in R2-ONLY mode
    (ref cli.py:210-212) upload + verify each blob then delete the
    local copy — the filesystem keeps nothing. "both" keeps local +
    object."""
    if args.storage == "filesystem" or "local_file_path" not in products.columns:
        return
    from pyspark.sql import functions as F

    from insurance_helper_spark.sources import object_store, sinks

    downloaded = products.filter(F.col("local_file_path").isNotNull())
    key = object_store.object_key(F.lit(pt), F.col("local_file_path")).alias("object_key")
    manifest = downloaded.select(
        "document_url",
        key,
        object_store.content_type_for(F.col("local_file_path")).alias("content_type"),
    )
    sinks.write_json(manifest, f"{args.output}/object_manifest/{pt}")
    if args.storage == "object":
        statuses = object_store.upload_files(
            downloaded.select("local_file_path", key),
            dest_root=f"{args.output}/objects",
            delete_local=True,
        )
        n_up = statuses.filter(F.col("verified")).count()
        out(f"{pt}: {n_up} objects uploaded (local copies removed)")


def _cmd_analyze(args, spark, out) -> int:
    from insurance_helper_spark.sources import stats
    from insurance_helper_spark.sources.tables import FIXTURE_TABLES

    names = FIXTURE_TABLES if args.table == "all" else (args.table,)
    unknown = [n for n in names if n not in FIXTURE_TABLES]
    if unknown:
        out(f"Unknown table(s): {', '.join(unknown)}")
        return 1
    all_stats = None
    for name in names:
        s = stats.analyze_table(spark, args.sf_dir, name, stats_dir=args.stats_dir)
        all_stats = s if all_stats is None else all_stats.unionByName(s)
        out(f"{name}:")
        for r in s.orderBy("column").collect():
            out(
                f"  {r['column']}: rows={r['n_rows']} nulls={r['n_nulls']} "
                f"~ndv={r['approx_ndv']} min={r['min_value']} max={r['max_value']}"
            )
    out("broadcast advice (32 MiB threshold):")
    for r in stats.broadcast_advice(all_stats).collect():
        verdict = "broadcast" if r["broadcastable"] else "shuffle"
        out(f"  {r['table']}: {r['size_bytes']} bytes on disk -> {verdict}")
    return 0


def _cmd_curate(args, spark, out) -> int:
    """End-to-end corpus curation: quality gates → exact fingerprint
    dedup → deterministic stratified split → partitioned parquet write,
    with a per-stage funnel report. Composes the catalog's verified
    stages (corpus_quality_filter gates, fingerprint_dedup, the Knuth
    split) into the one command a corpus build actually runs. Scale:
    gates are shuffle-free projections; dedup is one fingerprint
    shuffle; the split is a free projection feeding
    ``write.partitionBy('split')``."""
    from pyspark.sql import functions as F

    from insurance_helper_spark.functions import text as T
    from insurance_helper_spark.operators.dedup import fingerprint_dedup
    from insurance_helper_spark.functions.hashing import knuth_uniform as _knuth_uniform

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    n_raw = docs.count()

    staged = docs.withColumn("__toks", T.tokens(F.col("text"))).select(
        "*",
        F.size("__toks").alias("__n_tokens"),
        T.mean_word_length_of(F.col("__toks")).alias("__mwl"),
        T.punct_ratio(F.col("text")).alias("__punct"),
        T.stopword_ratio_of(F.col("__toks")).alias("__stop"),
    )
    gated = staged.filter(
        (F.col("__n_tokens") >= args.min_tokens)
        & (F.col("__mwl") >= 3.0) & (F.col("__mwl") <= 10.0)
        & (F.col("__punct") <= 0.1)
        & (F.col("__stop") >= 0.03)
    ).drop("__toks", "__n_tokens", "__mwl", "__punct", "__stop")
    # Persist the gated relation: the gate metrics (regex tokenize x4)
    # feed the count, the dedup, AND the write — without the persist
    # each action recomputes them from the scan.
    gated = gated.persist()
    n_gated = gated.count()

    deduped = fingerprint_dedup(gated, "text", "doc_id")

    u = _knuth_uniform(F.col("doc_id"))
    labeled = deduped.withColumn(
        "split",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"),
    )
    labeled.write.mode("overwrite").partitionBy("split").parquet(args.output)
    gated.unpersist()
    # Funnel numbers derive from the JUST-WRITTEN output — zero
    # recomputation, and the report provably describes what landed.
    written = spark.read.parquet(args.output)
    by_split = {r["split"]: r["n"] for r in
                written.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n_unique = sum(by_split.values())

    out(f"raw: {n_raw}")
    out(f"quality-gated: {n_gated} ({n_raw - n_gated} dropped)")
    out(f"exact-unique: {n_unique} ({n_gated - n_unique} duplicates)")
    for split in ("train", "val", "test"):
        out(f"{split}: {by_split.get(split, 0)}")
    out(f"written: {args.output} (partitioned by split)")
    return 0


def _cmd_retrieve(args, spark, out) -> int:
    """Stage-3 retrieval at the CLI surface (reference parity:
    cli.py is the reference's only user surface): hybrid BM25 + vector
    retrieval with RRF fusion, for free query text (Rocchio
    pseudo-vector leg) or a --doc-id query-by-example (both legs
    native). See operators/retrieval.py for the plan shape."""
    from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve

    if (args.query is None) == (args.doc_id is None):
        out("Pass query text OR --doc-id (exactly one).")
        return 1
    try:
        rows = hybrid_rrf_retrieve(
            spark, args.sf_dir, query=args.query, doc_id=args.doc_id, topn=args.topn
        ).collect()
    except ValueError as exc:
        out(str(exc))
        return 1
    qlabel = f"doc:{args.doc_id}" if args.doc_id is not None else repr(args.query)
    out(f"top-{args.topn} for {qlabel} (rrf = 1/(60+lex) + 1/(60+vec); 0 = outside leg top-20)")
    for r in rows:
        out(
            f"{r['rank']:>3}. doc {r['doc_id']:>8}  rrf={r['rrf_score']:.6f}  "
            f"lex#{r['lex_rank']:<3} vec#{r['vec_rank']:<3} {r['snippet']}"
        )
    if not rows:
        out("(no results)")
    return 0


def _cmd_vector_store(args, spark, out) -> int:
    """Stage-3 vector database at the CLI surface (reference parity:
    README.md:108-110 "vector database for semantic document storage";
    cli.py is the reference's only user surface): drain new embeddings
    into the maintained store, inspect its epochs/reports, run the
    probed ANN search, and run the reassignment maintenance pass. See
    operators/vector_store.py for the tables and the replay contract."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import vector_store as VS

    if args.action == "ingest":
        if not args.input:
            out("ingest requires --input <embedding parquet dir>")
            return 1
        ckpt = args.checkpoint or f"{args.store}/_checkpoint"
        VS.vector_store_ingest_stream(
            spark,
            args.input,
            args.store,
            ckpt,
            n_centroids=args.n_centroids,
            psi_threshold=args.psi_threshold,
        )
        rows = sorted(
            VS.read_store_reports(spark, args.store).collect(),
            key=lambda r: r["ingest_batch"],
        )
        for r in rows:
            psi = "-" if r["occupancy_psi"] is None else f"{r['occupancy_psi']:.6f}"
            out(
                f"batch {r['ingest_batch']:>3}  epoch {r['epoch']}  "
                f"n={r['n_vectors']:<6} psi={psi:<10} "
                f"mean_cos={r['mean_cos']:.4f}  {r['note']}"
            )
        return 0
    try:
        epoch = VS.read_quantizer(spark, args.store).epoch
    except AnalysisException:
        out(f"no vector store at {args.store} (run ingest first)")
        return 1
    if args.action == "status":
        counts = (
            VS.read_vector_store(spark, args.store).groupBy("epoch", "cell").count().collect()
        )
        n = sum(r["count"] for r in counts)
        stale = sum(r["count"] for r in counts if r["epoch"] != epoch)
        # stale_fraction is the serving-path health contract: exactly
        # the fraction of rows vector_store_search must exact-scan
        # instead of cell-probing (pinned by tests/test_vector_store).
        frac = VS.stale_fraction(spark, args.store)
        out(
            f"store {args.store}: epoch {epoch}, {n} vectors, "
            f"{stale} stale (stale_fraction={frac:.4f})"
        )
        for cell, c in sorted((r["cell"], r["count"]) for r in counts if r["epoch"] == epoch):
            out(f"  cell {cell:>3}: {c} vectors")
        return 0
    if args.action == "reassign":
        n = VS.reassign_stale(spark, args.store)
        out(f"reassigned {n} stale vectors to the current epoch")
        return 0
    if args.action == "search":
        if args.vec_id is None:
            out("search requires --vec-id <stored vector id>")
            return 1
        queries = (
            VS.read_vector_store(spark, args.store)
            .where(F.col("vec_id") == args.vec_id)
            .select(F.col("vec_id").alias("query_id"), "vv")
        )
        if queries.isEmpty():
            out(f"vec_id {args.vec_id} not in the store")
            return 1
        rows = VS.vector_store_search(
            spark, args.store, queries, k=args.topk, n_probe=args.n_probe
        ).collect()
        out(
            f"top-{args.topk} neighbors of vec {args.vec_id} "
            f"(probing {args.n_probe} cells)"
        )
        for r in sorted(rows, key=lambda r: r["nn_rank"]):
            out(
                f"{r['nn_rank']:>3}. vec {r['neighbor_id']:>8}  "
                f"cos={r['cosine_sim']:.6f}"
            )
        return 0
    return 2


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="insurance-helper-spark",
        description="IRDAI Insurance Products engine (Spark)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    sc = sub.add_parser("scrape", help="Scrape insurance products")
    dl = sub.add_parser(
        "delta", help="Incremental run: scrape, diff vs existing CSV, fetch only new"
    )
    for ip in (sc, dl):  # the one ingest path's options
        ip.add_argument("--type", "-t", default="all",
                        help="life, life_list, nonlife, health, or 'all'")
        ip.add_argument("--output", "-o", default="data")
        ip.add_argument("--rate-limit", "-r", type=float, default=10.0, dest="rate_limit",
                        help="requests per second (0 = no limit)")
        ip.add_argument("--concurrent", "-c", type=int, default=None,
                        help="download partitions (ref: max concurrent downloads)")
        ip.add_argument("--metadata-only", "-m", action="store_true", dest="metadata_only")
        ip.add_argument("--start-page", type=int, default=None, dest="start_page")
        ip.add_argument("--end-page", type=int, default=None, dest="end_page")
        ip.add_argument("--total-pages", type=int, default=None, dest="total_pages",
                        help="page count; omitted → probe page 1 (ref get_total_pages)")
        ip.add_argument("--storage", "-s", default="filesystem",
                        choices=("filesystem", "object", "both"))
        ip.add_argument("--base-url", default="https://irdai.gov.in", dest="base_url")
    sc.add_argument("--no-resume", action="store_true", dest="no_resume")
    sc.add_argument("--state-dir", default="data/state", dest="state_dir")

    st = sub.add_parser("status", help="Show session/download status")
    st.add_argument("--state-dir", default="data/state", dest="state_dir")

    rt = sub.add_parser("retry-failed", help="Retry previously failed downloads")
    rt.add_argument("--output", "-o", default="data")
    rt.add_argument("--state-dir", default="data/state", dest="state_dir")

    rs = sub.add_parser("reset", help="Reset scraper state")
    rs.add_argument("--type", "-t", default=None)
    rs.add_argument("--yes", "-y", action="store_true")
    rs.add_argument("--state-dir", default="data/state", dest="state_dir")

    q = sub.add_parser("query", help="Run a catalog query ('list' to enumerate)")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")

    cu = sub.add_parser(
        "curate", help="Corpus curation: gates -> dedup -> split -> parquet"
    )
    cu.add_argument("--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir")
    cu.add_argument("--output", "-o", default="data/corpus")
    cu.add_argument("--min-tokens", type=int, default=30, dest="min_tokens")

    rv = sub.add_parser(
        "retrieve", help="Hybrid BM25+vector retrieval with RRF fusion"
    )
    rv.add_argument("query", nargs="?", default=None,
                    help="free query text (omit when using --doc-id)")
    rv.add_argument("--doc-id", type=int, default=None, dest="doc_id",
                    help="query-by-example: retrieve neighbors of this document")
    rv.add_argument("--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir")
    rv.add_argument("--topn", type=int, default=10)

    vs = sub.add_parser(
        "vector-store",
        help="Maintained IVF vector store: ingest / search / reassign / status",
    )
    vs.add_argument("action", choices=["ingest", "search", "reassign", "status"])
    vs.add_argument("--store", default="data/vector_store")
    vs.add_argument("--input", default=None,
                    help="embedding parquet dir to drain (ingest)")
    vs.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default <store>/_checkpoint)")
    vs.add_argument("--centroids", type=int, default=8, dest="n_centroids")
    vs.add_argument("--psi-threshold", type=float, default=0.25,
                    dest="psi_threshold")
    vs.add_argument("--vec-id", type=int, default=None, dest="vec_id",
                    help="search: query by a stored vector id")
    vs.add_argument("--topk", type=int, default=5)
    vs.add_argument("--n-probe", type=int, default=2, dest="n_probe")

    an = sub.add_parser("analyze", help="Collect table statistics (ANALYZE)")
    an.add_argument("--table", "-t", default="all")
    an.add_argument("--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir")
    an.add_argument("--stats-dir", default=None, dest="stats_dir",
                    help="persist per-table stats parquet under this dir")
    return p


def main(
    argv: list[str] | None = None,
    spark: SparkSession | None = None,
    fetcher=None,
    downloader=None,
    out: Callable[[str], None] = print,
    input_fn: Callable[[str], str] = input,
) -> int:
    args = build_parser().parse_args(argv if argv is not None else sys.argv[1:])
    spark = spark or _build_spark()
    if args.command == "status":
        return _cmd_status(args, spark, out)
    if args.command == "reset":
        return _cmd_reset(args, spark, out, input_fn)
    if args.command in ("scrape", "delta"):
        return _cmd_ingest(args, spark, out, fetcher, downloader)
    if args.command == "retry-failed":
        return _cmd_retry_failed(args, spark, out, downloader)
    if args.command == "query":
        return _cmd_query(args, spark, out)
    if args.command == "analyze":
        return _cmd_analyze(args, spark, out)
    if args.command == "retrieve":
        return _cmd_retrieve(args, spark, out)
    if args.command == "vector-store":
        return _cmd_vector_store(args, spark, out)
    if args.command == "curate":
        return _cmd_curate(args, spark, out)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
