"""analytics_rag: the analyst's catalog query mix and the RAG application's
retrieval requests, served by one warm session over the sf0.1 tables.

Analyst phase: 6 catalog queries, once each in a seeded order, each
result collected to the driver as ``cli query`` does. Three are bound by
job count (ROADMAP D2/D3 targets), three by scans and shuffles, so a
job-count or rank-toolkit change moves one half and leaves the other as
a built-in no-change control.

RAG phase: ``vector_store_ingest_stream`` drains the embeddings landed
as two files: first the eighth of them nearest one anchor embedding (a
topical backfill), then the rest. The coarse quantizer elected on the
first file fits the second badly, so the second batch breaches the PSI
threshold and re-elects the centroids. (The fixture's labels are drawn
independently of its vectors, so landing by label would not drift.)
The benchmark then relabels the first batch under the previous epoch,
the crash-window state ``reassign_stale`` exists to heal
(tests/test_cli.py builds the same state); that step is not timed. A
closed loop with one client sends seeded requests while the stale rows
exist: half free-text ``hybrid_rrf_retrieve``, a quarter
``hybrid_rrf_retrieve(doc_id=...)`` and a quarter single-query
``vector_store_search``. ``reassign_stale`` runs, then a second,
shorter burst.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import numpy as np

import tables

JOB_BOUND = ("similarity_ann_frontier_eval", "stat_mood_median_test", "customer_rfm_segments")
SCAN_BOUND = ("q1_pricing_summary", "q3_shipping_priority", "q18_large_orders")
MIX = JOB_BOUND + SCAN_BOUND
# Set-up warms both users' paths once, so the first query or request of
# the seeded order does not carry the session's one-off costs (JIT,
# codegen, first broadcast and checkpoint): the flagship query (scan,
# filter, broadcast join, aggregate, window rank, sort) and one fixed
# retrieval request.
WARMUP_QUERY = "flagship"
WARMUP_REQUEST = "customer order table"
# Every run reads the repository's sf0.1 fixture, rebuilt from its seed;
# the run seed picks the query order and the requests.
DATA_SEED = tables.FIXTURE_SEED
ANCHOR_VEC_ID = 0
FIRST_FILE_SHARE = 1 / 8
BURST_1, BURST_2 = 4, 2
TOPN, ANN_K, N_PROBE = 10, 10, 2
CONTENT_WORDS = [w for w in tables.VOCAB if w not in ("a", "the")]


def _requests(rng: random.Random, n: int) -> list[tuple[str, object]]:
    """n requests: half free text, a quarter by doc id, a quarter ANN."""
    kinds = ["text"] * (n // 2) + ["doc"] * (n // 4) + ["ann"] * (n - n // 2 - n // 4)
    rng.shuffle(kinds)
    out = []
    for k in kinds:
        if k == "text":
            out.append((k, " ".join(rng.sample(CONTENT_WORDS, rng.randint(2, 4)))))
        else:  # embedded documents and stored vectors share ids 0..1999
            out.append((k, rng.randrange(tables.ROWS["embeddings"])))
    return out


def prepare(ctx) -> None:
    import pyarrow.parquet as pq

    ctx.sf = tables.sf_dir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), DATA_SEED)
    rng = random.Random(ctx.seed)
    ctx.order = rng.sample(MIX, len(MIX))
    ctx.requests = [_requests(rng, BURST_1), _requests(rng, BURST_2)]
    emb = pq.read_table(os.path.join(ctx.sf, "embeddings.parquet"))
    ctx.emb = {
        int(i): np.asarray(v, dtype=np.float64)
        for i, v in zip(emb.column("vec_id").to_pylist(), emb.column("embedding").to_pylist())
    }
    ids = emb.column("vec_id").to_numpy()
    vecs = np.stack([ctx.emb[int(i)] for i in ids])
    order = np.lexsort((ids, -(vecs @ ctx.emb[ANCHOR_VEC_ID])))
    landing = os.path.join(ctx.work, "landing")
    os.makedirs(landing)
    base = time.time() - 3600
    first = int(len(order) * FIRST_FILE_SHARE)
    for i, chunk in enumerate((order[:first], order[first:])):
        path = os.path.join(landing, f"batch-{i}.parquet")
        pq.write_table(emb.take(chunk).select(["vec_id", "embedding"]), path)
        os.utime(path, (base + i, base + i))  # the stream drains files by age
    ctx.landing = landing
    ctx.store = os.path.join(ctx.work, "store")


def setup(ctx) -> None:
    from insurance_helper_spark.queries import catalog

    t = time.perf_counter()
    catalog.load_all()
    ctx.load_all_s = time.perf_counter() - t
    catalog.QUERIES[WARMUP_QUERY](ctx.spark, ctx.sf).toPandas()
    from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve

    hybrid_rrf_retrieve(ctx.spark, ctx.sf, query=WARMUP_REQUEST, topn=TOPN).toPandas()


def measure(ctx) -> dict:
    from insurance_helper_spark.operators import vector_store as VS
    from insurance_helper_spark.queries import catalog

    spark, tr = ctx.spark, ctx.tracer
    results: dict[str, object] = {}
    for name in ctx.order:
        t = time.perf_counter()
        with tr.span(f"queries.{name}"):
            results[name] = catalog.QUERIES[name](spark, ctx.sf).toPandas()
        ctx.op(name, time.perf_counter() - t)

    with tr.span("operators.vector_store.ingest"):
        VS.vector_store_ingest_stream(
            spark, ctx.landing, ctx.store, os.path.join(ctx.work, "stream-checkpoint")
        )

    t = time.perf_counter()
    n_stale = _make_stale(spark, ctx.store)
    ctx.untimed_s += time.perf_counter() - t

    answers = [_serve(ctx, r, f"b1-{i}") for i, r in enumerate(ctx.requests[0])]
    with tr.span("operators.vector_store.reassign"):
        n_reassigned = VS.reassign_stale(spark, ctx.store)
    answers += [_serve(ctx, r, f"b2-{i}") for i, r in enumerate(ctx.requests[1])]
    return {"queries": results, "answers": answers, "n_stale": n_stale,
            "n_reassigned": n_reassigned}


def _make_stale(spark, store: str) -> int:
    """Relabel ingest batch 0 under the previous epoch: the state a crash
    between a re-election and its inline reassignment leaves behind."""
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import vector_store as VS

    cur = VS.read_centroids(spark, store).first()["epoch"]
    if cur < 1:
        raise RuntimeError("no re-election happened; the landing order must breach PSI")
    b0 = VS.read_vector_store(spark, store).where(F.col("ingest_batch") == 0).localCheckpoint()
    (
        b0.select("vec_id", "vv", "cell", F.lit(cur - 1).cast("long").alias("epoch"),
                  "ingest_batch")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(f"{store}/vectors")
    )
    return b0.count()


def _serve(ctx, req, request_id: str) -> tuple:
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import vector_store as VS
    from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve

    kind, arg = req
    spark = ctx.spark
    span = {"text": "operators.retrieval.text", "doc": "operators.retrieval.doc",
            "ann": "operators.vector_store.search"}[kind]
    t = time.perf_counter()
    with ctx.tracer.span(span, request_id=request_id):
        if kind == "text":
            got = hybrid_rrf_retrieve(spark, ctx.sf, query=arg, topn=TOPN).toPandas()
        elif kind == "doc":
            got = hybrid_rrf_retrieve(spark, ctx.sf, doc_id=arg, topn=TOPN).toPandas()
        else:
            q = (
                VS.read_vector_store(spark, ctx.store)
                .where(F.col("vec_id") == arg)
                .select(F.col("vec_id").alias("query_id"), "vv")
            )
            got = VS.vector_store_search(spark, ctx.store, q, k=ANN_K, n_probe=N_PROBE).toPandas()
    dt = time.perf_counter() - t
    ctx.op(f"{kind}:{arg}", dt)
    return kind, arg, got, dt


# ---------------------------------------------------------------- checks


class _Collected:
    """A result already collected to the driver, in the shape
    ``oracle_harness.compare`` reads (it only calls ``toPandas``)."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _oracle(ctx, name: str, sql: str):
    """The DuckDB oracle's result, cached per table build and SQL text
    (it depends on nothing else, and recomputing it costs seconds)."""
    import pandas as pd

    from oracle_harness import run_oracle

    key = hashlib.sha256((ctx.sf + "\0" + sql).encode()).hexdigest()[:20]
    path = os.path.join(os.path.dirname(ctx.sf), "oracle", f"{name}-{key}.pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    pdf = run_oracle(sql, ctx.sf)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return pdf


def check(ctx, res: dict) -> list[str]:
    from insurance_helper_spark.queries import catalog
    from oracle_harness import compare

    import rag_reference

    errors = []
    for name, pdf in res["queries"].items():
        sql = catalog.ORACLE_SQL.get(name)
        if sql is None:
            errors.append(f"query {name}: no oracle")
            continue
        ok, msg = compare(_Collected(pdf), _oracle(ctx, name, sql))
        if not ok:
            errors.append(f"query {name}: {msg}")
    ref = rag_reference.Reference(ctx.sf)
    try:
        for kind, arg, got, _ in res["answers"]:
            if kind == "ann":
                msg = rag_reference.check_ann(ctx.emb, arg, got, ANN_K)
            elif kind == "text":
                msg = ref.check_hybrid(got, TOPN, query=arg)
            else:
                msg = ref.check_hybrid(got, TOPN, doc_id=arg)
            if msg:
                errors.append(f"{kind} request {arg!r}: {msg}")
    finally:
        ref.close()
    errors += rag_reference.check_store(ctx.store, ctx.emb, res["n_stale"], res["n_reassigned"])
    return errors


def counts(ctx, res: dict) -> tuple[int, int]:
    """Every query and request either returned or raised (a raise ends
    the run), so all attempted operations succeeded."""
    n = len(res["queries"]) + len(res["answers"]) + 2  # + ingest and reassign
    return n, 0


def stored_bytes_per_input_byte(ctx, res: dict) -> float:
    """Bytes of the vector store ÷ bytes of the landed embedding files
    (the analyst phase stores nothing)."""
    from harness import dir_bytes

    return dir_bytes(ctx.store)[0] / dir_bytes(ctx.landing)[0]


# ----------------------------------------------------------- per layer


LAYER_METRICS = [("queries.load_all_s", "s")] + [
    (f"queries.{q}.{m}", u) for q in MIX for m, u in (("s", "s"), ("jobs", "count"))
] + [
    ("operators.vector_store.ingest_s", "s"), ("operators.vector_store.ingest_jobs", "count"),
    ("operators.vector_store.batches", "count"),
    ("operators.vector_store.epochs", "count"), ("operators.vector_store.stale_fraction", "ratio"),
    ("operators.vector_store.search_p50_s", "s"), ("operators.vector_store.reassign_s", "s"),
    ("operators.vector_store.recall_at_k", "ratio"), ("operators.vector_store.store_bytes", "bytes"),
    ("operators.retrieval.text_p50_s", "s"), ("operators.retrieval.doc_p50_s", "s"),
    ("operators.retrieval.jobs_per_request", "count"),
    ("storage.stored_bytes_per_input_byte", "ratio"),
]


def layer_metrics(ctx, res: dict) -> dict:
    import pyarrow.parquet as pq

    import rag_reference
    from harness import dir_bytes, median

    tr, log = ctx.tracer, ctx.log
    out: dict[str, tuple] = {"queries.load_all_s": (ctx.load_all_s, "s", 1)}
    for q in MIX:
        (sp,) = tr.by_name(f"queries.{q}")
        out[f"queries.{q}.s"] = (sp.end - sp.start, "s", 1)
        out[f"queries.{q}.jobs"] = (log.jobs([sp]), "count", 1)

    (ing,) = tr.by_name("operators.vector_store.ingest")
    (rea,) = tr.by_name("operators.vector_store.reassign")
    reports = pq.read_table(os.path.join(ctx.store, "reports"))
    cents = pq.read_table(os.path.join(ctx.store, "centroids"))
    n_vec = len(ctx.emb)
    ann = [a for a in res["answers"] if a[0] == "ann"]
    ingest_jobs = log.jobs([ing])
    if not ingest_jobs:
        ctx.trace_errors.append("no Spark job was credited to the vector-store ingest")
    out.update({
        "operators.vector_store.ingest_s": (ing.end - ing.start, "s", 1),
        "operators.vector_store.ingest_jobs": (ingest_jobs, "count", 1),
        "operators.vector_store.batches": (reports.num_rows, "count", 1),
        "operators.vector_store.epochs": (len(set(cents.column("epoch").to_pylist())), "count", 1),
        "operators.vector_store.stale_fraction": (res["n_stale"] / n_vec, "ratio", 1),
        "operators.vector_store.search_p50_s": (median([a[3] for a in ann]), "s", len(ann)),
        "operators.vector_store.reassign_s": (rea.end - rea.start, "s", 1),
        "operators.vector_store.recall_at_k": (
            float(np.mean([rag_reference.recall(ctx.emb, a[1], a[2], ANN_K) for a in ann])),
            "ratio", len(ann),
        ),
    })
    out["operators.vector_store.store_bytes"] = (dir_bytes(ctx.store)[0], "bytes", 1)
    out["storage.stored_bytes_per_input_byte"] = (stored_bytes_per_input_byte(ctx, res), "ratio", 1)
    for kind in ("text", "doc"):
        lat = [a[3] for a in res["answers"] if a[0] == kind]
        out[f"operators.retrieval.{kind}_p50_s"] = (median(lat), "s", len(lat))
    spans = tr.by_name("operators.retrieval.text") + tr.by_name("operators.retrieval.doc")
    out["operators.retrieval.jobs_per_request"] = (log.jobs(spans) / len(spans), "count", len(spans))
    return out
