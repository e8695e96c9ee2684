"""Self-test of the benchmark's own parts; needs no Spark.

    python3 perfbench/selftest.py

1. The site generator and the table generator are deterministic: two
   builds from one seed are byte-identical, another seed differs.
2. Every output check passes on a correct output that the test writes
   from the generator's expectations, and fails when that output is
   corrupted in one place.
3. The site server serves the generated bytes and has ended once
   stopped, and a run leaves no process behind: an orphan of a child
   it started is found and stopped.

Exits 0 when every case holds, 1 otherwise.
"""

from __future__ import annotations

import csv
import hashlib
import os
import re
import shutil
import sys
import tempfile
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import ingest  # noqa: E402
import irdai_site  # noqa: E402
import rag_reference  # noqa: E402
import tables  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, ok: bool) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not ok:
        FAILURES.append(name)


def test_determinism() -> None:
    base = "http://127.0.0.1:8000"
    a, b, c = (irdai_site.generate(s, base, ingest.SCALE) for s in (7, 7, 8))
    expect("site: same seed, same bytes", a.digest() == b.digest())
    expect("site: another seed, another site", a.digest() != c.digest())

    def digest(seed: int) -> str:
        h = hashlib.sha256()
        for name, t in sorted(tables.build_tables(seed).items()):
            sink = pa.BufferOutputStream()
            pq.write_table(t, sink)
            h.update(name.encode() + sink.getvalue().to_pybytes())
        return h.hexdigest()

    expect("tables: the fixture's seed gives the fixture's digest",
           tables.digest(tables.build_tables(tables.FIXTURE_SEED)) == tables.FIXTURE_DIGEST)
    d7 = digest(7)
    expect("tables: same seed, same bytes", d7 == digest(7))
    expect("tables: another seed, other tables", d7 != digest(8))


def _write_ingest_output(site, out: str) -> dict:
    """What a correct ingest run leaves behind, built from the spec."""
    rows0, new = site.expected_rows(0), site.new_rows()
    paths: dict[str, str] = {}
    for i, url in enumerate(sorted(site.doc_urls(1))):
        p = os.path.join(out, "downloads", f"{i}.pdf")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(site.docs[url])
        paths[url] = p
    for pt in irdai_site.PRODUCT_TYPES:
        cols = [*irdai_site.COLUMNS[pt], "archive_status", "document_url", "document_filename"]
        header = cols + ["local_file_path", "download_success", "scraped_at"]
        d = os.path.join(out, "metadata", pt)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.csv"), "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, escapechar="\\", doublequote=False)
            w.writerow(header)
            for r in rows0[pt] + new[pt]:
                url = r["document_url"]
                w.writerow([r[c] for c in cols] + [paths[url], "true", "2026-01-01T00:00:00"])
    text_rows = [
        {"path": "file:" + paths[u], "text": "\n".join(site.doc_text[u]) + "\n",
         "n_pages": 1, "extract_error": None}
        for u in sorted(site.doc_urls(0))
    ]
    pq.write_table(pa.Table.from_pylist(text_rows), os.path.join(out, "text.parquet"))
    os.makedirs(os.path.join(out, "text"))
    os.rename(os.path.join(out, "text.parquet"), os.path.join(out, "text", "part-0.parquet"))
    new_keys = {irdai_site.path_key(r["document_url"]) for v in new.values() for r in v}
    n_new = sum(len(v) for v in new.values())
    return {
        "out": out, "state": os.path.join(out, "state"),
        "rcs": {"scrape": 0, "delta": 0, "delta_noop": 0},
        "logs": {"delta": [f"New products: {n_new}"], "delta_noop": ["New products: 0"]},
        "phases": {"delta": {"docs": dict.fromkeys(new_keys, 1)}, "delta_noop": {"docs": {}}},
        "paths": paths,
    }


def test_ingest_checks(tmp: str) -> None:
    site = irdai_site.generate(3, "http://127.0.0.1:8000", ingest.SCALE)
    ctx = types.SimpleNamespace(site=site)

    def fresh() -> dict:
        out = os.path.join(tmp, "ingest")
        shutil.rmtree(out, ignore_errors=True)
        return _write_ingest_output(site, out)

    res = fresh()
    expect("ingest: correct output passes", ingest.check(ctx, res) == [])

    def rewrite_csv(res, pt, fn):
        p = os.path.join(res["out"], "metadata", pt, "part-00000.csv")
        with open(p, encoding="utf-8") as f:
            lines = f.read().splitlines(keepends=True)
        with open(p, "w", encoding="utf-8") as f:
            f.write("".join(fn(lines)))

    res = fresh()
    rewrite_csv(res, "nonlife", lambda ls: ls[:-1])
    expect("ingest: a missing bronze row fails", ingest.check(ctx, res) != [])

    res = fresh()
    rewrite_csv(res, "health", lambda ls: ls + ls[-1:])
    expect("ingest: a row appended twice fails", ingest.check(ctx, res) != [])

    res = fresh()
    p = next(iter(res["paths"].values()))
    with open(p, "r+b") as f:
        f.seek(20)
        b = f.read(1)
        f.seek(20)
        f.write(bytes([b[0] ^ 1]))
    expect("ingest: a corrupted download fails", ingest.check(ctx, res) != [])

    res = fresh()
    tp = os.path.join(res["out"], "text", "part-0.parquet")
    t = pq.read_table(tp).to_pylist()
    t[0]["text"] = t[0]["text"].replace("Product", "Produce", 1)
    pq.write_table(pa.Table.from_pylist(t), tp)
    expect("ingest: wrong extracted text fails", ingest.check(ctx, res) != [])

    res = fresh()
    old = irdai_site.path_key(sorted(site.doc_urls(0))[0])
    res["phases"]["delta"]["docs"][old] = 1
    expect("ingest: a delta that refetches an old document fails", ingest.check(ctx, res) != [])

    res = fresh()
    res["logs"]["delta_noop"] = ["New products: 3"]
    expect("ingest: a second delta that appends fails", ingest.check(ctx, res) != [])


def test_analytics_check(sf: str) -> None:
    from insurance_helper_spark.queries import catalog
    from oracle_harness import compare, run_oracle

    import analytics_rag

    catalog.load_all()
    missing = [q for q in analytics_rag.MIX if q not in catalog.ORACLE_SQL]
    expect("analytics: every mix query has an oracle", not missing)
    want = run_oracle(catalog.ORACLE_SQL["q1_pricing_summary"], sf)
    ok, _ = compare(analytics_rag._Collected(want.copy()), want)
    expect("analytics: the oracle's own result passes", ok)
    bad = want.copy()
    col = next(c for c in bad.columns if bad[c].dtype.kind == "f")
    bad.loc[0, col] = bad.loc[0, col] + 0.01
    ok, _ = compare(analytics_rag._Collected(bad), want)
    expect("analytics: one changed value fails", not ok)


def test_rag_checks(sf: str, tmp: str) -> None:
    ref = rag_reference.Reference(sf)
    try:
        for kw in ({"query": "spark window join"}, {"doc_id": 17}):
            rows = ref.hybrid(topn=10, **kw)
            got = pd.DataFrame(rows, columns=["rank", "doc_id", "rrf_score", "lex_rank",
                                              "vec_rank", "snippet"])
            expect(f"rag: reference answer passes {kw}", ref.check_hybrid(got, 10, **kw) is None)
            bad = got.copy()
            bad.loc[1, "doc_id"] = bad.loc[2, "doc_id"]
            expect(f"rag: a wrong document fails {kw}", ref.check_hybrid(bad, 10, **kw) is not None)
    finally:
        ref.close()

    emb_t = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    emb = {int(i): np.asarray(v, dtype=np.float64) for i, v in zip(
        emb_t.column("vec_id").to_pylist(), emb_t.column("embedding").to_pylist())}
    qid, k = 5, 10
    exact = sorted((-rag_reference._cos6(emb, qid, j), j) for j in emb if j != qid)[:k]
    got = pd.DataFrame({
        "query_id": [qid] * k, "neighbor_id": [j for _, j in exact],
        "cosine_sim": [-c for c, _ in exact], "nn_rank": list(range(1, k + 1)),
    })
    expect("ann: exact answer passes", rag_reference.check_ann(emb, qid, got, k) is None)
    expect("ann: exact answer has recall 1", rag_reference.recall(emb, qid, got, k) == 1.0)
    bad = got.copy()
    bad.loc[3, "cosine_sim"] += 0.001
    expect("ann: a wrong cosine fails", rag_reference.check_ann(emb, qid, bad, k) is not None)

    store = os.path.join(tmp, "store")
    ids = sorted(emb)
    os.makedirs(os.path.join(store, "vectors", "ingest_batch=0"))
    os.makedirs(os.path.join(store, "centroids", "epoch=1"))
    pq.write_table(pa.table({"cell": [0], "cvec": [[0.0]]}),
                   os.path.join(store, "centroids", "epoch=1", "part-0.parquet"))

    def write_vectors(vv, epochs):
        pq.write_table(pa.table({"vec_id": ids, "vv": vv, "cell": [0] * len(ids), "epoch": epochs}),
                       os.path.join(store, "vectors", "ingest_batch=0", "part-0.parquet"))

    good_vv = [emb[i].tolist() for i in ids]
    write_vectors(good_vv, [1] * len(ids))
    expect("store: correct store passes", rag_reference.check_store(store, emb, 4, 4) == [])
    bad_vv = [list(v) for v in good_vv]
    bad_vv[7][0] += 1e-9
    write_vectors(bad_vv, [1] * len(ids))
    expect("store: a changed vector fails", rag_reference.check_store(store, emb, 4, 4) != [])
    write_vectors(good_vv, [0] + [1] * (len(ids) - 1))
    expect("store: a stale row left behind fails", rag_reference.check_store(store, emb, 4, 4) != [])


def test_event_log(tmp: str) -> None:
    """Jobs are credited by job group, and a job without a benchmark group
    (a streaming micro-batch) by the innermost span open at submission."""
    import json

    from harness import EventLog, Span

    spans = [Span(0, "workload", 100.0, 200.0, job_group="perfbench-0"),
             Span(1, "queries.q1", 110.0, 120.0, parent=0, job_group="perfbench-1"),
             Span(2, "operators.vector_store.ingest", 130.0, 150.0, parent=0,
                  job_group="perfbench-2")]

    def job(job_id, t, props):
        return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t * 1000,
                "Stage IDs": [job_id], "Properties": props}

    stream = {"spark.jobGroup.id": "c0ffee-run-id", "sql.streaming.queryId": "q"}
    events = [job(0, 50.0, {}),  # set-up, outside every span
              job(1, 111.0, {"spark.jobGroup.id": "perfbench-1"}),
              job(2, 131.0, stream), job(3, 149.0, stream),
              job(4, 160.0, {"spark.jobGroup.id": "perfbench-0"})]
    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "app"), "w") as f:
        f.write("".join(json.dumps(e) + "\n" for e in events))
    log = EventLog(log_dir, spans)
    expect("event log: a job is credited to its span's group", log.jobs([spans[1]]) == 1)
    expect("event log: streaming jobs are credited to the span open at submission",
           log.jobs([spans[2]]) == 2)
    expect("event log: a job outside every span is not credited",
           log.jobs(spans) == 4)


def test_benchmark_json() -> None:
    import json

    import analytics_rag
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    mods = {"ingest_monthly": ingest, "analytics_rag": analytics_rag}
    expect("BENCHMARK.json names the workloads run.py runs",
           [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS))
    expect("BENCHMARK.json names the end-to-end metrics an untraced run reports",
           [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END))
    expect("BENCHMARK.json names the per-layer metrics a traced run reports",
           [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.layer_metric_names(mods))
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [w["name"] for w in bench["workloads"]] + [m["name"] for m in metrics]
    expect("BENCHMARK.json: names are well formed and unique",
           len(set(names)) == len(names)
           and all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names))
    expect("BENCHMARK.json: units are well formed",
           all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in metrics))
    expect("BENCHMARK.json: bounds are at most 0.25 and setup_s has the largest",
           all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
           and max(bench["end_to_end"], key=lambda m: m["bound"])["bound"]
           == next(m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"))
    expect("BENCHMARK.json: workload reasons fit one line of 200 characters",
           all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"]))
    expect("BENCHMARK.json: run_seconds is a whole number from 1 to 60",
           isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60)


def test_processes() -> None:
    import subprocess
    from urllib.request import urlopen

    import run

    server = irdai_site.SiteServer(3, 0.0625)
    site = irdai_site.generate(3, server.base_url, 0.0625)
    url = f"{server.base_url}{irdai_site.URL_PATHS['life']}?_cur=1"
    with urlopen(url, timeout=60) as r:
        body = r.read()
    expect("site server: serves the generated site",
           server.digest == site.digest()
           and body == site.months[0].pages(server.base_url)[("life", 1)].encode("utf-8"))
    server.stop()
    expect("site server: has ended once stopped", server.proc.returncode == 0)

    run._become_subreaper()
    subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
    orphans = run._descendants()
    run._stop_descendants(grace_s=0.2)
    expect("run: an orphaned grandchild is found, then stopped",
           len(orphans) == 1 and run._descendants() == [])


def main() -> int:
    test_determinism()
    test_benchmark_json()
    test_processes()
    sf = tables.sf_dir(ROOT, 42)
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        test_event_log(tmp)
        test_ingest_checks(tmp)
        test_analytics_check(sf)
        test_rag_checks(sf, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
