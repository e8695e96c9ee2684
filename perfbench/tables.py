"""The sf0.1 tables of the analytics and RAG workloads, built from a seed.

The benchmark reads nothing outside its checkout, so it cannot read the
repository's read-only sf0.1 fixture (TESTDATA.md) and rebuilds it
instead. ``build_tables(42)`` draws every column from one
``numpy.random.default_rng(42)`` stream in the fixture's own order, so
it reproduces the fixture value for value: the same ten tables, arrow
types, row counts, keys, text and embeddings. ``fixture_compare.py``
checks this column by column against a copy of the fixture.

What the fixture holds: keys are uniform, so foreign-key fan-outs are
Poisson (lineitems per order ~ Poisson(4)); measures are uniform, or
exponential for ``events.value``; each document is 10-99 words drawn
uniformly from a 30-word vocabulary, and 250 documents are another
document's text plus the word "dup"; embeddings are uniform on the 64-d
unit sphere, with labels drawn independently of the vectors.

The build is cached under ``.bench_build/`` keyed by the seed and this
file's hash.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
EMB_DIM = 64
N_LABELS = 10
N_DUP_DOCS = 250
DUP_WORD = "dup"
EVENT_SPAN_S = 30 * 86_400
FIXTURE_SEED = 42
# digest() of the repository's sf0.1 fixture tables
FIXTURE_DIGEST = "ca4f9660427e5ea5ae44d33d038c97467c72cb52ddf738547c258c65a260ceb0"
# value lists in the order the fixture's draws index them
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_ORDER_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURN_FLAGS = ["R", "A", "N"]
_LINE_STATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = [
    "the", "a", "spark", "query", "table", "join", "group", "filter", "window",
    "data", "order", "customer", "part", "line", "fast", "slow", "big", "small",
    "hash", "sort", "merge", "scan", "agg", "stream", "batch", "vector", "key",
    "value", "row", "column",
]


def _days(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], rng, n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(_SEGMENTS, rng, n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    adj, noun = _pick(_PART_ADJ, rng, n), _pick(_PART_NOUN, rng, n)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(_PART_TYPES, rng, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": _pick(_ORDER_STATUS, rng, n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _days(rng.integers(0, 2405, n), "1995-01-01"),
        "o_orderpriority": _pick(_PRIORITIES, rng, n),
    })
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(_RETURN_FLAGS, rng, n),
        "l_linestatus": _pick(_LINE_STATUS, rng, n),
        "l_shipdate": _days(rng.integers(1, 2500, n), "1995-01-01"),
    })
    n = ROWS["events"]
    # seconds -> whole nanoseconds -> microseconds, truncating at each step
    ns = np.sort((rng.uniform(0, EVENT_SPAN_S, n) * 1e9).astype(np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + (ns // 1000).astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": _pick(_EVENT_TYPES, rng, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n)]
    # near-duplicates: another document's text with one word appended
    dups = rng.choice(n, N_DUP_DOCS, replace=False)
    for i, j in zip(dups, rng.integers(0, n, N_DUP_DOCS)):
        texts[i] = f"{texts[j]} {DUP_WORD}"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(_LANGS, rng, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, n).astype(np.int32),
    })


def digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over every table's name, column names and values."""
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(f"{name}\0{t.num_rows}\0".encode())
        for col in t.column_names:
            arr = t.column(col).combine_chunks()
            if pa.types.is_list(arr.type):
                arr = arr.flatten()
            if pa.types.is_string(arr.type):
                data = "\0".join(arr.to_pylist()).encode()
            else:
                data = arr.to_numpy(zero_copy_only=False).tobytes()
            h.update(col.encode() + b"\0" + data)
    return h.hexdigest()


def sf_dir(root: str, seed: int) -> str:
    """Directory holding the tables for ``seed``, built on first use.
    The fixture's seed must give the fixture's digest; a numpy whose
    generators draw differently fails here rather than measuring other
    data."""
    with open(__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(root, ".bench_build", "data", f"sf0.1-{seed}-{tag}")
    if os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    built = build_tables(seed)
    if seed == FIXTURE_SEED and digest(built) != FIXTURE_DIGEST:
        raise RuntimeError("the tables built from the fixture's seed differ from the fixture")
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in built.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
