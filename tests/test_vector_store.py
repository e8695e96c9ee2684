"""Maintained IVF vector store (operators/vector_store.py): e2e
ingest stream with drift-triggered re-election, the replay contract
(delete-checkpoint-and-rerun bit-identical), batch reassignment
maintenance, the probed serving path, and the operator-to-catalog tie
(occupancy_psi == the oracle-backed vector_store_occupancy_psi value).
"""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from insurance_helper_spark.operators import vector_store as VS

DIM = 16
K = 4


def _clustered(rng, center: np.ndarray, n: int) -> np.ndarray:
    return center[None, :] + rng.normal(0.0, 0.05, size=(n, DIM))


def _write_batches(tmp_path) -> str:
    """Three embedding parquet files: b1/b2 around directions A+B
    (balanced), b3 entirely around C+D — the occupancy shift that must
    trip the PSI re-election."""
    rng = np.random.RandomState(7)
    dirs = rng.normal(0.0, 1.0, size=(4, DIM))
    dirs /= np.linalg.norm(dirs, axis=1)[:, None]
    a, b, c, d = dirs
    in_dir = tmp_path / "vs_in"
    in_dir.mkdir()
    batches = {
        "b1": (np.vstack([_clustered(rng, a, 20), _clustered(rng, b, 20)]), 0),
        "b2": (np.vstack([_clustered(rng, a, 20), _clustered(rng, b, 20)]), 100),
        "b3": (np.vstack([_clustered(rng, c, 20), _clustered(rng, d, 20)]), 200),
    }
    for name, (mat, base) in batches.items():
        pd.DataFrame(
            {
                "vec_id": np.arange(base, base + len(mat), dtype=np.int64),
                "embedding": [row.astype(np.float32) for row in mat],
            }
        ).to_parquet(in_dir / f"{name}.parquet")
    return str(in_dir)


def _run(spark, tmp_path, ckpt="k"):
    VS.vector_store_ingest_stream(
        spark,
        str(tmp_path / "vs_in"),
        str(tmp_path / "store"),
        str(tmp_path / ckpt),
        n_centroids=K,
        psi_threshold=0.25,
    )


def _snapshot(spark, store_dir):
    vec = sorted(
        (r["vec_id"], tuple(r["vv"]), r["cell"], r["epoch"], r["ingest_batch"])
        for r in VS.read_vector_store(spark, store_dir).collect()
    )
    cents = sorted(
        (r["epoch"], r["cell"], tuple(r["cvec"]))
        for r in spark.read.schema(VS.CENTROIDS_SCHEMA)
        .parquet(f"{store_dir}/centroids")
        .collect()
    )
    reps = sorted(
        map(tuple, VS.read_store_reports(spark, store_dir).collect()),
        key=lambda t: t[-1],  # ingest_batch (psi can be None — unorderable)
    )
    return vec, cents, reps


class TestIngestStream:
    def test_epochs_reports_and_drift_reelection(self, spark, tmp_path):
        _write_batches(tmp_path)
        _run(spark, tmp_path)
        store = str(tmp_path / "store")
        reps = {
            r["ingest_batch"]: r
            for r in VS.read_store_reports(spark, store).collect()
        }
        assert set(reps) == {0, 1, 2}
        # batch 0: first content -> elects epoch 0, no drift score yet
        assert reps[0]["note"] == "initial_epoch" and reps[0]["epoch"] == 0
        assert reps[0]["occupancy_psi"] is None and not reps[0]["reelected"]
        # batch 1: same distribution -> low PSI, stays on epoch 0
        assert reps[1]["note"] == "assigned" and reps[1]["epoch"] == 0
        assert reps[1]["occupancy_psi"] < 0.25 and not reps[1]["reelected"]
        # batch 2: disjoint directions -> occupancy shift -> re-election
        assert reps[2]["note"] == "reelected" and reps[2]["epoch"] == 1
        assert reps[2]["occupancy_psi"] >= 0.25 and reps[2]["reelected"]
        # per-batch counts and epoch stamping on the vectors table:
        # the re-election batch reassigns batches 0/1 INLINE (r12), so
        # every partition ends on the current epoch
        vec = VS.read_vector_store(spark, store)
        per_batch = {
            (r["ingest_batch"], r["epoch"]): r["n"]
            for r in vec.groupBy("ingest_batch", "epoch").agg(
                F.count("*").alias("n")
            ).collect()
        }
        assert per_batch == {(0, 1): 40, (1, 1): 40, (2, 1): 40}
        assert VS.stale_fraction(spark, store) == 0.0
        # the inline reassignment stamped the same cells a direct
        # recompute under the current quantizer produces
        cents_now = VS.read_quantizer(spark, store)
        direct = {
            r["vec_id"]: r["cell"]
            for r in VS._assign(vec.select("vec_id", "vv"), cents_now).collect()
        }
        stored = {r["vec_id"]: r["cell"] for r in vec.collect()}
        assert stored == direct
        # mean assignment cosine is high on clustered data (epoch 0 is
        # near-perfect at 0.98; the re-elected epoch-1 quantizer lands
        # 0.696 — its hash seeding merges two of the four clusters into
        # one cell, a deterministic property of this fixture)
        assert all(reps[i]["mean_cos"] > 0.6 for i in range(3))
        assert reps[0]["mean_cos"] > 0.9 and reps[1]["mean_cos"] > 0.9
        # centroid table carries both epochs; current = 1
        cur = VS.read_centroids(spark, store)
        assert cur.first()["epoch"] == 1 and cur.count() == K

    def test_second_drain_is_noop(self, spark, tmp_path):
        _write_batches(tmp_path)
        _run(spark, tmp_path)
        first = _snapshot(spark, str(tmp_path / "store"))
        _run(spark, tmp_path)  # same checkpoint: nothing new to drain
        assert _snapshot(spark, str(tmp_path / "store")) == first

    def test_delete_checkpoint_and_rerun_is_bit_identical(self, spark, tmp_path):
        _write_batches(tmp_path)
        _run(spark, tmp_path)
        first = _snapshot(spark, str(tmp_path / "store"))
        shutil.rmtree(tmp_path / "k")
        _run(spark, tmp_path, ckpt="k2")  # full replay, new lineage
        assert _snapshot(spark, str(tmp_path / "store")) == first


def _force_new_epoch(spark, store: str) -> None:
    """Manufacture the crash-window state: a NEW quantizer epoch exists
    (elected over the last batch only, so its centroids genuinely
    differ) but no row has been reassigned — exactly what a crash
    between the centroid write and the inline reassignment leaves."""
    vec = VS.read_vector_store(spark, store)
    cur = VS.read_centroids(spark, store).first()["epoch"]
    cents = VS._elect_centroids(
        vec.where(F.col("ingest_batch") == 2).select("vec_id", "vv"), K
    )
    VS._write_centroids(spark, cents, store, cur + 1)


class TestMaintenance:
    def test_stream_leaves_nothing_stale_then_reassign_heals_crash_window(
        self, spark, tmp_path
    ):
        _write_batches(tmp_path)
        _run(spark, tmp_path)
        store = str(tmp_path / "store")
        # steady state after the inline re-election reassignment (r12):
        # nothing stale, explicit maintenance finds no work
        assert VS.stale_fraction(spark, store) == 0.0
        assert VS.reassign_stale(spark, store) == 0
        # crash-window state: new epoch written, rows not reassigned
        _force_new_epoch(spark, store)
        assert VS.stale_fraction(spark, store) == 1.0
        n = VS.reassign_stale(spark, store)
        assert n == 120
        vec = VS.read_vector_store(spark, store)
        assert VS.stale_fraction(spark, store) == 0.0
        assert vec.count() == 120 and vec.select("vec_id").distinct().count() == 120
        # upgraded cells match a direct recompute under current centroids
        cents = VS.read_quantizer(spark, store)
        direct = {
            r["vec_id"]: r["cell"]
            for r in VS._assign(vec.select("vec_id", "vv"), cents).collect()
        }
        stored = {r["vec_id"]: r["cell"] for r in vec.collect()}
        assert stored == direct
        # second run: nothing stale
        assert VS.reassign_stale(spark, store) == 0


class TestSearch:
    def test_full_probe_equals_brute_force(self, spark, tmp_path):
        _write_batches(tmp_path)
        _run(spark, tmp_path)
        store = str(tmp_path / "store")
        VS.reassign_stale(spark, store)
        vec = VS.read_vector_store(spark, store)
        queries = vec.where(F.col("vec_id").isin([0, 100, 200])).select(
            F.col("vec_id").alias("query_id"), "vv"
        )
        got = {
            (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cosine_sim"])
            for r in VS.vector_store_search(
                spark, store, queries, k=3, n_probe=K
            ).collect()
        }
        # brute force with the same rounding + tie rule
        from insurance_helper_spark.operators.similarity import cosine

        brute = (
            vec.select(F.col("vec_id").alias("neighbor_id"), F.col("vv").alias("nv"))
            .crossJoin(queries.withColumnRenamed("vv", "qv"))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("nv"), F.col("qv")), 6).alias("cosine_sim"),
            )
        )
        from pyspark.sql import Window as W

        wr = W.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), "neighbor_id"
        )
        want = {
            (r["query_id"], r["rk"]): (r["neighbor_id"], r["cosine_sim"])
            for r in brute.withColumn("rk", F.row_number().over(wr))
            .where(F.col("rk") <= 3)
            .collect()
        }
        assert got == want

    def test_stale_rows_still_searchable_via_fallback(self, spark, tmp_path):
        """The crash-window serving path: with a fresh epoch written
        but rows not yet reassigned, EVERY row rides the exact-scan
        fallback — results must equal the full-probe answer, and the
        measured stale-fallback fraction must collapse to 0 after the
        heal without changing a single result row."""
        _write_batches(tmp_path)
        _run(spark, tmp_path)
        store = str(tmp_path / "store")
        queries = (
            VS.read_vector_store(spark, store)
            .where(F.col("vec_id") == 0)
            .select(F.col("vec_id").alias("query_id"), "vv")
            # materialized: the heal below REWRITES the vectors
            # partitions this lineage reads
            .localCheckpoint(eager=True)
        )
        _force_new_epoch(spark, store)
        assert VS.stale_fraction(spark, store) == 1.0  # all rows on fallback
        res = {
            (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cosine_sim"])
            for r in VS.vector_store_search(
                spark, store, queries, k=5, n_probe=1
            ).collect()
        }
        assert len(res) == 5
        # vec 0 sits in the A-cluster whose members all live in stale
        # partitions — the top hit must still be found there
        assert res[(0, 1)][1] > 0.8
        assert any(nid < 200 for nid, _ in res.values())
        # heal, then the same search must return identical rows with
        # the fallback fully retired
        VS.reassign_stale(spark, store)
        assert VS.stale_fraction(spark, store) == 0.0
        healed = {
            (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cosine_sim"])
            for r in VS.vector_store_search(
                spark, store, queries, k=5, n_probe=K
            ).collect()
        }
        assert healed == res


class TestOperatorCatalogTie:
    def test_occupancy_psi_helper_matches_oracle_backed_query(self, spark):
        """The Python drift helper the STREAM uses computes the exact
        value the oracle-backed catalog query publishes on the same
        even/odd split of the fixture embeddings."""
        from insurance_helper_spark.queries import catalog
        from tests.conftest import SF_DIR

        catalog.load_all()
        row = catalog.QUERIES["vector_store_occupancy_psi"](spark, SF_DIR).first()
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vv")
        )
        hist = emb.where(F.col("vec_id") % 2 == 0)
        delta = emb.where(F.col("vec_id") % 2 == 1)
        cents = VS._elect_centroids(hist, 8)

        def occupancy(vecs):
            return {c: n for c, (n, _) in VS._cell_stats(VS._assign(vecs, cents)).items()}

        psi = VS.occupancy_psi(occupancy(delta), occupancy(hist), 8)
        assert round(psi, 9) == row["occupancy_psi"]
        assert (psi >= 0.25) == row["alarm"]


def _numpy_topk(vv: dict[int, np.ndarray], qid: int, candidates, k: int) -> dict:
    """Exact top-k of ``qid`` over ``candidates`` in numpy: cosine
    rounded to 6 decimals, ties to the lower neighbour id."""
    q = vv[qid]
    scored = sorted(
        (-round(float(vv[i] @ q / (np.linalg.norm(vv[i]) * np.linalg.norm(q))), 6), i)
        for i in candidates
        if i != qid
    )[:k]
    return {(qid, rk + 1): (i, -s) for rk, (s, i) in enumerate(scored)}


def _numpy_probes(store: str, epoch: int, q: np.ndarray, n_probe: int) -> set[int]:
    """The ``n_probe`` cells whose centroids are nearest ``q`` (the test
    asserts a margin, so rounding cannot reorder them)."""
    import pyarrow.parquet as pq

    cents = pq.read_table(f"{store}/centroids/epoch={epoch}")
    cells = cents.column("cell").to_pylist()
    mat = np.array(cents.column("cvec").to_pylist())
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.argsort(-cos)
    assert cos[order[n_probe - 1]] - cos[order[n_probe]] > 1e-3
    return {cells[i] for i in order[:n_probe]}


def _search(spark, store: str, qids, k: int, n_probe: int) -> dict:
    queries = (
        VS.read_vector_store(spark, store)
        .where(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").alias("query_id"), "vv")
    )
    return {
        (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in VS.vector_store_search(spark, store, queries, k=k, n_probe=n_probe).collect()
    }


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """A drained store over the clustered fixture (every row current)."""
    tmp_path = tmp_path_factory.mktemp("vs_numpy")
    _write_batches(tmp_path)
    _run(spark, tmp_path)
    return str(tmp_path / "store")


class TestSearchEqualsNumpy:
    QIDS = [0, 100, 200]

    @staticmethod
    def _rows(spark, store):
        return {
            r["vec_id"]: (np.array(r["vv"]), r["cell"], r["epoch"])
            for r in VS.read_vector_store(spark, store).collect()
        }

    def test_full_probe_three_queries(self, spark, ingested):
        rows = self._rows(spark, ingested)
        vv = {i: v for i, (v, _, _) in rows.items()}
        want = {}
        for qid in self.QIDS:
            want.update(_numpy_topk(vv, qid, vv, 5))
        assert _search(spark, ingested, self.QIDS, k=5, n_probe=K) == want

    def test_one_probe_with_stale_rows(self, spark, ingested, tmp_path):
        """Batch 0 relabelled under the previous epoch (the crash-window
        shape): each query ranks its one probe cell's current rows plus
        every stale row."""
        store = str(tmp_path / "store")
        shutil.copytree(ingested, store)
        cur = VS.read_quantizer(spark, store).epoch
        b0 = (
            VS.read_vector_store(spark, store)
            .where(F.col("ingest_batch") == 0)
            .localCheckpoint(eager=True)
        )
        (
            b0.select(
                "vec_id", "vv", "cell", F.lit(cur - 1).cast("long").alias("epoch"), "ingest_batch"
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(f"{store}/vectors")
        )
        rows = self._rows(spark, store)
        assert sum(e != cur for _, _, e in rows.values()) == 40
        vv = {i: v for i, (v, _, _) in rows.items()}
        want = {}
        for qid in self.QIDS:
            probes = _numpy_probes(store, cur, vv[qid], 1)
            cand = [i for i, (_, c, e) in rows.items() if e != cur or c in probes]
            want.update(_numpy_topk(vv, qid, cand, 5))
        assert _search(spark, store, self.QIDS, k=5, n_probe=1) == want

    def test_empty_query_input_returns_no_rows(self, spark, ingested):
        got = _search(spark, ingested, [-1], k=5, n_probe=2)
        assert got == {}


def _last_job_id(spark, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestJobBudgets:
    def test_ingest_search_and_reassign_job_counts(self, spark, tmp_path):
        """Spark jobs of the three store paths on the clustered fixture.
        The stream's micro-batches run under their own job group, so the
        ingest is counted by job ids between two marker jobs."""
        _write_batches(tmp_path)
        store = str(tmp_path / "store")
        before = _last_job_id(spark, "t-vs-ingest-before")
        _run(spark, tmp_path)
        after = _last_job_id(spark, "t-vs-ingest-after")
        # 76 before the quantizer became a driver value
        assert after - before - 1 == 34

        queries = (
            VS.read_vector_store(spark, store)
            .where(F.col("vec_id") == 0)
            .select(F.col("vec_id").alias("query_id"), "vv")
        )
        VS.vector_store_search(spark, store, queries, k=5, n_probe=2).collect()  # warm
        _, n_search = _jobs(
            spark,
            "t-vs-search",
            lambda: VS.vector_store_search(spark, store, queries, k=5, n_probe=2).collect(),
        )
        assert n_search <= 4  # 12 before

        _force_new_epoch(spark, store)
        n, n_reassign = _jobs(spark, "t-vs-reassign", lambda: VS.reassign_stale(spark, store))
        assert n == 120 and n_reassign <= 5  # 12 before
