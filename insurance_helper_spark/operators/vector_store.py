"""Maintained IVF vector store — the reference's Stage-3 "vector
database for semantic document storage" (/root/reference/README.md:108-110)
realized as Spark-MAINTAINED parquet tables plus an incremental ingest
operator, a drift-triggered re-election policy, a batch reassignment
maintenance op, and a probed serving path.

Tables under ``store_dir``:

- ``centroids/epoch=E/``  — (cell int, cvec array<double>): the coarse
  quantizer elected at epoch E. Current epoch = max(epoch). Election is
  the engine's portable IVF recipe (knuth-hash seeded sample + ONE
  1e9-quantized Lloyd step — the exact arithmetic the oracle-backed
  ``similarity_ann_frontier_eval`` / ``vector_store_assignment_census``
  queries pin), so a re-elected quantizer is reproducible from the
  store content alone.
- ``vectors/ingest_batch=B/`` — (vec_id long, vv array<double>,
  cell int, epoch long): the stored vectors with the cell they were
  assigned under. A re-election batch reassigns every pre-existing
  partition INLINE (r12), so in steady state all rows carry the
  current epoch; ``reassign_stale`` remains the explicit healer for
  crash windows and legacy stores, and ``stale_fraction`` is the
  serving-side health probe.
- ``reports/ingest_batch=B/`` — one row per micro-batch:
  (epoch long, n_vectors long, occupancy_psi double, reelected boolean,
  mean_cos double, note string).

Replay safety: every write is a dynamic partition overwrite keyed by
ingest_batch (vectors, reports) or epoch (centroids) — the sanctioned
batch-id contract (see streaming/ops.py::corpus_ingest_stream). Two
mechanisms make a replay bit-identical in EVERY crash window: (1) a
batch whose vectors partition already holds exactly its vec_ids is a
no-op (fully-committed batch replayed in a new lineage — e.g. after a
lost checkpoint), and reports are written BEFORE vectors so that
"vectors committed" implies "report committed"; (2) a partially
committed batch recomputes every decision from "store content minus
its own partition", which is exactly the state the original run saw,
so the re-election decision, the elected centroids, the assignments,
and the report all come out identical and the overwrites rewrite the
same bytes.

Drift policy: each batch's CELL-OCCUPANCY histogram is PSI-scored
against the occupancy of all current-epoch rows already in the store
(Laplace-smoothed, per-cell contributions quantized round(1e9·) before
the fold — the drift_gate_stream arithmetic on a k-bucket spine).
PSI >= threshold means the coarse quantizer no longer matches the data
(cells are filling in proportions the index wasn't balanced for) and
triggers re-election over the full store plus the incoming batch.

Scale stance: the coarse quantizer is k x d doubles (k <= a few
hundred), so it lives on the driver as a ``Quantizer`` value — cell ids
ascending, a float64 matrix, the epoch. Reading it is one Arrow job
over the whole centroid table (k rows per epoch) with the current
epoch picked on the driver; an election hands back the quantizer it
computed, and the centroid write goes from that value. Assignment is
one mapInPandas scan of the vectors against the matrix (no Python per
row, no candidate rows); serving ranks each query's probe cells on the
driver with the same key and scores the store in one scan, filtered to
the probed cells and stale rows, with the JVM cosine (see
``vector_store_search``). The stream decides
from two small aggregates: one (ingest_batch, epoch, cell) count
census of the store (replay guard, current epoch, history occupancy,
stale partitions) and one per-cell aggregate of the assigned batch
(row count, occupancy, mean cosine). Only two relations are
checkpointed: the assigned batch, which feeds that aggregate and the
vectors write, and reassigned partitions, which are rewritten in place.
Vectors shuffle only at election's k x d mean rollup (exact
1e9-quantized integer sums). At warehouse scale the vectors table would
be partitioned/bucketed BY CELL so probing becomes partition pruning;
here cell is a pruned predicate column because re-election would churn
cell directories.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
)

from insurance_helper_spark.functions.hashing import (
    KEY_REDUCE,
    KNUTH_MOD,
    KNUTH_MUL,
)
from insurance_helper_spark.operators.similarity import arrow_matrix, cosine_of

VECTORS_SCHEMA = "vec_id long, vv array<double>, cell int, epoch long, ingest_batch long"
CENTROIDS_SCHEMA = "cell int, cvec array<double>, epoch long"
REPORTS_SCHEMA = (
    "epoch long, n_vectors long, occupancy_psi double, reelected boolean,"
    " mean_cos double, note string, ingest_batch long"
)

# numpy dtype of Quantizer.cells -> the Spark integral type of the ids
CELL_TYPES = {
    np.dtype(np.int8): ByteType(),
    np.dtype(np.int16): ShortType(),
    np.dtype(np.int32): IntegerType(),
    np.dtype(np.int64): LongType(),
}


class Quantizer(NamedTuple):
    """A coarse quantizer held on the driver: ``cells`` ascending,
    ``mat[i]`` the centroid of ``cells[i]``, and the store epoch it was
    read or elected at (None outside a store)."""

    cells: np.ndarray
    mat: np.ndarray
    epoch: int | None = None


def _quantizer(cells: np.ndarray, mat: np.ndarray, epoch: int | None = None) -> Quantizer:
    """Sort by cell id: the first maximum of a row of keys is then the
    lowest cell, the assignment tie rule."""
    if not len(cells):
        return Quantizer(cells, np.zeros((0, 0)), epoch)
    order = np.argsort(cells, kind="stable")
    return Quantizer(cells[order], np.ascontiguousarray(mat[order], dtype=np.float64), epoch)


def _cell_type(cells: np.ndarray):
    """The Spark type of a quantizer's cell ids (TypeError if none fits)."""
    if cells.dtype not in CELL_TYPES:
        raise TypeError(f"centroid cell ids must be int8/16/32/64, got {cells.dtype}")
    return CELL_TYPES[cells.dtype]


def collect_quantizer(cents: DataFrame) -> Quantizer:
    """Collect a (cell, cvec) centroid relation to the driver in one
    Arrow job. ``cell`` may be tinyint, smallint, int or bigint and
    keeps its width (assignments of long ids never wrap at 2^31); any
    other type raises TypeError before a job runs."""
    cell_type = cents.schema["cell"].dataType
    dtype = next((d for d, t in CELL_TYPES.items() if t == cell_type), None)
    if dtype is None:
        raise TypeError(
            "centroid cell ids must be an integral type (tinyint, smallint,"
            f" int or bigint), got {cell_type.simpleString()}"
        )
    tbl = cents.select("cell", "cvec").toArrow()
    cells = tbl.column("cell").to_numpy(zero_copy_only=False).astype(dtype)
    return _quantizer(cells, arrow_matrix(tbl.column("cvec")))


def centroid_frame(spark: SparkSession, q: Quantizer) -> DataFrame:
    """(cell, cvec) of ``q`` as a local relation — building it runs no
    Spark job."""
    k, d = q.mat.shape
    cvec = pa.ListArray.from_arrays(
        pa.array(np.arange(k + 1, dtype=np.int32) * d), pa.array(q.mat.ravel(), pa.float64())
    )
    return spark.createDataFrame(
        pa.table({"cell": q.cells, "cvec": cvec}),
        f"cell {_cell_type(q.cells).simpleString()} not null, cvec array<double>",
    )


def _elect_centroids(vecs: DataFrame, n_centroids: int) -> Quantizer:
    """Elect ``n_centroids`` coarse centroids from (vec_id, vv):
    knuth-hash seeded sample (reproducible, TakeOrdered — no full sort)
    + one Lloyd step with exact 1e9-quantized means. Returns the
    quantizer with DENSE int cell ids 0..k-1 in seed order. The seeds
    are collected (k rows) and the mean rollup is distributed: a k x d
    aggregate whose values land in the seed matrix, so a cell that lost
    all members keeps its seed vector."""
    hkey = (F.col("vec_id") % KEY_REDUCE) * KNUTH_MUL % KNUTH_MOD
    seeds = vecs.orderBy(hkey, "vec_id").limit(n_centroids).select("vv").toArrow()
    q = _quantizer(np.arange(seeds.num_rows, dtype=np.int32), arrow_matrix(seeds.column("vv")))
    if not len(q.cells):
        return q
    means = (
        _assign(vecs.select("vec_id", "vv"), q)
        .select("cell", F.posexplode("vv").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(
            (
                F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
                / 1e9
                / F.count("*")
            ).alias("mu")
        )
        .toArrow()
    )
    cell, dim, mu = (means.column(c).to_numpy() for c in ("cell", "dim", "mu"))
    mat = q.mat.copy()
    mat[cell, dim] = mu
    return q._replace(mat=mat)


def _round4_half_up_matrix(cos):
    """round(x, 4) with Spark's HALF_UP tie semantics, vectorized over
    a float64 matrix. The naive float path (scale, floor, compare the
    fraction against 0.5, away-from-zero) agrees with Spark's
    decimal-representation HALF_UP everywhere except within ~1e-12 of
    an exact .00005 boundary; those knife-edge entries (margin 1e-9,
    three orders of magnitude of slack) are re-rounded through
    ``Decimal(repr(x))`` — the same shortest-roundtrip-string HALF_UP
    the JVM's BigDecimal.valueOf path applies. NaN passes through
    (callers map it for ordering)."""
    import numpy as np

    # errstate covers the whole computation: inf inputs (inf cosines
    # from zero-norm edge cases) otherwise warn on `a - fl` (inf - inf
    # = nan), not just on the final compare (ADVICE r14).
    with np.errstate(invalid="ignore"):
        a = np.abs(cos) * 1e4
        fl = np.floor(a)
        frac = a - fl
        r = np.where(frac >= 0.5, fl + 1.0, fl)
        out = np.sign(cos) * r / 1e4
        risky = np.abs(frac - 0.5) < 1e-9
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        for pos in np.argwhere(risky):
            x = float(cos[tuple(pos)])
            out[tuple(pos)] = float(
                Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
            )
    return out


def _norms(mat: np.ndarray) -> np.ndarray:
    n2 = np.zeros(len(mat))
    for i in range(mat.shape[1]):
        n2 += mat[:, i] * mat[:, i]
    return np.sqrt(n2)


def _cosines(V: np.ndarray, mat: np.ndarray, cnorm: np.ndarray) -> np.ndarray:
    """cos(V[j], mat[c]) for every row j and centroid c, with the fold
    of similarity.dot/norm: per dimension i, dot += v_i·c_i and
    n2 += v_i·v_i (vectorized across rows, sequential across dims), then
    dot / (sqrt(n2_v)·sqrt(n2_c)). Bit-identical to the JVM ``cosine``."""
    n, (k, d) = len(V), mat.shape
    dot = np.zeros((n, k))
    nv2 = np.zeros(n)
    for i in range(d):
        dot += V[:, i : i + 1] * mat[None, :, i]
        nv2 += V[:, i] * V[:, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (np.sqrt(nv2)[:, None] * cnorm[None, :])


def _cell_key(cos: np.ndarray) -> np.ndarray:
    """The nearest-cell ranking key of a cosine matrix: round(cos, 4)
    with Spark's HALF_UP rule, NaN greatest (Spark's descending-sort
    rule). Ties go to the lower cell; a quantizer's cells are ascending,
    so that is the lower column."""
    key = _round4_half_up_matrix(cos)
    return np.where(np.isnan(key), np.inf, key)


def _assign(vecs: DataFrame, q: Quantizer) -> DataFrame:
    """Nearest-centroid assignment against the driver-held quantizer
    ``q``: round(cosine, 4) DESC / cell ASC argmax per vector (the
    proven ml_kmeans_lloyd_step tie rule). Returns the columns of
    ``vecs`` (which must hold ``vv`` and no ``cell``) plus ``cell`` and
    ``cos_c``. Building the plan runs no Spark job: callers collect the
    quantizer explicitly (``collect_quantizer``, ``read_quantizer``, an
    election), once per lineage.

    CONTRACTS (ADVICE r14): (a) the ``cell`` output column carries the
    type of ``q.cells`` — tinyint, smallint, int or bigint, so LONG ids
    (e.g. vec_id-derived seeds in the ANN frontier eval) stay long and
    never wrap past 2^31; any other id type raises TypeError here;
    (b) ``vv`` elements must be null-free — a NULL element becomes NaN
    inside the kernel, and NaN cosines sort GREATEST (Spark's
    descending NaN rule for genuine 0/0) whereas the former JVM plan
    emitted NULL cos_c (sorted LAST): null-bearing vectors are a caller
    bug, not a supported input (the fixture embedding tables are
    null-free by schema contract).

    r14 (guide §4.1/§2.4): the corpus is scanned ONCE in mapInPandas
    blocks against the k x d matrix; the former plan (crossJoin to k
    candidate rows per vector + a per-vec_id row_number window)
    shuffled k·|corpus| rows and evaluated the interpreted
    zip_with/aggregate cosine per candidate. Arithmetic is
    bit-identical (see _cosines), and the returned cos_c is F.round of
    the RAW selected cosine, so the value path never touches Python
    rounding. The argmax key is _cell_key. Equivalence with the former
    plan is pinned on fixtures by tests/test_assign_kernel.py."""
    from insurance_helper_spark.shipping import ensure_shipped

    cell_type = _cell_type(q.cells)
    if not len(q.cells):
        raise ValueError("_assign: the quantizer has no centroids")
    spark = vecs.sparkSession
    ensure_shipped(spark)
    cells, cmat = q.cells, q.mat
    d = cmat.shape[1]
    cnorm = _norms(cmat)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                V = np.array(list(pdf["vv"]), dtype=np.float64)
            except ValueError as exc:  # ragged rows never form a matrix
                raise ValueError(
                    f"_assign: vectors must be uniform width {d}"
                ) from exc
            if V.ndim != 2 or V.shape[1] != d:
                raise ValueError(
                    f"_assign: vectors must be uniform width {d}, got {V.shape}"
                )
            cos = _cosines(V, cmat, cnorm)
            key = _cell_key(cos)
            sel = (key == key.max(axis=1)[:, None]).argmax(axis=1)
            out = pdf.copy()
            out["cell"] = cells[sel]
            out["cos_raw"] = cos[np.arange(len(V)), sel]
            yield out

    schema = (
        StructType(list(vecs.schema.fields))
        .add("cell", cell_type)
        .add("cos_raw", DoubleType())
    )
    return vecs.mapInPandas(run, schema=schema).select(
        *vecs.columns, "cell", F.round("cos_raw", 4).alias("cos_c")
    )


def _centroid_table(spark: SparkSession, store_dir: str) -> DataFrame:
    # explicit schema — the epoch DIRECTORY key would re-infer as INT
    return spark.read.schema(CENTROIDS_SCHEMA).parquet(f"{store_dir}/centroids")


def read_quantizer(spark: SparkSession, store_dir: str, epoch: int | None = None) -> Quantizer:
    """The store's quantizer at ``epoch`` (None: the current, max
    epoch). One Arrow job reads the whole centroid table — k rows per
    epoch — and the epoch is picked on the driver."""
    tbl = _centroid_table(spark, store_dir).toArrow()
    epochs = tbl.column("epoch").to_numpy(zero_copy_only=False)
    if epoch is None and len(epochs):
        epoch = int(epochs.max())
    tbl = tbl.filter(pa.array(epochs == epoch, pa.bool_()))
    cells = tbl.column("cell").to_numpy(zero_copy_only=False).astype(np.int32)
    return _quantizer(cells, arrow_matrix(tbl.column("cvec")), epoch)


def read_centroids(spark: SparkSession, store_dir: str, epoch: int | None = None) -> DataFrame:
    """Centroid table at ``epoch``; ``epoch=None`` is the CURRENT (max)
    epoch, found by ``read_quantizer``."""
    if epoch is None:
        epoch = read_quantizer(spark, store_dir).epoch
    return _centroid_table(spark, store_dir).where(F.col("epoch") == epoch)


def read_vector_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The stored vectors with their cell/epoch (explicit schema — the
    ingest_batch directory key must stay LONG)."""
    return spark.read.schema(VECTORS_SCHEMA).parquet(f"{store_dir}/vectors")


def read_store_reports(spark: SparkSession, store_dir: str) -> DataFrame:
    return spark.read.schema(REPORTS_SCHEMA).parquet(f"{store_dir}/reports")


def _store_census(spark: SparkSession, store_dir: str) -> list[tuple[int, int, int, int]]:
    """(ingest_batch, epoch, cell, rows) of the vectors table: one
    aggregate, at most k rows per (batch, epoch)."""
    return [
        tuple(r)
        for r in read_vector_store(spark, store_dir)
        .groupBy("ingest_batch", "epoch", "cell")
        .count()
        .collect()
    ]


def _cell_stats(assigned: DataFrame) -> dict[int, tuple[int, int]]:
    """cell -> (rows, sum of round(1e6·cos_c) as BIGINT) of an assigned
    relation: one k-row aggregate gives the occupancy, the row count and
    the mean assignment cosine (see _mean_cos)."""
    return {
        r["cell"]: (r["n"], r["s"])
        for r in assigned.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("cos_c") * 1e6).cast("long")).alias("s"),
        )
        .collect()
    }


def _mean_cos(stats: dict[int, tuple[int, int]]) -> float:
    """Mean assignment cosine from _cell_stats: the per-row round(1e6·)
    BIGINT terms summed exactly, so the value is partial-agg-order-stable."""
    n = sum(n for n, _ in stats.values())
    return round(sum(s for _, s in stats.values()) / n / 1e6, 6)


def occupancy_psi(
    batch: dict[int, int], hist: dict[int, int], n_cells: int
) -> float:
    """PSI between two cell-occupancy histograms over the FIXED
    0..n_cells-1 bucket spine, both sides Laplace-smoothed, each
    bucket's contribution quantized round(1e9·) before the fold — the
    drift_gate_stream arithmetic on the IVF cell space. Pure-Python on
    k <= a few hundred exact integer counts, so the result is
    bit-stable regardless of how the counts were aggregated."""
    n = sum(batch.values())
    m = sum(hist.values())
    acc = 0
    for c in range(n_cells):
        p = (batch.get(c, 0) + 1) / (n + n_cells)
        q = (hist.get(c, 0) + 1) / (m + n_cells)
        acc += round(1e9 * (p - q) * math.log(p / q))
    return acc / 1e9


def _overwrite(df: DataFrame, path: str, key: str) -> None:
    """Dynamic partition overwrite keyed by ``key`` — the store's one
    idempotent write unit."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(path)
    )


def _write_centroids(spark: SparkSession, q: Quantizer, store_dir: str, epoch: int) -> None:
    _overwrite(
        centroid_frame(spark, q)
        .select("cell", "cvec", F.lit(epoch).cast("long").alias("epoch"))
        .coalesce(1),
        f"{store_dir}/centroids",
        "epoch",
    )


def _write_report(spark: SparkSession, store_dir: str, row: tuple) -> None:
    """One report row, written from an Arrow table (a Python-row
    DataFrame would spread one row over every core)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(REPORTS_SCHEMA)
    tbl = pa.Table.from_pylist([dict(zip(schema.names, row))], to_arrow_schema(schema))
    _overwrite(spark.createDataFrame(tbl, schema), f"{store_dir}/reports", "ingest_batch")


def _reassign(
    spark: SparkSession,
    store_dir: str,
    q: Quantizer,
    census: list[tuple[int, int, int, int]],
) -> int:
    """Rewrite, under ``q``, every vectors partition holding a row of
    another epoch than ``q.epoch``; return the rows rewritten. The
    partitions and their row counts come from ``census`` (the store's
    _store_census), so only the rewrite itself runs jobs."""
    stale = sorted({b for b, e, _, _ in census if e != q.epoch})
    if not stale:
        return 0
    rows = read_vector_store(spark, store_dir).where(F.col("ingest_batch").isin(stale))
    out = (
        _assign(rows.select("vec_id", "vv", "ingest_batch"), q)
        .select(
            "vec_id", "vv", "cell", F.lit(q.epoch).cast("long").alias("epoch"), "ingest_batch"
        )
        # materialized: the write replaces the partitions this plan reads
        .localCheckpoint(eager=True)
    )
    _overwrite(out, f"{store_dir}/vectors", "ingest_batch")
    return sum(n for b, _, _, n in census if b in stale)


def vector_store_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    n_centroids: int = 8,
    psi_threshold: float = 0.25,
    schema: str = "vec_id long, embedding array<float>",
    max_files_per_trigger: int = 1,
) -> None:
    """Incremental vector-store maintenance: each micro-batch of new
    embeddings is assigned to the current coarse quantizer, occupancy
    drift is scored, and a PSI breach re-elects the quantizer over the
    full store + the batch (new epoch). The first batch elects epoch 0.
    Trigger.AvailableNow — a cron invocation drains whatever landed
    since the last checkpoint (the reference's monthly delta shape
    applied to the vector database).

    See the module docstring for the replay contract (dynamic partition
    overwrite on ingest_batch / epoch; delete-checkpoint-and-rerun is
    pinned by tests/test_vector_store.py)."""
    from pyspark.errors import AnalysisException

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        vecs = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vv")
        )
        try:
            census = _store_census(spark_b, store_dir)
        except AnalysisException:
            census = []  # no vectors table yet — corrupt tables must fail

        # Replay no-op guard: if this batch's vectors partition already
        # holds EXACTLY this batch's vec_ids, the whole batch (report
        # included — reports are written BEFORE vectors, so a committed
        # vectors partition implies a committed report) was fully
        # processed in a previous lineage; skip. This is what makes a
        # delete-checkpoint-and-rerun bit-identical END TO END: without
        # it, a full replay would re-assign early batches against the
        # FINAL store state (correct, but not bit-stable).
        n_mine = sum(n for b, _, _, n in census if b == batch_id)
        if n_mine:
            mine = (
                read_vector_store(spark_b, store_dir)
                .where(F.col("ingest_batch") == batch_id)
                .select("vec_id")
            )
            n_batch = vecs.count()
            if (
                n_mine == n_batch
                and mine.join(vecs.select("vec_id"), "vec_id").count() == n_batch
            ):
                # Heal the one crash window inline reassignment leaves:
                # vectors committed, crash before the post-re-election
                # reassign ran. The census already says which
                # partitions are stale, so a full replay pays one
                # centroid read per batch and rewrites only when a
                # stale row exists. Idempotent (same bytes when rerun),
                # so replay stays bit-identical.
                _reassign(spark_b, store_dir, read_quantizer(spark_b, store_dir), census)
                return

        # EVERY decision below is a function of (others, batch) only:
        # "others" = the vectors table minus this batch's own partition,
        # which is exactly the state the original run saw — so a replay
        # after a crash ANYWHERE in this function (including between the
        # centroid write and the vector write) recomputes identical
        # centroids, assignments, and report. The centroids table is
        # only ever READ at the epoch derived from others, never trusted
        # for "what is current".
        others = [r for r in census if r[0] != batch_id]
        psi: float | None = None
        reelected = False
        if not others:
            q = _elect_centroids(vecs, n_centroids)
            if not len(q.cells):
                return  # empty batch
            epoch, note = 0, "initial_epoch"
            _write_centroids(spark_b, q, store_dir, epoch)
        else:
            epoch = max(e for _, e, _, _ in others)
            q = read_quantizer(spark_b, store_dir, epoch)
        # assigned once per quantizer: the per-cell aggregate and the
        # vectors write both read the checkpoint
        assigned = _assign(vecs, q).localCheckpoint(eager=True)
        stats = _cell_stats(assigned)
        if not stats:
            return  # empty batch
        if others:
            hist_occ: dict[int, int] = {}
            for _, e, c, n in others:
                if e == epoch:
                    hist_occ[c] = hist_occ.get(c, 0) + n
            if hist_occ:
                psi = occupancy_psi({c: n for c, (n, _) in stats.items()}, hist_occ, n_centroids)
            if psi is not None and psi >= psi_threshold:
                reelected = True
                all_vv = (
                    read_vector_store(spark_b, store_dir)
                    .where(F.col("ingest_batch") != batch_id)
                    .select("vec_id", "vv")
                    .unionByName(vecs)
                )
                q = _elect_centroids(all_vv, n_centroids)
                epoch, note = epoch + 1, "reelected"
                _write_centroids(spark_b, q, store_dir, epoch)
                assigned = _assign(vecs, q).localCheckpoint(eager=True)
                stats = _cell_stats(assigned)
            else:
                note = "assigned" if psi is not None else "history_empty"

        # report FIRST, vectors SECOND: the no-op replay guard keys on
        # the vectors partition, so "vectors committed" must imply
        # "report committed" for every crash window to replay cleanly
        n_vectors = sum(n for n, _ in stats.values())
        _write_report(
            spark_b,
            store_dir,
            (epoch, n_vectors, psi, reelected, _mean_cos(stats), note, batch_id),
        )
        _overwrite(
            assigned.select(
                "vec_id",
                "vv",
                "cell",
                F.lit(epoch).cast("long").alias("epoch"),
                F.lit(batch_id).cast("long").alias("ingest_batch"),
            ),
            f"{store_dir}/vectors",
            "ingest_batch",
        )
        # Lifecycle tightening (VERDICT r11 item 4): a re-election used
        # to leave EVERY pre-existing row stale (on the serving path's
        # exact-scan fallback) until an operator remembered to run
        # reassign_stale. Reassign inline instead, with the quantizer
        # and census this batch already holds, so a re-election batch
        # ends with 100% current-epoch rows. Replay-safe in every crash
        # window: a crash before this line replays through the no-op
        # guard above, which heals; a crash mid-reassign reruns an
        # idempotent partition rewrite (same bytes).
        if reelected:
            _reassign(spark_b, store_dir, q._replace(epoch=epoch), others)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stale_fraction(spark: SparkSession, store_dir: str) -> float:
    """Serving-path health metric: the fraction of stored rows whose
    assignment epoch is BEHIND the current quantizer — exactly the rows
    ``vector_store_search`` must exact-scan instead of cell-probing.
    0.0 is the healthy steady state (the stream reassigns inline after
    a re-election); anything above 0 means a maintenance crash window
    and the next drain (or an explicit ``reassign_stale``) will heal
    it. The epoch comes from ``read_quantizer``, then one k-free
    aggregate over the vectors table."""
    cur = read_quantizer(spark, store_dir).epoch
    r = read_vector_store(spark, store_dir).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("epoch") != cur, 1).otherwise(0)).cast("long").alias("s"),
    ).first()
    return (r["s"] / r["n"]) if r["n"] else 0.0


def reassign_stale(spark: SparkSession, store_dir: str) -> int:
    """Batch maintenance: rewrite every vectors partition whose rows
    were assigned under an older epoch with cells from the CURRENT
    quantizer (whole ingest_batch partitions, dynamic overwrite — the
    same idempotent unit the stream writes). Returns the number of
    rows upgraded. The ingest stream reassigns INLINE after every
    re-election (r12), so in steady state it finds nothing; it remains
    exposed for crash-window healing and for stores written by older
    engine versions. Jobs: the quantizer read, the census aggregate,
    and, when a partition is stale, its checkpoint and write."""
    return _reassign(
        spark, store_dir, read_quantizer(spark, store_dir), _store_census(spark, store_dir)
    )


def vector_store_search(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probed ANN serving over the maintained store: each query ranks
    only the vectors whose stored cell is among its ``n_probe`` nearest
    current-epoch centroids. Rows still carrying a STALE epoch
    (re-election happened, ``reassign_stale`` hasn't run) are
    exact-scanned in the same scan, so results stay correct while
    maintenance is pending — the documented slow path.

    The query side is bounded (ad-hoc queries) and collected once, and
    the probes are ranked on the driver with the assignment key
    (_cell_key, lower cell first on ties). ONE store scan serves every
    query: the probed cells are pushed into it (``cell IN (...)`` —
    partition pruning at warehouse scale), a literal map from cell to
    the queries probing it pairs each current row with exactly those
    queries (a stale row with all of them), the JVM cosine scores the
    pairs, and a row_number per query cut at ``k`` keeps the top-k
    (Spark limits each group within a partition before the shuffle; a
    single query takes its top-k with ``orderBy().limit()`` instead).
    The store side never collects. A single query runs three Spark
    jobs: the quantizer read, the query collect and the top-k.

    Returns (query_id, neighbor_id, cosine_sim, nn_rank <= k)."""
    q = read_quantizer(spark, store_dir)
    id_col, vec_col = queries.columns[:2]
    id_type = queries.schema[id_col].dataType
    qt = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).toArrow()
    qids = qt.column("query_id").to_pylist()
    qmat = arrow_matrix(qt.column("qv"))
    probes = [[] for _ in qids]
    if qids and len(q.cells) and n_probe > 0:
        key = _cell_key(_cosines(qmat, q.mat, _norms(q.mat)))
        order = np.argsort(-key, axis=1, kind="stable")[:, :n_probe]
        probes = q.cells[order].tolist()

    # each current-epoch row meets the queries probing its cell, each
    # stale row meets every query: candidate pairs come straight out of
    # one generator over literal (query_id, qv) structs
    qtype = f"array<struct<query_id:{id_type.simpleString()},qv:array<double>>>"
    structs = [
        F.struct(F.lit(qid).cast(id_type).alias("query_id"), F.lit(qv).alias("qv"))
        for qid, qv in zip(qids, qmat)
    ]
    by_cell: dict[int, list[int]] = {}
    for i, cells in enumerate(probes):
        for c in cells:
            by_cell.setdefault(c, []).append(i)
    probing = F.create_map(*[
        x for c, idx in sorted(by_cell.items())
        for x in (F.lit(c), F.array(*[structs[i] for i in idx]))
    ]).cast(f"map<int,{qtype}>")
    cur = F.col("epoch") == q.epoch
    cand = (
        read_vector_store(spark, store_dir)
        .where((cur & F.col("cell").isin(sorted(by_cell))) | ~cur)
        .select(
            "vec_id",
            "vv",
            F.inline(F.when(cur, probing[F.col("cell")]).otherwise(F.array(*structs).cast(qtype))),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_of(spark, "vv", "qv"), 6).alias("cosine_sim"),
        )
    )
    if len(qids) == 1:
        # one query: TakeOrdered, whose single output partition the
        # ranking window below reads without another shuffle
        cand = cand.orderBy(F.desc("cosine_sim"), "neighbor_id").limit(max(k, 0))
    wr = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return cand.withColumn("nn_rank", F.row_number().over(wr)).where(F.col("nn_rank") <= k)
