"""Session-scoped staged relations shared across query families.

Several query families derive from one small intermediate relation
that is expensive to build but cheap to hold (the co-purchase edge
list for the nine graph queries, the cumulative development triangle
for the six reserving queries, the dedup family's shingle/pair/
component tables, the BM25 postings that serve retrieval).
``memo_checkpoint`` builds the relation ONCE per (applicationId, key),
writes it to a session-temp parquet directory, and returns a reader
over that directory on every later call in the same session — the
in-session analogue of publishing the relation as a staged warehouse
table, which is exactly what a 100 TB pipeline does with these
artifacts (Lee et al.'s dedup pair tables, a reserving triangle
snapshot, a co-occurrence edge list). ``memo`` holds any other
session value the same way (a row count, an index with its readers).

Why parquet, not localCheckpoint (changed r13): eager localCheckpoints
pin their blocks in the executors' UNIFIED MEMORY region for the whole
session — lineage is truncated, so block sweepers must skip them, and
across a 400-query bench run the pinned staged relations (~1.1 M pair
rows at sf0.1) competed with the memory-hungry Arrow/matmul queries
for that region (r12 driver run: dedup_embedding_cosine 1.29 → 5.60 s,
the exact block-pressure mode bench.py's r2 comment documents).
Parquet staging keeps executor memory clean (the OS page cache serves
re-reads), survives ANY block sweep (nothing is pinned, so sweepers may
unpersist every block), and gives consumers column pruning for free.

Freshness: a key derived from fixture tables carries
``input_files(sf_dir, table, ...)`` — each input file's (path, size,
mtime_ns), read with ``os.stat`` on the driver, no Spark job. A table
rewritten in place gets a new key, so a staged relation, count or
index is rebuilt instead of served stale.

Keyed by applicationId so a stopped-and-restarted session can never
read another session's staging directory; directories are removed at
interpreter exit (best-effort — they live under tempfile.gettempdir()
regardless).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict = {}
_STAGE_DIRS: dict[str, str] = {}

V = TypeVar("V")


def _stage_dir(app_id: str) -> str:
    d = _STAGE_DIRS.get(app_id)
    if d is None:
        d = tempfile.mkdtemp(prefix="ihs_staged_")
        _STAGE_DIRS[app_id] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def input_files(sf_dir: str, *tables: str) -> tuple:
    """(path, size, mtime_ns) of every data file of the fixture
    ``tables`` under ``sf_dir`` — a table is ``{name}.parquet``, a file
    or a directory of part files (hidden and ``_``-prefixed entries
    skipped, as Spark's reader skips them). Only ``os.stat`` runs: no
    Spark job. A path the driver cannot stat (absent, or a remote URI)
    contributes its name alone."""
    out = []
    for name in tables:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, dirs, fs in os.walk(path)
                for f in fs
                if not f.startswith((".", "_"))
            ]
        else:
            files = [path]
        for f in sorted(files):
            try:
                st = os.stat(f)
            except OSError:
                out.append((f,))
            else:
                out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def memo(spark: SparkSession, key: tuple, build: Callable[[], V]) -> V:
    """Return the session's value for ``key``, calling ``build()`` on
    first use in this session (applicationId)."""
    full_key = (spark.sparkContext.applicationId,) + tuple(key)
    if full_key not in _CACHE:
        _CACHE[full_key] = build()
    return _CACHE[full_key]


def memo_checkpoint(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the staged relation for ``key``, building it with
    ``build()`` and publishing it to session-temp parquet on first use
    in this session. Later calls return a reader over the staged files
    (explicit schema — no footer inference, works even for an empty
    relation)."""

    def stage() -> DataFrame:
        # The readable slug is LOSSY (('a b','c') and ('a','b c') both
        # sanitize to 'a_b_c') and cut short (file fingerprints make
        # keys long); the appended 64-bit digest of the raw key tuple
        # makes the directory injective in the key up to a ~2⁻⁶⁴
        # collision, so two distinct memos never overwrite each other's
        # files (ADVICE r13).
        slug = re.sub(r"[^A-Za-z0-9_.-]+", "_", "_".join(str(p) for p in key))[:96]
        digest = hashlib.sha1(repr(key).encode()).hexdigest()[:16]
        path = os.path.join(_stage_dir(spark.sparkContext.applicationId), f"{slug}_{digest}")
        built = build()
        built.write.mode("overwrite").parquet(path)
        return spark.read.schema(built.schema).parquet(path)

    return memo(spark, ("staged",) + tuple(key), stage)


def corpus_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Memoized row count of a fixture table per (app, sf_dir, table,
    input files).

    Callers that size a plan from corpus cardinality (adaptive SRP
    plane counts in dedup_embedding_cosine_lsh /
    crosslingual_margin_pairs_lsh) need the count once per session,
    not once per invocation — ``df.count()`` is a real aggregation job
    (parquet footer row-count pushdown is NOT on by default), and
    bench runs every query cold + 2 warm, tripling the tax (ADVICE
    r12). One count job per table version, then a dict hit.
    """
    from insurance_helper_spark.sources.tables import load_table

    return memo(
        spark,
        ("count", sf_dir, table, input_files(sf_dir, table)),
        lambda: load_table(spark, sf_dir, table).count(),
    )


def doc_shingles(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Staged hashed k-token shingle relation over the FULL documents
    table: distinct (doc_id, h) rows, h = xxhash64 of each k-token
    shingle tuple (operators/dedup.hashed_shingle_rows).

    This is the base relation the entire dedup family derives from —
    n-gram Jaccard (plain/capped/prefix), MinHash signatures, cluster
    resolution, the curation funnel, and the linkage queries all start
    here. Before r12 each query re-ran tokenize→posexplode→window→
    distinct per call (and twice per self-join); now the family shares
    one build per (applicationId, sf_dir, k, documents files), published
    to session-temp parquet — the in-session analogue of a bucketed staged shingle
    table at warehouse scale.

    Queries whose input is a SUBSET of documents (with text unchanged)
    derive their relation by a doc_id semi-join: shingles are computed
    per document, so hashed_shingle_rows(subset) ≡ doc_shingles ⋉ ids.
    """
    from insurance_helper_spark.operators import dedup
    from insurance_helper_spark.sources.tables import load_table

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        return dedup.hashed_shingle_rows(docs, "doc_id", "text", k=k)

    return memo_checkpoint(
        spark, ("doc_shingles", sf_dir, k, input_files(sf_dir, "documents")), build
    )


def doc_shingles_sized(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """``doc_shingles`` with the UNCAPPED per-doc set size attached:
    (doc_id, h, sh_size), sh_size = count of distinct shingles of the
    doc (r15, VERDICT r14 items 3/5).

    Every uncapped Jaccard consumer (plain exact join, prefix index,
    verify legs) re-derived sh_size per call with a doc_id-partitioned
    count window — two Exchange+sort passes per self-join per run.
    Staging the sized relation computes that window ONCE per session on
    top of the staged shingle rows; consumers then read a relation that
    already carries the size (parquet column pruning keeps it free for
    consumers that don't need it). Capped consumers must NOT use this:
    their sizes are recomputed after the hot-shingle drop
    (operators/dedup.ngram_jaccard_pairs guards on max_doc_freq)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def build() -> DataFrame:
        shd = doc_shingles(spark, sf_dir, k)
        return shd.withColumn(
            "sh_size", F.count("*").over(Window.partitionBy("doc_id"))
        )

    return memo_checkpoint(
        spark, ("doc_shingles_sized", sf_dir, k, input_files(sf_dir, "documents")), build
    )


# Document-frequency cap carried by the staged pair table. A published
# all-pairs table MUST drop ultra-hot "stopword" shingles: one shingle
# with df = 10⁶ alone yields ~5·10¹¹ pairs from a single join key —
# the quadratic blow-up operators/dedup.ngram_jaccard_pairs documents
# and its capped configuration exists to prevent. 50 is the capped
# query's own production value and sits above the fixture corpora's
# max df (25 at sf0.1), so every staged-table consumer's value hash is
# byte-identical to the uncapped build at all test SFs (pinned by
# tests/test_shared_cache.py, including a synthetic hot-shingle corpus
# where the cap demonstrably bounds the pair count).
PAIR_STATS_MAX_DOC_FREQ = 50


def ngram_pair_stats(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Staged ALL-pairs k-token-shingle statistics at threshold 0.0:
    (id_a, id_b, common, size_a, size_b, jaccard) for every document
    pair sharing ≥1 non-hot shingle, id_a < id_b, jaccard rounded to 6,
    shingles with document frequency > PAIR_STATS_MAX_DOC_FREQ dropped
    before sizing and joining (no-op at fixture df ≤ 25 — see the
    constant's comment; the guard is what makes the staged build safe
    to publish over a real corpus).

    The staged near-dup PAIR table: every downstream dedup policy is a
    cheap filter/projection of this relation — Jaccard ≥ t is a filter
    on `jaccard`, asymmetric containment is common/least(size_a,size_b)
    (sizes and common are per-pair facts, independent of which other
    documents exist), and a policy over a document SUBSET with
    unchanged text is the same filter semi-joined to the subset's ids.
    At warehouse scale this is the pair table a dedup pipeline
    publishes once per corpus snapshot and every curation job reads;
    in-session the parquet memo plays that role. Built from the staged
    shingle relation, so the tokenize never re-runs either.
    """
    from insurance_helper_spark.operators import dedup
    from insurance_helper_spark.sources.tables import load_table

    from pyspark.sql import functions as F

    def build() -> DataFrame:
        # ADVICE r13: the cap must not drop shingles SILENTLY — when it
        # does, every consumer's semantics diverge from the uncapped
        # relation (exactly what dedup_hot_shingle_census reports; this
        # wires the signal into the build itself). One tiny map-side
        # count-by-shingle job per build, only on the staging call.
        shingles = doc_shingles(spark, sf_dir, k)
        n_hot = (
            shingles.groupBy("h")
            .count()
            .filter(F.col("count") > PAIR_STATS_MAX_DOC_FREQ)
            .count()
        )
        if n_hot:
            import warnings

            warnings.warn(
                f"ngram_pair_stats({sf_dir}, k={k}): {n_hot} shingles exceed "
                f"the df cap {PAIR_STATS_MAX_DOC_FREQ} and were dropped from "
                "the staged pair table; consumers see capped semantics "
                "(their oracles carry the same cap). Run "
                "dedup_hot_shingle_census for the full histogram.",
            )
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        return dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=k, threshold=0.0,
            max_doc_freq=PAIR_STATS_MAX_DOC_FREQ,
            shingles=shingles,
        )

    return memo_checkpoint(
        spark, ("ngram_pair_stats", sf_dir, k, input_files(sf_dir, "documents")), build
    )


def ngram_components(
    spark: SparkSession, sf_dir: str, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Staged connected-component labeling (member_id, cluster_id)
    of the Jaccard ≥ threshold near-dup graph over the full corpus —
    the published dedup-graph labeling that cluster policies (canonical
    winner, best-quality winner, survivorship) all consume. Derived
    from the staged pair table, so the iterative min-label
    propagation runs once per (app, sf_dir, k, threshold, documents
    files)."""
    from pyspark.sql import functions as F

    from insurance_helper_spark.operators import dedup

    def build() -> DataFrame:
        pairs = ngram_pair_stats(spark, sf_dir, k).filter(
            F.col("jaccard") >= threshold
        )
        return dedup.connected_components(pairs)

    return memo_checkpoint(
        spark,
        ("ngram_components", sf_dir, k, threshold, input_files(sf_dir, "documents")),
        build,
    )
