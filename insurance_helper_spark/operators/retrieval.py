"""Parameterized hybrid retrieval — the user-facing twin of the
catalog's ``retrieval_hybrid_rrf_topk`` (whose query documents are
pinned for the DuckDB oracle). This module serves an ARBITRARY query:

- ``query text``  — lexical BM25 leg over the query's terms; the
  vector leg uses Rocchio-style pseudo-relevance feedback (the mean
  embedding of the top-3 lexical hits) since the container ships no
  text encoder. Both leg ranks are reported, so a caller with a real
  encoder can verify the fusion is encoder-agnostic.
- ``--doc-id``    — query-by-example: the document's own tokens feed
  the lexical leg and its own embedding feeds the vector leg (exactly
  the catalog query's shape, for one ad-hoc document).

Fusion: Reciprocal Rank Fusion, score = sum 1/(60+rank) over legs
(Cormack et al.), fused top-n returned with both leg ranks (0 = not in
that leg's top-20).

Scale stance: the BM25 index (functions/bm25 postings plus N/avgdl)
does not depend on the query, so it is built once per session and
corpus version: staged by ``shared_cache.memo_checkpoint`` as parquet
sorted by term within each file, keyed by the input files' (path,
size, mtime_ns) so a rewritten corpus is re-indexed, never served
stale. A request then reads only the postings of its <=8 terms (the
``term IN (...)`` filter is pushed into the scan and prunes row
groups), aggregates them per document in ONE task and takes the top 20
with ``orderBy().limit()`` — never a global sort. The postings of a few
terms are bounded by their document frequencies, so a shuffle's fixed
cost (a map stage writing one file per shuffle partition, then a
second job) would outweigh the aggregation it spreads. The vector leg scans the
embeddings once against ONE query vector inlined as a literal array and
takes its top 20 the same way. Both legs are collected (20 rows each)
and fused on the driver with the same IEEE expression the catalog
query uses; the answer is one ``documents`` scan filtered to the fused
doc ids. A warm request runs four Spark jobs (a by-example request
collects its terms and its vector in one union scan); nothing
corpus-sized is collected, re-tokenized or joined per request.

Reference parity: Stage-3 "semantic search / RAG querying"
(/root/reference/README.md:103-137) exposed at the reference's only
user surface, the CLI (/root/reference/src/irdai_scraper/cli.py).
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from insurance_helper_spark.functions import bm25
from insurance_helper_spark.functions import text as T
from insurance_helper_spark.operators.similarity import cosine_of
from insurance_helper_spark.queries import shared_cache
from insurance_helper_spark.sources.tables import load_table

RRF_K = 60
MAX_QUERY_TERMS = 8
LEG_DEPTH = 20
FEEDBACK_DOCS = 3  # Rocchio pseudo-relevance depth for free-text queries


class _Served(NamedTuple):
    index: bm25.Index  # postings staged as session-temp parquet
    docs: DataFrame  # (doc_id, text)
    emb: DataFrame  # (vec_id, vv)


def _query_terms_from_text(query: str) -> list[str]:
    toks = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    out: list[str] = []
    for t in toks:
        if t in T.EN_STOPWORDS or t in out:
            continue
        out.append(t)
    return out[:MAX_QUERY_TERMS]


def _served(spark: SparkSession, sf_dir: str) -> _Served:
    """The session's index over the embedded corpus of ``sf_dir``,
    with the readers requests scan; built on first use per corpus
    version (the input files' fingerprint is part of the key)."""
    inputs = shared_cache.input_files(sf_dir, "documents", "embeddings")

    def build() -> _Served:
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vv")
        )
        corpus = docs.join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id").select(
            "doc_id", T.tokens(F.col("text")).alias("toks")
        )
        idx = bm25.build_index(corpus)
        postings = shared_cache.memo_checkpoint(
            spark,
            ("bm25_postings", sf_dir, inputs),
            # df's window already partitions by term: each staged file
            # holds whole terms, sorted, so row-group min/max prune
            lambda: idx.postings.sortWithinPartitions("term"),
        )
        return _Served(idx._replace(postings=postings), docs, emb)

    return shared_cache.memo(spark, ("retrieval_index", sf_dir, inputs), build)


def _top(df: DataFrame, score: Column) -> list[int]:
    """doc_ids of the LEG_DEPTH best rows of ``df`` by ``score``, ties
    broken by doc_id."""
    rows = (
        df.select("doc_id", score.alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(LEG_DEPTH)
        .collect()
    )
    return [r["doc_id"] for r in rows]


def _fuse(lex: list[int], vec: list[int]) -> list[tuple[int, float, int, int]]:
    """(doc_id, rrf, lex_rank, vec_rank) for every doc in either leg,
    best first; a rank is 0 when the doc is not in that leg."""
    lex_rank = {d: i for i, d in enumerate(lex, start=1)}
    vec_rank = {d: i for i, d in enumerate(vec, start=1)}
    fused = []
    for d in lex_rank.keys() | vec_rank.keys():
        lr, vr = lex_rank.get(d, 0), vec_rank.get(d, 0)
        rrf = (1.0 / (RRF_K + lr) if lr else 0.0) + (1.0 / (RRF_K + vr) if vr else 0.0)
        fused.append((d, rrf, lr, vr))
    return sorted(fused, key=lambda r: (-r[1], r[0]))


def hybrid_rrf_retrieve(
    spark: SparkSession,
    sf_dir: str,
    query: str | None = None,
    doc_id: int | None = None,
    topn: int = 10,
) -> DataFrame:
    """Fused top-``topn`` (rank, doc_id, rrf_score, lex_rank, vec_rank,
    snippet) for a free-text query or a query-by-example doc_id.
    Exactly one of ``query`` / ``doc_id`` must be given."""
    if (query is None) == (doc_id is None):
        raise ValueError("pass exactly one of query= or doc_id=")
    served = _served(spark, sf_dir)
    postings, emb = served.index.postings, served.emb

    if doc_id is not None:
        # query-by-example: the doc's own most frequent terms and its
        # vector, both point lookups collected by one union scan
        rows = (
            postings.where(F.col("doc_id") == doc_id)
            .where(~F.col("term").isin(*T.EN_STOPWORDS))
            .select("term", "tf", F.lit(None).cast("array<double>").alias("vv"))
            .unionByName(
                emb.where(F.col("vec_id") == doc_id).select(
                    F.lit(None).cast("string").alias("term"),
                    F.lit(None).cast("long").alias("tf"),
                    "vv",
                )
            )
            .collect()
        )
        by_tf = sorted((-r["tf"], r["term"]) for r in rows if r["term"] is not None)
        terms = [t for _, t in by_tf[:MAX_QUERY_TERMS]]
        qv = next((r["vv"] for r in rows if r["vv"] is not None), None)
        if not terms:
            raise ValueError(f"doc_id {doc_id} not found or has no indexable terms")
        postings = postings.where(F.col("doc_id") != doc_id)
        emb = emb.where(F.col("vec_id") != doc_id)
    else:
        terms = _query_terms_from_text(query or "")
        if not terms:
            raise ValueError("query has no indexable terms after tokenization")

    lex = _top(
        postings.where(F.col("term").isin(*terms))
        .coalesce(1)  # a few terms' postings: one task, no shuffle stage
        .groupBy("doc_id")
        .agg(bm25.quantized_sum(bm25.term_score(served.index)).alias("bm4")),
        F.col("bm4"),
    )

    if doc_id is None:
        # Rocchio pseudo-relevance: centroid of the top feedback docs,
        # summed in vec_id order
        fb = lex[:FEEDBACK_DOCS]
        rows = emb.where(F.col("vec_id").isin(fb)).collect() if fb else []
        vecs = [r["vv"] for r in sorted(rows, key=lambda r: r["vec_id"])]
        qv = [sum(c) / len(vecs) for c in zip(*vecs)] if vecs else None

    vec = []
    if qv is not None:
        qv = F.lit(np.asarray(qv, dtype=np.float64))  # one literal, one driver call
        vec = _top(
            emb.select(F.col("vec_id").alias("doc_id"), "vv", qv.alias("qv")),
            F.round(cosine_of(spark, "qv", "vv"), 6),
        )

    return _answer(served.docs, _fuse(lex, vec)[: max(topn, 0)])


def _answer(docs: DataFrame, fused: list[tuple[int, float, int, int]]) -> DataFrame:
    """The fused rows with their snippets: one ``documents`` scan
    filtered to the fused doc ids, each row's rank, score and leg ranks
    looked up by its position in literal arrays — one literal per
    column, so building the plan costs a few driver calls, not a few
    per row."""
    dtypes = (np.int64, np.float64, np.int64, np.int64)
    ids, rrf, lex_rank, vec_rank = (
        np.array(c, dtype=t) for c, t in zip(list(zip(*fused)) or [()] * 4, dtypes)
    )
    pos = F.array_position(F.lit(ids), F.col("doc_id")).cast("int")  # the fused rank

    def at(values: np.ndarray) -> Column:
        return F.element_at(F.lit(values), pos)

    return (
        docs.where(F.col("doc_id").isin(ids.tolist()))
        .select(
            pos.alias("rank"),
            "doc_id",
            F.round(at(rrf), 6).alias("rrf_score"),
            at(lex_rank).alias("lex_rank"),
            at(vec_rank).alias("vec_rank"),
            F.substring(F.regexp_replace("text", r"\s+", " "), 1, 80).alias("snippet"),
        )
        .orderBy("rank")
        .limit(len(fused))
    )
