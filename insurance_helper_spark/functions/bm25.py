"""Okapi BM25: the one scoring definition behind every lexical leg —
the catalog's ``text_bm25_topk`` and ``retrieval_hybrid_rrf_topk`` and
the serving operator ``operators/retrieval.hybrid_rrf_retrieve``.

An index over a ``(doc_id, toks)`` relation is its postings, one row
per (term, doc_id) with the term frequency ``tf``, the document length
``dl`` and the term's document frequency ``df``, plus two corpus
scalars collected to the driver: ``n_docs`` (long) and ``avgdl``
(double). A term's contribution to its document's score is one column
expression over a posting row (``term_score``); callers sum it per
document and keep their own output rounding.

Scale: ``dl`` rides along the explode instead of a join back to a
per-document relation, ``df`` is a window over the term-partitioned
postings (no vocabulary-sized broadcast), and a caller that only needs
some terms restricts the explode before the tf aggregation, so tf rows
exist only for those terms.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


class Index(NamedTuple):
    postings: DataFrame  # (term, doc_id, dl, tf, df)
    n_docs: int
    avgdl: float | None  # None for an empty corpus


def build_index(
    corpus: DataFrame, terms: DataFrame | Sequence[str] | None = None
) -> Index:
    """Postings of ``corpus`` (``doc_id``, ``toks``) plus its scalars.

    ``terms`` restricts the postings to some terms: a list is a literal
    ``isin`` filter, a DataFrame with a ``term`` column is broadcast
    into a semi-join. ``df`` counts every document holding the term,
    and ``n_docs``/``avgdl`` cover the whole corpus (documents without
    tokens included), so a restricted index scores like a full one.
    One job collects the scalars.

    The explode is ``explode_outer`` followed by ``term IS NOT NULL``
    (the same rows as ``explode``): for an inner explode Spark infers
    ``size(toks) > 0 AND toks IS NOT NULL`` and, when ``toks`` is a
    projected tokenizer expression, copies the whole regexp chain into a
    Filter below the Project that computes it, tokenizing every
    document twice."""
    rows = corpus.select(
        "doc_id", F.size("toks").alias("dl"), F.explode_outer("toks").alias("term")
    ).where(F.col("term").isNotNull())
    if isinstance(terms, DataFrame):
        rows = rows.join(F.broadcast(terms.select("term")), "term", "left_semi")
    elif terms is not None:
        rows = rows.filter(F.col("term").isin(*terms))
    postings = (
        rows.groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("df", F.count("*").over(Window.partitionBy("term")))
    )
    stats = corpus.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
    ).first()
    return Index(postings, stats["n_docs"], stats["avgdl"])


def term_score(index: Index) -> Column:
    """BM25 contribution of one posting row: the +1-smoothed idf times
    the saturated, length-normalised tf."""
    tf, df = F.col("tf"), F.col("df")
    idf = F.log(F.lit(1.0) + (F.lit(index.n_docs) - df + 0.5) / (df + 0.5))
    denom = tf + K1 * (1 - B + B * F.col("dl") / F.lit(index.avgdl))
    return idf * tf * (K1 + 1) / denom


def quantized_sum(term: Column) -> Column:
    """Per-document score aggregate that is identical across engines:
    each term contribution rounded to 1e-9 and summed as BIGINT (no
    libm ``ln`` result enters a float sum), then rounded to 4 decimals."""
    return F.round(F.sum(F.round(term * 1e9).cast("long")).cast("double") / 1e9, 4)
