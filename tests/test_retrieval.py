"""operators/retrieval.hybrid_rrf_retrieve against an independent DuckDB
reference, its warm-request job budget, and freshness of the staged
index (and of shared_cache.corpus_count) when an input file is
rewritten in the same session."""

from __future__ import annotations

import re
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from insurance_helper_spark.functions.text import EN_STOPWORDS
from insurance_helper_spark.operators.retrieval import hybrid_rrf_retrieve
from insurance_helper_spark.queries import shared_cache
from tests.conftest import SF_DIR, SF_DIR_ORACLE

TOPN = 10


class DuckReference:
    """The operator's documented semantics in DuckDB: BM25 (k1 1.2,
    b 0.75, +1-smoothed idf) over the embedded documents, each term's
    contribution rounded to 1e-9 and summed as BIGINT, the sum rounded
    to 4 decimals; cosine rounded to 6; both legs cut at depth 20 with
    ties by doc_id; RRF 1/(60+rank) summed over the legs."""

    def __init__(self, sf_dir: str) -> None:
        self.con = con = duckdb.connect()
        con.execute(
            "CREATE TABLE emb AS SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv"
            f" FROM '{sf_dir}/embeddings.parquet'"
        )
        con.execute(
            "CREATE TABLE docs AS SELECT doc_id, text"
            f" FROM '{sf_dir}/documents.parquet'"
        )
        con.execute("""
            CREATE TABLE toks AS
            SELECT doc_id, list_filter(string_split(
                     regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     t -> t <> '') AS toks
            FROM docs WHERE doc_id IN (SELECT vec_id FROM emb)""")
        con.execute("""
            CREATE TABLE post AS
            SELECT term, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM toks) GROUP BY ALL""")
        self.n_docs, self.avgdl = con.execute(
            "SELECT count(*), sum(len(toks))::DOUBLE / count(*) FROM toks"
        ).fetchone()

    def terms(self, query: str | None, doc_id: int | None) -> list[str]:
        if doc_id is not None:
            rows = self.con.execute(
                "SELECT term FROM post WHERE doc_id = ? ORDER BY tf DESC, term", [doc_id]
            ).fetchall()
            words = [t for (t,) in rows]
        else:
            words = re.split(r"[^a-z0-9]+", query.lower())
        out: list[str] = []
        for w in words:
            if w and w not in EN_STOPWORDS and w not in out:
                out.append(w)
        return out[:8]

    def lex(self, terms: list[str], exclude: int) -> list[int]:
        rows = self.con.execute(f"""
            WITH df AS (SELECT term, count(*) AS df FROM post GROUP BY term),
            dl AS (SELECT doc_id, len(toks) AS dl FROM toks)
            SELECT p.doc_id, round(sum(CAST(round(
                     ln(1 + ({self.n_docs} - df.df + 0.5) / (df.df + 0.5))
                     * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / {self.avgdl!r}))
                     * 1e9) AS BIGINT))::DOUBLE / 1e9, 4) AS bm4
            FROM post p JOIN df USING (term) JOIN dl USING (doc_id)
            WHERE p.term IN (SELECT unnest(?::VARCHAR[])) AND p.doc_id <> ?
            GROUP BY p.doc_id ORDER BY bm4 DESC, p.doc_id LIMIT 20""",
            [terms, exclude]).fetchall()
        return [d for d, _ in rows]

    def vec(self, qv: list[float], exclude: int) -> list[int]:
        # sequential sums, as Spark's aggregate() folds them
        rows = self.con.execute("""
            WITH q AS (SELECT ?::DOUBLE[] AS va)
            SELECT vec_id, round(
              list_reduce(list_transform(range(1, len(vv) + 1), i -> va[i] * vv[i]),
                          (a, x) -> a + x)
              / (sqrt(list_reduce(list_transform(va, x -> x * x), (a, x) -> a + x))
                 * sqrt(list_reduce(list_transform(vv, x -> x * x), (a, x) -> a + x))),
              6) AS c
            FROM emb, q WHERE vec_id <> ? ORDER BY c DESC, vec_id LIMIT 20""",
            [qv, exclude]).fetchall()
        return [d for d, _ in rows]

    def answer(self, query: str | None = None, doc_id: int | None = None) -> list[tuple]:
        exclude = -1 if doc_id is None else doc_id
        lex = self.lex(self.terms(query, doc_id), exclude)
        if doc_id is not None:
            qv = self.con.execute("SELECT vv FROM emb WHERE vec_id = ?", [doc_id]).fetchone()[0]
        else:
            fb = sorted(lex[:3])
            vecs = [self.con.execute("SELECT vv FROM emb WHERE vec_id = ?", [d]).fetchone()[0]
                    for d in fb]
            qv = [sum(c) / len(vecs) for c in zip(*vecs)]
        vec = self.vec(qv, exclude)
        lr = {d: i for i, d in enumerate(lex, 1)}
        vr = {d: i for i, d in enumerate(vec, 1)}
        scored = sorted(
            (((1.0 / (60 + lr[d]) if d in lr else 0.0) + (1.0 / (60 + vr[d]) if d in vr else 0.0),
              d) for d in set(lr) | set(vr)),
            key=lambda x: (-x[0], x[1]),
        )
        out = []
        for rank, (score, d) in enumerate(scored[:TOPN], 1):
            (text,) = self.con.execute("SELECT text FROM docs WHERE doc_id = ?", [d]).fetchone()
            out.append((rank, d, round(score, 6), lr.get(d, 0), vr.get(d, 0),
                        re.sub(r"\s+", " ", text)[:80]))
        return out


def _rows(df) -> list[tuple]:
    return [
        (r["rank"], r["doc_id"], r["rrf_score"], r["lex_rank"], r["vec_rank"], r["snippet"])
        for r in df.collect()
    ]


@pytest.fixture(scope="module")
def reference():
    ref = DuckReference(SF_DIR_ORACLE)
    yield ref
    ref.con.close()


@pytest.mark.parametrize(
    "query",
    [{"query": "customer order table"}, {"query": "Window, merge & SCAN the join"},
     {"doc_id": 3}, {"doc_id": 411}],
    ids=["text-1", "text-2", "doc-3", "doc-411"],
)
def test_matches_duckdb_reference(spark, reference, query):
    got = _rows(hybrid_rrf_retrieve(spark, SF_DIR_ORACLE, topn=TOPN, **query))
    want = reference.answer(**query)
    assert len(want) == TOPN
    assert got == want


def test_warm_request_job_budget(spark):
    """A warm request reads the staged index: 4 Spark jobs for free
    text (lexical top-20, Rocchio vectors, vector top-20, snippets) and
    4 by example (one union scan fetches the doc's terms and its vector
    in place of the Rocchio fetch)."""
    sc = spark.sparkContext
    hybrid_rrf_retrieve(spark, SF_DIR, query="table", topn=TOPN).collect()
    budget = {}
    for name, query in (("text", {"query": "window merge scan"}), ("doc", {"doc_id": 3})):
        group = f"t-retrieve-{name}"
        sc.setJobGroup(group, group)
        try:
            hybrid_rrf_retrieve(spark, SF_DIR, topn=TOPN, **query).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        budget[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert budget == {"text": 4, "doc": 4}


def test_non_positive_topn_returns_no_rows(spark):
    for topn in (0, -1):
        assert hybrid_rrf_retrieve(spark, SF_DIR, query="window", topn=topn).collect() == []


def test_rewritten_inputs_are_not_served_stale(spark, tmp_path):
    """The staged index and the memoized count are keyed by the input
    files' (path, size, mtime_ns): rewriting documents.parquet in place
    within one session changes the answer of both."""
    sf = str(tmp_path)
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{sf}/{t}.parquet")
    before = _rows(hybrid_rrf_retrieve(spark, sf, doc_id=3, topn=TOPN))
    n_before = shared_cache.corpus_count(spark, sf, "documents")

    docs = pq.read_table(f"{sf}/documents.parquet")
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    # doc 7 becomes a copy of doc 3; the last document is dropped
    texts[ids.index(7)] = texts[ids.index(3)] + " zyzzyva"
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    pq.write_table(docs.slice(0, docs.num_rows - 1), f"{sf}/documents.parquet")

    after = _rows(hybrid_rrf_retrieve(spark, sf, doc_id=3, topn=TOPN))
    assert after != before
    assert after[0][1] == 7 and after[0][5] == re.sub(r"\s+", " ", texts[ids.index(7)])[:80]
    assert shared_cache.corpus_count(spark, sf, "documents") == n_before - 1
    top = _rows(hybrid_rrf_retrieve(spark, sf, query="zyzzyva", topn=TOPN))
    assert top[0][1] == 7 and top[0][3] == 1
