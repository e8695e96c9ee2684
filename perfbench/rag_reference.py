"""Program-independent references for the RAG requests.

Hybrid retrieval is recomputed in DuckDB with the arithmetic the
catalog's ``retrieval_hybrid_rrf_topk`` oracle fixes: tokens are the
lower-cased alphanumeric runs, each BM25 term contribution is rounded
to 1e-9 and summed as BIGINT, leg scores are rounded (BM25 to 4
decimals, cosine to 6) and ties break on ``doc_id``; the fused score is
1/(60+lex_rank) + 1/(60+vec_rank). A free-text query's vector leg uses
the mean embedding of its top three lexical hits, as the serving
operator documents. ANN answers are checked against an exact numpy
recomputation; the vector store's tables are read with pyarrow.
"""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np

K1, B, RRF_K, DEPTH, FEEDBACK, MAX_TERMS = 1.2, 0.75, 60, 20, 3, 8
STOPWORDS = frozenset((
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "was", "at", "by", "be", "this", "that",
))
_TOKS = "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
_COS6 = (
    "round(list_reduce(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]),"
    " (acc, x) -> acc + x) / (sqrt(list_reduce(list_transform(range(1, len(va) + 1),"
    " i -> va[i] * va[i]), (acc, x) -> acc + x)) * sqrt(list_reduce(list_transform("
    "range(1, len(vb) + 1), i -> vb[i] * vb[i]), (acc, x) -> acc + x))), 6)"
)


class Reference:
    def __init__(self, sf_dir: str) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        con.execute(
            "CREATE TABLE emb AS SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv "
            f"FROM '{sf_dir}/embeddings.parquet'"
        )
        con.execute(f"""
            CREATE TABLE corpus AS
            SELECT d.doc_id, CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                   THEN [] ELSE {_TOKS} END AS toks
            FROM documents d JOIN emb ON emb.vec_id = d.doc_id""")
        con.execute("CREATE TABLE dl AS SELECT doc_id, len(toks) AS dl FROM corpus")
        con.execute(
            "CREATE TABLE totals AS SELECT CAST(count(*) AS BIGINT) AS n_docs,"
            " CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM corpus"
        )
        con.execute(
            "CREATE TABLE postings AS SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf"
            " FROM (SELECT doc_id, unnest(toks) AS term FROM corpus) GROUP BY doc_id, term"
        )
        self.con = con

    def close(self) -> None:
        self.con.close()

    def _doc_terms(self, doc_id: int) -> list[str]:
        rows = self.con.execute(
            "SELECT term FROM postings WHERE doc_id = ? ORDER BY tf DESC, term", [doc_id]
        ).fetchall()
        return [t for (t,) in rows if t not in STOPWORDS][:MAX_TERMS]

    def hybrid(self, query: str | None = None, doc_id: int | None = None, topn: int = 10):
        """Fused top-``topn`` rows (rank, doc_id, rrf_score, lex_rank,
        vec_rank, snippet)."""
        if doc_id is not None:
            terms, exclude = self._doc_terms(doc_id), doc_id
        else:
            terms = []
            for t in re.split(r"[^a-z0-9]+", query.lower()):
                if t and t not in STOPWORDS and t not in terms:
                    terms.append(t)
            terms, exclude = terms[:MAX_TERMS], -1
        lex = self.con.execute(f"""
            WITH tf AS (SELECT p.* FROM postings p WHERE p.term IN (SELECT unnest(?::VARCHAR[]))),
            dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
            s AS (
              SELECT tf.doc_id, round(CAST(sum(CAST(round(
                ln(1 + (t.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * tf.tf * ({K1} + 1)
                / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / t.avgdl))
                * 1e9) AS BIGINT)) AS DOUBLE) / 1e9, 4) AS bm4
              FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN totals t
              WHERE tf.doc_id <> ?
              GROUP BY tf.doc_id)
            SELECT doc_id FROM s ORDER BY bm4 DESC, doc_id LIMIT {DEPTH}""",
            [terms, exclude]).fetchall()
        lex_rank = {d: i + 1 for i, (d,) in enumerate(lex)}
        if doc_id is not None:
            qv = self.con.execute("SELECT vv FROM emb WHERE vec_id = ?", [doc_id]).fetchone()
            qv = qv[0] if qv else None
        else:
            fb = sorted(d for d, r in lex_rank.items() if r <= FEEDBACK)
            vecs = [self.con.execute("SELECT vv FROM emb WHERE vec_id = ?", [d]).fetchone()[0]
                    for d in fb]
            qv = [sum(v[i] for v in vecs) / len(vecs) for i in range(len(vecs[0]))] if vecs else None
        vec_rank: dict[int, int] = {}
        if qv is not None:
            vec = self.con.execute(f"""
                SELECT doc_id FROM (
                  SELECT vec_id AS doc_id, {_COS6} AS cos6
                  FROM (SELECT vec_id, vv AS vb, ?::DOUBLE[] AS va FROM emb WHERE vec_id <> ?))
                ORDER BY cos6 DESC, doc_id LIMIT {DEPTH}""", [qv, exclude]).fetchall()
            vec_rank = {d: i + 1 for i, (d,) in enumerate(vec)}
        fused = []
        for d in set(lex_rank) | set(vec_rank):
            lr, vr = lex_rank.get(d), vec_rank.get(d)
            score = (1.0 / (RRF_K + lr) if lr else 0.0) + (1.0 / (RRF_K + vr) if vr else 0.0)
            fused.append((score, d, lr or 0, vr or 0))
        fused.sort(key=lambda x: (-x[0], x[1]))
        out = []
        for rank, (score, d, lr, vr) in enumerate(fused[:topn], start=1):
            (text,) = self.con.execute(
                "SELECT text FROM documents WHERE doc_id = ?", [d]).fetchone()
            snippet = re.sub(r"\s+", " ", text)[:80]
            out.append((rank, d, round(score, 6), lr, vr, snippet))
        return out

    def check_hybrid(self, got, topn: int, **query) -> str | None:
        want = self.hybrid(topn=topn, **query)
        have = [
            (int(r.rank), int(r.doc_id), float(r.rrf_score), int(r.lex_rank),
             int(r.vec_rank), r.snippet)
            for r in got.sort_values("rank").itertuples(index=False)
        ]
        if have != want:
            for i, (h, w) in enumerate(zip(have, want)):
                if h != w:
                    return f"row {i}: got {h}, reference {w}"
            return f"got {len(have)} rows, reference {len(want)}"
        return None


def _cos6(emb: dict[int, np.ndarray], a: int, b: int) -> float:
    va, vb = emb[a], emb[b]
    return round(float(va @ vb / (np.sqrt(va @ va) * np.sqrt(vb @ vb))), 6)


def check_ann(emb: dict[int, np.ndarray], qid: int, got, k: int) -> str | None:
    """Neighbours are stored vectors other than the query, each
    cosine_sim equals the exact cosine at 6 decimals, and ranks run
    1..n in descending similarity (ties by neighbour id)."""
    rows = sorted(got.itertuples(index=False), key=lambda r: r.nn_rank)
    if not rows or len(rows) > k:
        return f"{len(rows)} neighbours for k={k}"
    if [int(r.nn_rank) for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks are not dense from 1"
    prev = None
    for r in rows:
        nid = int(r.neighbor_id)
        if int(r.query_id) != qid or nid == qid or nid not in emb:
            return f"bad neighbour {nid} for query {qid}"
        want = _cos6(emb, qid, nid)
        if abs(float(r.cosine_sim) - want) > 1.5e-6:
            return f"neighbour {nid}: cosine_sim {r.cosine_sim}, exact {want}"
        key = (-float(r.cosine_sim), nid)
        if prev is not None and key < prev:
            return "ranks are not in descending similarity"
        prev = key
    return None


def recall(emb: dict[int, np.ndarray], qid: int, got, k: int) -> float:
    """Share of the exact top-k (all stored vectors) the ANN answer holds."""
    exact = sorted((-_cos6(emb, qid, j), j) for j in emb if j != qid)[:k]
    return len({j for _, j in exact} & {int(x) for x in got["neighbor_id"]}) / k


def check_store(store: str, emb: dict[int, np.ndarray], n_stale: int, n_reassigned: int) -> list[str]:
    """After the run every input vector is stored once, unchanged, under
    the current epoch, and reassign_stale upgraded exactly the stale rows."""
    import pyarrow.parquet as pq

    errors = []
    vec = pq.read_table(os.path.join(store, "vectors")).to_pydict()
    cur = max(pq.read_table(os.path.join(store, "centroids")).column("epoch").to_pylist())
    ids = vec["vec_id"]
    if sorted(ids) != sorted(emb):
        errors.append(f"store holds {len(ids)} rows for {len(emb)} input vectors")
    for i, vv in zip(ids, vec["vv"]):
        if i in emb and not np.array_equal(np.asarray(vv), emb[i]):
            errors.append(f"store: vector {i} differs from its input")
            break
    if any(int(e) != cur for e in vec["epoch"]):
        errors.append("store: stale rows remain after reassign_stale")
    if n_reassigned != n_stale:
        errors.append(f"reassign_stale upgraded {n_reassigned} rows, {n_stale} were stale")
    return errors
