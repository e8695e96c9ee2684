"""Dedup query registrations (exact + fuzzy; SURVEY §2B).

Exact and n-gram-Jaccard dedup carry full DuckDB oracles; MinHash-LSH
and SimHash use engine-specific hashing (xxhash64) and register
rows-only (the driver records the weaker check, per the contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_helper_spark.functions import cleaning
from insurance_helper_spark.functions import text as T
from insurance_helper_spark.operators import dedup
from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.queries.shared_cache import (
    corpus_count,
    doc_shingles,
    doc_shingles_sized,
    input_files,
    memo_checkpoint,
    ngram_components,
    ngram_pair_stats,
)
from insurance_helper_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Exact dedup with deterministic keep (window argmin) — generalizes
# dropDuplicates; ref semantics J1 (URL-set membership, cli.py:101-103).
# ---------------------------------------------------------------------------

EXACT_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity) AS rn
  FROM lineitem
)
WHERE rn = 1
ORDER BY l_orderkey
"""


@register("dedup_exact_keep_first", EXACT_ORACLE)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber", "l_quantity"])
    return (
        dedup.dedup_exact(li, ["l_orderkey"], [F.col("l_linenumber"), F.col("l_quantity")])
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# URL-hash dedup: sha2-keyed distinct (J1 at 100 TB: fixed-width keys).
# ---------------------------------------------------------------------------

URLHASH_ORACLE = """
WITH urls AS (
  SELECT 'https://irdai.gov.in/doc/' || CAST(o_orderkey % 997 AS VARCHAR) || '.pdf' AS url
  FROM orders
)
SELECT count(*) AS n_rows, count(DISTINCT sha256(url)) AS n_unique
FROM urls
"""


@register("dedup_url_hash", URLHASH_ORACLE)
def dedup_url_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey"])
    urls = orders.select(
        F.concat(
            F.lit("https://irdai.gov.in/doc/"),
            (F.col("o_orderkey") % 997).cast("string"),
            F.lit(".pdf"),
        ).alias("url")
    )
    return urls.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(cleaning.url_key(F.col("url"))).alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# Content-fingerprint dedup over documents (sha2 of normalized text).
# ---------------------------------------------------------------------------

FINGERPRINT_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT count(*) AS n_docs,
       count(DISTINCT fingerprint) AS n_unique,
       count(*) - count(DISTINCT fingerprint) AS n_exact_dups
FROM fp
"""


@register("dedup_fingerprint_docs", FINGERPRINT_ORACLE)
def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Note: fixture text is ASCII so the [^a-z0-9]+ oracle regex matches
    our \\p{L}\\p{N} normalizer exactly."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    from insurance_helper_spark.functions import text as T

    fp = docs.select(T.fingerprint(F.col("text")).alias("fingerprint"))
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
        (F.count("*") - F.countDistinct("fingerprint")).alias("n_exact_dups"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs — full oracle (pure set arithmetic).
# ---------------------------------------------------------------------------

NGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.common,
       sa.sh_size AS size_a, sb.sh_size AS size_b,
       round(p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common) >= 0.5
ORDER BY p.id_a, p.id_b
"""


@register("dedup_ngram_jaccard", NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT full-set Jaccard ≥ 0.5 pairs, built UNCAPPED from the
    memoized shingle relation — the reference-semantics query whose
    oracle is pure set arithmetic over every shingle.

    ADVICE r13: this query briefly read the staged pair table (capped
    at df 50 since r13), which silently gave it capped semantics under
    an uncapped oracle — true only while no shingle exceeds the cap.
    The catalog now keeps the contracts distinct: THIS query is the
    uncapped ground truth (and the one to run when exactness beats
    cost; its lossless scale form is dedup_ngram_jaccard_prefix),
    while dedup_ngram_jaccard_capped and the downstream policy/linkage
    consumers read the PUBLISHED capped pair table, each with the cap
    in its oracle. On corpora with no hot shingles (every fixture SF:
    max df 25) the two relations are value-identical."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # r15 (VERDICT r14 item 3): the staged relation also carries the
    # per-doc set size, so neither self-join side re-pays the doc_id
    # Exchange+sort window per run; sizes are the UNCAPPED counts, the
    # exact contract this query keeps.
    return (
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5,
            shingles=doc_shingles_sized(spark, sf_dir),
        )
        .orderBy("id_a", "id_b")
    )


@register("dedup_ngram_jaccard_prefix", NGRAM_ORACLE)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered set-similarity join — LOSSLESS
    candidate pruning (rarest-first prefix index + length filter), so
    it shares the exact query's oracle verbatim. The 100 TB form of
    the shingle join: per-key bucket sizes shrink from df(h) to
    df_prefix(h); see operators/dedup.py::ngram_jaccard_pairs_prefix
    and tests/test_prefix_filter.py for the equality pin."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # r15 (VERDICT r14 item 5): staged pre-sized shingles — the prefix
    # index derives document frequency and rank from ONE scan of the
    # staged relation instead of size-window + dfreq-aggregate + join.
    return (
        dedup.ngram_jaccard_pairs_prefix(
            docs, "doc_id", "text", k=3, threshold=0.5,
            shingles=doc_shingles_sized(spark, sf_dir),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Skew-capped n-gram Jaccard — the SCALE configuration of the operator
# above: shingles appearing in more than max_doc_freq documents are
# stopword shingles whose self-join buckets grow quadratically; the cap
# drops them before sizing and joining. Fully oracle-expressible (the
# cap is just an anti-join on document frequency), so the 100 TB
# configuration carries a value check, not merely a rows-only run.
# ---------------------------------------------------------------------------

NGRAM_CAPPED_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.common,
       sa.sh_size AS size_a, sb.sh_size AS size_b,
       round(p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common) >= 0.5
ORDER BY p.id_a, p.id_b
"""


@register("dedup_ngram_jaccard_capped", NGRAM_CAPPED_ORACLE)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Since r13 the staged pair table ITSELF carries the df cap
    (shared_cache.PAIR_STATS_MAX_DOC_FREQ = 50, this query's
    production value), so the capped policy is just a filter on the
    published relation — THE staged-table policy query (the uncapped
    plain twin builds from the operator directly since r14, keeping
    the two contracts distinct; ADVICE r13). The oracle still builds
    the cap from scratch, pinning that the staged build's guard
    matches the from-scratch capped operator."""
    return (
        ngram_pair_stats(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidates (rows-only: xxhash64 signatures are
# Spark-specific). The est_jaccard ≥ 0.4 filter keeps the planted
# near-dup pairs found by the exact query above.
# ---------------------------------------------------------------------------


@register("dedup_minhash_lsh_rowsonly")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # Session-memoized signature table (the staged artifact at warehouse
    # scale); itself built from the memoized shingle relation.
    sig = memo_checkpoint(
        spark,
        ("minhash_sigs", sf_dir, 3, 64, input_files(sf_dir, "documents")),
        lambda: dedup.minhash_signatures(
            docs, "doc_id", "text", k=3, num_perm=64,
            shingles=doc_shingles(spark, sf_dir),
        ),
    )
    return (
        dedup.minhash_lsh_candidates(
            docs, "doc_id", "text", k=3, num_perm=64, bands=16, signatures=sig
        )
        .filter(F.col("est_jaccard") >= 0.4)
        .orderBy("id_a", "id_b")
    )


@register("dedup_simhash_rowsonly")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perf profile (sf0.1, warm): ~2.5 s total — signature build ~1 s
    (270k token rows → 22 packed bit-count aggregates + checkpoint),
    block join ~1 s, rest fixed stage overhead. Fan-out audited: 493k
    candidates from 5.4k buckets, max bucket 179 — no quadratic
    blow-up; the only heavyweight shuffle (pair dedup) runs AFTER the
    map-side hamming filter (~10× fewer rows). Below the <1.5 s bench
    target because stage-count overhead dominates at this scale, not
    data volume — the per-row costs are what scale."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    sig = memo_checkpoint(
        spark,
        ("simhash_sigs", sf_dir, input_files(sf_dir, "documents")),
        lambda: dedup.simhash_signatures(docs, "doc_id", "text"),
    )
    return dedup.simhash_pairs(
        docs, "doc_id", "text", max_hamming=8, signatures=sig
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs — exact variant has a DuckDB oracle
# (list_cosine_similarity); threshold 0.4 chosen from the fixture
# distribution (max pairwise ≈ 0.51).
# ---------------------------------------------------------------------------

EMB_NEARDUP_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
ORDER BY id_a, id_b
"""


@register("dedup_embedding_cosine", EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-SF oracle twin of dedup_embedding_cosine_lsh: exact
    all-pairs cosine, value-checked against DuckDB
    list_cosine_similarity. The operator-level threshold (0.399, just
    below the query's round-4 cut so boundary values like 0.39996 that
    round UP to 0.4 aren't pre-dropped) prunes the O(n²) pair stream
    inside the mapInPandas matmul instead of materializing every pair."""
    from insurance_helper_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.399, exact=True)
    return (
        pairs.withColumn("cosine_sim", F.round("cosine_sim", 4))
        .filter(F.col("cosine_sim") >= 0.4)
        .orderBy("id_a", "id_b")
    )


@register("dedup_embedding_cosine_lsh")
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE embedding near-dup query — the 100 TB plan: multi-table
    signed-random-projection LSH (4 planes × 16 tables → recall ≈ 0.95
    at the fixture's 0.4–0.51 cosine band), per-bucket equi-joins only,
    no driver-side corpus collect anywhere in the plan. Rows-only at
    the driver (bucket membership is plan-specific); the local recall
    test (tests/test_scale_ops.py) checks the pair set against the
    exact path."""
    from insurance_helper_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    # Scale-adaptive plane count (r12 probe: fixed 4 planes measured
    # 135× at 10× rows — per-bucket join output is quadratic in
    # occupancy). 4 planes up to ~2k vectors (fixture behavior and the
    # recall pin unchanged), +1 plane per corpus doubling beyond. The
    # corpus count is a real job, memoized per session (ADVICE r12).
    # Tables grow WITH planes to hold the base config's recall at this
    # query's actual band (cos ≥ 0.4, p_plane ≈ 0.63 → 4×16 recall
    # ≈ 0.94; 8 planes alone would drop it to 0.33 — ADVICE r12); past
    # the 128-table cost cap recall degrades gracefully and the
    # delivered figure is similarity.srp_recall(planes, tables, 0.4).
    n = corpus_count(spark, sf_dir, "embeddings")
    n_planes = similarity.adaptive_srp_planes(n, base_planes=4)
    n_tables = similarity.adaptive_srp_tables(
        n_planes, target_cosine=0.4, base_planes=4, base_tables=16
    )
    # Cost-based plan dispatch (r13 probe receipt): at a LOW band,
    # recall-held LSH inspects a constant fraction of the exact grid
    # (L/2^b = 109/256 ≈ 0.43 at 10× fixture) but pays shuffle-join
    # prices per candidate — the sf1 probe measured 280 s for the
    # 109-table LSH vs 19 s for the blocked-GEMM exact scan of the
    # same corpus. Brute-force GEMM dominates until the corpus
    # outgrows the broadcast ceiling (~1M×64) or the band is high
    # enough that L/2^b collapses (cos ≥ 0.9 at 1M rows: 86/8192
    # ≈ 0.01 → LSH wins 50×). Dispatch mirrors
    # similarity_srp_plan_audit's published `plan` column; fixture
    # scale (base planes) keeps the pinned LSH behavior.
    if n_planes > 4 and n <= 1_000_000 and n_tables / 2**n_planes >= 1.0 / 16:
        pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.399, exact=True)
    else:
        pairs = similarity.embedding_near_dup_pairs(
            # 0.399 (not 0.4) for the same boundary reason as the exact
            # twin: a pair at true cosine 0.39996 rounds UP to 0.4 and
            # must survive the operator-level prune on both paths.
            emb, threshold=0.399, exact=False,
            n_planes=n_planes, n_tables=n_tables, seed=7
        )
    return (
        pairs.withColumn("cosine_sim", F.round("cosine_sim", 4))
        .filter(F.col("cosine_sim") >= 0.4)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Pair → cluster resolution: iterative min-label connected components
# (operators/dedup.py::connected_components). The oracle rebuilds the
# same Jaccard≥0.5 pair set and resolves components with a recursive
# CTE — fully value-checked despite the Spark side being an iterative
# (non-single-SQL) algorithm.
# ---------------------------------------------------------------------------

CLUSTERS_ORACLE = """
WITH RECURSIVE t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: hot shingles (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) are dropped before sizing
-- and joining; no-op at fixture df <= 25
hot AS (SELECT shingle FROM exall GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sizes sa ON c.id_a = sa.doc_id
  JOIN sizes sb ON c.id_b = sb.doc_id
  WHERE c.common * 1.0 / (sa.sh_size + sb.sh_size - c.common) >= 0.5
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON reach.id = e.s
)
SELECT id AS member_id, min(r) AS cluster_id
FROM reach
GROUP BY id
ORDER BY member_id
"""


@register("dedup_clusters", CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_components(spark, sf_dir).orderBy("member_id")


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline (the capstone composition): exact
# fingerprint dedup → n-gram-Jaccard near-dup pairs → connected-
# component cluster resolution → canonical corpus → per-source stats.
# Every stage is an operator verified above; this query pins the
# COMPOSITION with one oracle (recursive CTE for the iterative stage).
# ---------------------------------------------------------------------------

PIPELINE_ORACLE = """
WITH RECURSIVE fp AS (
  SELECT doc_id, source, text,
         sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fprint
  FROM documents
),
keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fprint),
s1 AS (SELECT f.doc_id, f.source, f.text FROM fp f JOIN keep1 k ON f.doc_id = k.doc_id),
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM s1
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: the staged table is built over the
-- FULL corpus, so the hot-shingle set (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) is census'd over ALL
-- documents, not the subset; no-op at fixture df <= 25
t_full AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh_full AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t_full
),
ex_full AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh_full),
hot AS (SELECT shingle FROM ex_full GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sizes sa ON c.id_a = sa.doc_id
  JOIN sizes sb ON c.id_b = sb.doc_id
  WHERE c.common * 1.0 / (sa.sh_size + sb.sh_size - c.common) >= 0.5
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON reach.id = e.s
),
comp AS (SELECT id AS member_id, min(r) AS cluster_id FROM reach GROUP BY id),
losers AS (SELECT member_id FROM comp WHERE member_id <> cluster_id),
survivors AS (
  SELECT s1.doc_id, s1.source, s1.text FROM s1
  WHERE s1.doc_id NOT IN (SELECT member_id FROM losers)
)
SELECT source,
       count(*) AS n_docs,
       round(sum(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))) * 1.0
             / count(*), 4) AS avg_tokens
FROM survivors
GROUP BY source
ORDER BY source
"""


@register("pipeline_dedup_corpus", PIPELINE_ORACLE)
def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold-layer corpus build. Scale shape: fingerprint dedup is one
    shuffle on the hash; pair generation touches only shingle-sharing
    docs; cluster resolution iterates on the (tiny) pair graph; the
    final anti-join broadcasts the loser set. The 100-TB version is the
    same plan with the LSH candidate generator swapped in for the exact
    pair stage."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    s1 = dedup.fingerprint_dedup(docs, "text", "doc_id").drop("fingerprint")
    # Pair stats are per-pair facts (common/sizes depend only on the
    # two documents), so the subset's pair relation is the memoized
    # staged pair table filtered to ≥ 0.5 and semi-joined to survivor
    # ids on BOTH endpoints.
    s1_ids = s1.select("doc_id")
    pairs = (
        ngram_pair_stats(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .join(s1_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(s1_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    comp = dedup.connected_components(pairs)
    survivors = dedup.keep_canonical_per_cluster(s1, comp, "doc_id")
    n_tok = T.token_count(F.col("text"))
    return (
        survivors.select("source", n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("n_tok") / F.count("*"), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Incremental corpus dedup — the daily-ingest shape at 100 TB: new
# documents dedup against the EXISTING corpus by content fingerprint,
# without ever rescanning historical text. The historical side is only
# (fingerprint) keys — at warehouse scale a bucketed/Bloom-indexed
# fingerprint table — so the anti-join shuffles 32 bytes/doc, not
# documents. Fixture split: doc_id % 5 == 0 plays the existing corpus,
# the rest are the incoming batch; an incoming doc survives iff its
# sha2(normalized text) is unseen AND it is the first occurrence
# within the batch (window argmin on doc_id).
# ---------------------------------------------------------------------------

INCREMENTAL_DEDUP_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
existing AS (SELECT fp FROM fp WHERE doc_id % 5 = 0),
incoming AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 <> 0),
fresh AS (
  SELECT i.doc_id, i.fp FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
),
first_in_batch AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fresh
)
SELECT doc_id, fp FROM first_in_batch WHERE rn = 1 ORDER BY doc_id
"""


@register("dedup_incremental_new_docs", INCREMENTAL_DEDUP_ORACLE)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    fp = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    existing = fp.filter(F.col("doc_id") % 5 == 0).select("fp")
    incoming = fp.filter(F.col("doc_id") % 5 != 0)
    fresh = incoming.join(existing, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup detection — the daily-ingest twin of
# dedup_incremental_new_docs (which is exact-hash only): candidate
# pairs are generated ONLY for the newest 20% of doc ids (the "today's
# crawl" slice) against the whole corpus; history×history pairs never
# form. The one-sided shingle join is the incremental contract: at
# 100 TB the a-side is the (pre-computed, persisted) corpus shingle
# table and the b-side is the daily delta, so candidate volume scales
# with the DELTA, not the corpus. Full value oracle (new ids are the
# largest, so "pair involves a new doc" ≡ id_b past the threshold).
# ---------------------------------------------------------------------------

INCR_NGRAM_ORACLE = """
WITH th AS (
  SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t FROM documents
),
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a
  JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE b.doc_id >= (SELECT t FROM th)
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.common,
       sa.sh_size AS size_a, sb.sh_size AS size_b,
       round(p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common) >= 0.5
ORDER BY p.id_a, p.id_b
"""


@register("dedup_incremental_ngram_pairs", INCR_NGRAM_ORACLE)
def dedup_incremental_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    th = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("long").alias("t")
    )
    # r15: staged pre-sized shingles — the former per-call size window
    # ran twice (the self-join clones lineage), one doc_id
    # Exchange+sort per side per run.
    sized = doc_shingles_sized(spark, sf_dir)
    a = sized.select(F.col("doc_id").alias("id_a"), "h", F.col("sh_size").alias("size_a"))
    # delta side: only the newest slice generates candidates
    b = (
        sized.crossJoin(F.broadcast(th))
        .filter(F.col("doc_id") >= F.col("t"))
        .select(F.col("doc_id").alias("id_b"), "h", F.col("sh_size").alias("size_b"))
    )
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return (
        common.filter(jac >= 0.5)
        .select(
            "id_a", "id_b", "common", "size_a", "size_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Containment near-dup: common / min(|A|,|B|) — catches EXCERPTS and
# quote-inclusions that symmetric Jaccard misses (a 50-shingle doc
# fully contained in a 500-shingle doc has Jaccard ≈ 0.1 but
# containment 1.0). Same shingle equi-join plan as ngram_jaccard;
# only the score changes. Threshold 0.8.
# ---------------------------------------------------------------------------

CONTAINMENT_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: hot shingles (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) are dropped before sizing
-- and joining; no-op at fixture df <= 25
hot AS (SELECT shingle FROM exall GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.common,
       sa.sh_size AS size_a, sb.sh_size AS size_b,
       round(p.common * 1.0 / least(sa.sh_size, sb.sh_size), 6) AS containment
FROM pairs p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE p.common * 1.0 / least(sa.sh_size, sb.sh_size) >= 0.8
ORDER BY p.id_a, p.id_b
"""


@register("dedup_ngram_containment", CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt detection: asymmetric containment — the smaller side's
    coverage is the score, so a short doc quoted inside a long one
    still flags. common and the two set sizes are per-pair facts
    already published in the staged pair table
    (shared_cache.ngram_pair_stats), so this policy is a filter and a
    projection of it — identical rows to rerunning the shingle join."""
    common = ngram_pair_stats(spark, sf_dir)
    cont = F.col("common") / F.least("size_a", "size_b")
    return (
        common.filter(cont >= 0.8)
        .select(
            "id_a", "id_b", "common", "size_a", "size_b",
            F.round(cont, 6).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Quality-based canonical selection: within each near-dup cluster keep
# the LONGEST member (argmax tokens, min-id tiebreak) — the production
# policy ("keep the most complete copy"), vs the min-id convention the
# other cluster queries use for determinism. Oracle = the recursive-CTE
# clustering + a window argmax.
# ---------------------------------------------------------------------------

BEST_QUALITY_ORACLE = """
WITH RECURSIVE t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: hot shingles (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) are dropped before sizing
-- and joining; no-op at fixture df <= 25
hot AS (SELECT shingle FROM exall GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN sizes sa ON c.id_a = sa.doc_id
  JOIN sizes sb ON c.id_b = sb.doc_id
  WHERE c.common * 1.0 / (sa.sh_size + sb.sh_size - c.common) >= 0.5
),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON reach.id = e.s
),
comp AS (SELECT id AS member_id, min(r) AS cluster_id FROM reach GROUP BY id),
ranked AS (
  SELECT c.cluster_id, c.member_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY len(t.toks) DESC, c.member_id) AS rn
  FROM comp c JOIN t ON t.doc_id = c.member_id
)
SELECT cluster_id,
       member_id AS canonical_id,
       n_tokens AS canonical_tokens,
       (SELECT CAST(count(*) AS BIGINT) FROM comp c2
        WHERE c2.cluster_id = ranked.cluster_id) AS n_members
FROM ranked
WHERE rn = 1
ORDER BY cluster_id
"""


@register("dedup_clusters_best_quality", BEST_QUALITY_ORACLE)
def dedup_clusters_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    comp = ngram_components(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    members = comp.join(toks, comp.member_id == toks.doc_id).drop("doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_tokens"), "member_id")
    sized = members.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_members", F.count("*").over(W.partitionBy("cluster_id"))
    )
    return (
        sized.filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("member_id").alias("canonical_id"),
            F.col("n_tokens").alias("canonical_tokens"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# dedup_minhash_estimate_audit — MinHash signature quality, value-
# checked: signatures built from the PORTABLE indexed hash family
# (functions/hashing.hash_family — the same family behind the CMS
# sketch), so BOTH engines compute identical m-row signatures and the
# estimate Ĵ = |{i : sig_i(a)=sig_i(b)}| / m is compared against the
# exact shingle Jaccard as real values. This upgrades the MinHash tier
# from rows-only (the xxhash64 production path, engine-specific by
# contract) to a fully oracle-checked accuracy audit: per candidate
# pair the output pins Ĵ, J, |Ĵ−J|, and the Hoeffding bound boolean
# |Ĵ−J| ≤ sqrt(ln(2/δ)/2m) (δ=0.05 → 0.3393 at m=16) — deterministic
# on both sides, so a violation flips identically instead of
# manufacturing a mismatch. Scale: signatures are one explode (m rows
# per distinct shingle) + a (doc,i) min-agg — map-side combine leaves
# m rows per doc; candidates come from the shingle equi-join (never
# all-pairs); the signature compare joins m-row slivers per pair.
# ---------------------------------------------------------------------------

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    hash_family as _hash_family,
)
from insurance_helper_spark.functions.hashing import (  # noqa: E402
    hash_family_sql as _hash_family_sql,
)

_MH_M = 16  # signature rows
_MH_EPS = 0.3393  # sqrt(ln(2/0.05) / (2*16)), rounded down at 4 dp


def _minhash_audit_oracle() -> str:
    sigs = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS i, {_hash_family_sql('h0', i)} AS hv FROM hx"
        for i in range(1, _MH_M + 1)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hx AS (
  SELECT doc_id,
         CAST(('0x' || substr(sha256(shingle), 1, 8)) AS BIGINT) AS h0
  FROM ex
),
sigrows AS (
  SELECT doc_id, i, min(hv) AS sig FROM ({sigs}) GROUP BY doc_id, i
),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT p.id_a, p.id_b,
         p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common) AS jacc
  FROM pairs p
  JOIN sizes sa ON p.id_a = sa.doc_id
  JOIN sizes sb ON p.id_b = sb.doc_id
  WHERE p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common) >= 0.4
),
est AS (
  SELECT e.id_a, e.id_b, e.jacc,
         sum(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) * 1.0 / {_MH_M} AS est_jacc
  FROM exact e
  JOIN sigrows x ON e.id_a = x.doc_id
  JOIN sigrows y ON e.id_b = y.doc_id AND x.i = y.i
  GROUP BY e.id_a, e.id_b, e.jacc
)
SELECT id_a, id_b,
       round(jacc, 6) AS jaccard,
       round(est_jacc, 6) AS est_jaccard,
       round(abs(est_jacc - jacc), 6) AS abs_err,
       abs(est_jacc - jacc) <= {_MH_EPS} AS within_hoeffding
FROM est
ORDER BY id_a, id_b
"""


MINHASH_AUDIT_ORACLE = _minhash_audit_oracle()


def _portable_shingle_rows(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct (doc_id, h0) rows with h0 a cross-engine 32-bit shingle
    hash: sha256 of the space-joined k-token shingle, first 8 hex
    chars as an integer (the ml_feature_hash_encode pattern). Same
    posexplode + lead plumbing as operators/dedup.hashed_shingle_rows
    (no higher-order functions — those interpret per element); tokens
    contain no spaces, so the space join is boundary-exact."""
    sp = docs.sparkSession
    d = docs.repartition(sp.sparkContext.defaultParallelism, "doc_id")
    tok = d.select(
        "doc_id", F.posexplode(T.tokens(F.col("text")))
    ).toDF("doc_id", "pos", "tok")
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, k)]
    sh = tok.select("doc_id", "tok", *leads).filter(F.col(f"t{k-1}").isNotNull())
    shingle = F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, k)])
    return sh.select(
        "doc_id",
        F.conv(F.substring(F.sha2(shingle, 256), 1, 8), 16, 10)
        .cast("long")
        .alias("h0"),
    ).distinct()


@register("dedup_minhash_estimate_audit", MINHASH_AUDIT_ORACLE)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimate audit: signature-agreement Jaccard vs exact shingle Jaccard per candidate pair, with per-pair error."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # One memoized pass feeds signatures, sizes, and the candidate join
    # (session-scoped: the band planner shares the same relation).
    ex = memo_checkpoint(
        spark,
        ("portable_shingles", sf_dir, 3, input_files(sf_dir, "documents")),
        lambda: _portable_shingle_rows(docs, k=3),
    )
    # r14: the signature matrix aggregates WIDE — one groupBy(doc_id)
    # with M independent min aggregates packed into an array — instead
    # of posexploding |shingle rows|×M (doc, i, hv) rows into a
    # (doc, i) groupBy (guide §2.3: shuffle fewer rows; the explode
    # materialized 4.2M rows and its partial-agg hash map dominated —
    # 1.02 s vs 0.29 s measured at sf0.1). min per (doc, i) is the
    # same fold either way; array slot i-1 IS signature row i.
    sig = ex.groupBy("doc_id").agg(
        F.array(
            *[F.min(_hash_family(F.col("h0"), i)) for i in range(1, _MH_M + 1)]
        ).alias("sig")
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sh_size"))
    a = ex.select(F.col("doc_id").alias("id_a"), "h0")
    b = ex.select(F.col("doc_id").alias("id_b"), "h0")
    common = (
        a.join(b, "h0")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    jacc = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    exact = (
        common.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"),
                                     F.col("sh_size").alias("size_a"))), "id_a")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_b"),
                                     F.col("sh_size").alias("size_b"))), "id_b")
        .withColumn("jacc", jacc)
        .filter(F.col("jacc") >= 0.4)
        .select("id_a", "id_b", "jacc")
    )
    # r14: signature agreement is a zip_with count over the two
    # broadcast-joined signature arrays — the former long-format plan
    # joined |pairs|×M rows on (id_b, i) then re-aggregated them; the
    # integer agreement count (and the /M division) is unchanged.
    sx = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sy = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = (
        exact.join(F.broadcast(sx), "id_a")
        .join(F.broadcast(sy), "id_b")
        .select("id_a", "id_b", "jacc", (agree / F.lit(_MH_M)).alias("est_jacc"))
    )
    err = F.abs(F.col("est_jacc") - F.col("jacc"))
    return (
        est.select(
            "id_a",
            "id_b",
            F.round("jacc", 6).alias("jaccard"),
            F.round("est_jacc", 6).alias("est_jaccard"),
            F.round(err, 6).alias("abs_err"),
            (err <= F.lit(_MH_EPS)).alias("within_hoeffding"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# dedup_simhash_portable — an ORACLE-BACKED SimHash: the production
# path (dedup_simhash_rowsonly) packs 64-bit xxhash64 signatures,
# which no other engine reproduces, so the driver can only row-count
# it. This twin builds a 16-bit signature from the portable sha-48
# string hash instead — bit j's vote is sum(cnt * (2*bit_j(h) - 1))
# over the doc's terms — so DuckDB computes the IDENTICAL signatures
# and the driver value-hashes the whole dedup decision (the same
# exact-twin strategy the MinHash accuracy audit uses). No row
# explosion: all 16 bit-votes ride ONE groupBy(doc) as independent
# conditional sums; signature collision groups then fall out of one
# groupBy(sig). Scale: tokenize shuffle + doc-key reduce + sig-key
# reduce — three map-side-combined shuffles, no windows, no pairs
# (collision groups ARE the candidates; the production variant's
# banded hamming join takes over when near-misses matter).
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    sha_prefix_long as _sha48p,
    sha_prefix_long_sql as _sha48p_sql,
)

_simhash_votes_sql = ",\n         ".join(
    f"CASE WHEN sum(cnt * (((h >> {j}) & 1) * 2 - 1)) > 0 "
    f"THEN {1 << j} ELSE 0 END AS s{j}"
    for j in range(_SIMHASH_BITS)
)
_simhash_sig_sql = " + ".join(f"s{j}" for j in range(_SIMHASH_BITS))

SIMHASH_PORTABLE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({{toks}}) AS term
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY doc_id, term
),
hashed AS (SELECT doc_id, cnt, {_sha48p_sql("term")} AS h FROM tf),
votes AS (
  SELECT doc_id,
         {_simhash_votes_sql}
  FROM hashed GROUP BY doc_id
),
sigs AS (SELECT doc_id, CAST({_simhash_sig_sql} AS BIGINT) AS sig FROM votes)
SELECT sig, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM sigs
GROUP BY sig
HAVING count(*) >= 2
ORDER BY sig
"""


@register(
    "dedup_simhash_portable",
    SIMHASH_PORTABLE_ORACLE.format(
        toks="string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
    ),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash twin: sha-based 48-bit term hashes (engine-identical), TF-weighted bit votes, collision groups with >= 2 docs."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    tf = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    hashed = tf.select("doc_id", "cnt", _sha48p(F.col("term")).alias("h"))
    votes = [
        F.when(
            F.sum(
                F.col("cnt")
                * ((F.shiftright(F.col("h"), j) % 2) * 2 - 1)
            )
            > 0,
            F.lit(1 << j),
        )
        .otherwise(0)
        .alias(f"s{j}")
        for j in range(_SIMHASH_BITS)
    ]
    sig_expr = None
    for j in range(_SIMHASH_BITS):
        c = F.col(f"s{j}")
        sig_expr = c if sig_expr is None else sig_expr + c
    sigs = hashed.groupBy("doc_id").agg(*votes).select(
        "doc_id", sig_expr.cast("long").alias("sig")
    )
    return (
        sigs.groupBy("sig")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("sig")
    )


# ---------------------------------------------------------------------------
# dedup_token_sort_fingerprint — the OpenRefine "fingerprint" method:
# canonical key = distinct tokens, sorted, re-joined — collapses word
# reorderings, repeats, punctuation and case, catching the near-dups
# exact-hash dedup misses ("ACME Corp ltd." vs "ltd corp acme") with
# ZERO pair comparisons: duplicates collide on a groupBy key. The
# cheapest member of the near-dup ladder (fingerprint < shingle
# Jaccard < MinHash < embeddings) and the first gate a curation
# pipeline runs. Parity note: Spark array_sort and DuckDB list_sort
# both sort strings binary-lexicographically, so the canonical key is
# engine-identical on the [a-z0-9] token alphabet. Scale: tokenize +
# one doc-key array build + one fingerprint-key groupBy — the exact
# shape of sha-fingerprint dedup with a smarter key.
# ---------------------------------------------------------------------------

from insurance_helper_spark.queries.text_queries import _TOKS as _TOKS_SQL  # noqa: E402

TOKEN_SORT_FP_ORACLE = f"""
WITH keys AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ') AS fp
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
)
SELECT fp AS fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM keys
GROUP BY fp
HAVING count(*) >= 2
ORDER BY fingerprint
"""


@register("dedup_token_sort_fingerprint", TOKEN_SORT_FP_ORACLE)
def dedup_token_sort_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort fingerprint dedup: sorted-distinct-token key groups catch reordered near-dups the raw fingerprint misses."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    ne = docs.filter(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")) != ""
    )
    keys = ne.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.array_distinct(T.tokens(F.col("text")))), " "
        ).alias("fp"),
    )
    return (
        keys.groupBy(F.col("fp").alias("fingerprint"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("fingerprint")
    )


# ---------------------------------------------------------------------------
# dedup_fuzzy_levenshtein — edit-distance near-dup CONFIRM tier on top
# of cheap blocking: candidate pairs share a 24-char normalized-text
# prefix bucket (never all-pairs; buckets capped at 50 docs with the
# drop LOGGED as oversized_buckets — the no-silent-caps rule), then
# each pair is confirmed by Levenshtein over the first 200 normalized
# chars with an integer 20% threshold (5·lev ≤ max_len). This is the
# classic blocking+verify record-linkage shape — MinHash/SimHash block
# by similarity; edit distance is the semantically strictest verifier
# and both engines ship it natively (F.levenshtein / levenshtein()).
# Scale: one prefix groupBy for blocking; the pair relation is
# Σ C(bucket, 2) with the cap bounding the quadratic term; the O(L²)
# DP cost is bounded by the 200-char clamp per pair.
# ---------------------------------------------------------------------------

_LEV_PREFIX = 24
_LEV_CLAMP = 200
_LEV_BUCKET_CAP = 50

FUZZY_LEV_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                1, {_LEV_CLAMP}) AS nt
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
),
keyed AS (
  SELECT doc_id, nt, substr(nt, 1, {_LEV_PREFIX}) AS bkey FROM norm
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY bkey) AS bsize FROM keyed
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS lev,
         CAST(greatest(length(a.nt), length(b.nt)) AS BIGINT) AS max_len
  FROM (SELECT * FROM sized WHERE bsize <= {_LEV_BUCKET_CAP}) a
  JOIN (SELECT * FROM sized WHERE bsize <= {_LEV_BUCKET_CAP}) b
    ON a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, lev, max_len,
       CAST(CASE WHEN 5 * lev <= max_len THEN 1 ELSE 0 END AS BIGINT) AS is_near_dup
FROM pairs
ORDER BY doc_a, doc_b
"""


def _lev_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged Levenshtein near-dup PAIR relation (r14): the blocked
    edit-distance join is the expensive build THREE registered queries
    derive from (the pair census itself, the connected-components
    labeling, the survivorship report) — the same published-pair-table
    pattern as shared_cache.ngram_pair_stats, so the prefix-bucketed
    join and the per-pair levenshtein run ONCE per (app, sf_dir)
    instead of once per consumer call."""
    from insurance_helper_spark.queries.shared_cache import memo_checkpoint

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        nt = F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
            1,
            _LEV_CLAMP,
        )
        norm = docs.filter(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")) != ""
        ).select("doc_id", nt.alias("nt"))
        keyed = norm.select(
            "doc_id", "nt", F.substring("nt", 1, _LEV_PREFIX).alias("bkey")
        )
        sized = keyed.withColumn(
            "bsize", F.count("*").over(Window.partitionBy("bkey"))
        ).filter(F.col("bsize") <= _LEV_BUCKET_CAP)
        a = sized.select(
            F.col("bkey"), F.col("doc_id").alias("doc_a"), F.col("nt").alias("nta")
        )
        b = sized.select(
            F.col("bkey"), F.col("doc_id").alias("doc_b"), F.col("nt").alias("ntb")
        )
        return (
            a.join(b, "bkey")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                F.levenshtein("nta", "ntb").cast("long").alias("lev"),
                F.greatest(F.length("nta"), F.length("ntb")).cast("long").alias("max_len"),
            )
            .withColumn(
                "is_near_dup",
                F.when(5 * F.col("lev") <= F.col("max_len"), 1).otherwise(0).cast("long"),
            )
        )

    return memo_checkpoint(
        spark, ("lev_pairs", sf_dir, input_files(sf_dir, "documents")), build
    )


@register("dedup_fuzzy_levenshtein", FUZZY_LEV_ORACLE)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair census over the staged Levenshtein pair relation
    (_lev_pairs); blocked prefix-bucket join, never all-pairs."""
    return _lev_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# dedup_cluster_connected_components — near-dup PAIRS become dedup
# GROUPS: connected components over the Levenshtein-confirmed edge set
# (dedup_fuzzy_levenshtein), via 5 unrolled min-label-propagation
# iterations — the iterative-graph-algorithm pattern (like the
# PageRank row) applied to the canonical dedup clustering step that
# decides which docs share one canonical survivor. EXACT INTEGER
# end-to-end: labels are doc ids, every step is min() over neighbor
# labels, so the engines cannot diverge and 5 rounds cover any
# component of diameter ≤ 5 (document the bound; production iterates
# to fixpoint with the same step). Scale: each iteration is one
# |E|-row join + min-combine groupBy — the standard distributed
# label-prop; the near-dup edge relation is blocking-bounded, never
# all-pairs.
# ---------------------------------------------------------------------------

def _cc_step_sql(prev: str) -> str:
    return f"""
  SELECT p.node, least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl
  FROM {prev} p
  LEFT JOIN cc_edges e ON e.src = p.node
  LEFT JOIN {prev} q ON q.node = e.dst
  GROUP BY p.node, p.lbl
"""


CC_ORACLE = f"""
WITH pairs AS ({FUZZY_LEV_ORACLE.replace("ORDER BY doc_a, doc_b", "")}),
dup_pairs AS (SELECT doc_a, doc_b FROM pairs WHERE is_near_dup = 1),
cc_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
),
nodes AS (SELECT DISTINCT src AS node FROM cc_edges),
l0 AS (SELECT node, node AS lbl FROM nodes),
l1 AS ({_cc_step_sql("l0")}),
l2 AS ({_cc_step_sql("l1")}),
l3 AS ({_cc_step_sql("l2")}),
l4 AS ({_cc_step_sql("l3")}),
l5 AS ({_cc_step_sql("l4")})
SELECT CAST(lbl AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       array_to_string(list_sort(list(node)), ',') AS members
FROM l5
GROUP BY lbl
HAVING count(*) >= 2
ORDER BY cluster_id
"""


def _lev_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged connected-component CLUSTER relation over the Levenshtein
    near-dup graph (r14): 5 unrolled min-label iterations + the member
    rollup run ONCE per (app, sf_dir) and publish to session-temp
    parquet — the labeling both the components census and the
    survivorship report consume (mirror of shared_cache.
    ngram_components for the n-gram family)."""
    from insurance_helper_spark.queries.shared_cache import memo_checkpoint

    def build() -> DataFrame:
        pairs = _lev_pairs(spark, sf_dir).filter(F.col("is_near_dup") == 1)
        fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        edges = fwd.unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ).localCheckpoint(eager=True)  # reused by all 5 iterations
        labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
            "lbl", F.col("node")
        )
        for _ in range(5):
            labels = (
                labels.join(edges, labels.node == edges.src, "left")
                .join(
                    labels.select(
                        F.col("node").alias("nbr"), F.col("lbl").alias("nbr_lbl")
                    ),
                    F.col("dst") == F.col("nbr"),
                    "left",
                )
                .groupBy("node", "lbl")
                .agg(F.min("nbr_lbl").alias("min_nbr"))
                .select(
                    "node",
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("min_nbr"), F.col("lbl"))
                    ).alias("lbl"),
                )
            )
        return (
            labels.groupBy(F.col("lbl").alias("cluster_id"))
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("node")), lambda x: x.cast("string")
                    ),
                    ",",
                ).alias("members"),
            )
            .filter(F.col("n_docs") >= 2)
            .select(F.col("cluster_id").cast("long"), "n_docs", "members")
        )

    return memo_checkpoint(
        spark, ("lev_clusters", sf_dir, input_files(sf_dir, "documents")), build
    )


@register("dedup_cluster_connected_components", CC_ORACLE)
def dedup_cluster_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over Levenshtein near-dup pairs via iterative min-label propagation; members as a CSV list per cluster."""
    return _lev_clusters(spark, sf_dir).orderBy("cluster_id")


# ---------------------------------------------------------------------------
# dedup_survivorship_report — the last step of the dedup story: pick
# ONE canonical survivor per connected component (longest normalized
# text, doc-id tiebreak — "keep the most complete record", the
# standard survivorship rule) and report the corpus-level yield:
# docs in, clusters, docs removed, survivor rate. Composes the
# registered components query (pairs → clusters → survivors), so its
# numbers reconcile with that row by construction. Scale: the cluster
# relation is near-dup-bounded (tiny vs corpus); survivor election is
# one max_by per cluster; corpus totals are one count.
# ---------------------------------------------------------------------------

SURVIVOR_ORACLE = f"""
WITH clusters AS ({CC_ORACLE.replace("ORDER BY cluster_id", "")}),
members AS (
  SELECT cluster_id, CAST(unnest(string_split(members, ',')) AS BIGINT) AS doc_id
  FROM clusters
),
sized AS (
  SELECT m.cluster_id, m.doc_id,
         length(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS nlen
  FROM members m JOIN documents d ON m.doc_id = d.doc_id
),
winners AS (
  SELECT cluster_id, doc_id AS canonical_doc
  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY nlen DESC, doc_id) AS rn
        FROM sized)
  WHERE rn = 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT t.n_docs,
       CAST(count(w.cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(c.n_docs - 1) AS BIGINT) AS n_removed,
       round(1.0 - CAST(sum(c.n_docs - 1) AS DOUBLE) / t.n_docs, 6) AS survivor_rate
FROM winners w
JOIN clusters c ON w.cluster_id = c.cluster_id
CROSS JOIN tot t
GROUP BY t.n_docs
"""


@register("dedup_survivorship_report", SURVIVOR_ORACLE)
def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = _lev_clusters(spark, sf_dir)
    members = clusters.select(
        "cluster_id", F.explode(F.split("members", ",")).alias("doc_str")
    ).select("cluster_id", F.col("doc_str").cast("long").alias("doc_id"))
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    sized = members.join(docs, "doc_id").select(
        "cluster_id",
        "doc_id",
        F.length(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
        ).alias("nlen"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("nlen"), "doc_id")
    winners = (
        sized.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_doc"))
    )
    tot = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        winners.join(clusters.select("cluster_id", "n_docs").withColumnRenamed("n_docs", "csize"), "cluster_id")
        .crossJoin(F.broadcast(tot))
        .groupBy("n_docs")
        .agg(
            F.count("cluster_id").cast("long").alias("n_clusters"),
            F.sum(F.col("csize") - 1).cast("long").alias("n_removed"),
            F.round(
                1.0 - F.sum(F.col("csize") - 1).cast("double") / F.col("n_docs"), 6
            ).alias("survivor_rate"),
        )
        .select("n_docs", "n_clusters", "n_removed", "survivor_rate")
    )


# ---------------------------------------------------------------------------
# dedup_threshold_sweep — dedup POLICY sweep: how many near-dup pairs
# and how many flagged documents at Jaccard thresholds 0.3/0.5/0.7/
# 0.9, in ONE pass over the shingle-join pair relation — the number a
# curation team needs before picking a threshold (the PR-curve idea
# applied to dedup yield). Threshold tests are EXACT integer
# cross-multiplications (10·common ≥ τ₁₀·union), never float Jaccard
# comparisons, so the census is engine-identical; "flagged" = appears
# as the larger id of a passing pair (the keep-first policy's removal
# upper bound). Scale: the pair relation comes from the same
# shingle equi-join as dedup_ngram_jaccard (never all-pairs; capped/
# prefix variants are the 100 TB configuration); the sweep itself is
# a 4× multiply of the PAIR relation, not the corpus.
# ---------------------------------------------------------------------------

SWEEP_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: hot shingles (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) are dropped before sizing
-- and joining; no-op at fixture df <= 25
hot AS (SELECT shingle FROM exall GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sh_size FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT p.common, sa.sh_size AS size_a, sb.sh_size AS size_b, p.id_b
  FROM pairs p
  JOIN sizes sa ON p.id_a = sa.doc_id
  JOIN sizes sb ON p.id_b = sb.doc_id
),
taus AS (SELECT CAST(unnest([3, 5, 7, 9]) AS BIGINT) AS tau_tenths),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
hits AS (
  SELECT t.tau_tenths, s.id_b
  FROM sized s JOIN taus t
    ON 10 * s.common >= t.tau_tenths * (s.size_a + s.size_b - s.common)
),
hagg AS (
  SELECT tau_tenths, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT id_b) AS BIGINT) AS n_flagged
  FROM hits GROUP BY tau_tenths
)
SELECT t.tau_tenths,
       CAST(coalesce(h.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(h.n_flagged, 0) AS BIGINT) AS n_docs_flagged,
       d.n_docs,
       round(coalesce(h.n_flagged, 0) * 1.0 / d.n_docs, 6) AS frac_flagged
FROM taus t
LEFT JOIN hagg h ON t.tau_tenths = h.tau_tenths
CROSS JOIN nd d
ORDER BY t.tau_tenths
"""


@register("dedup_threshold_sweep", SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    pairs = ngram_pair_stats(spark, sf_dir)
    taus = spark.createDataFrame([(3,), (5,), (7,), (9,)], "tau_tenths long")
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    hits = pairs.crossJoin(F.broadcast(taus)).where(
        10 * F.col("common")
        >= F.col("tau_tenths") * (F.col("size_a") + F.col("size_b") - F.col("common"))
    )
    hagg = hits.groupBy("tau_tenths").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("id_b").cast("long").alias("n_flagged"),
    )
    return (
        taus.join(hagg, "tau_tenths", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            "tau_tenths",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_flagged"), F.lit(0)).cast("long").alias("n_docs_flagged"),
            "n_docs",
            F.round(
                F.coalesce(F.col("n_flagged"), F.lit(0)) * 1.0 / F.col("n_docs"), 6
            ).alias("frac_flagged"),
        )
        .orderBy("tau_tenths")
    )


# ---------------------------------------------------------------------------
# Record-linkage evaluation pair: Fellegi-Sunter field weights and a
# blocking-quality audit. The "truth-ish" match set M is the shingle-
# blocked Jaccard >= 0.5 near-dup pair relation (the house candidate
# generator) — the same bootstrap every production linkage pipeline
# uses before hand labels exist.
# ---------------------------------------------------------------------------

_LINKAGE_PAIRS_SQL = """
t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: hot shingles (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) are dropped before sizing
-- and joining; no-op at fixture df <= 25
hot AS (SELECT shingle FROM exall GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
p0 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
m_pairs AS (
  SELECT p.id_a, p.id_b
  FROM p0 p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
  WHERE 2 * p.common >= sa.sh_size + sb.sh_size - p.common
),
d AS (SELECT doc_id, lang, source, n_chars // 500 AS len_bin FROM documents)
"""

# ---------------------------------------------------------------------------
# linkage_fellegi_sunter_weights — the F-S decision-theory weight
# table: for each comparison field (lang / source / length bin),
# m = P(agree | match) estimated on the near-dup match set, u =
# P(agree | random pair) computed EXACTLY from the field's marginal
# counts (sum n_v(n_v-1) / N(N-1) — no sampling), and the log2
# agree/disagree weights ln(m/u), ln((1-m)/(1-u)). Degenerate fields
# (m = 0 or 1) yield NULL on the undefined side, identically in both
# engines. Scale: the match set rides the capped shingle join; the
# u-probabilities are one groupBy per field on the dimension counts.
# ---------------------------------------------------------------------------

FS_WEIGHTS_ORACLE = f"""
WITH {_LINKAGE_PAIRS_SQL},
ma AS (
  SELECT CAST(count(*) AS BIGINT) AS nm,
         CAST(sum(CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END) AS BIGINT) AS a_lang,
         CAST(sum(CASE WHEN da.source = db.source THEN 1 ELSE 0 END) AS BIGINT) AS a_source,
         CAST(sum(CASE WHEN da.len_bin = db.len_bin THEN 1 ELSE 0 END) AS BIGINT) AS a_len
  FROM m_pairs p JOIN d da ON da.doc_id = p.id_a JOIN d db ON db.doc_id = p.id_b
),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
u_lang AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS agree
           FROM (SELECT count(*) AS c FROM d GROUP BY lang)),
u_source AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS agree
             FROM (SELECT count(*) AS c FROM d GROUP BY source)),
u_len AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS agree
          FROM (SELECT count(*) AS c FROM d GROUP BY len_bin)),
rows_ AS (
  SELECT 'lang' AS field, ma.nm, ma.a_lang AS am,
         CAST(u_lang.agree AS DOUBLE) / (n.n * (n.n - 1)) AS u
  FROM ma, u_lang, n_tot n
  UNION ALL
  SELECT 'source', ma.nm, ma.a_source,
         CAST(u_source.agree AS DOUBLE) / (n.n * (n.n - 1))
  FROM ma, u_source, n_tot n
  UNION ALL
  SELECT 'len_bin', ma.nm, ma.a_len,
         CAST(u_len.agree AS DOUBLE) / (n.n * (n.n - 1))
  FROM ma, u_len, n_tot n
)
SELECT field, nm AS n_match_pairs,
       round(CAST(am AS DOUBLE) / nm, 6) AS m_prob,
       round(u, 6) AS u_prob,
       CASE WHEN am > 0
            THEN round(ln(CAST(am AS DOUBLE) / nm / u) / ln(2), 4) END
           AS agree_weight,
       CASE WHEN am < nm
            THEN round(ln((1 - CAST(am AS DOUBLE) / nm) / (1 - u)) / ln(2), 4) END
           AS disagree_weight
FROM rows_
ORDER BY field
"""


@register("linkage_fellegi_sunter_weights", FS_WEIGHTS_ORACLE)
def linkage_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(
        spark, sf_dir, "documents", columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    m_pairs = (
        ngram_pair_stats(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    d = docs.select(
        "doc_id", "lang", "source", F.expr("n_chars div 500").alias("len_bin")
    )
    da = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("len_bin").alias("len_a"),
    )
    db = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("len_bin").alias("len_b"),
    )
    ma = (
        m_pairs.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .agg(
            F.count("*").cast("long").alias("nm"),
            F.sum(F.when(F.col("lang_a") == F.col("lang_b"), 1).otherwise(0))
            .cast("long")
            .alias("a_lang"),
            F.sum(F.when(F.col("source_a") == F.col("source_b"), 1).otherwise(0))
            .cast("long")
            .alias("a_source"),
            F.sum(F.when(F.col("len_a") == F.col("len_b"), 1).otherwise(0))
            .cast("long")
            .alias("a_len"),
        )
    )
    n_tot = d.agg(F.count("*").cast("long").alias("n"))

    def _u(field):
        return (
            d.groupBy(field)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias(f"agree_{field}"))
        )

    one = (
        ma.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(_u("lang")))
        .crossJoin(F.broadcast(_u("source")))
        .crossJoin(F.broadcast(_u("len_bin")))
    )
    denom = (F.col("n") * (F.col("n") - 1)).cast("double")
    rows_ = one.select(
        "nm",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lang").alias("field"),
                    F.col("a_lang").alias("am"),
                    (F.col("agree_lang").cast("double") / denom).alias("u"),
                ),
                F.struct(
                    F.lit("source").alias("field"),
                    F.col("a_source").alias("am"),
                    (F.col("agree_source").cast("double") / denom).alias("u"),
                ),
                F.struct(
                    F.lit("len_bin").alias("field"),
                    F.col("a_len").alias("am"),
                    (F.col("agree_len_bin").cast("double") / denom).alias("u"),
                ),
            )
        ).alias("f"),
    ).select("nm", "f.field", "f.am", "f.u")
    m = F.col("am").cast("double") / F.col("nm")
    ln2 = F.log(F.lit(2.0))
    return rows_.select(
        "field",
        F.col("nm").alias("n_match_pairs"),
        F.round(m, 6).alias("m_prob"),
        F.round("u", 6).alias("u_prob"),
        F.when(F.col("am") > 0, F.round(F.log(m / F.col("u")) / ln2, 4)).alias(
            "agree_weight"
        ),
        F.when(
            F.col("am") < F.col("nm"),
            F.round(F.log((1 - m) / (1 - F.col("u"))) / ln2, 4),
        ).alias("disagree_weight"),
    ).orderBy("field")


# ---------------------------------------------------------------------------
# linkage_blocking_quality — the two numbers that judge any blocking
# scheme: reduction ratio (1 - candidate pairs / all pairs) and pairs
# completeness (fraction of true matches whose members share a
# block), here for the (lang, length-bin) key against the near-dup
# match set. Both are exact integer ratios. Scale: candidate volume
# is sum b(b-1)/2 over block sizes — one groupBy; completeness is a
# broadcast feature join on the bounded match set.
# ---------------------------------------------------------------------------

BLOCKING_ORACLE = f"""
WITH {_LINKAGE_PAIRS_SQL},
blocks AS (SELECT lang, len_bin, CAST(count(*) AS BIGINT) AS b
           FROM d GROUP BY lang, len_bin),
cand AS (SELECT CAST(sum(b * (b - 1)) AS BIGINT) // 2 AS cand_pairs,
                CAST(count(*) AS BIGINT) AS n_blocks
         FROM blocks),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN da.lang = db.lang AND da.len_bin = db.len_bin
                       THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM m_pairs p JOIN d da ON da.doc_id = p.id_a JOIN d db ON db.doc_id = p.id_b
)
SELECT n.n AS n_docs, c.n_blocks, c.cand_pairs,
       round(1 - CAST(c.cand_pairs AS DOUBLE) / (n.n * (n.n - 1) / 2), 6)
           AS reduction_ratio,
       t.n_true AS n_true_pairs,
       round(CAST(t.hits AS DOUBLE) / t.n_true, 6) AS pairs_completeness
FROM cand c, n_tot n, truth t
WHERE t.n_true > 0
"""


@register("linkage_blocking_quality", BLOCKING_ORACLE)
def linkage_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(
        spark, sf_dir, "documents", columns=["doc_id", "text", "lang", "n_chars"]
    )
    m_pairs = (
        ngram_pair_stats(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    d = docs.select("doc_id", "lang", F.expr("n_chars div 500").alias("len_bin"))
    blocks = d.groupBy("lang", "len_bin").agg(F.count("*").cast("long").alias("b"))
    cand = blocks.agg(
        F.expr("CAST(sum(b * (b - 1)) AS BIGINT) div 2").alias("cand_pairs"),
        F.count("*").cast("long").alias("n_blocks"),
    )
    n_tot = d.agg(F.count("*").cast("long").alias("n"))
    da = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("len_bin").alias("len_a"),
    )
    db = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("len_bin").alias("len_b"),
    )
    truth = (
        m_pairs.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .agg(
            F.count("*").cast("long").alias("n_true"),
            F.sum(
                F.when(
                    (F.col("lang_a") == F.col("lang_b"))
                    & (F.col("len_a") == F.col("len_b")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
        )
    )
    return (
        cand.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(truth))
        .where(F.col("n_true") > 0)
        .select(
            F.col("n").alias("n_docs"),
            "n_blocks",
            "cand_pairs",
            F.round(
                1 - F.col("cand_pairs").cast("double") / (F.col("n") * (F.col("n") - 1) / 2),
                6,
            ).alias("reduction_ratio"),
            F.col("n_true").alias("n_true_pairs"),
            F.round(F.col("hits").cast("double") / F.col("n_true"), 6).alias(
                "pairs_completeness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup_lsh_band_planner — the (bands x rows) TUNING TABLE you read
# BEFORE building a MinHash-LSH index over 100 TB: for each banding of
# a 128-minhash signature, the S-curve operating point s* = (1/b)^(1/r)
# and the collision probability 1-(1-s^r)^b at a Jaccard grid, next to
# the MEASURED corpus facts that price the index (docs with shingles,
# mean distinct shingles per doc, index rows = n_docs x b). Picking
# (b, r) off this table is what decides whether the band join's
# buckets are selective at the target threshold. ENGINE PARITY: b and
# r are powers of two, so s^r and (1-s^r)^b are computed by EXPLICIT
# SQUARING CHAINS (bit-identical IEEE multiplies on both engines —
# never libm pow); s* is one terminal exp(-ln b / r) per config row
# under round(4); the measured stats are exact BIGINTs with terminal
# quotients. Scale: one shingle pass, map-side combined; the planner
# grid is 4 configs x 4 s-values regardless of corpus size.
# ---------------------------------------------------------------------------

LSH_PLANNER_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         CAST(len(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS BIGINT)
             AS n_sh
  FROM t
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_sh) AS BIGINT) AS tot_sh
  FROM sh WHERE n_sh > 0
),
cfg AS (
  SELECT * FROM (VALUES (64, 2), (32, 4), (16, 8), (8, 16)) AS v(b, r)
),
grid AS (
  SELECT cfg.b, cfg.r, CAST(s.s AS DOUBLE) AS s
  FROM cfg CROSS JOIN (VALUES (0.5), (0.7), (0.8), (0.9)) AS s(s)
),
p1 AS (SELECT b, r, s, s * s AS s2 FROM grid),
p2 AS (SELECT *, s2 * s2 AS s4 FROM p1),
p3 AS (SELECT *, s4 * s4 AS s8 FROM p2),
p4 AS (SELECT *, s8 * s8 AS s16 FROM p3),
sr AS (
  SELECT b, r, s,
         CASE r WHEN 2 THEN s2 WHEN 4 THEN s4 WHEN 8 THEN s8 ELSE s16 END AS srv
  FROM p4
),
q1 AS (SELECT b, r, s, srv, (1 - srv) * (1 - srv) AS q2 FROM sr),
q2 AS (SELECT *, q2 * q2 AS q4 FROM q1),
q3 AS (SELECT *, q4 * q4 AS q8 FROM q2),
q4 AS (SELECT *, q8 * q8 AS q16 FROM q3),
q5 AS (SELECT *, q16 * q16 AS q32 FROM q4),
q6 AS (SELECT *, q32 * q32 AS q64 FROM q5),
curve AS (
  SELECT b, r, s,
         1 - (CASE b WHEN 8 THEN q8 WHEN 16 THEN q16 WHEN 32 THEN q32
              ELSE q64 END) AS p
  FROM q6
)
SELECT CAST(cv.b AS BIGINT) AS bands,
       CAST(cv.r AS BIGINT) AS rows_per_band,
       round(exp(-ln(CAST(cv.b AS DOUBLE)) / cv.r), 4) AS s50_threshold,
       cv.s AS s_jaccard,
       round(cv.p, 6) AS p_collide,
       co.n_docs,
       round(CAST(co.tot_sh AS DOUBLE) / co.n_docs, 2) AS avg_shingles_per_doc,
       CAST(co.n_docs * cv.b AS BIGINT) AS est_index_rows
FROM curve cv CROSS JOIN corpus co
ORDER BY bands DESC, s_jaccard
"""


@register("dedup_lsh_band_planner", LSH_PLANNER_ORACLE)
def dedup_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: the per-doc distinct-shingle counts come off the staged
    # hashed shingle relation (one row per distinct (doc, shingle);
    # docs with zero shingles have no rows, matching the n_sh > 0
    # gate) instead of re-tokenizing and string-concatenating every
    # shingle per call. Hashed-vs-string distinctness is the same
    # ~2⁻⁶⁴-collision equivalence every Jaccard oracle in the family
    # already rides (operators/dedup.hashed_shingle_rows docstring).
    sh = (
        doc_shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_sh"))
    )
    corpus = sh.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_sh").cast("long").alias("tot_sh"),
    )
    cfg = spark.createDataFrame([(64, 2), (32, 4), (16, 8), (8, 16)], "b int, r int")
    sgrid = spark.createDataFrame([(0.5,), (0.7,), (0.8,), (0.9,)], "s double")
    g = cfg.crossJoin(F.broadcast(sgrid))
    g = g.withColumn("s2", F.col("s") * F.col("s"))
    g = g.withColumn("s4", F.col("s2") * F.col("s2"))
    g = g.withColumn("s8", F.col("s4") * F.col("s4"))
    g = g.withColumn("s16", F.col("s8") * F.col("s8"))
    g = g.withColumn(
        "srv",
        F.when(F.col("r") == 2, F.col("s2"))
        .when(F.col("r") == 4, F.col("s4"))
        .when(F.col("r") == 8, F.col("s8"))
        .otherwise(F.col("s16")),
    )
    g = g.withColumn("q2", (1 - F.col("srv")) * (1 - F.col("srv")))
    g = g.withColumn("q4", F.col("q2") * F.col("q2"))
    g = g.withColumn("q8", F.col("q4") * F.col("q4"))
    g = g.withColumn("q16", F.col("q8") * F.col("q8"))
    g = g.withColumn("q32", F.col("q16") * F.col("q16"))
    g = g.withColumn("q64", F.col("q32") * F.col("q32"))
    g = g.withColumn(
        "p",
        1
        - F.when(F.col("b") == 8, F.col("q8"))
        .when(F.col("b") == 16, F.col("q16"))
        .when(F.col("b") == 32, F.col("q32"))
        .otherwise(F.col("q64")),
    )
    return (
        g.crossJoin(F.broadcast(corpus))
        .select(
            F.col("b").cast("long").alias("bands"),
            F.col("r").cast("long").alias("rows_per_band"),
            F.round(
                F.exp(-F.log(F.col("b").cast("double")) / F.col("r")), 4
            ).alias("s50_threshold"),
            F.col("s").alias("s_jaccard"),
            F.round(F.col("p"), 6).alias("p_collide"),
            "n_docs",
            F.round(F.col("tot_sh").cast("double") / F.col("n_docs"), 2).alias(
                "avg_shingles_per_doc"
            ),
            (F.col("n_docs") * F.col("b")).cast("long").alias("est_index_rows"),
        )
        .orderBy(F.desc("bands"), "s_jaccard")
    )


# ---------------------------------------------------------------------------
# dedup_hot_shingle_census — observability for the staged pair table's
# document-frequency cap (shared_cache.PAIR_STATS_MAX_DOC_FREQ, r13):
# the df histogram of the shingle relation plus the over-cap flag per
# df bucket. On the fixture every bucket is under the cap (max df 25);
# on a boilerplate-heavy corpus the over_cap rows are exactly the
# stopword shingles the staged build drops — this census is the "log /
# count the dropped hot shingles" artifact a published pair table
# carries (VERDICT r12 item 2). One groupBy on the staged shingle
# relation, then a groupBy on the |distinct df| values — tiny output.
# ---------------------------------------------------------------------------

HOT_SHINGLE_CENSUS_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfs AS (SELECT shingle, count(*) AS doc_freq FROM ex GROUP BY shingle)
SELECT CAST(doc_freq AS BIGINT) AS doc_freq,
       CAST(count(*) AS BIGINT) AS n_shingles,
       doc_freq > 50 AS over_cap
FROM dfs GROUP BY doc_freq ORDER BY doc_freq
"""


@register("dedup_hot_shingle_census", HOT_SHINGLE_CENSUS_ORACLE)
def dedup_hot_shingle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram over the staged shingle
    relation, with each df bucket flagged against the staged pair
    table's hot-shingle cap — the audit that makes the cap's "no-op at
    fixture scale, guard at corpus scale" claim checkable."""
    from insurance_helper_spark.queries.shared_cache import PAIR_STATS_MAX_DOC_FREQ

    dfs = (
        doc_shingles(spark, sf_dir)
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("doc_freq"))
    )
    return (
        dfs.groupBy("doc_freq")
        .agg(F.count("*").cast("long").alias("n_shingles"))
        .withColumn("over_cap", F.col("doc_freq") > F.lit(PAIR_STATS_MAX_DOC_FREQ))
        .orderBy("doc_freq")
    )
