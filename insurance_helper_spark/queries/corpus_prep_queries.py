"""Corpus-preparation queries: duplicated-span removal, contamination
screening, repetition gates, sequence packing — the round-4 additions
to the LLM-training-data surface (reference Stage-2 declaration,
README.md:73-101, taken to pretraining-corpus scale).

Every query here carries a full DuckDB value oracle — including the
greedy sequence packer, whose recurrence the oracle expresses as a
recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insurance_helper_spark.operators import corpus
from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

# Shared oracle fragment: the engine's normalizing tokenizer.
_TOKS = (
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
)


# ---------------------------------------------------------------------------
# Cross-document duplicated-span removal (C4 / Lee et al. 2022, span
# unit instead of lines). Keep-first: the smallest doc_id containing a
# span keeps it; every other occurrence is dropped.
# ---------------------------------------------------------------------------

SPAN_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(range(CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
  FROM t
),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(toks[i*10+1 : i*10+10], ' ') AS span_text
  FROM idx
),
flagged AS (
  SELECT doc_id, span_idx, span_text,
         doc_id = min(doc_id) OVER (PARTITION BY span_text) AS keep
  FROM spans
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
       coalesce(string_agg(span_text, ' ' ORDER BY span_idx)
                FILTER (WHERE keep), '') AS clean_text
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


@register("corpus_span_dedup", SPAN_DEDUP_ORACLE)
def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    return corpus.span_dedup(docs, "doc_id", "text", span=10).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Benchmark contamination screen: the held-out set is every document
# from source 'src0'; the corpus is everything else. A corpus document
# is contaminated when ≥20% of its distinct 5-token shingles appear
# anywhere in the held-out set.
# ---------------------------------------------------------------------------

CONTAMINATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i+1 : i+5], ' ') AS shingle
  FROM (
    SELECT doc_id, source, toks,
           unnest(range(greatest(len(toks) - 5, 0) + 1)) AS i
    FROM t
  )
  WHERE len(toks) >= 5
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
corp AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE source <> 'src0'),
scored AS (
  SELECT c.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(count(*) FILTER (WHERE b.shingle IS NOT NULL) AS BIGINT) AS n_hits
  FROM corp c LEFT JOIN bench b USING (shingle)
  GROUP BY c.doc_id
)
SELECT doc_id, n_shingles, n_hits,
       round(n_hits * 1.0 / n_shingles, 6) AS contam_frac,
       n_hits * 1.0 / n_shingles >= 0.2 AS contaminated
FROM scored
ORDER BY doc_id
"""


@register("corpus_contamination", CONTAMINATION_ORACLE)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "source"])
    bench = docs.filter(F.col("source") == "src0")
    corp = docs.filter(F.col("source") != "src0")
    return corpus.contamination(
        corp, bench, "doc_id", "text", k=5, threshold=0.2
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Gopher repetition gates (Rae et al. 2021 §A.1.1): top-word fraction
# and duplicate-2-gram fraction, flag at 0.2 / 0.4.
# ---------------------------------------------------------------------------

REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
stats AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         list_max(list_transform(list_distinct(toks),
                  tok -> len(list_filter(toks, x -> x = tok)))) AS top_cnt,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS g2
  FROM t
)
SELECT doc_id, n_tokens,
       round(top_cnt * 1.0 / n_tokens, 6) AS top_word_frac,
       CASE WHEN len(g2) > 0
            THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
            ELSE 0.0 END AS dup_2gram_frac,
       (top_cnt * 1.0 / n_tokens > 0.2)
       OR (CASE WHEN len(g2) > 0
                THEN 1.0 - len(list_distinct(g2)) * 1.0 / len(g2)
                ELSE 0.0 END > 0.4) AS repetitive
FROM stats
ORDER BY doc_id
"""


@register("text_repetition_gates", REPETITION_ORACLE)
def text_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    out = corpus.repetition_stats(
        docs, "doc_id", "text", top_word_max=0.2, dup_2gram_max=0.4
    )
    return out.withColumn("n_tokens", F.col("n_tokens").cast("int")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Greedy sequence packing: per source, docs in id order, 256-token
# context windows. The oracle expresses the recurrence as a recursive
# CTE — step n joins step n-1 on (source, rn).
# ---------------------------------------------------------------------------

PACKING_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
packed AS (
  SELECT doc_id, source, tokens, rn,
         CAST(0 AS BIGINT) AS bin_id, tokens AS bin_fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.doc_id, b.source, b.tokens, b.rn,
         CASE WHEN p.bin_fill + b.tokens > 256
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.bin_fill + b.tokens > 256
              THEN b.tokens ELSE p.bin_fill + b.tokens END
  FROM base b JOIN packed p ON b.source = p.source AND b.rn = p.rn + 1
)
SELECT doc_id, source, tokens, bin_id, bin_fill
FROM packed
ORDER BY source, doc_id
"""


@register("corpus_pack_sequences", PACKING_ORACLE)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "source"])
    sized = docs.select(
        "doc_id",
        "source",
        F.size(corpus.tokens_col(F.col("text"))).cast("long").alias("tokens"),
    )
    return corpus.pack_sequences(
        sized, "doc_id", "source", "tokens", capacity=256
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# Corpus funnel report — the numbers a data-curation run reports per
# source: raw docs → after quality gates → after exact dedup → after
# near-dup removal. Composes the quality gate, fingerprint keep-first
# and ngram-Jaccard stages; the oracle recomposes the same CTEs, so
# this row certifies operator COMPOSITION, not just each stage alone.
# Near-dup losers: any doc with a ≥0.5-Jaccard partner of smaller id
# (the keep-first convention, CC-free so both engines state it simply).
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, text, {_TOKS} AS toks FROM documents
),
q AS (
  SELECT doc_id, source, text, toks
  FROM t
  WHERE len(toks) >= 30
    AND len(toks) > 0
    AND list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
        BETWEEN 3.0 AND 10.0
),
u AS (
  SELECT doc_id, source, toks
  FROM (
    SELECT doc_id, source, toks,
           row_number() OVER (
             PARTITION BY sha256(array_to_string(toks, ' '))
             ORDER BY doc_id
           ) AS rn
    FROM q
  )
  WHERE rn = 1
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM u
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
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT p.id_b AS doc_id
  FROM pairs p
  JOIN sizes sa ON p.id_a = sa.doc_id
  JOIN sizes sb ON p.id_b = sb.doc_id
  WHERE p.common * 1.0 / (sa.sh_size + sb.sh_size - p.common) >= 0.5
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(count(*) FILTER (WHERE q.doc_id IS NOT NULL) AS BIGINT) AS n_quality,
       CAST(count(*) FILTER (WHERE u.doc_id IS NOT NULL) AS BIGINT) AS n_unique,
       CAST(count(*) FILTER (WHERE u.doc_id IS NOT NULL
                             AND l.doc_id IS NULL) AS BIGINT) AS n_near_unique
FROM t
LEFT JOIN q ON t.doc_id = q.doc_id
LEFT JOIN u ON t.doc_id = u.doc_id
LEFT JOIN losers l ON t.doc_id = l.doc_id
GROUP BY t.source
ORDER BY t.source
"""


@register("corpus_funnel_report", FUNNEL_ORACLE)
def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: raw → quality → exact-unique →
    near-unique. Every stage re-uses a verified operator; the only new
    logic is the outcome bookkeeping (left joins of per-stage survivor
    id sets back onto the raw relation — survivor sets are strictly
    smaller than the corpus, and at 100 TB only ids travel, never
    text)."""
    from insurance_helper_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    staged = docs.select(
        "doc_id", "source", "text", corpus.tokens_col(F.col("text")).alias("toks")
    )
    from insurance_helper_spark.functions import text as T

    q = staged.filter(
        (F.size("toks") >= 30)
        & (T.mean_word_length_of(F.col("toks")) >= 3.0)
        & (T.mean_word_length_of(F.col("toks")) <= 10.0)
    )
    # exact dedup on the token-normalized content (sha256 of re-joined
    # tokens — matches the oracle's sha256(array_to_string(...)))
    u = D.dedup_exact(
        q.withColumn("fp", F.sha2(F.array_join("toks", " "), 256)),
        ["fp"],
        [F.col("doc_id")],
    ).select("doc_id", "source", "text")
    # `u` is a subset of documents with text unchanged, and pair stats
    # are per-pair facts, so its pair relation is the staged pair table
    # filtered to ≥ 0.5 and semi-joined to survivor ids on BOTH sides.
    from insurance_helper_spark.queries.shared_cache import ngram_pair_stats

    u_ids = u.select("doc_id")
    pairs = (
        ngram_pair_stats(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .join(u_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(u_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    q_ids = q.select("doc_id").withColumn("in_q", F.lit(1))
    u_ids = u.select("doc_id").withColumn("in_u", F.lit(1))
    l_ids = losers.withColumn("in_l", F.lit(1))
    return (
        docs.select("doc_id", "source")
        .join(q_ids, "doc_id", "left")
        .join(u_ids, "doc_id", "left")
        .join(l_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_raw"),
            F.count("in_q").alias("n_quality"),
            F.count("in_u").alias("n_unique"),
            F.sum(
                F.when(F.col("in_u").isNotNull() & F.col("in_l").isNull(), 1).otherwise(0)
            ).alias("n_near_unique"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# ANALYZE surface as catalog evidence: exact stats hash-compared, the
# HLL++ NDV via a 5%-bound boolean (same pattern as
# agg_approx_distinct_bounds). Over `customer` — mixed types, no nulls
# in fixture (null accounting still exercised as exact zeros).
# ---------------------------------------------------------------------------

ANALYZE_ORACLE = """
WITH per_col AS (
  SELECT 'c_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(min(c_custkey) AS VARCHAR) AS min_value,
         CAST(max(c_custkey) AS VARCHAR) AS max_value,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_ndv
  FROM customer
  UNION ALL
  SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR),
         CAST(count(DISTINCT c_mktsegment) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'c_acctbal', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(min(c_acctbal) AS VARCHAR), CAST(max(c_acctbal) AS VARCHAR),
         CAST(count(DISTINCT c_acctbal) AS BIGINT)
  FROM customer
)
SELECT col_name, n_rows, n_nulls, min_value, max_value, exact_ndv,
       TRUE AS ndv_within_bounds
FROM per_col
ORDER BY col_name
"""


@register("analyze_customer_stats", ANALYZE_ORACLE)
def analyze_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE evidence row: the fused single-pass column-stats
    collector (sources/stats.py) with exact values hash-compared and
    the approximate NDV converted to an oracle-checkable 5% bound
    against the exact distinct count."""
    from insurance_helper_spark.sources import stats as S

    cust = load_table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment", "c_acctbal"]
    )
    col_stats = S.collect_column_stats(cust, approx_rsd=0.01).withColumnRenamed(
        "column", "col_name"
    )
    exact = None
    for c in ("c_custkey", "c_mktsegment", "c_acctbal"):
        one = cust.agg(F.countDistinct(c).alias("exact_ndv")).select(
            F.lit(c).alias("col_name"), "exact_ndv"
        )
        exact = one if exact is None else exact.unionByName(one)
    return (
        col_stats.join(F.broadcast(exact), "col_name")
        .select(
            "col_name",
            "n_rows",
            "n_nulls",
            # DuckDB renders DOUBLE min/max like '-999.99'; Spark's
            # double→string cast matches for these fixture values.
            "min_value",
            "max_value",
            "exact_ndv",
            (
                F.abs(F.col("approx_ndv") - F.col("exact_ndv"))
                / F.col("exact_ndv")
                < 0.05
            ).alias("ndv_within_bounds"),
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# Skew report as catalog evidence: heavy-hitter shares for a
# prospective shuffle key — deterministic counts, exact oracle.
# ---------------------------------------------------------------------------

SKEW_ORACLE = """
WITH tot AS (SELECT count(*) AS n FROM lineitem)
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS share
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY n_rows DESC, l_returnflag, l_linestatus
LIMIT 3
"""


@register("skew_report_lineitem", SKEW_ORACLE)
def skew_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter report for (l_returnflag, l_linestatus) — the
    pre-flight check before shuffling on a candidate key."""
    from insurance_helper_spark.sources import stats as S

    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_linestatus"])
    return S.skew_report(li, ["l_returnflag", "l_linestatus"], top_n=3)


# ---------------------------------------------------------------------------
# Boilerplate-capped span dedup — the SCALE configuration: spans in
# more than 2 documents are treated as boilerplate and removed from
# every document (C4's over-common-line rule); remaining spans dedup
# keep-first as usual. Full value oracle.
# ---------------------------------------------------------------------------

SPAN_DEDUP_CAPPED_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(range(CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
  FROM t
),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(toks[i*10+1 : i*10+10], ' ') AS span_text
  FROM idx
),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc_id),
hot AS (
  SELECT span_text FROM spans GROUP BY span_text
  HAVING count(DISTINCT doc_id) > 2
),
cold AS (
  SELECT s.* FROM spans s WHERE s.span_text NOT IN (SELECT span_text FROM hot)
),
flagged AS (
  SELECT doc_id, span_idx, span_text,
         doc_id = min(doc_id) OVER (PARTITION BY span_text) AS keep
  FROM cold
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         coalesce(string_agg(span_text, ' ' ORDER BY span_idx)
                  FILTER (WHERE keep), '') AS clean_text
  FROM flagged
  GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_spans,
       t.n_spans - coalesce(p.n_kept, 0) AS n_dropped,
       coalesce(p.clean_text, '') AS clean_text
FROM totals t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""


@register("corpus_span_dedup_capped", SPAN_DEDUP_CAPPED_ORACLE)
def corpus_span_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    return corpus.span_dedup(
        docs, "doc_id", "text", span=10, max_span_freq=2
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic weighted downsampling: keep probability proportional to
# document length (the token-budget sampling used to rebalance a
# corpus), decided by a Knuth multiplicative hash of the doc id — pure
# integer arithmetic, so the SAME docs are kept by both engines, every
# run, on any cluster (no RNG, no partition-order dependence). At
# 100 TB this is a map-only filter fused into the scan.
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
scored AS (
  SELECT doc_id, n_tokens,
         CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296 AS u,
         least(n_tokens / 100.0, 1.0) * 0.9 AS p_keep
  FROM t
)
SELECT doc_id, n_tokens, round(u, 6) AS u, round(p_keep, 6) AS p_keep
FROM scored
WHERE u < p_keep
ORDER BY doc_id
"""


@register("corpus_weighted_sample", WEIGHTED_SAMPLE_ORACLE)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    scored = docs.select(
        "doc_id",
        F.size(corpus.tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        (((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).cast("double")
         / F.lit(4294967296)).alias("u"),
        (F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.9).alias("p_keep"),
    )
    return (
        scored.filter(F.col("u") < F.col("p_keep"))
        .select(
            "doc_id", "n_tokens",
            F.round("u", 6).alias("u"), F.round("p_keep", 6).alias("p_keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_budget_quota_sample — per-source token-budget quota sampling:
# each source contributes documents, in deterministic Knuth-hash order
# (a uniform random permutation reproducible on any engine/cluster),
# until its token budget is exhausted — the "cap every source at N
# tokens" rebalancing step of a training-data mix (the hard-cap
# complement of corpus_mixing_weights' proportional recipe). Keep rule:
# a doc is kept iff the budget was not yet exhausted when its turn
# came (cumulative tokens BEFORE it < budget), so exactly one doc may
# straddle the boundary — deterministic and engine-identical. Scale:
# one shuffle on source; the running sum is a streaming O(1) frame.
# A single giant source serializes its own partition — at that point
# pre-slice by a salt, give each slice budget/S, and union (bounded
# error vs the exact sequential cut), which keeps the window parallel.
# ---------------------------------------------------------------------------

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    knuth_uniform as _ku,
)
from insurance_helper_spark.functions.hashing import (  # noqa: E402
    knuth_uniform_sql as _ku_sql,
)

_QUOTA_TOKENS = 400  # per-source budget at fixture scale

QUOTA_SAMPLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN 0 ELSE CAST(len({_TOKS}) AS BIGINT) END AS n_tokens,
         {_ku_sql("doc_id")} AS u
  FROM documents
),
ordered AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cum_before
  FROM t
)
SELECT source, doc_id, n_tokens, cum_before
FROM ordered
WHERE cum_before < {_QUOTA_TOKENS}
ORDER BY source, doc_id
"""


@register("corpus_budget_quota_sample", QUOTA_SAMPLE_ORACLE)
def corpus_budget_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quota sampling: per-source sequential cut at a global token budget via running-sum windows."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    toks = corpus.tokens_col(F.col("text"))
    t = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        _ku(F.col("doc_id")).alias("u"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("u", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        t.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("cum_before") < _QUOTA_TOKENS)
        .select("source", "doc_id", "n_tokens", "cum_before")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_pps_systematic_sample — systematic probability-proportional-
# to-size sampling: walk each source's documents in deterministic
# Knuth-hash order, lay their token counts end to end, and take one
# document at every (total/k)-token stride — every doc's inclusion
# probability is proportional to its length, the sample size is
# exactly k (long docs can absorb several strides → they are simply
# kept once per crossing; the count column reports multiplicity), and
# EVERYTHING is integer arithmetic: a doc is selected iff
# floor(cum_before·k/total) < floor(cum_after·k/total), products
# < 2^53, no RNG, no floats — the exact-size complement of
# corpus_weighted_sample's Bernoulli keep. Scale: same shape as the
# quota sample — one shuffle on source, one streaming running-sum
# window, plus a broadcast of per-source totals.
# ---------------------------------------------------------------------------

_PPS_K = 10  # strides per source

PPS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN 0 ELSE CAST(len({_TOKS}) AS BIGINT) END AS n_tokens,
         {_ku_sql("doc_id")} AS u
  FROM documents
),
tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total FROM t GROUP BY source),
walked AS (
  SELECT t.doc_id, t.source, t.n_tokens, x.total,
         CAST(coalesce(sum(t.n_tokens) OVER (PARTITION BY t.source
                   ORDER BY t.u, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cum_before
  FROM t JOIN tot x USING (source)
)
SELECT source, doc_id, n_tokens,
       CAST((cum_before + n_tokens) * {_PPS_K} // total
            - cum_before * {_PPS_K} // total AS BIGINT) AS n_strides
FROM walked
WHERE (cum_before + n_tokens) * {_PPS_K} // total > cum_before * {_PPS_K} // total
ORDER BY source, doc_id
"""


@register("corpus_pps_systematic_sample", PPS_ORACLE)
def corpus_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    t = docs.select(
        "doc_id",
        "source",
        F.size(corpus.tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        _ku(F.col("doc_id")).alias("u"),
    )
    tot = t.groupBy("source").agg(F.sum("n_tokens").alias("total"))
    w = (
        W.partitionBy("source")
        .orderBy("u", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    walked = t.join(F.broadcast(tot), "source").withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    strides = F.expr(
        f"((cum_before + n_tokens) * {_PPS_K}) div total"
    ) - F.expr(f"(cum_before * {_PPS_K}) div total")
    return (
        walked.withColumn("n_strides", strides.cast("long"))
        .filter(F.col("n_strides") > 0)
        .select("source", "doc_id", "n_tokens", "n_strides")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_quantile_normalize — quantile normalization of per-source
# token-length distributions onto the GLOBAL length distribution (the
# feature-normalization classic: each doc's length is replaced by the
# global value at its within-source quantile), so length-based quality
# gates can use one threshold across sources with very different
# length profiles. Scale design: the global reference CDF collapses to
# DISTINCT lengths with cumulative-count spans [lo, hi] (a prefix
# window over the tiny distinct-length relation, broadcast); each doc
# then needs only its within-source rank (keyed window) and one
# broadcast RANGE join (target-rank BETWEEN lo AND hi) — the full data
# is never globally sorted. All rank arithmetic is integer ceil-
# division ((r*N + n_s - 1) div n_s), so the mapping is engine-exact.
# ---------------------------------------------------------------------------

QNORM_ORACLE = f"""
WITH lens AS (
  SELECT doc_id, source,
         CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN 0 ELSE CAST(len({_TOKS}) AS BIGINT) END AS n_tokens
  FROM documents
),
ref AS (
  SELECT n_tokens AS t,
         CAST(coalesce(sum(c) OVER (ORDER BY n_tokens
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              AS BIGINT) AS lo,
         CAST(sum(c) OVER (ORDER BY n_tokens
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
  FROM (SELECT n_tokens, CAST(count(*) AS BIGINT) AS c FROM lens GROUP BY n_tokens)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lens),
ranked AS (
  SELECT doc_id, source, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_s
  FROM lens
)
SELECT k.doc_id, k.source, k.n_tokens,
       CAST(ref.t AS BIGINT) AS norm_tokens
FROM ranked k CROSS JOIN tot
JOIN ref ON (k.r * tot.n + k.n_s - 1) // k.n_s BETWEEN ref.lo AND ref.hi
ORDER BY k.source, k.doc_id
"""


@register("corpus_quantile_normalize", QNORM_ORACLE)
def corpus_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    lens = docs.select(
        "doc_id",
        "source",
        F.size(corpus.tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    lens = lens.localCheckpoint(eager=True)  # feeds ref CDF + ranked + total
    by_len = lens.groupBy("n_tokens").agg(F.count("*").cast("long").alias("c"))
    w_lo = W.orderBy("n_tokens").rowsBetween(W.unboundedPreceding, -1)
    w_hi = W.orderBy("n_tokens").rowsBetween(W.unboundedPreceding, W.currentRow)
    ref = by_len.select(
        F.col("n_tokens").alias("t"),
        (F.coalesce(F.sum("c").over(w_lo), F.lit(0)) + 1).cast("long").alias("lo"),
        F.sum("c").over(w_hi).cast("long").alias("hi"),
    )
    tot = lens.agg(F.count("*").cast("long").alias("n"))
    wr = W.partitionBy("source").orderBy("n_tokens", "doc_id")
    ws = W.partitionBy("source")
    ranked = lens.select(
        "doc_id",
        "source",
        "n_tokens",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(ws).alias("n_s"),
    )
    target = F.expr("(r * n + n_s - 1) div n_s")
    return (
        ranked.join(F.broadcast(tot))
        .join(
            F.broadcast(ref),
            (target >= F.col("lo")) & (target <= F.col("hi")),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("t").cast("long").alias("norm_tokens"),
        )
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_weighted_reservoir_es — weighted sampling WITHOUT replacement
# (Efraimidis–Spirakis 2006): each doc draws u from the deterministic
# Knuth hash and scores key = ln(u)/w (monotone transform of u^(1/w));
# the k=25 LARGEST keys are the sample — exactly the distribution of
# sequential weighted reservoir sampling, but order-free and
# single-pass, which is what makes it distributed-safe (the reservoir
# algorithm itself is inherently sequential; the key trick removes the
# sequence). Completes the sampling ladder: Bernoulli (weighted),
# quota, systematic PPS, Poisson bootstrap — this one is the
# fixed-size without-replacement member. Scale: score is a pure
# projection; top-k via TakeOrdered (per-partition heads, then merge)
# — no global sort, no state.
# ---------------------------------------------------------------------------

_ES_K = 25

ES_SAMPLE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
         CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN 0 ELSE CAST(len({_TOKS}) AS BIGINT) END AS n_tokens,
         {_ku_sql("doc_id")} AS u
  FROM documents
),
keyed AS (
  SELECT doc_id, source, n_tokens,
         ln(u) / n_tokens AS es_key
  FROM scored WHERE n_tokens > 0 AND u > 0
)
SELECT doc_id, source, n_tokens, round(es_key, 8) AS es_key,
       CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INT) AS rank
FROM keyed
QUALIFY rank <= {_ES_K}
ORDER BY rank
"""


@register("corpus_weighted_reservoir_es", ES_SAMPLE_ORACLE)
def corpus_weighted_reservoir_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    scored = docs.select(
        "doc_id",
        "source",
        F.size(corpus.tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        _ku(F.col("doc_id")).alias("u"),
    ).filter((F.col("n_tokens") > 0) & (F.col("u") > 0))
    keyed = scored.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.log("u") / F.col("n_tokens")).alias("es_key"),
    )
    # orderBy+limit -> TakeOrderedAndProject; the window after runs on k rows.
    topk = keyed.orderBy(F.desc("es_key"), "doc_id").limit(_ES_K)
    wr = W.orderBy(F.desc("es_key"), "doc_id")
    return topk.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("es_key", 8).alias("es_key"),
        F.row_number().over(wr).cast("int").alias("rank"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# corpus_shard_manifest — WebDataset-style training-shard manifest:
# assign documents (doc_id order) to ~16 KiB shards by cumulative
# byte position (shard = bytes_before ÷ budget — streaming sequential
# packing: a document starting inside a shard belongs to it, so a
# shard can overshoot by at most one document, the standard tar-shard
# contract), then report the per-shard census a dataloader needs:
# doc range, byte fill, fill fraction. The file-level sibling of the
# token-level corpus_pack_sequences row — context windows pack
# tokens, dataloaders pack FILES. All arithmetic is exact integers
# (running byte sums, floor division). Scale: one running-sum window
# over the (doc, bytes) projection — at 100 TB this becomes the
# two-phase range-partitioned prefix sum, same stance as the ES/
# reservoir rows; blob BYTES never shuffle, only their sizes do.
# ---------------------------------------------------------------------------

_SHARD_BUDGET = 16384

SHARD_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS bytes
  FROM documents
),
walked AS (
  SELECT doc_id, bytes,
         CAST(sum(bytes) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             - bytes AS bytes_before
  FROM sized
),
assigned AS (
  SELECT doc_id, bytes, bytes_before // {_SHARD_BUDGET} AS shard_id
  FROM walked
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc,
       CAST(sum(bytes) AS BIGINT) AS shard_bytes,
       round(CAST(sum(bytes) AS DOUBLE) / {_SHARD_BUDGET}, 4) AS fill_fraction
FROM assigned
GROUP BY shard_id
ORDER BY shard_id
"""


@register("corpus_shard_manifest", SHARD_ORACLE)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "n_chars"])
    sized = docs.select("doc_id", F.col("n_chars").cast("long").alias("bytes"))
    # bytes_before is an EXCLUSIVE prefix sum over the unique doc_id
    # order — functions/ranks.cum_counts with the byte size as the
    # weight, bucketed by doc_id div 8192 so no task sorts more than
    # one bucket (guide §2.5/§8).
    from insurance_helper_spark.functions.ranks import cum_counts

    walked = cum_counts(sized, [], ["doc_id"], ["bytes"], 8192).select(
        "doc_id", "bytes", F.col("bytes_before").cast("long").alias("bytes_before")
    )
    assigned = walked.select(
        "doc_id", "bytes", F.expr(f"bytes_before div {_SHARD_BUDGET}").alias("shard_id")
    )
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
            F.sum("bytes").cast("long").alias("shard_bytes"),
            F.round(F.sum("bytes").cast("double") / _SHARD_BUDGET, 4).alias(
                "fill_fraction"
            ),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# corpus_perplexity_buckets — the CCNet head/middle/tail split: score
# every document by its unigram-LM surprisal (per-token -ln p
# quantized to 1e6 BIGINTs BEFORE the per-doc fold, so the doc score
# is an exact integer mean via div), cut the corpus into thirds at
# exact count boundaries derived from a distinct-score cumulative
# walk (no global ntile over the raw docs — ties share a bucket, the
# documented semantics), and report the per-(lang, bucket) census a
# pretraining mix review reads. Scale: the model join is the standard
# explode + broadcast term-stats pass; the boundary walk runs on the
# distinct-score relation and classification is a shuffle-free
# broadcast comparison (coarsen the 1e6 quantization to bound the
# score domain at extreme corpus sizes).
# ---------------------------------------------------------------------------

PPLX_BUCKETS_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
             AS toks
  FROM documents
),
tok AS (SELECT doc_id, lang, unnest(toks) AS term FROM t),
model AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM model),
scored AS (
  SELECT tok.doc_id, tok.lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(round(-ln(model.cnt * 1.0 / total.n) * 1e6) AS BIGINT))
              AS BIGINT) // count(*) AS score
  FROM tok JOIN model USING (term), total
  GROUP BY tok.doc_id, tok.lang
),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
dv AS (SELECT score, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY score),
walk AS (
  SELECT score, CAST(sum(c) OVER (ORDER BY score
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dv
),
bounds AS (
  SELECT min(CASE WHEN 3 * w.cum >= n.n THEN w.score END) AS b1,
         min(CASE WHEN 3 * w.cum >= 2 * n.n THEN w.score END) AS b2
  FROM walk w CROSS JOIN n_tot n
)
SELECT s.lang,
       CASE WHEN s.score <= b.b1 THEN 'head'
            WHEN s.score <= b.b2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(s.n_tokens) AS DOUBLE) / count(*), 2) AS avg_tokens,
       round(CAST(sum(s.score) AS DOUBLE) / count(*) / 1e6, 4) AS avg_surprisal
FROM scored s CROSS JOIN bounds b
GROUP BY s.lang, bucket
ORDER BY s.lang, bucket
"""


@register("corpus_perplexity_buckets", PPLX_BUCKETS_ORACLE)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "lang"])
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    # r14: aggregate to per-doc term counts FIRST and checkpoint — the
    # former plan re-ran the tokenizer explode on both sides of the
    # model join (twice per evaluation), and `scored` fed three
    # consumers (count, score histogram, final rollup), so tokenize ran
    # 6× per query (guide §2.4/§4: heavyweight work once). The unigram
    # model aggregates from the SAME count relation (sum of per-doc k
    # per term == instance count), and the per-doc surprisal sum
    # k·sq(term) is the identical exact long fold as summing sq per
    # instance.
    dtf = (
        tok.groupBy("doc_id", "lang", "term")
        .agg(F.count("*").cast("long").alias("k"))
        .localCheckpoint(eager=True)
    )
    model = dtf.groupBy("term").agg(F.sum("k").cast("long").alias("cnt"))
    total = model.agg(F.sum("cnt").cast("long").alias("n"))
    sq = F.round(-F.log(F.col("cnt") * 1.0 / F.col("n")) * 1e6).cast("long")
    scored = (
        dtf.join(model, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * sq).cast("long").alias("ssq"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("ssq div n_tokens").alias("score"),
        )
        .localCheckpoint(eager=True)  # feeds n_tot, the histogram, and the rollup
    )
    n_tot = scored.agg(F.count("*").cast("long").alias("n"))
    dv = scored.groupBy("score").agg(F.count("*").cast("long").alias("c"))
    walk = dv.select(
        "score",
        F.sum("c")
        .over(W.orderBy("score").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum"),
    )
    bounds = walk.crossJoin(F.broadcast(n_tot)).agg(
        F.min(F.when(3 * F.col("cum") >= F.col("n"), F.col("score"))).alias("b1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("score"))).alias("b2"),
    )
    bucket = (
        F.when(F.col("score") <= F.col("b1"), "head")
        .when(F.col("score") <= F.col("b2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.sum("n_tokens").cast("double") / F.count("*"), 2).alias(
                "avg_tokens"
            ),
            F.round(F.sum("score").cast("double") / F.count("*") / 1e6, 4).alias(
                "avg_surprisal"
            ),
        )
        .orderBy("lang", "bucket")
    )
