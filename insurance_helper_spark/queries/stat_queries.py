"""Statistical-analysis surface: hypothesis tests, divergence metrics,
robust/winsorized estimators, and the GROUPED_AGG pandas-UDF tier.

These extend §2B's "agg — stats" row from descriptive moments to the
inferential toolkit a data-curation team runs distributed (A/B deltas,
segment drift, corpus-distribution shift). Everything is exact closed-
form arithmetic over one or two aggregation passes — no sampling, no
iteration — so each query is fully SQL-expressible and oracle-gated.

Engine-parity notes: every float aggregate is rounded on both sides;
rank positions use INTEGER ceil-division ((k*n + 9) div 10), never
double multiplication, because 0.1*n can land on either side of an
integer depending on the engine's rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_helper_spark.functions.ranks import cum_counts, with_next_value
from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.queries.text_queries import _TOKS
from insurance_helper_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# stat_welch_ttest_segments — Welch's unequal-variance t-test per
# customer segment: high-priority vs normal-priority order values.
# Scale: two aggregation passes fused into one groupBy with
# conditional aggregates — a single shuffle on the segment key; the
# t statistic and Welch–Satterthwaite df are closed-form from
# (n, mean, var) per arm.
# ---------------------------------------------------------------------------

WELCH_ORACLE = """
WITH arms AS (
  SELECT c.c_mktsegment AS segment,
         count(*) FILTER (o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS n_hi,
         avg(o.o_totalprice) FILTER (o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS m_hi,
         var_samp(o.o_totalprice) FILTER (o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS v_hi,
         count(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS n_lo,
         avg(o.o_totalprice) FILTER (o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS m_lo,
         var_samp(o.o_totalprice) FILTER (o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS v_lo
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY segment
)
SELECT segment,
       CAST(n_hi AS BIGINT) AS n_hi, CAST(n_lo AS BIGINT) AS n_lo,
       round(m_hi - m_lo, 4) AS mean_diff,
       round((m_hi - m_lo) / sqrt(v_hi / n_hi + v_lo / n_lo), 4) AS welch_t,
       round(pow(v_hi / n_hi + v_lo / n_lo, 2)
             / (pow(v_hi / n_hi, 2) / (n_hi - 1)
                + pow(v_lo / n_lo, 2) / (n_lo - 1)), 2) AS welch_df
FROM arms
ORDER BY segment
"""


@register("stat_welch_ttest_segments", WELCH_ORACLE)
def stat_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice", "o_orderpriority"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    price = F.col("o_totalprice")
    arms = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.when(hi, 1)).alias("n_hi"),
            F.avg(F.when(hi, price)).alias("m_hi"),
            F.var_samp(F.when(hi, price)).alias("v_hi"),
            F.count(F.when(~hi, 1)).alias("n_lo"),
            F.avg(F.when(~hi, price)).alias("m_lo"),
            F.var_samp(F.when(~hi, price)).alias("v_lo"),
        )
    )
    se2 = F.col("v_hi") / F.col("n_hi") + F.col("v_lo") / F.col("n_lo")
    return arms.select(
        "segment",
        "n_hi",
        "n_lo",
        F.round(F.col("m_hi") - F.col("m_lo"), 4).alias("mean_diff"),
        F.round((F.col("m_hi") - F.col("m_lo")) / F.sqrt(se2), 4).alias("welch_t"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v_hi") / F.col("n_hi"), 2) / (F.col("n_hi") - 1)
                + F.pow(F.col("v_lo") / F.col("n_lo"), 2) / (F.col("n_lo") - 1)
            ),
            2,
        ).alias("welch_df"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# stat_chi2_priority_status — chi-square test of independence over the
# order-priority × order-status contingency table. Scale: the cell
# counts are one groupBy over the fact table; margins are tiny
# re-aggregations of the CELLS (never a second fact scan), and the
# final statistic is a broadcast-joined fold over |cells| rows.
# ---------------------------------------------------------------------------

CHI2_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS prio, o_orderstatus AS status,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY prio, status
),
rowm AS (SELECT prio, sum(obs) AS row_tot FROM cells GROUP BY prio),
colm AS (SELECT status, sum(obs) AS col_tot FROM cells GROUP BY status),
n AS (SELECT sum(obs) AS n FROM cells)
SELECT round(sum(pow(c.obs - r.row_tot * co.col_tot * 1.0 / n.n, 2)
              / (r.row_tot * co.col_tot * 1.0 / n.n)), 6) AS chi2,
       CAST((count(DISTINCT c.prio) - 1) * (count(DISTINCT c.status) - 1) AS BIGINT)
           AS dof,
       CAST(any_value(n.n) AS BIGINT) AS n_obs
FROM cells c
JOIN rowm r ON c.prio = r.prio
JOIN colm co ON c.status = co.status
CROSS JOIN n
"""


@register("stat_chi2_priority_status", CHI2_ORACLE)
def stat_chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderstatus"])
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("prio"), F.col("o_orderstatus").alias("status")
        )
        .agg(F.count("*").alias("obs"))
        .localCheckpoint(eager=False)  # 15 rows; feeds margins + fold
    )
    rowm = cells.groupBy("prio").agg(F.sum("obs").alias("row_tot"))
    colm = cells.groupBy("status").agg(F.sum("obs").alias("col_tot"))
    n = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return (
        cells.join(F.broadcast(rowm), "prio")
        .join(F.broadcast(colm), "status")
        .join(F.broadcast(n))
        .agg(
            F.round(F.sum(F.pow(F.col("obs") - exp, 2) / exp), 6).alias("chi2"),
            (
                (F.count_distinct("prio") - 1) * (F.count_distinct("status") - 1)
            ).cast("long").alias("dof"),
            F.any_value("n").cast("long").alias("n_obs"),
        )
    )


# ---------------------------------------------------------------------------
# stat_js_divergence_sources — per-source unigram-distribution drift vs
# the whole corpus: KL(P_src || P_corpus) and Jensen–Shannon(P_src,
# P_corpus). The distribution-shift monitor a curation pipeline runs
# per ingest source. Scale: corpus term stats are one explode + one
# term shuffle (the TF-IDF relation); the per-(source, term) grid is
# |sources| × |vocab| — vocab-bounded, never corpus-bounded — built by
# broadcasting the source list, and the final fold is one shuffle on
# the source key.
# ---------------------------------------------------------------------------

JS_DIV_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS term
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
),
src_term AS (SELECT source, term, count(*) AS c FROM toks GROUP BY source, term),
src_tot AS (SELECT source, sum(c) AS tot_s FROM src_term GROUP BY source),
corp_term AS (SELECT term, sum(c) AS cc FROM src_term GROUP BY term),
corp_tot AS (SELECT sum(cc) AS tot_c FROM corp_term),
grid AS (
  SELECT s.source, t.term,
         coalesce(st.c, 0) * 1.0 / s2.tot_s AS p,
         t.cc * 1.0 / ct.tot_c AS q
  FROM (SELECT DISTINCT source FROM src_term) s
  CROSS JOIN corp_term t
  CROSS JOIN corp_tot ct
  JOIN src_tot s2 ON s.source = s2.source
  LEFT JOIN src_term st ON st.source = s.source AND st.term = t.term
)
SELECT source,
       round(CAST(sum(CASE WHEN p > 0
                 THEN CAST(round(p * ln(p / q) * 1e12) AS BIGINT)
                 ELSE 0 END) AS DOUBLE) / 1e12, 6) AS kl_src_corpus,
       round(CAST(sum(CASE WHEN p > 0
                 THEN CAST(round(p * ln(p / ((p + q) / 2)) * 1e12) AS BIGINT)
                 ELSE 0 END)
             + sum(CAST(round(q * ln(q / ((p + q) / 2)) * 1e12) AS BIGINT))
             AS DOUBLE) / 2e12, 6) AS js_divergence
FROM grid
GROUP BY source
ORDER BY source
"""


@register("stat_js_divergence_sources", JS_DIV_ORACLE)
def stat_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    toks = docs.select("source", F.explode(T.tokens(F.col("text"))).alias("term"))
    src_term = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    src_term = src_term.localCheckpoint(eager=False)  # 4 consumers below
    src_tot = src_term.groupBy("source").agg(F.sum("c").alias("tot_s"))
    corp_term = src_term.groupBy("term").agg(F.sum("c").alias("cc"))
    corp_tot = corp_term.agg(F.sum("cc").alias("tot_c"))
    sources = src_term.select("source").distinct()
    grid = (
        F.broadcast(sources)
        .crossJoin(corp_term)
        .crossJoin(F.broadcast(corp_tot))
        .join(F.broadcast(src_tot), "source")
        .join(src_term.withColumnRenamed("c", "sc"), ["source", "term"], "left")
        .select(
            "source",
            (F.coalesce(F.col("sc"), F.lit(0)) / F.col("tot_s")).alias("p"),
            (F.col("cc") / F.col("tot_c")).alias("q"),
        )
    )
    # ENGINE PARITY (r7 float-sum sweep): each grid term is quantized to
    # round(·1e12) AS BIGINT before summation so the vocab-bounded fold is
    # order-independent exact integer arithmetic with one terminal rounded
    # division (p, q, and the per-term doubles are themselves deterministic
    # IEEE quotients of the same integer counts on both engines). BIGINT
    # headroom: per-term |x| ≤ ~1 → ≤1e12 scaled, safe to |vocab| ~ 1e6.
    m = (F.col("p") + F.col("q")) / 2
    kl_pq = F.when(
        F.col("p") > 0,
        F.round(F.col("p") * F.log(F.col("p") / F.col("q")) * 1e12).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    kl_pm = F.when(
        F.col("p") > 0,
        F.round(F.col("p") * F.log(F.col("p") / m) * 1e12).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    kl_qm = F.round(F.col("q") * F.log(F.col("q") / m) * 1e12).cast("long")
    return (
        grid.groupBy("source")
        .agg(
            F.round(F.sum(kl_pq).cast("double") / 1e12, 6).alias("kl_src_corpus"),
            F.round(
                (F.sum(kl_pm) + F.sum(kl_qm)).cast("double") / 2e12, 6
            ).alias("js_divergence"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# agg_geometric_mean_udaf — the GROUPED_AGG pandas-UDF tier (the one
# UDF eval type the engine's surface didn't yet exercise): per-priority
# geometric mean of order value, Arrow-batched, vs the closed-form
# exp(avg(ln x)) oracle. Scale: grouped-agg UDFs get Spark's partial-
# less hash aggregation (full shuffle of the group's values) — fine for
# bounded groups; the docstring exists to say so, and the closed-form
# identity is the map-side-combinable alternative when groups are huge.
# ---------------------------------------------------------------------------

GEOMEAN_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(exp(avg(ln(o_totalprice))), 2) AS geo_mean_price
FROM orders
GROUP BY priority
ORDER BY priority
"""


@register("agg_geometric_mean_udaf", GEOMEAN_ORACLE)
def agg_geometric_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from insurance_helper_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    # Explicit functionType: the module-wide `from __future__ import
    # annotations` stringifies type hints, so pyspark's hint-based
    # eval-type inference can't see Series -> scalar here.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the
    # row count is a second pandas aggregate, not F.count.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def pd_count(v):
        return len(v)

    orders = load_table(spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"])
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            pd_count(F.col("o_totalprice")).alias("n_orders"),
            F.round(geomean(F.col("o_totalprice")), 2).alias("geo_mean_price"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# stat_winsorized_event_values — winsorized mean per event type: clamp
# to the exact p10/p90 order statistics, then average. Rank positions
# are INTEGER ceil-divisions over the group count, and the order
# statistic at a sorted position is tiebreak-independent, so both
# engines pick the identical clamp bounds. Scale: one sort-within-
# partition window (the same shuffle the percentile family needs) +
# one re-aggregation; no second fact scan — bounds rejoin by key.
# ---------------------------------------------------------------------------

WINSOR_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         min(CASE WHEN r = (n + 9) // 10 THEN value END) AS v_lo,
         min(CASE WHEN r = (9 * n + 9) // 10 THEN value END) AS v_hi,
         any_value(n) AS n_events
  FROM ranked GROUP BY event_type
)
SELECT r.event_type,
       CAST(b.n_events AS BIGINT) AS n_events,
       round(b.v_lo, 4) AS p10,
       round(b.v_hi, 4) AS p90,
       round(avg(least(greatest(r.value, b.v_lo), b.v_hi)), 4) AS winsorized_mean
FROM ranked r JOIN bounds b ON r.event_type = b.event_type
GROUP BY r.event_type, b.n_events, b.v_lo, b.v_hi
ORDER BY r.event_type
"""


@register("stat_winsorized_event_values", WINSOR_ORACLE)
def stat_winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["event_id", "event_type", "value"])
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("r"),
        F.count("*").over(wn).alias("n"),
    ).localCheckpoint(eager=False)  # bounds + re-aggregation share it
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("r") == F.floor((F.col("n") + 9) / 10), F.col("value"))
        ).alias("v_lo"),
        F.min(
            F.when(F.col("r") == F.floor((9 * F.col("n") + 9) / 10), F.col("value"))
        ).alias("v_hi"),
        F.any_value("n").alias("n_events"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("v_lo")), F.col("v_hi"))
    return (
        ranked.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "n_events", "v_lo", "v_hi")
        .agg(F.round(F.avg(clamped), 4).alias("winsorized_mean"))
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.round("v_lo", 4).alias("p10"),
            F.round("v_hi", 4).alias("p90"),
            "winsorized_mean",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# stat_gini_order_values — Gini concentration coefficient of order
# value per priority class, from the exact rank formula
# G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over ascending-sorted values.
# Integer ranks come from one sort-window; both Σ folds are plain
# aggregates on the same key — one shuffle total. Complements the HHI
# query (share-of-squares) with the rank-based inequality measure.
# ---------------------------------------------------------------------------

GINI_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority AS priority, o_totalprice AS x,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS i
  FROM orders
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
GROUP BY priority
ORDER BY priority
"""


@register("stat_gini_order_values", GINI_ORACLE)
def stat_gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("x"),
        F.row_number().over(w).alias("i"),
    )
    n = F.count("*")
    return (
        ranked.groupBy("priority")
        .agg(
            n.cast("long").alias("n_orders"),
            F.round(
                2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
                - (n + F.lit(1.0)) / n,
                6,
            ).alias("gini"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# agg_cms_heavy_hitters_bounds — Count-Min-Sketch frequency estimates
# with the one-sided error contract verified against exact counts (the
# approx-with-oracle-checked-bound pattern agg_hll_mergeable_daily and
# agg_approx_percentile_bounds establish). The sketch is built from
# first principles as DataFrame ops so BOTH engines compute the SAME
# d×w counter table from the same portable Knuth hash family
# (functions/hashing): d hash rows, w buckets, cell = count of keys
# hashing there, estimate = min over rows. est ≥ exact holds for ANY
# hash family (CMS only overcounts); est ≤ exact + ⌈e·N/w⌉ is the
# Markov bound, computed as a REAL boolean on both engines — never
# pinned, so a scale-factor or width change flips it identically on
# both sides instead of manufacturing a spurious mismatch. The whole
# plan is lazy: no sketch bytes ever touch the driver. Scale: the
# groupBy (row, bucket) has d·w = 8192 distinct keys, so map-side
# partial aggregation hands each executor a constant-size partial
# sketch and the merge is one tiny shuffle — the mergeable-sketch
# property, realized by Catalyst's partial aggregation instead of a
# custom UDAF; the d·w-row sketch then broadcast-joins to the top-k
# candidates.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 2048


def _cms_bucket_sql(key_expr: str, seed: int) -> str:
    """DuckDB fragment for the row-``seed`` CMS bucket of an int key —
    the exact SQL twin of ``_cms_bucket``: the shared portable hash
    family's value t, then the HIGH bits via floor(t·w / 2^32). t·w has
    < 53 significant bits, so the double floor is exact on both
    engines."""
    from insurance_helper_spark.functions.hashing import KNUTH_MOD, hash_family_sql

    t = hash_family_sql(key_expr, seed)
    return f"CAST(floor((({t}) * {_CMS_W}) / {KNUTH_MOD}.0) AS BIGINT)"


def _cms_bucket(key, seed: int):
    """Bucket in [0, w) for CMS hash row ``seed`` (Spark column twin)."""
    from insurance_helper_spark.functions.hashing import KNUTH_MOD, hash_family

    t = hash_family(key, seed)
    return F.floor((t * F.lit(_CMS_W)) / F.lit(float(KNUTH_MOD))).cast("long")


def _cms_oracle() -> str:
    buckets = ",\n         ".join(
        f"{_cms_bucket_sql('k', i)} AS b{i}" for i in range(1, _CMS_D + 1)
    )
    unpivot = "\n  UNION ALL ".join(
        f"SELECT k, {i} AS i, b{i} AS b FROM hx" for i in range(1, _CMS_D + 1)
    )
    return f"""
WITH li AS (SELECT l_partkey AS k FROM lineitem),
hx AS (
  SELECT k, {buckets}
  FROM li
),
cells AS ({unpivot}),
sketch AS (
  SELECT i, b, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY i, b
),
counts AS (
  SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt FROM li GROUP BY k
),
topk AS (
  SELECT k, exact_cnt,
         row_number() OVER (ORDER BY exact_cnt DESC, k) AS rk
  FROM counts
),
kb AS (
  SELECT t.k, t.exact_cnt, x.i, x.b
  FROM (SELECT k, exact_cnt FROM topk WHERE rk <= 20) t
  JOIN (SELECT DISTINCT k, i, b FROM cells) x USING (k)
),
est AS (
  SELECT kb.k, kb.exact_cnt, min(s.c) AS est_cnt
  FROM kb JOIN sketch s USING (i, b)
  GROUP BY kb.k, kb.exact_cnt
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li)
SELECT est.k AS l_partkey, est.exact_cnt, est.est_cnt,
       est.est_cnt >= est.exact_cnt AS est_not_below_exact,
       est.est_cnt <= est.exact_cnt
         + CAST(ceil(2.718281828459045 * tot.n / {_CMS_W}) AS BIGINT)
         AS est_within_eps_n
FROM est CROSS JOIN tot
ORDER BY est.exact_cnt DESC, l_partkey
"""


CMS_ORACLE = _cms_oracle()


@register("agg_cms_heavy_hitters_bounds", CMS_ORACLE)
def agg_cms_heavy_hitters_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy-hitter census: d hash rows per key in one pass, sketch estimates audited against exact counts with the CM error bound."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_partkey"]).select(
        F.col("l_partkey").alias("k")
    )
    rows = range(1, _CMS_D + 1)
    # d buckets per key in one pass; posexplode → (hash row i, bucket b).
    hashed = li.select(
        "k",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("k"), i) for i in rows])
        ).alias("i0", "b"),
    ).select("k", (F.col("i0") + 1).alias("i"), "b")
    # d·w cells after partial aggregation — the (constant-size) sketch.
    sketch = hashed.groupBy("i", "b").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("exact_cnt"), "k")
    topk = (
        li.groupBy("k")
        .agg(F.count("*").alias("exact_cnt"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("k", "exact_cnt")
    )
    kb = topk.select(
        "k",
        "exact_cnt",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("k"), i) for i in rows])
        ).alias("i0", "b"),
    ).select("k", "exact_cnt", (F.col("i0") + 1).alias("i"), "b")
    est = (
        kb.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )
    tot = li.agg(F.count("*").cast("long").alias("n"))
    slack = F.ceil(F.lit(2.718281828459045) * F.col("n") / F.lit(_CMS_W)).cast(
        "long"
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("l_partkey"),
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("est_not_below_exact"),
            (F.col("est_cnt") <= F.col("exact_cnt") + slack).alias(
                "est_within_eps_n"
            ),
        )
        .orderBy(F.desc("exact_cnt"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# stat_benford_first_digit — Benford's-law conformance audit over
# order values (the classic fabricated-data screen). The first
# significant digit comes from the INTEGER cents cast to string —
# floor(log10(x)) is the textbook route but straddles engine-specific
# float error at exact powers of ten; string-of-integer is exact on
# both engines. One groupBy on a 9-value key; expected frequencies are
# closed-form log10(1 + 1/d).
# ---------------------------------------------------------------------------

BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0
),
counts AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY d
),
tot AS (SELECT sum(n_obs) AS n FROM counts)
SELECT c.d AS digit, c.n_obs,
       round(c.n_obs * 1.0 / t.n, 6) AS obs_frac,
       round(log10(1 + 1.0 / c.d), 6) AS benford_frac,
       round(pow(c.n_obs * 1.0 / t.n - log10(1 + 1.0 / c.d), 2)
             / log10(1 + 1.0 / c.d) * t.n, 4) AS chi2_term
FROM counts c CROSS JOIN tot t
ORDER BY digit
"""


@register("stat_benford_first_digit", BENFORD_ORACLE)
def stat_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").alias("n"))
    benford = F.log10(1 + 1.0 / F.col("digit"))
    obs = F.col("n_obs") / F.col("n")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(obs, 6).alias("obs_frac"),
            F.round(benford, 6).alias("benford_frac"),
            F.round(F.pow(obs - benford, 2) / benford * F.col("n"), 4).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# stat_entropy_priority_mix — Shannon entropy of the order-priority
# mix per customer segment (+ the normalized evenness index): the
# categorical-diversity profile (how uniform is each segment's demand
# across priority classes). One fact shuffle on (segment, priority),
# margins re-aggregate the cells — the chi-square query's plan with an
# information-theoretic fold.
# ---------------------------------------------------------------------------

ENTROPY_ORACLE = """
WITH cells AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS prio,
         CAST(count(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY segment, prio
),
tot AS (SELECT segment, sum(n) AS seg_n, count(*) AS k FROM cells GROUP BY segment)
SELECT c.segment,
       CAST(any_value(t.seg_n) AS BIGINT) AS n_orders,
       round(-sum((c.n * 1.0 / t.seg_n) * ln(c.n * 1.0 / t.seg_n)), 6) AS entropy_nats,
       round(-sum((c.n * 1.0 / t.seg_n) * ln(c.n * 1.0 / t.seg_n))
             / ln(any_value(t.k)), 6) AS evenness
FROM cells c JOIN tot t ON c.segment = t.segment
GROUP BY c.segment
ORDER BY c.segment
"""


@register("stat_entropy_priority_mix", ENTROPY_ORACLE)
def stat_entropy_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    cells = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)  # |segments|×|priorities| rows
    )
    tot = cells.groupBy("segment").agg(
        F.sum("n").alias("seg_n"), F.count("*").alias("k")
    )
    p = F.col("n") / F.col("seg_n")
    return (
        cells.join(F.broadcast(tot), "segment")
        .groupBy("segment")
        .agg(
            F.any_value("seg_n").cast("long").alias("n_orders"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(-F.sum(p * F.log(p)) / F.log(F.any_value("k")), 6).alias("evenness"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# stat_auc_mann_whitney — ROC AUC of the event value "score"
# discriminating error events from the rest, via the rank formulation
# (Mann–Whitney U with midrank tie handling):
# AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻). The ML-eval metric computed the
# distributed way: one global sort-window for ranks (the only
# all-data ordering any exact AUC needs), ties collapsed to midranks
# by an avg-over-value window, then a single fold. Exact rational
# arithmetic until the final division.
# ---------------------------------------------------------------------------

AUC_ORACLE = """
WITH scored AS (
  SELECT value AS score,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label,
         row_number() OVER (ORDER BY value, event_id) AS r
  FROM events
),
midranks AS (
  SELECT label, avg(r) OVER (PARTITION BY score) AS mr FROM scored
),
agg AS (
  SELECT sum(CASE WHEN label = 1 THEN mr ELSE 0 END) AS r_pos,
         sum(label) AS n_pos,
         sum(1 - label) AS n_neg
  FROM midranks
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       round((r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
FROM agg
"""


@register("stat_auc_mann_whitney", AUC_ORACLE)
def stat_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["event_id", "event_type", "value"])
    # r14 (guide §2.5): the former plan assigned a GLOBAL per-row
    # row_number over the full events relation (1-task sort of every
    # row at any scale) just to average it back into per-score
    # midranks. The midrank of a tied score group is a closed form of
    # the value-collapsed relation: with b = count of strictly smaller
    # scores and c = the tie size, mr = (2b + c + 1)/2 — the same
    # exact rational the row_number/avg pair produced, so the IEEE
    # correctly-rounded double is bit-identical; and every midrank is
    # an exact multiple of 0.5 below 2^52, so the label-weighted sum
    # (pos·mr, summed) is exact and order-independent, exactly like
    # the per-instance sum it replaces. b comes from the two-phase
    # bucketed functions/ranks.cum_counts (unit-width buckets over the
    # bounded metric domain), so no task ever sorts more than one bucket.
    vc = events.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
    ).groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("pos"),
    )
    walked = cum_counts(vc, [], ["score"], ["c"], 1).select(
        "c",
        "pos",
        ((2 * F.col("c_before") + F.col("c") + 1) / 2.0).alias("mr"),
    )
    return walked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos")).cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(F.col("pos") * F.col("mr"))
                - F.sum("pos") * (F.sum("pos") + 1) / 2.0
            )
            / (F.sum("pos") * F.sum(F.col("c") - F.col("pos"))),
            6,
        ).alias("auc"),
    ).select("n_pos", "n_neg", "auc")


# ---------------------------------------------------------------------------
# json_variant_props — the Spark 4 VARIANT type surface: parse the
# events props JSON into variant once, extract typed fields with
# variant_get, aggregate. Variant keeps the parsed binary form through
# the plan (parse once, extract many — the shredded-JSON story), vs
# get_json_object re-parsing the string per extraction; the existing
# json_extract_events query covers that older path. Oracle: DuckDB
# JSON extraction — same values, different storage.
# ---------------------------------------------------------------------------

VARIANT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("json_variant_props", VARIANT_ORACLE)
def json_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["event_type", "props"])
    v = events.select(
        "event_type", F.try_parse_json(F.col("props")).alias("vprops")
    )
    k = F.variant_get(F.col("vprops"), "$.k", "bigint")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# stat_ols_residual_outliers — model-based outlier detection: fit
# price ~ quantity per part brand-prefix with closed-form OLS over
# EXACT INTEGER moments (quantity is integral, price is whole cents:
# Σx, Σy, Σxy, Σx² are order-independent BIGINTs — r7 float-sum sweep;
# regr_* over raw doubles was the Heaps-flake hazard class), broadcast
# the tiny coefficient table back, and flag lineitems whose
# studentized-ish residual |e| / s_e exceeds 3. Residuals are
# quantized to whole cents so the variance sum is an exact BIGINT too;
# b0/b1/s_e are deterministic IEEE quotients of those integers. Two
# passes over the fact (fit, score) — the standard distributed shape
# for per-group closed-form models; the BIGINT moment products stay
# exact to ~1e9 rows/group (n·Σxy < 2^63), beyond which the same plan
# runs the fit arithmetic in DOUBLE. Residual variance uses the exact
# n-2 denominator.
# ---------------------------------------------------------------------------

OLS_OUTLIER_ORACLE = """
WITH base AS (
  SELECT l_partkey % 10 AS grp,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
fit AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY grp
),
coefs AS (
  SELECT grp, n,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b1,
         (CAST(sy AS DOUBLE)
          - CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS b0
  FROM fit
),
scored AS (
  SELECT b.grp, c.n,
         CAST(round(b.y - (c.b0 + c.b1 * b.x)) AS BIGINT) AS rc
  FROM base b JOIN coefs c ON b.grp = c.grp
),
sigma AS (
  SELECT grp, any_value(n) AS n,
         sqrt(CAST(sum(rc * rc) AS DOUBLE) / (any_value(n) - 2)) AS s_e
  FROM scored GROUP BY grp
)
SELECT s.grp,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(g.s_e / 100.0, 4) AS resid_stddev,
       CAST(sum(CASE WHEN abs(s.rc) > 3 * g.s_e THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM scored s JOIN sigma g ON s.grp = g.grp
GROUP BY s.grp, g.s_e
ORDER BY s.grp
"""


@register("stat_ols_residual_outliers", OLS_OUTLIER_ORACLE)
def stat_ols_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_quantity", "l_extendedprice"],
    )
    base = li.select(
        (F.col("l_partkey") % 10).alias("grp"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    fit = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    b1 = num / den
    coefs = fit.select(
        "grp",
        "n",
        b1.alias("b1"),
        (
            (F.col("sy").cast("double") - b1 * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("b0"),
    )
    scored = (
        base.join(F.broadcast(coefs), "grp")
        .select(
            "grp",
            "n",
            F.round(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x")))
            .cast("long")
            .alias("rc"),
        )
        .localCheckpoint(eager=False)  # feeds sigma + the outlier fold
    )
    sigma = scored.groupBy("grp").agg(
        F.sqrt(
            F.sum(F.col("rc") * F.col("rc")).cast("double") / (F.any_value("n") - 2)
        ).alias("s_e")
    )
    return (
        scored.join(F.broadcast(sigma), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.any_value("s_e") / 100.0, 4).alias("resid_stddev"),
            F.sum(F.when(F.abs("rc") > 3 * F.col("s_e"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# agg_within_group_percentiles — the SQL-standard ordered-set aggregate
# syntax (PERCENTILE_CONT/DISC ... WITHIN GROUP), run as the SAME SQL
# text on Spark and DuckDB (shared-dialect evidence, like
# sql_surface_shared_dialect). percentile_disc picks an actual data
# value so it is tie-exact; percentile_cont interpolates — both engines
# use the same linear rule and the result rounds at 2 (cents).
# ---------------------------------------------------------------------------

WITHIN_GROUP_SQL = """
SELECT o_orderpriority AS priority,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
           AS median_price,
       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice), 2)
           AS p25_price,
       round(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2)
           AS p90_disc_price
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""


@register("agg_within_group_percentiles", WITHIN_GROUP_SQL)
def agg_within_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insurance_helper_spark.sources.tables import load_table as _lt

    _lt(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(WITHIN_GROUP_SQL)


# ---------------------------------------------------------------------------
# window_cumulative_distinct — COUNT(DISTINCT) OVER a running window,
# which Spark's window functions reject outright: the standard
# workaround marks each key's FIRST occurrence (row_number over the
# (partition, key) pair) and running-sums the markers. Cumulative
# distinct parts shipped per supplier over time. Two window passes on
# the same supplier shuffle; no extra exchange.
# ---------------------------------------------------------------------------

CUM_DISTINCT_ORACLE = """
WITH marked AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day, l_partkey,
         CASE WHEN row_number() OVER (PARTITION BY l_suppkey, l_partkey
                                      ORDER BY l_shipdate, l_orderkey, l_linenumber) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM lineitem
),
daily AS (
  SELECT l_suppkey, day, sum(first_seen) AS new_parts
  FROM marked GROUP BY l_suppkey, day
)
SELECT l_suppkey, day,
       CAST(sum(new_parts) OVER (PARTITION BY l_suppkey ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS distinct_parts_to_date
FROM daily
WHERE l_suppkey <= 10
ORDER BY l_suppkey, day
"""


@register("window_cumulative_distinct", CUM_DISTINCT_ORACLE)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber"],
    )
    w_first = Window.partitionBy("l_suppkey", "l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    marked = li.select(
        "l_suppkey",
        F.col("l_shipdate").cast("date").alias("day"),
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    daily = marked.groupBy("l_suppkey", "day").agg(F.sum("first_seen").alias("new_parts"))
    w_run = (
        Window.partitionBy("l_suppkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.withColumn(
            "distinct_parts_to_date", F.sum("new_parts").over(w_run).cast("long")
        )
        .filter(F.col("l_suppkey") <= 10)
        .select("l_suppkey", "day", "distinct_parts_to_date")
        .orderBy("l_suppkey", "day")
    )


# ---------------------------------------------------------------------------
# ml_feature_hash_encode — the hashing trick for categorical features
# (Weinberger et al. 2009): project (segment × priority) onto
# n_buckets columns via a cross-engine hash (first 8 hex chars of
# sha256 → int — the only string hash both engines share bit-exactly;
# xxhash64/murmur differ between Spark and DuckDB). Output is the
# bucket-incidence profile: rows per bucket, distinct source
# categories (collisions visible), total weight. Scale: a pure
# projection + one groupBy on the bucket id — the encode itself is
# shuffle-free and gets applied identically at training and serving
# time, which is the whole point of the trick.
# ---------------------------------------------------------------------------

FEATURE_HASH_ORACLE = """
WITH enc AS (
  SELECT CAST(('0x' || substr(sha256(c.c_mktsegment || '|' || o.o_orderpriority), 1, 8))
              AS BIGINT) % 16 AS bucket,
         c.c_mktsegment || '|' || o.o_orderpriority AS category,
         o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT category) AS BIGINT) AS n_categories,
       round(sum(o_totalprice), 2) AS total_weight
FROM enc
GROUP BY bucket
ORDER BY bucket
"""


@register("ml_feature_hash_encode", FEATURE_HASH_ORACLE)
def ml_feature_hash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    category = F.concat_ws("|", "c_mktsegment", "o_orderpriority")
    bucket = (
        F.conv(F.substring(F.sha2(category, 256), 1, 8), 16, 10).cast("long") % 16
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(bucket.alias("bucket"), category.alias("category"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("category").alias("n_categories"),
            F.round(F.sum("o_totalprice"), 2).alias("total_weight"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# stat_kaplan_meier_retention — Kaplan-Meier survival over customer
# order-activity lifetimes with right-censoring: duration = weeks
# between a customer's first and last order; customers whose last
# order falls within 90 days of the observation end are CENSORED
# (still active), the rest are churn events. S(t) = Pi_{t_i <= t}
# (1 - d_i/n_i) over event times, computed as exp(Sum ln factors) with
# an explicit zero guard (both engines treat a d=n factor as survival
# 0 without evaluating ln(0)). Scale: one shuffle to the per-customer
# relation, then every window runs over the |distinct week buckets|
# rows — a reduced relation orders of magnitude smaller than the fact
# table; the single unpartitioned window is over that reduced relation
# only (the RFM caveat applies: for huge bucket counts, cut by range
# first).
# ---------------------------------------------------------------------------

KM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(floor(date_diff('day', CAST(min(o_orderdate) AS DATE),
                              CAST(max(o_orderdate) AS DATE)) / 7.0) AS BIGINT)
             AS duration,
         CAST(max(o_orderdate) AS DATE) AS last_day
  FROM orders GROUP BY o_custkey
),
horizon AS (SELECT max(last_day) AS obs_end, count(*) AS n_total FROM per_cust),
flagged AS (
  SELECT p.duration,
         CASE WHEN p.last_day < h.obs_end - INTERVAL 90 DAY THEN 1 ELSE 0 END AS churned,
         h.n_total
  FROM per_cust p CROSS JOIN horizon h
),
per_dur AS (
  SELECT duration, n_total,
         CAST(count(*) AS BIGINT) AS n_leaving,
         CAST(sum(churned) AS BIGINT) AS n_events
  FROM flagged GROUP BY duration, n_total
),
risk AS (
  SELECT duration, n_leaving, n_events,
         n_total - CAST(coalesce(sum(n_leaving) OVER (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_risk
  FROM per_dur
),
km AS (
  SELECT duration, n_risk, n_events,
         sum(CASE WHEN n_events < n_risk AND n_events > 0
                  THEN ln(1.0 - n_events * 1.0 / n_risk) ELSE 0.0 END)
             OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
         max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
             OVER (ORDER BY duration
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
  FROM risk
)
SELECT duration AS duration_weeks, n_risk, n_events,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE round(exp(lnsum), 6) END AS survival
FROM km
WHERE n_events > 0
ORDER BY duration_weeks
"""


@register("stat_kaplan_meier_retention", KM_ORACLE)
def stat_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    per_cust = orders.groupBy("o_custkey").agg(
        F.floor(
            F.datediff(F.to_date(F.max("o_orderdate")), F.to_date(F.min("o_orderdate")))
            / 7.0
        )
        .cast("long")
        .alias("duration"),
        F.to_date(F.max("o_orderdate")).alias("last_day"),
    )
    horizon = per_cust.agg(
        F.max("last_day").alias("obs_end"), F.count("*").alias("n_total")
    )
    flagged = per_cust.crossJoin(F.broadcast(horizon)).select(
        "duration",
        F.when(F.col("last_day") < F.date_sub("obs_end", 90), 1)
        .otherwise(0)
        .alias("churned"),
        "n_total",
    )
    per_dur = flagged.groupBy("duration", "n_total").agg(
        F.count("*").alias("n_leaving"), F.sum("churned").alias("n_events")
    )
    w_prev = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_dur.withColumn(
        "n_risk",
        F.col("n_total") - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0)),
    )
    ln_factor = F.when(
        (F.col("n_events") < F.col("n_risk")) & (F.col("n_events") > 0),
        F.log(1.0 - F.col("n_events") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    hit_zero = F.max(
        F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    km = risk.withColumn("lnsum", F.sum(ln_factor).over(w_cum)).withColumn(
        "hit_zero", hit_zero
    )
    return (
        km.filter(F.col("n_events") > 0)
        .select(
            F.col("duration").alias("duration_weeks"),
            "n_risk",
            "n_events",
            F.when(F.col("hit_zero") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp("lnsum"), 6))
            .alias("survival"),
        )
        .orderBy("duration_weeks")
    )


# ---------------------------------------------------------------------------
# stat_weighted_median_price — weighted (lower) median: the smallest
# price whose cumulative quantity-weight reaches half the group total.
# Everything is integer arithmetic (price cents, integral quantities,
# 2·cum ≥ tot comparison), so the crossing row — and therefore the
# median — is engine-exact with no interpolation policy to reconcile.
# The estimator behind "median unit price per line weighted by volume"
# — plain median answers the wrong question when one line carries 50
# units. Scale: one sort-window shuffle per group key + a same-key
# re-aggregation, the agg_percentiles shape; approx at 100 TB via
# weight-replicated approx_percentile under the bounds contract.
# ---------------------------------------------------------------------------

WMEDIAN_ORACLE = """
WITH rows_w AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(round(l_quantity) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
),
scanned AS (
  SELECT flag, price_cents, w,
         sum(w) OVER (PARTITION BY flag ORDER BY price_cents, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         sum(w) OVER (PARTITION BY flag) AS tot_w,
         count(*) OVER (PARTITION BY flag) AS n_lines
  FROM rows_w
),
crossing AS (
  SELECT flag, price_cents, tot_w, n_lines,
         row_number() OVER (PARTITION BY flag ORDER BY cum_w, price_cents) AS rn
  FROM scanned
  WHERE 2 * cum_w >= tot_w
)
SELECT flag, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(tot_w AS BIGINT) AS total_weight,
       price_cents / 100.0 AS weighted_median_price
FROM crossing WHERE rn = 1
ORDER BY flag
"""


@register("stat_weighted_median_price", WMEDIAN_ORACLE)
def stat_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed two-phase weighted median (r13).

    The previous plan ran the cumulative-weight walk directly over the
    row relation with ``Window.partitionBy(flag)`` — flag has THREE
    values, so ALL rows sort inside 3 window partitions (3 tasks each
    sorting n/3 rows, however many cores exist): the r13 sf1 probe
    measured 6.1× wall at 10× rows, and at warehouse scale a 3-key
    global sort is simply impossible. Prices are ~90 % distinct, so
    value-collapsing (the energy-distance ECDF trick) buys nothing.

    Two-phase instead: (1) one map-side-combinable groupBy on
    (flag, price bucket of 100 dollars) — a few hundred buckets per
    flag; (2) a trivially small cumulative walk over the bucket
    relation finds the bucket where the cumulative weight crosses
    half the total, with the cumulative weight BEFORE it; (3) only the
    rows of that one bucket (a broadcast semi-join; ~1/n_buckets of
    the data) are walked row-level, seeded with the phase-2 prefix —
    identical crossing row, identical output, and the only big-data
    operations are two linear scans and one combinable aggregation.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_extendedprice", "l_quantity",
                 "l_orderkey", "l_linenumber"],
    )
    bucket_cents = 10_000  # $100 buckets over the ~$900-$110k price range
    rows_w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.round("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("bkt", F.floor(F.col("price_cents") / bucket_cents).cast("long"))
    per_bkt = rows_w.groupBy("flag", "bkt").agg(
        F.sum("w").alias("bw"), F.count("*").alias("bn")
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    sc = (
        per_bkt.withColumn("cum", F.sum("bw").over(w_cum))
        .withColumn("tot_w", F.sum("bw").over(w_tot))
        .withColumn("n_lines", F.sum("bn").over(w_tot))
    )
    w_first = Window.partitionBy("flag").orderBy("bkt")
    crossing = (
        sc.filter(2 * F.col("cum") >= F.col("tot_w"))
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            "flag", "bkt",
            (F.col("cum") - F.col("bw")).alias("cum_before"),
            "tot_w", "n_lines",
        )
    )
    tail = rows_w.join(F.broadcast(crossing), ["flag", "bkt"])
    w_row = (
        Window.partitionBy("flag")
        .orderBy("price_cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = tail.withColumn(
        "cum_w", F.col("cum_before") + F.sum("w").over(w_row)
    )
    w_rn = Window.partitionBy("flag").orderBy("cum_w", "price_cents")
    return (
        walked.filter(2 * F.col("cum_w") >= F.col("tot_w"))
        .withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select(
            "flag",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("tot_w").cast("long").alias("total_weight"),
            (F.col("price_cents") / 100.0).alias("weighted_median_price"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# stat_spearman_corr — Spearman rank correlation (tie-corrected, via
# average ranks) between line quantity and extended price per return
# flag. Everything before the final division is INTEGER arithmetic:
# doubled average ranks r2 = 2*rank + ties - 1 are integers, the
# per-group mean of r2 is exactly (n+1) because rank sums are
# invariant under ties, so the centered products/squares are exact
# BIGINTs and the two engines cannot disagree until the one rounded
# division. Scale (r7 ADVICE fix): NO per-row sort anywhere — the fact
# table is collapsed map-side to distinct (flag, x, y) triples with
# counts (price cents has a bounded domain: part price × qty ≤ ~10M
# distinct values, vs unbounded fact rows), BOTH doubled-average-rank
# lookups are cumulative-count windows over the (flag, x) / (flag, y)
# marginals of that reduced relation, and the exact integer moment
# sums are weighted by the triple counts. One shuffle to build the
# triples (map-side combine), marginal windows over reduced relations,
# broadcast joins back. BIGINT centered sums stay exact to ~sf1
# (4n^3 < 2^63), beyond which the same plan runs with DOUBLE sums.
# ---------------------------------------------------------------------------

SPEARMAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
ranked AS (
  SELECT flag, x, y,
         CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n,
         2 * rank() OVER (PARTITION BY flag ORDER BY x)
           + count(*) OVER (PARTITION BY flag, x) - 1 AS r2x,
         2 * rank() OVER (PARTITION BY flag ORDER BY y)
           + count(*) OVER (PARTITION BY flag, y) - 1 AS r2y
  FROM base
),
sums AS (
  SELECT flag, any_value(n) AS n,
         sum((r2x - (n + 1)) * (r2y - (n + 1))) AS sxy,
         sum((r2x - (n + 1)) * (r2x - (n + 1))) AS sxx,
         sum((r2y - (n + 1)) * (r2y - (n + 1))) AS syy
  FROM ranked GROUP BY flag
)
SELECT flag, CAST(n AS BIGINT) AS n_lines,
       round(CAST(sxy AS DOUBLE)
             / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 4)
           AS spearman_rho
FROM sums
ORDER BY flag
"""


@register("stat_spearman_corr", SPEARMAN_ORACLE)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # ONE shuffle collapses the fact table to distinct (flag, x, y)
    # triples with counts (map-side combine; triple count is bounded
    # by the x×y value domains, not the row count). Both rank lookups
    # then ride cumulative-count windows over the triple relation's
    # marginals: doubled average rank = 2*(count below) + ties + 1.
    # No window ever sees a per-row relation.
    # The triple relation feeds several consumers (the bucket rollups
    # and the rows they join back to); lazily each one would re-run the
    # full lineitem scan+aggregate. One eager checkpoint of the
    # value-domain-bounded relation leaves ONE FileScan of lineitem in
    # the whole query (guide §2.4).
    triples = (
        base.groupBy("flag", "x", "y")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    # Both doubled ranks are computed DIRECTLY on the triple relation,
    # with no marginal collapse and join back (a ~450k-row y marginal
    # joined to the 600k-row triples at sf0.1). functions/ranks.cum_counts
    # per marginal: `before` sums counts of strictly smaller values, `upto`
    # includes all peers, so ties = upto − before and
    # r2 = 2·before + ties + 1 = before + upto + 1; `c_total` is the
    # per-flag n. Exact integer sums throughout.
    def add_r2(df: DataFrame, val: str, width: int, out: str) -> DataFrame:
        return (
            cum_counts(df, ["flag"], [val], ["c"], width)
            .withColumn(out, (F.col("c_before") + F.col("c_upto") + 1).cast("long"))
            .drop("c_before", "c_upto")
        )

    ranked = add_r2(triples, "x", 8, "r2x").withColumnRenamed("c_total", "n")
    ranked = add_r2(ranked, "y", 10_000, "r2y").drop("c_total")
    dx, dy = F.col("r2x") - (F.col("n") + 1), F.col("r2y") - (F.col("n") + 1)
    sums = ranked.groupBy("flag").agg(
        F.any_value("n").alias("n"),
        F.sum(F.col("c") * dx * dy).alias("sxy"),
        F.sum(F.col("c") * dx * dx).alias("sxx"),
        F.sum(F.col("c") * dy * dy).alias("syy"),
    )
    rho = F.round(
        F.col("sxy").cast("double")
        / (F.sqrt(F.col("sxx").cast("double")) * F.sqrt(F.col("syy").cast("double"))),
        4,
    )
    return sums.select(
        "flag", F.col("n").cast("long").alias("n_lines"), rho.alias("spearman_rho")
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# stat_theil_sen_slope — robust trend estimation: the Theil–Sen
# estimator (lower median of all pairwise slopes) of the daily event
# count per event type. Pairwise slopes are quadratic in SERIES LENGTH
# — bounded by the calendar (T days → T(T-1)/2 pairs per type), not by
# the row count, so the pair relation is a within-type self-join of an
# already-aggregated T-row series: ~66k pairs/type/year forever, while
# the raw events feeding the daily rollup can be 100 TB. Slopes are
# exact IEEE quotients of integers (count delta / day delta), so the
# ordered median is engine-deterministic with a (slope, d1, d2)
# tiebreak. Scale: one shuffle to the daily rollup (map-side combine),
# then per-type self-join on broadcast-size series.
# ---------------------------------------------------------------------------

THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, day
),
pairs AS (
  SELECT a.event_type,
         CAST(b.cnt - a.cnt AS DOUBLE) / datediff('day', a.day, b.day) AS slope,
         a.day AS d1, b.day AS d2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
ordered AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, d1, d2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
)
SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
       round(slope, 6) AS theil_sen_slope
FROM ordered
WHERE rn = (n_pairs + 1) // 2
ORDER BY event_type
"""


@register("stat_theil_sen_slope", THEIL_SEN_ORACLE)
def stat_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["ts", "event_type"])
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    a = daily.select("event_type", F.col("day").alias("d1"), F.col("cnt").alias("c1"))
    b = daily.select("event_type", F.col("day").alias("d2"), F.col("cnt").alias("c2"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            ((F.col("c2") - F.col("c1")).cast("double")
             / F.datediff("d2", "d1")).alias("slope"),
            "d1",
            "d2",
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wn = Window.partitionBy("event_type")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_pairs", F.count("*").over(wn).cast("long"))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type", "n_pairs", F.round("slope", 6).alias("theil_sen_slope")
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# agg_kmv_distinct_union — K-Minimum-Values distinct-count sketch
# (Bar-Yossef et al. 2002) with the union-merge that motivates it: per
# source, keep the k=64 smallest sha-48 hashes of the distinct token
# set and estimate |D| = (k-1) * 2^48 / h_(k); the ALL row merges the
# per-source sketches by taking the k smallest of their union — the
# mergeability HLL offers, but with an exactly-reproducible integer
# estimator (engine-portable sha hash, integer k-th order statistic,
# one rounded division), so the driver value-hashes the SKETCH itself,
# not just a tolerance neighborhood. Scale: tokenize+distinct is one
# shuffle; the rank window orders only each source's distinct-hash
# set; every sketch is 64 ints, so the union costs O(sources * k) and
# never touches the driver. Exact counts ride along for relative
# error. (At 100 TB the rank window's per-source ordering is the cost
# — swap to a top-k aggregate per source, same estimator.)
# ---------------------------------------------------------------------------

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    sha_prefix_long as _sha48,
    sha_prefix_long_sql as _sha48_sql,
)

_KMV_K = 64
_KMV_DOMAIN = 1 << 48

KMV_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({_TOKS}) AS term
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
),
h AS (
  SELECT DISTINCT source, {_sha48_sql("term")} AS h FROM tok
),
scoped AS (
  SELECT source AS scope, h FROM h
  UNION ALL
  SELECT 'ALL' AS scope, h FROM (SELECT DISTINCT h FROM h)
),
ranked AS (
  SELECT scope, h,
         row_number() OVER (PARTITION BY scope ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY scope) AS nd
  FROM scoped
),
kth AS (
  SELECT scope, any_value(nd) AS nd,
         max(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY scope
)
SELECT scope, CAST(nd AS BIGINT) AS n_exact,
       round(CASE WHEN nd < {_KMV_K} THEN nd * 1.0
                  ELSE ({_KMV_K} - 1) * {float(_KMV_DOMAIN)} / hk END, 2) AS kmv_est,
       round(abs(CASE WHEN nd < {_KMV_K} THEN nd * 1.0
                      ELSE ({_KMV_K} - 1) * {float(_KMV_DOMAIN)} / hk END - nd)
             / nd, 4) AS rel_err
FROM kth
ORDER BY scope
"""


@register("agg_kmv_distinct_union", KMV_ORACLE)
def agg_kmv_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per source with exact-arithmetic union, audited against true distinct term counts."""
    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    tok = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    ).distinct()
    h = tok.select("source", _sha48(F.col("term")).alias("h")).distinct()
    scoped = h.select(F.col("source").alias("scope"), "h").unionAll(
        h.select("h").distinct().select(F.lit("ALL").alias("scope"), "h")
    )
    wr = Window.partitionBy("scope").orderBy("h")
    wn = Window.partitionBy("scope")
    ranked = scoped.select(
        "scope",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("nd"),
    )
    kth = (
        ranked.filter(F.col("rn") <= _KMV_K)
        .groupBy("scope")
        .agg(
            F.any_value("nd").alias("nd"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
        )
    )
    est = F.when(F.col("nd") < _KMV_K, F.col("nd") * 1.0).otherwise(
        F.lit(float((_KMV_K - 1) * _KMV_DOMAIN)) / F.col("hk")
    )
    return kth.select(
        "scope",
        F.col("nd").cast("long").alias("n_exact"),
        F.round(est, 2).alias("kmv_est"),
        F.round(F.abs(est - F.col("nd")) / F.col("nd"), 4).alias("rel_err"),
    ).orderBy("scope")


# ---------------------------------------------------------------------------
# stat_poisson_bootstrap_ci — distributed bootstrap CI for the mean
# order value per priority, via the POISSON bootstrap (Chamandy et al.
# 2012 — the resampling scheme that works on unbounded partitioned
# data): classic bootstrap needs n draws from n rows (impossible
# distributed), but each row's multiplicity in a resample is
# asymptotically Poisson(1), so every row independently draws its own
# weight per replicate from a Knuth hash of (row_key + b*MIX) — the
# replicate index folds into the key BEFORE the multiplicative mix
# (a post-multiply additive seed would barely move the uniform) — no
# global coordination, fully deterministic, engine-portable. Replicate means
# are exact integer ratios (sum(w*cents)/sum(w)); the CI is the
# rank-2 / rank-18 of the 20 ordered replicate means (decile CI, b as
# tiebreak) — order statistics, not moments, so no float-summation
# drift. Scale: a 20x flatMap expansion collapsed immediately by
# map-side combine into (priority, replicate) partials — the expansion
# never materializes in the shuffle; one tiny rank window after.
# ---------------------------------------------------------------------------

from insurance_helper_spark.functions.hashing import (  # noqa: E402
    HASH_MIX as _HMIX,
    KEY_REDUCE,
    KNUTH_MOD,
    KNUTH_MUL,
)

_BOOT_B = 20
# Cumulative Poisson(1) CDF thresholds for inverse-CDF weight draws.
_POIS_CDF = [
    0.3678794411714423, 0.7357588823428846, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
]

_pois_sql_ladder = "CASE " + " ".join(
    f"WHEN u < {c} THEN {w}" for w, c in enumerate(_POIS_CDF)
) + " ELSE 6 END"

BOOT_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ((o_orderkey % {KEY_REDUCE}) + {KEY_REDUCE}) % {KEY_REDUCE} AS rk
  FROM orders
),
drawn AS (
  SELECT priority, cents, b.b,
         ((rk + b.b * {_HMIX}) % {KEY_REDUCE}) * {KNUTH_MUL} % {KNUTH_MOD} * 1.0 / {KNUTH_MOD} AS u
  FROM base CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
),
weighted AS (SELECT priority, cents, b, {_pois_sql_ladder} AS w FROM drawn),
reps AS (
  SELECT priority, b,
         CAST(sum(w * cents) AS DOUBLE) / sum(w) AS mean_b
  FROM weighted GROUP BY priority, b
),
ranked AS (
  SELECT priority, mean_b,
         row_number() OVER (PARTITION BY priority ORDER BY mean_b, b) AS rn
  FROM reps
),
point AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS tot_cents
  FROM base GROUP BY priority
)
SELECT p.priority, p.n_orders,
       round(CAST(p.tot_cents AS DOUBLE) / p.n_orders / 100, 2) AS mean_price,
       round(max(CASE WHEN r.rn = 2 THEN r.mean_b END) / 100, 2) AS boot_lo,
       round(max(CASE WHEN r.rn = {_BOOT_B - 2} THEN r.mean_b END) / 100, 2) AS boot_hi
FROM point p JOIN ranked r ON p.priority = r.priority
GROUP BY p.priority, p.n_orders, p.tot_cents
ORDER BY p.priority
"""


@register("stat_poisson_bootstrap_ci", BOOT_ORACLE)
def stat_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value per priority — the resample-free bootstrap that scales to one pass."""
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderkey", "o_totalprice"]
    )
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (((F.col("o_orderkey") % KEY_REDUCE) + KEY_REDUCE) % KEY_REDUCE).alias("rk"),
    )
    reps_b = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    u = (
        ((F.col("rk") + F.col("b") * _HMIX) % KEY_REDUCE) * KNUTH_MUL % KNUTH_MOD
    ) * 1.0 / KNUTH_MOD
    w = F.lit(6)
    for wv in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS_CDF[wv], wv).otherwise(w)
    reps = (
        base.crossJoin(F.broadcast(reps_b))
        .withColumn("u", u)
        .withColumn("w", w)
        .groupBy("priority", "b")
        .agg(
            (F.sum(F.col("w") * F.col("cents")).cast("double") / F.sum("w"))
            .alias("mean_b")
        )
    )
    wr = Window.partitionBy("priority").orderBy("mean_b", "b")
    ranked = reps.withColumn("rn", F.row_number().over(wr))
    point = base.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("tot_cents"),
    )
    return (
        point.join(ranked, "priority")
        .groupBy("priority", "n_orders", "tot_cents")
        .agg(
            F.round(
                F.max(F.when(F.col("rn") == 2, F.col("mean_b"))) / 100, 2
            ).alias("boot_lo"),
            F.round(
                F.max(F.when(F.col("rn") == _BOOT_B - 2, F.col("mean_b"))) / 100, 2
            ).alias("boot_hi"),
        )
        .select(
            "priority",
            "n_orders",
            F.round(F.col("tot_cents").cast("double") / F.col("n_orders") / 100, 2)
            .alias("mean_price"),
            "boot_lo",
            "boot_hi",
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# stat_mann_kendall_trend — the Mann–Kendall non-parametric trend test
# per event type: S = sum of sign(c_j - c_i) over all ordered day
# pairs, tie-corrected variance Var(S) = [n(n-1)(2n+5) - SUM_t
# t(t-1)(2t+5)] / 18, continuity-corrected z. The hypothesis-test
# companion to stat_theil_sen_slope (same pair relation — Theil–Sen
# answers "how steep", Mann–Kendall answers "is it real"). S and both
# variance terms are exact BIGINTs; the only floats are the /18, the
# sqrt, and the rounded z. Scale: identical to Theil–Sen — pairs are
# quadratic in CALENDAR DAYS over the pre-aggregated T-row series, not
# in event rows; the tie census is one extra groupBy on the tiny
# series.
# ---------------------------------------------------------------------------

MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, day
),
s_stat AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
                       WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY a.event_type
),
ties AS (
  SELECT event_type,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_sum
  FROM (SELECT event_type, cnt, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, cnt)
  WHERE t > 1
  GROUP BY event_type
),
n_days AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY event_type
)
SELECT n.event_type, n.n AS n_days, s.s AS s_stat,
       round((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_sum, 0)) / 18.0, 4)
           AS var_s,
       round(CASE WHEN s.s > 0 THEN (s.s - 1)
                  WHEN s.s < 0 THEN (s.s + 1) ELSE 0 END
             / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_sum, 0))
                    / 18.0), 4) AS mk_z,
       CASE WHEN s.s > 0 THEN 'increasing'
            WHEN s.s < 0 THEN 'decreasing' ELSE 'none' END AS direction
FROM n_days n
JOIN s_stat s ON n.event_type = s.event_type
LEFT JOIN ties t ON n.event_type = t.event_type
ORDER BY n.event_type
"""


@register("stat_mann_kendall_trend", MANN_KENDALL_ORACLE)
def stat_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["ts", "event_type"])
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    a = daily.select("event_type", F.col("day").alias("d1"), F.col("cnt").alias("c1"))
    b = daily.select("event_type", F.col("day").alias("d2"), F.col("cnt").alias("c2"))
    s_stat = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("c1"), 1)
                .when(F.col("c2") < F.col("c1"), -1)
                .otherwise(0)
            ).cast("long").alias("s")
        )
    )
    ties = (
        daily.groupBy("event_type", "cnt")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).cast("long").alias("tie_sum")
        )
    )
    n_days = daily.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    joined = (
        n_days.join(s_stat, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("tie_sum", F.coalesce(F.col("tie_sum"), F.lit(0)))
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_sum")
    ) / 18.0
    num = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(F.lit(0))
    )
    return joined.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round(num / F.sqrt(var_s), 4).alias("mk_z"),
        F.when(F.col("s") > 0, "increasing")
        .when(F.col("s") < 0, "decreasing")
        .otherwise("none")
        .alias("direction"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stat_ks_two_sample — exact two-sample Kolmogorov–Smirnov test:
# D = max_x |F_hi(x) - F_lo(x)| between urgent-priority and normal-
# priority order-value distributions, computed on the MERGED sorted
# sample with cross-multiplied integer ECDFs — |c_hi·n_lo − c_lo·n_hi|
# is an exact BIGINT at every step, so the maximizing point (and the
# reported D as one final division) is bit-identical across engines;
# the asymptotic p-value uses the standard 2·exp(−2λ²) one-term bound.
# The distribution-shift gate that catches what mean-based tests
# (Welch) miss — shape changes with equal means. Scale: the sample
# first collapses to (value, arm-counts) via map-side combine — the
# ordered scan then walks DISTINCT VALUES, not rows; at 100 TB the
# remaining global prefix-sum becomes the standard two-phase scan
# (range-partitioned partials + broadcast offsets), and per-segment
# variants partition the window by segment so nothing is global.
# ---------------------------------------------------------------------------

KS_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS hi,
         o_orderkey
  FROM orders
),
tot AS (
  SELECT CAST(sum(hi) AS BIGINT) AS n_hi,
         CAST(sum(1 - hi) AS BIGINT) AS n_lo
  FROM arms
),
by_val AS (
  SELECT cents, CAST(sum(hi) AS BIGINT) AS h, CAST(sum(1 - hi) AS BIGINT) AS l
  FROM arms GROUP BY cents
),
walked AS (
  SELECT cents,
         sum(h) OVER w AS c_hi,
         sum(l) OVER w AS c_lo
  FROM by_val
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
gap AS (
  SELECT max(abs(c_hi * t.n_lo - c_lo * t.n_hi)) AS num,
         any_value(t.n_hi) AS n_hi, any_value(t.n_lo) AS n_lo
  FROM walked CROSS JOIN tot t
)
SELECT n_hi, n_lo,
       round(CAST(num AS DOUBLE) / (n_hi * n_lo), 6) AS ks_d,
       round(2 * exp(-2 * pow(CAST(num AS DOUBLE) / (n_hi * n_lo), 2)
                     * (CAST(n_hi AS DOUBLE) * n_lo / (n_hi + n_lo))), 6)
           AS p_approx
FROM gap
"""


@register("stat_ks_two_sample", KS_ORACLE)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("hi"),
    )
    tot = arms.agg(
        F.sum("hi").cast("long").alias("n_hi"),
        F.sum(1 - F.col("hi")).cast("long").alias("n_lo"),
    )
    by_val = arms.groupBy("cents").agg(
        F.sum("hi").cast("long").alias("h"),
        F.sum(1 - F.col("hi")).cast("long").alias("l"),
    )
    w = (
        Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = by_val.select(
        F.sum("h").over(w).alias("c_hi"),
        F.sum("l").over(w).alias("c_lo"),
    )
    gap = walked.join(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("c_hi") * F.col("n_lo") - F.col("c_lo") * F.col("n_hi"))
        ).alias("num"),
        F.any_value("n_hi").alias("n_hi"),
        F.any_value("n_lo").alias("n_lo"),
    )
    d = F.col("num").cast("double") / (F.col("n_hi") * F.col("n_lo"))
    lam2 = (
        F.pow(d, 2)
        * (F.col("n_hi").cast("double") * F.col("n_lo") / (F.col("n_hi") + F.col("n_lo")))
    )
    return gap.select(
        "n_hi",
        "n_lo",
        F.round(d, 6).alias("ks_d"),
        F.round(2 * F.exp(-2 * lam2), 6).alias("p_approx"),
    )


# ---------------------------------------------------------------------------
# orders_reorder_gap_percentiles — reorder cadence per market segment:
# the day gaps between each customer's consecutive orders, summarized
# as exact lower-median / p90 (integer rank selection, (k*n + 9) div
# 10 — never float rank arithmetic) plus an exact-ratio mean. The
# purchase-frequency signal behind replenishment forecasts and churn
# windows (a customer 3x past their segment's p90 gap is churning).
# Scale: the customer join and the per-customer lag window shuffle on
# the SAME custkey — one co-partitioned rendezvous (exchange reuse),
# with (o_orderdate, o_orderkey) ordering so same-day orders are
# deterministic; the percentile windows then partition by segment over
# the already-reduced gap relation.
# ---------------------------------------------------------------------------

REORDER_GAP_ORACLE = """
WITH gaps AS (
  SELECT c.c_mktsegment AS segment,
         datediff('day',
                  lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                           ORDER BY o.o_orderdate, o.o_orderkey),
                  o.o_orderdate) AS gap_days
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (SELECT segment, CAST(gap_days AS BIGINT) AS gap_days FROM gaps
      WHERE gap_days IS NOT NULL),
ranked AS (
  SELECT segment, gap_days,
         row_number() OVER (PARTITION BY segment ORDER BY gap_days) AS rn,
         count(*) OVER (PARTITION BY segment) AS n,
         sum(gap_days) OVER (PARTITION BY segment) AS s
  FROM g
)
SELECT segment, CAST(n AS BIGINT) AS n_gaps,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_days END) AS BIGINT)
           AS median_gap_days,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_days END) AS BIGINT)
           AS p90_gap_days,
       round(CAST(any_value(s) AS DOUBLE) / n, 2) AS mean_gap_days
FROM ranked
GROUP BY segment, n
ORDER BY segment
"""


@register("orders_reorder_gap_percentiles", REORDER_GAP_ORACLE)
def orders_reorder_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_orderkey"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(wc)
            ).cast("long").alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    wr = Window.partitionBy("segment").orderBy("gap_days")
    ws = Window.partitionBy("segment")
    ranked = gaps.select(
        "segment",
        "gap_days",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(ws).alias("n"),
        F.sum("gap_days").over(ws).alias("s"),
    )
    return (
        ranked.groupBy("segment", "n")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("gap_days"))
            ).cast("long").alias("median_gap_days"),
            F.max(
                F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("gap_days"))
            ).cast("long").alias("p90_gap_days"),
            F.round(F.any_value("s").cast("double") / F.col("n"), 2)
            .alias("mean_gap_days"),
        )
        .select(
            "segment",
            F.col("n").cast("long").alias("n_gaps"),
            "median_gap_days",
            "p90_gap_days",
            "mean_gap_days",
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# stat_hill_tail_index — Hill estimator of the power-law tail index of
# user activity: alpha = 1 / mean(ln(x_i) - ln(x_k)) over the top-k
# user event counts (k = 100). The heavy-tail diagnostic behind skew
# planning — alpha near 1 means a handful of users dominate the
# event volume (salt those keys), large alpha means the tail is tame.
# Deterministic: counts are integers, the top-k cut uses (count desc,
# user_id) so the order statistics are unique, and ln-ratio sums over
# 99 terms round at 4. Scale: the per-user rollup is one map-side-
# combined shuffle; the top-k cut is a TakeOrdered (per-partition
# top-k then merge — never a global sort), and the estimator folds
# over k rows.
# ---------------------------------------------------------------------------

_HILL_K = 100

HILL_ORACLE = f"""
WITH activity AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
topk AS (
  SELECT cnt, rn FROM (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, user_id) AS rn
    FROM activity)
  WHERE rn <= {_HILL_K}
),
keff AS (SELECT CAST(max(rn) AS BIGINT) AS k FROM topk),
xk AS (SELECT t.cnt AS x_k, e.k FROM topk t JOIN keff e ON t.rn = e.k)
SELECT x.k,
       CAST(any_value(x.x_k) AS BIGINT) AS x_k,
       round(avg(ln(t.cnt * 1.0 / x.x_k)) FILTER (t.rn < x.k), 6)
           AS mean_log_excess,
       round(1.0 / avg(ln(t.cnt * 1.0 / x.x_k)) FILTER (t.rn < x.k), 4)
           AS hill_alpha
FROM topk t CROSS JOIN xk x
GROUP BY x.k
"""


@register("stat_hill_tail_index", HILL_ORACLE)
def stat_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["user_id"])
    activity = events.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k, then merge) — never a global sort; the row_number window
    # then runs over <= k rows. k_eff = min(k, n_users) so the
    # estimator stays defined on tiny fixtures.
    topk = (
        activity.orderBy(F.desc("cnt"), "user_id")
        .limit(_HILL_K)
        .select("cnt", F.row_number().over(Window.orderBy(F.desc("cnt"), "user_id")).alias("rn"))
    )
    keff = topk.agg(F.max("rn").cast("long").alias("k"))
    xk = topk.join(F.broadcast(keff), F.col("rn") == F.col("k")).select(
        F.col("cnt").alias("x_k"), "k"
    )
    log_excess = F.log(F.col("cnt") * 1.0 / F.col("x_k"))
    return (
        topk.join(F.broadcast(xk))
        .groupBy("k")
        .agg(
            F.any_value("x_k").cast("long").alias("x_k"),
            F.round(
                F.avg(F.when(F.col("rn") < F.col("k"), log_excess)), 6
            ).alias("mean_log_excess"),
            F.round(
                1.0 / F.avg(F.when(F.col("rn") < F.col("k"), log_excess)), 4
            ).alias("hill_alpha"),
        )
    )


# ---------------------------------------------------------------------------
# events_markov_entropy_rate — the entropy rate of the first-order
# Markov chain over user event-type transitions: H = -SUM_ij (n_ij/N)
# ln(n_ij / n_i.), with the empirical transition counts as the chain —
# one number summarizing how PREDICTABLE user behavior is (0 =
# deterministic next action, ln(k) = uniform). Complements
# events_markov_transitions (which reports the matrix) with the
# information-theoretic rollup, plus the efficiency ratio vs the
# ln(n_states) ceiling. Scale: the transition relation is the same
# lead()-window shuffle every sequence query pays; everything after
# runs on the k^2 transition-count cells.
# ---------------------------------------------------------------------------

MARKOV_ENTROPY_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS a, next_type AS b, CAST(count(*) AS BIGINT) AS n_ab
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY a, b
),
row_m AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM trans GROUP BY a),
tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM trans),
states AS (SELECT CAST(count(*) AS BIGINT) AS k FROM row_m)
SELECT t.n AS n_transitions, s.k AS n_states,
       round(-sum(tr.n_ab * 1.0 / t.n * ln(tr.n_ab * 1.0 / r.n_a)), 4)
           AS entropy_rate_nats,
       round(ln(s.k), 4) AS max_entropy_nats,
       round(1 + sum(tr.n_ab * 1.0 / t.n * ln(tr.n_ab * 1.0 / r.n_a)) / ln(s.k), 4)
           AS predictability
FROM trans tr
JOIN row_m r ON tr.a = r.a
CROSS JOIN tot t CROSS JOIN states s
GROUP BY t.n, s.k
"""


@register("events_markov_entropy_rate", MARKOV_ENTROPY_ORACLE)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", columns=["user_id", "event_type", "ts", "event_id"]
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(wu).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    trans = trans.localCheckpoint(eager=True)  # k^2 cells feed 3 folds
    row_m = trans.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    tot = trans.agg(F.sum("n_ab").cast("long").alias("n"))
    states = row_m.agg(F.count("*").cast("long").alias("k"))
    h_term = F.col("n_ab") * 1.0 / F.col("n") * F.log(
        F.col("n_ab") * 1.0 / F.col("n_a")
    )
    return (
        trans.join(F.broadcast(row_m), "a")
        .join(F.broadcast(tot))
        .join(F.broadcast(states))
        .groupBy("n", "k")
        .agg(
            F.round(-F.sum(h_term), 4).alias("entropy_rate_nats"),
            F.round(F.log(F.col("k")), 4).alias("max_entropy_nats"),
            F.round(1 + F.sum(h_term) / F.log(F.col("k")), 4).alias("predictability"),
        )
        .select(
            F.col("n").alias("n_transitions"),
            F.col("k").alias("n_states"),
            "entropy_rate_nats",
            "max_entropy_nats",
            "predictability",
        )
    )


# ---------------------------------------------------------------------------
# stat_fdr_bh_correction — Benjamini–Hochberg false-discovery control
# over the per-event-type Mann–Kendall trend family: two-sided p from
# the logistic normal-CDF approximation (identical closed form both
# engines, rounded BEFORE ranking so the order is engine-exact), then
# the step-up rule at alpha=0.10 — reject every rank up to the largest
# i with p_(i) <= i*alpha/m. The multiple-testing discipline any
# fleet of per-segment monitors needs: 8 trend tests at alpha=0.10
# WILL false-alarm without correction. COMPOSITION: the Spark side
# literally calls the registered Mann–Kendall query and post-
# processes; the oracle embeds the MK oracle as a CTE — one definition
# of the base statistic, two consumers. Scale: everything after the MK
# rollup runs on m rows (one per tested family member).
# ---------------------------------------------------------------------------

_BH_ALPHA = 0.10

FDR_BH_ORACLE = f"""
WITH mk AS ({MANN_KENDALL_ORACLE}),
scored AS (
  SELECT event_type, mk_z,
         round(2.0 / (1 + exp(1.702 * abs(mk_z))), 6) AS p_approx
  FROM mk
),
ranked AS (
  SELECT event_type, mk_z, p_approx,
         row_number() OVER (ORDER BY p_approx, event_type) AS rnk,
         count(*) OVER () AS m
  FROM scored
),
kmax AS (
  SELECT coalesce(max(rnk) FILTER (p_approx <= rnk * {_BH_ALPHA} / m), 0) AS k
  FROM ranked
)
SELECT event_type, mk_z, p_approx, CAST(rnk AS INT) AS rank,
       round(rnk * {_BH_ALPHA} / m, 6) AS bh_critical,
       rnk <= k.k AS rejected
FROM ranked CROSS JOIN kmax k
ORDER BY rank
"""


@register("stat_fdr_bh_correction", FDR_BH_ORACLE)
def stat_fdr_bh_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    mk = stat_mann_kendall_trend(spark, sf_dir)
    scored = mk.select(
        "event_type",
        "mk_z",
        F.round(2.0 / (1 + F.exp(1.702 * F.abs(F.col("mk_z")))), 6).alias("p_approx"),
    )
    wr = Window.orderBy("p_approx", "event_type")
    ranked = scored.select(
        "event_type",
        "mk_z",
        "p_approx",
        F.row_number().over(wr).alias("rnk"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_approx") <= F.col("rnk") * _BH_ALPHA / F.col("m"),
                    F.col("rnk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.join(F.broadcast(kmax))
        .select(
            "event_type",
            "mk_z",
            "p_approx",
            F.col("rnk").cast("int").alias("rank"),
            F.round(F.col("rnk") * _BH_ALPHA / F.col("m"), 6).alias("bh_critical"),
            (F.col("rnk") <= F.col("k")).alias("rejected"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# stat_poisson_gof_order_lines — distribution fitting + goodness of
# fit: does "lines per order" follow a Poisson? MLE lambda = mean
# count (exact integer ratio), expected bin mass n·e^-λ·λ^k/k! via
# factorial (both engines exact for k ≤ 20), Pearson chi-square over
# the observed k-histogram with a pooled right tail (k ≥ 8) so no
# expected cell goes degenerate. The modeling-assumption audit behind
# any queueing/capacity model of order flow. Scale: one count-per-
# order aggregation (map-side combine on the orderkey the data is
# already clustered by), then a k-histogram fold — the chi-square
# arithmetic runs on ≤ 9 cells.
# ---------------------------------------------------------------------------

_POIS_TAIL_K = 8

POISSON_GOF_ORACLE = f"""
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k FROM lineitem
  GROUP BY l_orderkey
),
hist AS (
  SELECT least(k, {_POIS_TAIL_K}) AS kbin, CAST(count(*) AS BIGINT) AS obs
  FROM per_order GROUP BY kbin
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(k) * 1.0 / count(*) AS lam
  FROM per_order
),
expected AS (
  SELECT h.kbin, h.obs, f.n, f.lam,
         CASE WHEN h.kbin < {_POIS_TAIL_K}
              THEN f.n * exp(-f.lam) * pow(f.lam, h.kbin) / factorial(CAST(h.kbin AS INT))
              ELSE f.n * (1 - (
                SELECT sum(exp(-f2.lam) * pow(f2.lam, j.j) / factorial(CAST(j.j AS INT)))
                FROM (SELECT unnest(range(0, {_POIS_TAIL_K})) AS j) j
                CROSS JOIN fit f2))
         END AS exp_n
  FROM hist h CROSS JOIN fit f
)
SELECT CAST(any_value(n) AS BIGINT) AS n_orders,
       round(any_value(lam), 4) AS lambda_hat,
       CAST(count(*) AS BIGINT) AS n_bins,
       round(sum(pow(obs - exp_n, 2) / exp_n), 4) AS chi2
FROM expected
"""


@register("stat_poisson_gof_order_lines", POISSON_GOF_ORACLE)
def stat_poisson_gof_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    per_order = li.groupBy("l_orderkey").agg(F.count("*").cast("long").alias("k"))
    hist = per_order.groupBy(
        F.least(F.col("k"), F.lit(_POIS_TAIL_K)).alias("kbin")
    ).agg(F.count("*").cast("long").alias("obs"))
    fit = per_order.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("k") * 1.0 / F.count("*")).alias("lam"),
    )
    # Head-bin Poisson mass; the pooled tail gets the complement.
    head_mass = None
    for j in range(_POIS_TAIL_K):
        term = F.exp(-F.col("lam")) * F.pow(F.col("lam"), j) / float(
            __import__("math").factorial(j)
        )
        head_mass = term if head_mass is None else head_mass + term
    pmf = (
        F.exp(-F.col("lam"))
        * F.pow(F.col("lam"), F.col("kbin"))
        / F.factorial(F.col("kbin").cast("int"))
    )
    expected = hist.join(F.broadcast(fit)).withColumn(
        "exp_n",
        F.when(F.col("kbin") < _POIS_TAIL_K, F.col("n") * pmf).otherwise(
            F.col("n") * (1 - head_mass)
        ),
    )
    return expected.agg(
        F.any_value("n").cast("long").alias("n_orders"),
        F.round(F.any_value("lam"), 4).alias("lambda_hat"),
        F.count("*").cast("long").alias("n_bins"),
        F.round(
            F.sum(F.pow(F.col("obs") - F.col("exp_n"), 2) / F.col("exp_n")), 4
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# stat_capture_recapture_customers — Lincoln–Petersen / Chapman
# mark-recapture estimation applied to customer populations: treating
# each year's active customers as a capture sample, the overlap
# estimates the total addressable population N ≈ (n1+1)(n2+1)/(m+1)-1
# (Chapman's bias-corrected form) — the dedup-adjacent estimator for
# "how many distinct entities exist beyond what either snapshot saw"
# (same math that sizes hidden populations and double-collected
# corpora). All counts are exact distinct-key aggregations; the
# estimator is one integer expression with a final rounded division.
# Scale: two year-filtered distinct sets + one inner join on custkey
# for the overlap — three map-side-combined aggregations, no windows.
# ---------------------------------------------------------------------------

CAPTURE_RECAPTURE_ORACLE = """
WITH yrs AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr FROM orders
  GROUP BY o_custkey, yr
),
bounds AS (
  SELECT min(yr) AS y1, max(yr) AS y2 FROM yrs
),
s1 AS (SELECT DISTINCT o_custkey FROM yrs, bounds WHERE yr = y1),
s2 AS (SELECT DISTINCT o_custkey FROM yrs, bounds WHERE yr = y2),
m AS (
  SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n1,
         CAST((SELECT count(*) FROM s2) AS BIGINT) AS n2,
         CAST((SELECT count(*) FROM s1 JOIN s2 USING (o_custkey)) AS BIGINT)
             AS n_both
)
SELECT (SELECT y1 FROM bounds) AS year_1,
       (SELECT y2 FROM bounds) AS year_2,
       n1, n2, n_both,
       round((n1 + 1.0) * (n2 + 1.0) / (n_both + 1.0) - 1, 2) AS chapman_estimate
FROM m
"""


@register("stat_capture_recapture_customers", CAPTURE_RECAPTURE_ORACLE)
def stat_capture_recapture_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    yrs = orders.select(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).distinct()
    bounds = yrs.agg(F.min("yr").alias("y1"), F.max("yr").alias("y2"))
    tagged = yrs.join(F.broadcast(bounds))
    s1 = tagged.filter(F.col("yr") == F.col("y1")).select("o_custkey")
    s2 = tagged.filter(F.col("yr") == F.col("y2")).select("o_custkey")
    n1 = s1.agg(F.count("*").cast("long").alias("n1"))
    n2 = s2.agg(F.count("*").cast("long").alias("n2"))
    nb = s1.join(s2, "o_custkey").agg(F.count("*").cast("long").alias("n_both"))
    est = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("n_both") + 1.0) - 1
    return (
        F.broadcast(bounds)
        .crossJoin(n1)
        .crossJoin(n2)
        .crossJoin(nb)
        .select(
            F.col("y1").alias("year_1"),
            F.col("y2").alias("year_2"),
            "n1",
            "n2",
            "n_both",
            F.round(est, 2).alias("chapman_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# stat_paired_treatment_effect — within-part discount effect: for
# every part sold BOTH with and without a discount, compare mean
# quantity per arm and average the per-part differences — pairing on
# part removes part-level heterogeneity (the cheap observational
# stand-in for a matched experiment; the naive pooled difference would
# confound part mix with discount policy). Per-part means are exact
# integer ratios (BIGINT qty sums / counts); the cross-part average
# folds those exact quotients and rounds at 4. Scale: ONE
# (part, arm)-conditional aggregation — both arms ride the same
# groupBy(part) with FILTER-style conditional sums, so pairing costs
# one map-side-combined shuffle, no join, no window.
# ---------------------------------------------------------------------------

PAIRED_EFFECT_ORACLE = """
WITH arms AS (
  SELECT l_partkey AS part,
         CAST(coalesce(sum(CAST(round(l_quantity) AS BIGINT))
                       FILTER (l_discount > 0), 0) AS BIGINT) AS q_disc,
         CAST(count(*) FILTER (l_discount > 0) AS BIGINT) AS n_disc,
         CAST(coalesce(sum(CAST(round(l_quantity) AS BIGINT))
                       FILTER (l_discount = 0), 0) AS BIGINT) AS q_full,
         CAST(count(*) FILTER (l_discount = 0) AS BIGINT) AS n_full
  FROM lineitem GROUP BY part
),
paired AS (
  SELECT part,
         q_disc * 1.0 / n_disc AS m_disc,
         q_full * 1.0 / n_full AS m_full
  FROM arms WHERE n_disc > 0 AND n_full > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_paired_parts,
       round(avg(m_disc), 4) AS mean_qty_discounted,
       round(avg(m_full), 4) AS mean_qty_full_price,
       round(avg(m_disc - m_full), 4) AS avg_paired_effect
FROM paired
"""


@register("stat_paired_treatment_effect", PAIRED_EFFECT_ORACLE)
def stat_paired_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_partkey", "l_discount", "l_quantity"]
    )
    disc = F.col("l_discount") > 0
    qty = F.round("l_quantity").cast("long")
    arms = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.coalesce(F.sum(F.when(disc, qty)), F.lit(0)).cast("long").alias("q_disc"),
        F.sum(disc.cast("long")).cast("long").alias("n_disc"),
        F.coalesce(F.sum(F.when(~disc, qty)), F.lit(0)).cast("long").alias("q_full"),
        F.sum((~disc).cast("long")).cast("long").alias("n_full"),
    )
    paired = arms.filter((F.col("n_disc") > 0) & (F.col("n_full") > 0)).select(
        (F.col("q_disc") * 1.0 / F.col("n_disc")).alias("m_disc"),
        (F.col("q_full") * 1.0 / F.col("n_full")).alias("m_full"),
    )
    return paired.agg(
        F.count("*").cast("long").alias("n_paired_parts"),
        F.round(F.avg("m_disc"), 4).alias("mean_qty_discounted"),
        F.round(F.avg("m_full"), 4).alias("mean_qty_full_price"),
        F.round(F.avg(F.col("m_disc") - F.col("m_full")), 4).alias("avg_paired_effect"),
    )


# ---------------------------------------------------------------------------
# ml_psi_drift_detection — Population Stability Index between the
# first and second halves of the event timeline (train vs serve): the
# reference half defines 10 equal-mass bins (exact integer rank cuts
# on cents), both halves are histogrammed against those edges, and
# PSI = SUM (p_i - q_i) * ln(p_i / q_i) with the standard "PSI > 0.2
# = investigate" reading — the drift monitor every deployed model
# wires to its features. Exactness: the time split is the median
# event_id (integer), bin edges are exact order statistics, bin
# assignment is a broadcast RANGE join on integer cents, and the bin
# masses are exact integer ratios; only the final ln/products float.
# Scale: one sort window over the reference half's DISTINCT cents
# (value-collapsed, KS-style), broadcast edges, one (half, bin)
# groupBy — no global sort of raw data.
# ---------------------------------------------------------------------------

PSI_ORACLE = """
WITH base AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
split AS (SELECT CAST(floor(median(event_id)) AS BIGINT) AS cut FROM base),
halves AS (
  SELECT cents, CASE WHEN event_id <= s.cut THEN 'ref' ELSE 'cur' END AS half
  FROM base CROSS JOIN split s
),
refv AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS c FROM halves
  WHERE half = 'ref' GROUP BY cents
),
walked AS (
  SELECT cents,
         sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(c) OVER () AS tot
  FROM refv
),
edges AS (
  SELECT CAST(least(10 * (cum - 1) // tot, 9) + 1 AS INT) AS bin,
         max(cents) AS hi
  FROM walked GROUP BY bin
),
bounded AS (
  SELECT bin,
         coalesce(lag(hi) OVER (ORDER BY bin), -9223372036854775807) AS lo,
         CASE WHEN bin = (SELECT max(bin) FROM edges)
              THEN 9223372036854775807 ELSE hi END AS hi
  FROM edges
),
binned AS (
  SELECT h.half, b.bin, CAST(count(*) AS BIGINT) AS n
  FROM halves h JOIN bounded b ON h.cents > b.lo AND h.cents <= b.hi
  GROUP BY h.half, b.bin
),
masses AS (
  SELECT bin,
         coalesce(sum(n) FILTER (half = 'ref'), 0) * 1.0
             / (SELECT sum(n) FROM binned WHERE half = 'ref') AS p,
         coalesce(sum(n) FILTER (half = 'cur'), 0) * 1.0
             / (SELECT sum(n) FROM binned WHERE half = 'cur') AS q
  FROM binned GROUP BY bin
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(max(abs(p - q)), 6) AS max_bin_shift,
       sum((p - q) * ln(p / q)) > 0.2 AS drift_alert
FROM masses
"""


@register("ml_psi_drift_detection", PSI_ORACLE)
def ml_psi_drift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "events", columns=["event_id", "value"]).select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    split = base.agg(F.expr("CAST(floor(median(event_id)) AS BIGINT)").alias("cut"))
    halves = base.join(F.broadcast(split)).select(
        "cents",
        F.when(F.col("event_id") <= F.col("cut"), "ref").otherwise("cur").alias("half"),
    )
    halves = halves.localCheckpoint(eager=True)  # ref histogram + bin assignment
    refv = (
        halves.filter(F.col("half") == "ref")
        .groupBy("cents")
        .agg(F.count("*").alias("c"))
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_tot = Window.partitionBy()
    walked = refv.select(
        "cents",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("tot"),
    )
    edges = walked.groupBy(
        (F.least(F.expr("10 * (cum - 1) div tot"), F.lit(9)) + 1)
        .cast("int")
        .alias("bin")
    ).agg(F.max("cents").alias("hi"))
    max_bin = edges.agg(F.max("bin").alias("mb"))
    w_edge = Window.orderBy("bin")
    bounded = (
        edges.join(F.broadcast(max_bin))
        .select(
            "bin",
            F.coalesce(
                F.lag("hi").over(w_edge), F.lit(-(2**63 - 1))
            ).alias("lo"),
            F.when(F.col("bin") == F.col("mb"), F.lit(2**63 - 1))
            .otherwise(F.col("hi"))
            .alias("hi"),
        )
    )
    binned = (
        halves.join(
            F.broadcast(bounded),
            (F.col("cents") > F.col("lo")) & (F.col("cents") <= F.col("hi")),
        )
        .groupBy("half", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot_ref = binned.filter("half = 'ref'").agg(F.sum("n").alias("tr"))
    tot_cur = binned.filter("half = 'cur'").agg(F.sum("n").alias("tc"))
    masses = (
        binned.groupBy("bin")
        .agg(
            F.coalesce(F.sum(F.when(F.col("half") == "ref", F.col("n"))), F.lit(0)).alias("nr"),
            F.coalesce(F.sum(F.when(F.col("half") == "cur", F.col("n"))), F.lit(0)).alias("nc"),
        )
        .join(F.broadcast(tot_ref))
        .join(F.broadcast(tot_cur))
        .select(
            (F.col("nr") * 1.0 / F.col("tr")).alias("p"),
            (F.col("nc") * 1.0 / F.col("tc")).alias("q"),
        )
    )
    psi = F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
    return masses.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.round(psi, 6).alias("psi"),
        F.round(F.max(F.abs(F.col("p") - F.col("q"))), 6).alias("max_bin_shift"),
        (psi > 0.2).alias("drift_alert"),
    )


# ---------------------------------------------------------------------------
# stat_ols_two_regressors — multiple linear regression fit the way a
# distributed engine actually fits it: ONE aggregation pass collects
# the Gram matrix / moment sums (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2,
# Σx1y, Σx2y — all exact BIGINTs over integerized units), then the
# 3×3 normal equations are solved closed-form per group (Cramer), so
# adding a feature never adds a pass over the data. Fits
# extendedprice_cents ~ quantity + discount_pct per return flag — the
# "is pricing linear in volume and how much does discount distort it"
# probe. Engine parity: the moment sums are order-independent exact
# integers; the double-precision Cramer solve is the SAME expression
# text on both engines (generated once, pasted into both), so every
# IEEE operation sequence matches. Scale: one map-side-combined
# shuffle on the group key; the solve runs on 3 tiny rows. This is
# the same sufficient-statistics pattern MLlib's linear models use.
# ---------------------------------------------------------------------------

def _det3(r0: tuple[str, str, str], r1: tuple[str, str, str], r2: tuple[str, str, str]) -> str:
    (a, b, c), (d, e, f), (g, h, i) = r0, r1, r2
    return (
        f"{a} * ({e} * {i} - {f} * {h}) - {b} * ({d} * {i} - {f} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g})"
    )


_OLS_DET = _det3(("fn", "s1", "s2"), ("s1", "s11", "s12"), ("s2", "s12", "s22"))
_OLS_D0 = _det3(("sy", "s1", "s2"), ("s1y", "s11", "s12"), ("s2y", "s12", "s22"))
_OLS_D1 = _det3(("fn", "sy", "s2"), ("s1", "s1y", "s12"), ("s2", "s2y", "s22"))
_OLS_D2 = _det3(("fn", "s1", "sy"), ("s1", "s11", "s1y"), ("s2", "s12", "s2y"))

_OLS_SOLVE = (
    f"round(({_OLS_D0}) / ({_OLS_DET}), 6) AS b0_cents",
    f"round(({_OLS_D1}) / ({_OLS_DET}), 6) AS b1_cents_per_qty",
    f"round(({_OLS_D2}) / ({_OLS_DET}), 6) AS b2_cents_per_disc_pct",
)

OLS2_ORACLE = f"""
WITH obs AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
moments AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS fn,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM obs GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       {_OLS_SOLVE[0]},
       {_OLS_SOLVE[1]},
       {_OLS_SOLVE[2]}
FROM moments
WHERE ({_OLS_DET}) <> 0
ORDER BY l_returnflag
"""


@register("stat_ols_two_regressors", OLS2_ORACLE)
def stat_ols_two_regressors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS (quantity, discount → price) from exact BIGINT sufficient statistics via the closed-form normal equations."""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_discount", "l_extendedprice"],
    )
    obs = li.select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    moments = obs.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("fn"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.count("*").cast("long").alias("n_rows"),
    )
    return (
        moments.filter(F.expr(f"({_OLS_DET}) <> 0"))
        .select(
            "l_returnflag",
            "n_rows",
            F.expr(_OLS_SOLVE[0]),
            F.expr(_OLS_SOLVE[1]),
            F.expr(_OLS_SOLVE[2]),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# stat_cohens_kappa — chance-corrected agreement (Cohen's kappa)
# between two duplicate-detection policies on the corpus: the cheap
# "token-sort fingerprint" (word-order-insensitive exact match) vs
# the expensive "3-gram Jaccard ≥ 0.5" near-dup pairing. Raw percent
# agreement flatters any pair of raters that both say "not a dup"
# almost always; kappa subtracts the agreement expected from the
# marginal rates — the standard audit for whether the cheap policy
# can pre-screen for the expensive one. The 2×2 contingency is exact
# integers (fingerprint groupBy + the shared shingle-equi-join
# candidate generator — never all-pairs); po/pe/kappa are one double
# expression with identical text on both engines, NULL-guarded for
# the degenerate pe=1 margin. Scale: the Jaccard flag reuses
# operators/dedup.ngram_jaccard_pairs (hot-shingle-capped equi-join);
# the rest is two key shuffles.
# ---------------------------------------------------------------------------

_KAPPA_EXPR = (
    "CASE WHEN 1.0 - pe = 0.0 THEN NULL"
    " ELSE round((po - pe) / (1.0 - pe), 6) END AS kappa"
)
_PO_EXPR = "CAST(n_both_dup + n_neither AS DOUBLE) / n_docs AS po"
_PE_EXPR = (
    "(CAST(n_both_dup + n_jaccard_only AS DOUBLE) * (n_both_dup + n_tokensort_only)"
    " + CAST(n_tokensort_only + n_neither AS DOUBLE) * (n_jaccard_only + n_neither))"
    " / (CAST(n_docs AS DOUBLE) * n_docs) AS pe"
)

KAPPA_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm_text,
         {_TOKS} AS toks
  FROM documents
),
keys AS (
  SELECT doc_id, toks,
         array_to_string(list_sort(list_distinct(toks)), ' ') AS fp
  FROM norm WHERE norm_text <> ''
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM keys
),
exall AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
-- published pair-table contract: hot shingles (df > 50 =
-- shared_cache.PAIR_STATS_MAX_DOC_FREQ) are dropped before sizing
-- and joining; exall IS the full-corpus census (empty-text docs
-- contribute no shingles); no-op at fixture df <= 25
hot AS (SELECT shingle FROM exall GROUP BY shingle HAVING count(*) > 50),
ex AS (SELECT * FROM exall WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sh_size FROM ex GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sizes sa ON c.id_a = sa.doc_id
  JOIN sizes sb ON c.id_b = sb.doc_id
  WHERE c.common * 1.0 / (sa.sh_size + sb.sh_size - c.common) >= 0.5
),
jdocs AS (SELECT id_a AS doc_id FROM jpairs UNION SELECT id_b FROM jpairs),
flags AS (
  SELECT k.doc_id,
         CASE WHEN j.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup_a,
         CASE WHEN count(*) OVER (PARTITION BY fp) >= 2 THEN 1 ELSE 0 END AS dup_b
  FROM keys k LEFT JOIN jdocs j ON k.doc_id = j.doc_id
),
cont AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dup_a * dup_b) AS BIGINT) AS n_both_dup,
         CAST(sum(dup_a * (1 - dup_b)) AS BIGINT) AS n_jaccard_only,
         CAST(sum((1 - dup_a) * dup_b) AS BIGINT) AS n_tokensort_only,
         CAST(sum((1 - dup_a) * (1 - dup_b)) AS BIGINT) AS n_neither
  FROM flags
),
rates AS (SELECT *, {_PO_EXPR}, {_PE_EXPR} FROM cont)
SELECT n_docs, n_both_dup, n_jaccard_only, n_tokensort_only, n_neither,
       round(po, 6) AS po, round(pe, 6) AS pe,
       {_KAPPA_EXPR}
FROM rates
"""


@register("stat_cohens_kappa", KAPPA_ORACLE)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two dedup raters (n-gram Jaccard vs token-sort fingerprint) over the document corpus."""
    from insurance_helper_spark.functions import text as T
    from insurance_helper_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    norm = T.normalize_text(F.col("text"))
    keys = docs.select(
        "doc_id",
        "text",
        F.array_join(F.sort_array(F.array_distinct(T.tokens(F.col("text")))), " ").alias(
            "fp"
        ),
    ).filter(norm != "")
    # The staged pair table over the FULL corpus is identical to
    # shingling `keys`: a doc excluded by norm != "" normalizes to
    # zero tokens, so it contributes no 3-token shingles (hence no
    # pairs) either way.
    from insurance_helper_spark.queries.shared_cache import ngram_pair_stats

    jpairs = ngram_pair_stats(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    jdocs = (
        jpairs.select(F.col("id_a").alias("doc_id"))
        .union(jpairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("dup_a", F.lit(1))
    )
    flags = (
        keys.join(jdocs, "doc_id", "left")
        .select(
            F.coalesce("dup_a", F.lit(0)).alias("dup_a"),
            F.when(F.count("*").over(Window.partitionBy("fp")) >= 2, 1)
            .otherwise(0)
            .alias("dup_b"),
        )
    )
    cont = flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("dup_a") * F.col("dup_b")).cast("long").alias("n_both_dup"),
        F.sum(F.col("dup_a") * (1 - F.col("dup_b"))).cast("long").alias("n_jaccard_only"),
        F.sum((1 - F.col("dup_a")) * F.col("dup_b")).cast("long").alias("n_tokensort_only"),
        F.sum((1 - F.col("dup_a")) * (1 - F.col("dup_b"))).cast("long").alias("n_neither"),
    )
    rates = cont.select("*", F.expr(_PO_EXPR), F.expr(_PE_EXPR))
    return rates.select(
        "n_docs",
        "n_both_dup",
        "n_jaccard_only",
        "n_tokensort_only",
        "n_neither",
        F.round("po", 6).alias("po"),
        F.round("pe", 6).alias("pe"),
        F.expr(_KAPPA_EXPR),
    )


# ---------------------------------------------------------------------------
# ml_decision_stump_gini — train a depth-1 decision tree (the boosting
# base learner) the way tree engines train distributed: bin the
# feature into 32 equal-width buckets (one pass), aggregate class
# counts per bin (one shuffle of 32 rows), then evaluate EVERY
# candidate split from the bin prefix-sums and pick the Gini-optimal
# one — exactly XGBoost/LightGBM's histogram split-finding, where the
# data is touched once and the split search runs on the tiny
# histogram. Predicts urgent-priority (1-URGENT/2-HIGH) from the
# order total. All counts and the integer bin boundaries are exact;
# the Gini expressions are one shared double formula from exact
# integers, argmin on the 8-decimal rounding with a deterministic
# bin tiebreak. Scale: histogram split-finding is THE scale answer —
# candidate splits never touch the data again, and deeper trees just
# repeat the same pass per node.
# ---------------------------------------------------------------------------

_STUMP_BINS = 32

_GINI_L = "1.0 - (CAST(pos_l AS DOUBLE) / n_l) * (CAST(pos_l AS DOUBLE) / n_l) - (CAST(n_l - pos_l AS DOUBLE) / n_l) * (CAST(n_l - pos_l AS DOUBLE) / n_l)"
_GINI_R = "1.0 - (CAST(pos_r AS DOUBLE) / n_r) * (CAST(pos_r AS DOUBLE) / n_r) - (CAST(n_r - pos_r AS DOUBLE) / n_r) * (CAST(n_r - pos_r AS DOUBLE) / n_r)"
_GINI_PARENT = "1.0 - (CAST(p_all AS DOUBLE) / n_all) * (CAST(p_all AS DOUBLE) / n_all) - (CAST(n_all - p_all AS DOUBLE) / n_all) * (CAST(n_all - p_all AS DOUBLE) / n_all)"
_GINI_SPLIT = f"(n_l * ({_GINI_L}) + n_r * ({_GINI_R})) / n_all"

STUMP_ORACLE = f"""
WITH obs AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
  FROM orders
),
bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM obs),
binned AS (
  SELECT least({_STUMP_BINS} - 1,
               ((cents - lo) * {_STUMP_BINS}) // (hi - lo + 1)) AS bin, y
  FROM obs, bounds
),
hist AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM binned GROUP BY bin
),
pref AS (
  SELECT bin,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS n_l,
         sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS pos_l,
         sum(n) OVER () AS n_all,
         sum(pos) OVER () AS p_all
  FROM hist
),
splits AS (
  SELECT bin AS split_bin, n_l, pos_l,
         n_all - n_l AS n_r, p_all - pos_l AS pos_r, n_all, p_all
  FROM pref
  WHERE n_l > 0 AND n_all - n_l > 0
),
scored AS (
  SELECT *,
         round({_GINI_SPLIT}, 8) AS gini_split8,
         row_number() OVER (ORDER BY round({_GINI_SPLIT}, 8), split_bin) AS rk
  FROM splits
)
SELECT CAST(split_bin AS BIGINT) AS split_bin,
       CAST(lo + ((split_bin + 1) * (hi - lo + 1)) // {_STUMP_BINS} AS BIGINT)
           AS threshold_cents,
       CAST(n_l AS BIGINT) AS n_left, CAST(pos_l AS BIGINT) AS pos_left,
       CAST(n_r AS BIGINT) AS n_right, CAST(pos_r AS BIGINT) AS pos_right,
       round({_GINI_PARENT}, 6) AS gini_parent,
       round({_GINI_SPLIT}, 6) AS gini_split,
       round(({_GINI_PARENT}) - ({_GINI_SPLIT}), 6) AS gini_gain
FROM scored, bounds
WHERE rk = 1
"""


@register("ml_decision_stump_gini", STUMP_ORACLE)
def ml_decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice", "o_orderpriority"])
    obs = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    bounds = obs.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = obs.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_STUMP_BINS - 1),
            F.expr(f"((cents - lo) * {_STUMP_BINS}) div (hi - lo + 1)"),
        ).alias("bin"),
        "y",
    )
    hist = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wa = Window.partitionBy()
    pref = hist.select(
        "bin",
        F.sum("n").over(wb).alias("n_l"),
        F.sum("pos").over(wb).alias("pos_l"),
        F.sum("n").over(wa).alias("n_all"),
        F.sum("pos").over(wa).alias("p_all"),
    )
    splits = pref.filter("n_l > 0 AND n_all - n_l > 0").select(
        F.col("bin").alias("split_bin"),
        "n_l",
        "pos_l",
        (F.col("n_all") - F.col("n_l")).alias("n_r"),
        (F.col("p_all") - F.col("pos_l")).alias("pos_r"),
        "n_all",
        "p_all",
    )
    scored = splits.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.expr(f"round({_GINI_SPLIT}, 8)"), "split_bin")
        ),
    ).filter("rk = 1")
    return scored.crossJoin(F.broadcast(bounds)).select(
        F.col("split_bin").cast("long").alias("split_bin"),
        F.expr(
            f"CAST(lo + ((split_bin + 1) * (hi - lo + 1)) div {_STUMP_BINS} AS BIGINT)"
        ).alias("threshold_cents"),
        F.col("n_l").cast("long").alias("n_left"),
        F.col("pos_l").cast("long").alias("pos_left"),
        F.col("n_r").cast("long").alias("n_right"),
        F.col("pos_r").cast("long").alias("pos_right"),
        F.expr(f"round({_GINI_PARENT}, 6)").alias("gini_parent"),
        F.expr(f"round({_GINI_SPLIT}, 6)").alias("gini_split"),
        F.expr(f"round(({_GINI_PARENT}) - ({_GINI_SPLIT}), 6)").alias("gini_gain"),
    )


# ---------------------------------------------------------------------------
# ml_logreg_newton_step — logistic regression as it actually
# distributes: one Newton-Raphson step from w = 0 for
# P(urgent | k$-total, n_lines). At w = 0 every p_i = 1/2, so the
# gradient is X'(y - 1/2) and the Hessian is X'X/4 — BOTH are the
# same exact-integer Gram/moment sums the OLS stump above collects,
# making the step w = 4 (X'X)^-1 X'(y - 1/2) a closed-form solve on
# one aggregation pass (MLlib's LBFGS consumes exactly these
# treeAggregate'd sufficient statistics per iteration). Features are
# integerized (k$ totals, lineitem counts) so every sum is exact;
# the 3×3 solve reuses the shared Cramer expression text, and the
# half-integer gradient enters as (2Σ-Σ)/2 to stay exact. Scale: one
# join + one map-side-combined aggregation per Newton iteration,
# 9 numbers of state — iteration count is the only serial axis.
# ---------------------------------------------------------------------------

_LOGREG_D0 = _det3(("gy", "s1", "s2"), ("g1", "s11", "s12"), ("g2", "s12", "s22"))
_LOGREG_D1 = _det3(("fn", "gy", "s2"), ("s1", "g1", "s12"), ("s2", "g2", "s22"))
_LOGREG_D2 = _det3(("fn", "s1", "gy"), ("s1", "s11", "g1"), ("s2", "s12", "g2"))

LOGREG_ORACLE = f"""
WITH feat AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) // 100000 AS x1,
         CAST(count(*) AS BIGINT) AS x2,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderpriority
),
moments AS (
  SELECT CAST(count(*) AS DOUBLE) AS fn,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(2 * sum(y) - count(*) AS DOUBLE) / 2 AS gy,
         CAST(2 * sum(x1 * y) - sum(x1) AS DOUBLE) / 2 AS g1,
         CAST(2 * sum(x2 * y) - sum(x2) AS DOUBLE) / 2 AS g2,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM feat
)
SELECT n_rows, n_pos,
       round(4.0 * ({_LOGREG_D0}) / ({_OLS_DET}), 6) AS w0,
       round(4.0 * ({_LOGREG_D1}) / ({_OLS_DET}), 6) AS w1_per_kusd,
       round(4.0 * ({_LOGREG_D2}) / ({_OLS_DET}), 6) AS w2_per_line
FROM moments
WHERE ({_OLS_DET}) <> 0
"""


@register("ml_logreg_newton_step", LOGREG_ORACLE)
def ml_logreg_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice", "o_orderpriority"]
    )
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    feat = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice", "o_orderpriority")
        .agg(F.count("*").cast("long").alias("x2"))
        .select(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000").alias("x1"),
            "x2",
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    moments = feat.agg(
        F.count("*").cast("double").alias("fn"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        (F.expr("CAST(2 * sum(y) - count(*) AS DOUBLE)") / 2).alias("gy"),
        (F.expr("CAST(2 * sum(x1 * y) - sum(x1) AS DOUBLE)") / 2).alias("g1"),
        (F.expr("CAST(2 * sum(x2 * y) - sum(x2) AS DOUBLE)") / 2).alias("g2"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    return moments.filter(F.expr(f"({_OLS_DET}) <> 0")).select(
        "n_rows",
        "n_pos",
        F.expr(f"round(4.0 * ({_LOGREG_D0}) / ({_OLS_DET}), 6)").alias("w0"),
        F.expr(f"round(4.0 * ({_LOGREG_D1}) / ({_OLS_DET}), 6)").alias("w1_per_kusd"),
        F.expr(f"round(4.0 * ({_LOGREG_D2}) / ({_OLS_DET}), 6)").alias("w2_per_line"),
    )


# ---------------------------------------------------------------------------
# stat_two_proportion_ztest — the A/B workhorse: for each market
# segment, test whether its urgent-order rate differs from the rest
# of the population (two-proportion pooled z). Complements the
# chi-square independence test above with the per-cell effect
# direction and a magnitude in standard errors. All counts are one
# conditional aggregation (segment vs complement from the same
# totals — no second pass); z = (p1-p2)/sqrt(p(1-p)(1/n1+1/n2)) is a
# shared double expression over exact integers; IEEE sqrt is
# correctly rounded, so both engines agree bit-for-bit. Scale: one
# shuffle on the join key + one on the segment key, then 5 rows.
# ---------------------------------------------------------------------------

_Z_EXPR = (
    "(CAST(pos1 AS DOUBLE) / n1 - CAST(pos2 AS DOUBLE) / n2)"
    " / sqrt((CAST(pos1 + pos2 AS DOUBLE) / (n1 + n2))"
    " * (1.0 - CAST(pos1 + pos2 AS DOUBLE) / (n1 + n2))"
    " * (1.0 / n1 + 1.0 / n2))"
)

ZTEST_ORACLE = f"""
WITH flagged AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(y) AS BIGINT) AS pos_all
  FROM flagged
),
arms AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n1, CAST(sum(y) AS BIGINT) AS pos1,
         n_all - count(*) AS n2, pos_all - sum(y) AS pos2
  FROM flagged, tot
  GROUP BY segment, n_all, pos_all
)
SELECT segment, n1, pos1,
       CAST(n2 AS BIGINT) AS n2, CAST(pos2 AS BIGINT) AS pos2,
       round(CAST(pos1 AS DOUBLE) / n1, 6) AS p1,
       round(CAST(pos2 AS DOUBLE) / n2, 6) AS p2,
       round({_Z_EXPR}, 6) AS z_score,
       CAST(CASE WHEN abs({_Z_EXPR}) > 1.959963984540054 THEN 1 ELSE 0 END
            AS BIGINT) AS significant_95
FROM arms
ORDER BY segment
"""


@register("stat_two_proportion_ztest", ZTEST_ORACLE)
def stat_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of urgent-order rates between customer market segments from exact integer counts."""
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    flagged = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    tot = flagged.agg(
        F.count("*").cast("long").alias("n_all"), F.sum("y").cast("long").alias("pos_all")
    )
    arms = (
        flagged.groupBy("segment")
        .agg(F.count("*").cast("long").alias("n1"), F.sum("y").cast("long").alias("pos1"))
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n1",
            "pos1",
            (F.col("n_all") - F.col("n1")).cast("long").alias("n2"),
            (F.col("pos_all") - F.col("pos1")).cast("long").alias("pos2"),
        )
    )
    return arms.select(
        "segment",
        "n1",
        "pos1",
        "n2",
        "pos2",
        F.round(F.col("pos1").cast("double") / F.col("n1"), 6).alias("p1"),
        F.round(F.col("pos2").cast("double") / F.col("n2"), 6).alias("p2"),
        F.expr(f"round({_Z_EXPR}, 6)").alias("z_score"),
        F.expr(
            f"CAST(CASE WHEN abs({_Z_EXPR}) > 1.959963984540054 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("significant_95"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# stat_kruskal_wallis — k-group rank ANOVA (Kruskal–Wallis H, tie-
# corrected) of extended price across return flags: does ANY flag's
# price distribution differ, without assuming normality — the k-group
# generalization of the Mann–Whitney/AUC pair already in the catalog.
# DISTRIBUTED SHAPE (the Spearman/KS house pattern): the fact table
# collapses map-side to distinct price-cent values (bounded domain),
# global doubled average ranks come from ONE cumulative-count window
# over that reduced relation, per-group rank sums are count-weighted
# exact BIGINTs, and the tie census rides the same value relation. No
# window ever sees a per-row relation. ENGINE PARITY: every data-sized
# sum is an exact integer; the 3-row per-group Rg²/ng terms are
# quantized to BIGINT before the final fold (exact to ~sf1; beyond
# that the same plan runs the group terms in DOUBLE). df = k−1 = 2, so
# the chi-square tail has the closed form p = exp(−H/2).
# ---------------------------------------------------------------------------

KRUSKAL_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
fy AS (SELECT flag, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY flag, y),
vc AS (SELECT y, CAST(sum(c) AS BIGINT) AS cnt FROM fy GROUP BY y),
vr AS (
  SELECT y, cnt,
         2 * coalesce(sum(cnt) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2y
  FROM vc
),
grp AS (
  SELECT f.flag, CAST(sum(f.c) AS BIGINT) AS ng,
         CAST(sum(f.c * v.r2y) AS BIGINT) AS r2g
  FROM fy f JOIN vr v ON f.y = v.y
  GROUP BY f.flag
),
tot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(round(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                             / (4.0 * ng)) AS BIGINT)) AS BIGINT) AS s
  FROM grp
),
ties AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t3 FROM vc),
h AS (
  SELECT n, k,
         (12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))
          - 3.0 * (n + 1))
         / (1.0 - CAST(t3 AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)) AS hstat
  FROM tot CROSS JOIN ties
)
SELECT k AS k_groups, n AS n_total,
       round(hstat, 4) AS h_statistic,
       round(exp(-hstat / 2), 6) AS p_value_df2
FROM h
"""


@register("stat_kruskal_wallis", KRUSKAL_ORACLE)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    fy = base.groupBy("flag", "y").agg(F.count("*").alias("c"))
    # The doubled rank AND the tie correction both ride ONE bucketed
    # walk (functions/ranks.cum_counts) directly over the (flag, y, c)
    # relation — no y-marginal collapse and no shuffle join back.
    # `c_before` = Σc over strictly smaller y (across flags), `c_upto`
    # includes all peers, so tie = upto − before is the y's total count
    # and r2y = 2·before + tie + 1 = before + upto + 1.
    # The tie cubic folds into the SAME chain:
    # Σ_y (tie³ − tie) = Σ_rows c·(tie² − 1) because Σ_{rows of y} c =
    # tie — so t3 rides the per-flag aggregate and no second relation
    # exists (guide §2.4/§2.5).
    ranked = cum_counts(fy, [], ["y"], ["c"], 10_000).select(
        "flag",
        "c",
        (F.col("c_upto") - F.col("c_before")).alias("tie"),
        (F.col("c_before") + F.col("c_upto") + 1).cast("long").alias("r2y"),
    )
    grp = ranked.groupBy("flag").agg(
        F.sum("c").cast("long").alias("ng"),
        F.sum(F.col("c") * F.col("r2y")).cast("long").alias("r2g"),
        F.sum(F.col("c") * (F.col("tie") * F.col("tie") - 1)).cast("long").alias("t3g"),
    )
    tot = grp.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.round(
                F.col("r2g").cast("double")
                * F.col("r2g").cast("double")
                / (4.0 * F.col("ng"))
            ).cast("long")
        ).alias("s"),
        F.sum("t3g").cast("long").alias("t3"),
    )
    nd = F.col("n").cast("double")
    hstat = (
        12.0 * F.col("s").cast("double") / (nd * (F.col("n") + 1))
        - 3.0 * (F.col("n") + 1)
    ) / (1.0 - F.col("t3").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n")))
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.round(hstat, 4).alias("h_statistic"),
        F.round(F.exp(-hstat / 2), 6).alias("p_value_df2"),
    )


# ---------------------------------------------------------------------------
# stat_anova_oneway — classical one-way ANOVA of order value (whole
# dollars) across market segments: F = (SSB/(k−1)) / (SSW/(N−k)) plus
# eta² effect size — the parametric sibling of Kruskal–Wallis above,
# from ONE map-side-combined aggregation pass (n, Σv, Σv² per group;
# the sufficient statistics every distributed ANOVA reduces to).
# ENGINE PARITY: v is an exact integer (rounded dollars), so the group
# sums are exact BIGINTs; the k-row Sg²/ng terms are quantized to
# BIGINT before the final fold. BIGINT Σv² stays exact to ~1e8 rows
# (v² ≤ 4e11); beyond that the same plan runs the moments in DOUBLE —
# documented 100 TB fallback. No p-value: the F tail has no closed
# form — the F/df columns are the test's complete sufficient output.
# ---------------------------------------------------------------------------

ANOVA_ORACLE = """
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice) AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(v) AS BIGINT) AS sg, CAST(sum(v * v) AS BIGINT) AS ssg
  FROM base GROUP BY segment
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         CAST(sum(sg) AS BIGINT) AS s,
         CAST(sum(ssg) AS BIGINT) AS ss,
         CAST(sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng)
                       AS BIGINT)) AS BIGINT) AS sq
  FROM g
)
SELECT k AS k_groups, n AS n_total,
       round((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             / (k - 1)
             / ((CAST(ss AS DOUBLE) - CAST(sq AS DOUBLE)) / (n - k)), 4)
           AS f_statistic,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       round((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
           AS eta_squared
FROM tot
"""


@register("stat_anova_oneway", ANOVA_ORACLE)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round("o_totalprice").cast("long").alias("v"),
    )
    g = base.groupBy("segment").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("v").alias("sg"),
        F.sum(F.col("v") * F.col("v")).alias("ssg"),
    )
    tot = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("ssg").cast("long").alias("ss"),
        F.sum(
            F.round(
                F.col("sg").cast("double") * F.col("sg").cast("double") / F.col("ng")
            ).cast("long")
        ).alias("sq"),
    )
    sd, sqd, ssd = (
        F.col("s").cast("double"),
        F.col("sq").cast("double"),
        F.col("ss").cast("double"),
    )
    ssb = sqd - sd * sd / F.col("n")
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.round(
            ssb / (F.col("k") - 1) / ((ssd - sqd) / (F.col("n") - F.col("k"))), 4
        ).alias("f_statistic"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
        F.round(ssb / (ssd - sd * sd / F.col("n")), 6).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# stat_cramers_v — effect size for categorical association: chi-square
# over the segment × order-priority contingency table plus Cramér's V
# and the Bergsma bias-corrected V~ — the "is this association MEANINGFUL
# or just significant at scale" companion to the chi2 test row (at
# 100 TB everything is significant; V is what survives). ONE
# contingency aggregation (map-side combine); marginals re-aggregate
# the ≤ r×c cell table, never the data. ENGINE PARITY: cells and
# marginals are exact BIGINTs; the per-cell (O−E)²/E terms are
# quantized to round(·1e6) AS BIGINT before the ≤25-row fold.
# ---------------------------------------------------------------------------

CRAMERS_V_ORACLE = """
WITH cells AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         CAST(count(*) AS BIGINT) AS nij
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY seg, pri
),
rm AS (SELECT seg, CAST(sum(nij) AS BIGINT) AS ri FROM cells GROUP BY seg),
cm AS (SELECT pri, CAST(sum(nij) AS BIGINT) AS cj FROM cells GROUP BY pri),
tot AS (
  SELECT CAST(sum(nij) AS BIGINT) AS n,
         CAST(count(DISTINCT seg) AS BIGINT) AS r,
         CAST(count(DISTINCT pri) AS BIGINT) AS c
  FROM cells
),
chi AS (
  SELECT any_value(t.n) AS n, any_value(t.r) AS r, any_value(t.c) AS c,
         CAST(sum(CAST(round(
           (nij - CAST(ri AS DOUBLE) * cj / t.n)
           * (nij - CAST(ri AS DOUBLE) * cj / t.n)
           / (CAST(ri AS DOUBLE) * cj / t.n) * 1e6) AS BIGINT)) AS BIGINT) AS q
  FROM cells JOIN rm USING (seg) JOIN cm USING (pri) CROSS JOIN tot t
  GROUP BY 1=1
)
SELECT n AS n_total, r AS n_rows_cat, c AS n_cols_cat,
       round(CAST(q AS DOUBLE) / 1e6, 4) AS chi_square,
       round(sqrt(CAST(q AS DOUBLE) / 1e6
                  / (n * least(r - 1, c - 1))), 6) AS cramers_v,
       round(sqrt(greatest(CAST(q AS DOUBLE) / 1e6 / n
                           - CAST((r - 1) * (c - 1) AS DOUBLE) / (n - 1), 0.0)
                  / least(r - CAST(r - 1 AS DOUBLE) * (r - 1) / (n - 1),
                          c - CAST(c - 1 AS DOUBLE) * (c - 1) / (n - 1))), 6)
           AS cramers_v_corrected
FROM chi
"""


@register("stat_cramers_v", CRAMERS_V_ORACLE)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").cast("long").alias("nij"))
    )
    rm = cells.groupBy("seg").agg(F.sum("nij").cast("long").alias("ri"))
    cm = cells.groupBy("pri").agg(F.sum("nij").cast("long").alias("cj"))
    tot = cells.agg(
        F.sum("nij").cast("long").alias("n"),
        F.count_distinct("seg").cast("long").alias("r"),
        F.count_distinct("pri").cast("long").alias("c"),
    )
    e = F.col("ri").cast("double") * F.col("cj") / F.col("n")
    chi = (
        cells.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cm), "pri")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.any_value("n").alias("n"),
            F.any_value("r").alias("r"),
            F.any_value("c").alias("c"),
            F.sum(
                F.round((F.col("nij") - e) * (F.col("nij") - e) / e * 1e6).cast("long")
            ).alias("q"),
        )
    )
    chi2 = F.col("q").cast("double") / 1e6
    nd = F.col("n").cast("double")
    phi2c = F.greatest(
        chi2 / F.col("n") - ((F.col("r") - 1) * (F.col("c") - 1)).cast("double") / (F.col("n") - 1),
        F.lit(0.0),
    )
    rc = F.col("r") - (F.col("r") - 1).cast("double") * (F.col("r") - 1) / (F.col("n") - 1)
    cc = F.col("c") - (F.col("c") - 1).cast("double") * (F.col("c") - 1) / (F.col("n") - 1)
    return chi.select(
        F.col("n").alias("n_total"),
        F.col("r").alias("n_rows_cat"),
        F.col("c").alias("n_cols_cat"),
        F.round(chi2, 4).alias("chi_square"),
        F.round(
            F.sqrt(chi2 / (nd * F.least(F.col("r") - 1, F.col("c") - 1))), 6
        ).alias("cramers_v"),
        F.round(F.sqrt(phi2c / F.least(rc, cc)), 6).alias("cramers_v_corrected"),
    )


# ---------------------------------------------------------------------------
# stat_negbin_overdispersion — overdispersion diagnostic + negative-
# binomial method-of-moments fit of lines-per-order: dispersion index
# D = s²/m (Poisson says 1), and when D > 1 the NB(r, p) parameters
# r = m²/(s² − m), p = m/s² — the model the Poisson-GOF row rejects
# toward. Everything reduces to ONE per-order count aggregation and
# exact BIGINT moments of tiny integers (x ≤ line cap, so Σx² stays
# exact past 1e15 rows — no scale ceiling in practice). Deterministic:
# one terminal quotient family from exact integers; NB parameters are
# NULL (not garbage) when the sample is Poisson-or-under-dispersed.
# ---------------------------------------------------------------------------

NEGBIN_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
  FROM lineitem GROUP BY l_orderkey
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS ss
  FROM per_order
),
stats AS (
  SELECT n,
         CAST(s AS DOUBLE) / n AS mean,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS var
  FROM m
)
SELECT n AS n_orders,
       round(mean, 6) AS mean_lines,
       round(var, 6) AS var_lines,
       round(var / mean, 6) AS dispersion_index,
       CASE WHEN var > mean
            THEN round(mean * mean / (var - mean), 6) END AS nb_r,
       CASE WHEN var > mean
            THEN round(mean / var, 6) END AS nb_p
FROM stats
"""


@register("stat_negbin_overdispersion", NEGBIN_ORACLE)
def stat_negbin_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    per_order = li.groupBy("l_orderkey").agg(F.count("*").cast("long").alias("x"))
    m = per_order.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    return m.select(
        F.col("n").alias("n_orders"),
        F.round(mean, 6).alias("mean_lines"),
        F.round(var, 6).alias("var_lines"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.when(var > mean, F.round(mean * mean / (var - mean), 6)).alias("nb_r"),
        F.when(var > mean, F.round(mean / var, 6)).alias("nb_p"),
    )


# ---------------------------------------------------------------------------
# stat_jarque_bera — normality test for order values (k$ units):
# skewness, excess kurtosis, and JB = n·(skew²/6 + kurt²/24), whose
# chi-square(2) tail has the closed form p = exp(−JB/2). TWO-PASS
# CENTERED moments — the numerically sane distributed shape: pass 1
# computes the exact mean (integer-cents sum, one quotient), pass 2
# folds the centered powers. ENGINE PARITY: pass-2 terms are quantized
# to round(·1e2) AS BIGINT per row so the folds are order-independent
# (d⁴ ≤ ~1.3e13 scaled → exact to ~1e5 rows at sf0.1 and to ~1e9 rows
# after dropping one scale decade; beyond that the same plan runs the
# moment folds in DOUBLE — documented 100 TB fallback). The centered
# per-row doubles are deterministic: exact integer cents minus an
# exact-quotient mean.
# ---------------------------------------------------------------------------

JARQUE_BERA_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
p1 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM base),
centered AS (
  SELECT CAST(b.cents AS DOUBLE) / 100000.0
         - CAST(p.s AS DOUBLE) / 100000.0 / p.n AS d,
         p.n AS n
  FROM base b CROSS JOIN p1 p
),
p2 AS (
  SELECT any_value(n) AS n,
         CAST(sum(CAST(round(d * d * 100) AS BIGINT)) AS BIGINT) AS m2q,
         CAST(sum(CAST(round(d * d * d * 100) AS BIGINT)) AS BIGINT) AS m3q,
         CAST(sum(CAST(round(d * d * d * d * 100) AS BIGINT)) AS BIGINT) AS m4q
  FROM centered
),
mo AS (
  SELECT n,
         CAST(m2q AS DOUBLE) / 100 / n AS m2,
         CAST(m3q AS DOUBLE) / 100 / n AS m3,
         CAST(m4q AS DOUBLE) / 100 / n AS m4
  FROM p2
),
jb AS (
  SELECT n, m3 / pow(m2, 1.5) AS skew, m4 / (m2 * m2) - 3.0 AS kurt
  FROM mo
)
SELECT n AS n_orders,
       round(skew, 6) AS skewness,
       round(kurt, 6) AS excess_kurtosis,
       round(n * (skew * skew / 6 + kurt * kurt / 24), 4) AS jb_statistic,
       round(exp(-(n * (skew * skew / 6 + kurt * kurt / 24)) / 2), 6) AS p_value
FROM jb
"""


@register("stat_jarque_bera", JARQUE_BERA_ORACLE)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    p1 = base.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").alias("s")
    )
    centered = base.crossJoin(F.broadcast(p1)).select(
        (
            F.col("cents").cast("double") / 100000.0
            - F.col("s").cast("double") / 100000.0 / F.col("n")
        ).alias("d"),
        "n",
    )
    p2 = centered.agg(
        F.any_value("n").alias("n"),
        F.sum(F.round(F.col("d") * F.col("d") * 100).cast("long")).alias("m2q"),
        F.sum(
            F.round(F.col("d") * F.col("d") * F.col("d") * 100).cast("long")
        ).alias("m3q"),
        F.sum(
            F.round(F.col("d") * F.col("d") * F.col("d") * F.col("d") * 100).cast(
                "long"
            )
        ).alias("m4q"),
    )
    m2 = F.col("m2q").cast("double") / 100 / F.col("n")
    m3 = F.col("m3q").cast("double") / 100 / F.col("n")
    m4 = F.col("m4q").cast("double") / 100 / F.col("n")
    mo = p2.select(F.col("n"), m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0
    jb = F.col("n") * (
        F.col("skew") * F.col("skew") / 6 + F.col("kurt") * F.col("kurt") / 24
    )
    return (
        mo.select("n", skew.alias("skew"), kurt.alias("kurt"))
        .select(
            F.col("n").alias("n_orders"),
            F.round(F.col("skew"), 6).alias("skewness"),
            F.round(F.col("kurt"), 6).alias("excess_kurtosis"),
            F.round(jb, 4).alias("jb_statistic"),
            F.round(F.exp(-jb / 2), 6).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# ml_ridge_shrinkage_path — closed-form ridge regression along a
# 3-point lambda path (λ = 0 / 1e4 / 1e6), per return flag:
# (X'X + λI')β = X'y with the intercept unpenalized — computed from
# the SAME single-pass exact-integer moment sums as
# stat_ols_two_regressors (λ=0 IS that OLS fit, so the shrinkage of
# b1/b2 toward 0 as λ grows is directly readable). This is how
# distributed ridge actually runs: sufficient statistics once, then
# any number of λ solves for free on the k-row moment relation — the
# model-selection loop costs zero extra passes over 100 TB. ENGINE
# PARITY: exact BIGINT moments; the 3×3 Cramer solve reuses the shared
# expression text on λ-adjusted aliases, so both engines execute the
# same IEEE sequence.
# ---------------------------------------------------------------------------

_RIDGE_LAMBDAS = (0, 10000, 1000000)

RIDGE_ORACLE = f"""
WITH obs AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
moments AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS fn,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11_raw,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22_raw,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM obs GROUP BY l_returnflag
),
adj AS (
  SELECT m.*, l.lam,
         m.s11_raw + l.lam AS s11,
         m.s22_raw + l.lam AS s22
  FROM moments m CROSS JOIN (SELECT unnest([{", ".join(str(x) for x in _RIDGE_LAMBDAS)}]) AS lam) l
)
SELECT l_returnflag, CAST(lam AS BIGINT) AS ridge_lambda, n_rows,
       {_OLS_SOLVE[0]},
       {_OLS_SOLVE[1]},
       {_OLS_SOLVE[2]}
FROM adj
WHERE ({_OLS_DET}) <> 0
ORDER BY l_returnflag, ridge_lambda
"""


@register("ml_ridge_shrinkage_path", RIDGE_ORACLE)
def ml_ridge_shrinkage_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_discount", "l_extendedprice"],
    )
    obs = li.select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    moments = obs.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("fn"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11_raw"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22_raw"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.count("*").cast("long").alias("n_rows"),
    )
    lambdas = spark.createDataFrame(
        [(x,) for x in _RIDGE_LAMBDAS], "lam long"
    )
    adj = moments.crossJoin(F.broadcast(lambdas)).select(
        "*",
        (F.col("s11_raw") + F.col("lam")).alias("s11"),
        (F.col("s22_raw") + F.col("lam")).alias("s22"),
    )
    return (
        adj.filter(F.expr(f"({_OLS_DET}) <> 0"))
        .select(
            "l_returnflag",
            F.col("lam").cast("long").alias("ridge_lambda"),
            "n_rows",
            F.expr(_OLS_SOLVE[0]),
            F.expr(_OLS_SOLVE[1]),
            F.expr(_OLS_SOLVE[2]),
        )
        .orderBy("l_returnflag", "ridge_lambda")
    )


# ---------------------------------------------------------------------------
# ml_kfold_cv_rmse — 5-fold cross-validation of the price~quantity OLS
# model WITHOUT five training passes: per-fold exact-integer moment
# sums are computed once, and each fold's TRAINING moments are the
# global totals minus that fold's own (the leave-fold-out identity —
# the trick that makes k-fold free on sufficient-statistics models at
# any scale). Each row is then scored against its own fold's held-out
# coefficients via a k-row broadcast; per-fold RMSE + the CV mean come
# out of one more map-side-combined pass. Fold assignment is the
# deterministic Knuth multiplicative hash of the order key (identical
# text both engines). ENGINE PARITY: moments and the quantized
# residual-square sums are exact BIGINTs (residuals quantized to whole
# cents — the stat_ols_residual_outliers pattern); coefficients are
# deterministic IEEE quotients of exact integers.
# ---------------------------------------------------------------------------

_CV_FOLD = f"((l_orderkey % {KEY_REDUCE}) * {KNUTH_MUL}) % {KNUTH_MOD} % 5"

KFOLD_ORACLE = f"""
WITH base AS (
  SELECT CAST({_CV_FOLD} AS BIGINT) AS fold,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
fm AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY fold
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
         CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxy) AS BIGINT) AS sxy,
         CAST(sum(sxx) AS BIGINT) AS sxx
  FROM fm
),
coefs AS (
  -- r10 headroom audit: the moments are exact BIGINTs but the
  -- cross-products (n * sxy ~ 2e19 at sf0.1) overflow int64, so the
  -- solve multiplies in DOUBLE (identical expression both engines;
  -- b1/b0 were already deterministic IEEE quotients).
  SELECT f.fold,
         (CAST(t.n - f.n AS DOUBLE) * (t.sxy - f.sxy)
          - CAST(t.sx - f.sx AS DOUBLE) * (t.sy - f.sy))
           / (CAST(t.n - f.n AS DOUBLE) * (t.sxx - f.sxx)
              - CAST(t.sx - f.sx AS DOUBLE) * (t.sx - f.sx)) AS b1,
         (CAST(t.sy - f.sy AS DOUBLE)
          - (CAST(t.n - f.n AS DOUBLE) * (t.sxy - f.sxy)
             - CAST(t.sx - f.sx AS DOUBLE) * (t.sy - f.sy))
            / (CAST(t.n - f.n AS DOUBLE) * (t.sxx - f.sxx)
               - CAST(t.sx - f.sx AS DOUBLE) * (t.sx - f.sx))
            * CAST(t.sx - f.sx AS DOUBLE)) / CAST(t.n - f.n AS DOUBLE) AS b0
  FROM fm f CROSS JOIN tot t
),
scored AS (
  -- residuals quantized to whole DOLLARS before squaring (cent
  -- squares would cap the test fold at ~1e6 rows; dollar squares are
  -- safe to ~1e9)
  SELECT b.fold,
         CAST(round((b.y - (c.b0 + c.b1 * b.x)) / 100) AS BIGINT) AS rc
  FROM base b JOIN coefs c ON b.fold = c.fold
),
per_fold AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
         sqrt(CAST(sum(rc * rc) AS DOUBLE) / count(*)) AS rmse
  FROM scored GROUP BY fold
)
SELECT fold, n_test, round(rmse, 4) AS fold_rmse,
       round(CAST(sum(CAST(round(rmse * 1e6) AS BIGINT)) OVER () AS DOUBLE)
             / 1e6 / count(*) OVER (), 4) AS cv_mean_rmse
FROM per_fold
ORDER BY fold
"""


@register("ml_kfold_cv_rmse", KFOLD_ORACLE)
def ml_kfold_cv_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_quantity", "l_extendedprice"],
    )
    base = li.select(
        F.expr(_CV_FOLD).cast("long").alias("fold"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    fm = base.groupBy("fold").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    tot = fm.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxy").alias("tsxy"),
        F.sum("sxx").alias("tsxx"),
    )
    tr_n = F.col("tn") - F.col("n")
    tr_sx, tr_sy = F.col("tsx") - F.col("sx"), F.col("tsy") - F.col("sy")
    tr_sxy, tr_sxx = F.col("tsxy") - F.col("sxy"), F.col("tsxx") - F.col("sxx")
    # cross-products in DOUBLE: n * sxy ~ 2e19 at sf0.1 overflows int64
    num = tr_n.cast("double") * tr_sxy - tr_sx.cast("double") * tr_sy
    den = tr_n.cast("double") * tr_sxx - tr_sx.cast("double") * tr_sx
    b1 = num / den
    coefs = fm.crossJoin(F.broadcast(tot)).select(
        "fold",
        b1.alias("b1"),
        (
            (tr_sy.cast("double") - b1 * tr_sx.cast("double")) / tr_n.cast("double")
        ).alias("b0"),
    )
    scored = base.join(F.broadcast(coefs), "fold").select(
        "fold",
        F.round((F.col("y") - (F.col("b0") + F.col("b1") * F.col("x"))) / 100)
        .cast("long")
        .alias("rc"),
    )
    per_fold = scored.groupBy("fold").agg(
        F.count("*").cast("long").alias("n_test"),
        F.sqrt(F.sum(F.col("rc") * F.col("rc")).cast("double") / F.count("*")).alias(
            "rmse"
        ),
    )
    w_all = Window.partitionBy()
    return per_fold.select(
        "fold",
        "n_test",
        F.round("rmse", 4).alias("fold_rmse"),
        F.round(
            F.sum(F.round(F.col("rmse") * 1e6).cast("long")).over(w_all).cast("double")
            / 1e6
            / F.count("*").over(w_all),
            4,
        ).alias("cv_mean_rmse"),
    ).orderBy("fold")


# ---------------------------------------------------------------------------
# sample_stratified_neyman — optimal stratified-sample design: Neyman
# allocation n_h ∝ N_h·σ_h of a 1000-row budget across return-flag
# strata (variance-heavy strata get more budget than size alone would
# give — the sampling-theory upgrade over proportional allocation the
# PPS/reservoir rows already cover). Per-stratum σ from ONE exact-
# integer moment pass; the allocation itself is LARGEST-REMAINDER in
# pure integer arithmetic on 1e6-quantized weights (floor shares +
# remainder-ranked top-up, deterministic flag tiebreak), so the seats
# reconcile to the budget by construction and the engines cannot
# disagree. Scale: one map-side-combined group pass; everything after
# runs on k rows.
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000

NEYMAN_ORACLE = f"""
WITH g AS (
  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ss
  FROM lineitem GROUP BY flag
),
w AS (
  SELECT flag, nh,
         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nh) / nh) / 100.0 AS sd,
         CAST(round(nh * (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nh) / nh)
                          / 100.0) * 1e6) AS BIGINT) AS wq
  FROM g
),
tot AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM w),
fl AS (
  SELECT w.flag, w.nh, w.sd, w.wq, t.tw,
         CAST({_NEYMAN_BUDGET} * w.wq // t.tw AS BIGINT) AS floor_n,
         {_NEYMAN_BUDGET} * w.wq - ({_NEYMAN_BUDGET} * w.wq // t.tw) * t.tw AS rem
  FROM w CROSS JOIN tot t
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, flag) AS rk,
         CAST({_NEYMAN_BUDGET} - sum(floor_n) OVER () AS BIGINT) AS leftover
  FROM fl
)
SELECT flag, nh AS n_stratum,
       round(sd, 2) AS stratum_sd,
       round(CAST(wq AS DOUBLE) / tw, 6) AS neyman_weight,
       CAST(floor_n + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS allocated_n
FROM ranked
ORDER BY flag
"""


@register("sample_stratified_neyman", NEYMAN_ORACLE)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("long").alias("nh"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    sd = (
        F.sqrt(
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("nh"))
            / F.col("nh")
        )
        / 100.0
    )
    w = g.select(
        "flag",
        "nh",
        sd.alias("sd"),
        F.round(F.col("nh") * sd * 1e6).cast("long").alias("wq"),
    )
    tot = w.agg(F.sum("wq").cast("long").alias("tw"))
    b = _NEYMAN_BUDGET
    fl = w.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(f"CAST({b} * wq div tw AS BIGINT)").alias("floor_n"),
        F.expr(f"{b} * wq - ({b} * wq div tw) * tw").alias("rem"),
    )
    wr = Window.orderBy(F.desc("rem"), "flag")
    w_all = Window.partitionBy()
    ranked = fl.select(
        "*",
        F.row_number().over(wr).alias("rk"),
        (F.lit(b) - F.sum("floor_n").over(w_all)).cast("long").alias("leftover"),
    )
    return ranked.select(
        "flag",
        F.col("nh").alias("n_stratum"),
        F.round("sd", 2).alias("stratum_sd"),
        F.round(F.col("wq").cast("double") / F.col("tw"), 6).alias("neyman_weight"),
        (
            F.col("floor_n")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated_n"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# ml_pr_curve_thresholds — the precision/recall curve the AUC row
# (stat_auc_mann_whitney) summarizes away: confusion counts, precision,
# recall, and F1 at the 9 inner equi-depth decile cuts of the score
# (order value) against the urgent-priority label — the
# threshold-picking artifact every deployed binary classifier ships
# with. DISTRIBUTED SHAPE: the score is VALUE-COLLAPSED to (cents, n,
# pos) once; decile edges come from exact integer rank selection over
# that reduced relation, and every confusion cell is a suffix count
# DERIVED as total-minus-exclusive-prefix from the one O(n) running
# frame (never an UnboundedFollowing frame, which Spark evaluates
# O(n^2)), then looked up AT an edge value by equi-join. Everything
# before the three terminal quotients is exact integer arithmetic.
# ---------------------------------------------------------------------------

PR_CURVE_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
  FROM orders
),
vc AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM base GROUP BY cents
),
cum AS (
  SELECT cents, n, pos,
         sum(n) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         sum(n) OVER (ORDER BY cents
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suf_n,
         sum(pos) OVER (ORDER BY cents
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suf_pos,
         sum(n) OVER () AS nn, sum(pos) OVER () AS pp
  FROM vc
),
edges AS (
  SELECT d AS decile,
         min(CASE WHEN cum_n >= (d * nn + 9) // 10 THEN cents END) AS threshold
  FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS d)
  GROUP BY d
)
SELECT e.decile, e.threshold AS threshold_cents,
       CAST(c.suf_pos AS BIGINT) AS tp,
       CAST(c.suf_n - c.suf_pos AS BIGINT) AS fp,
       CAST(c.pp - c.suf_pos AS BIGINT) AS fn,
       round(CAST(c.suf_pos AS DOUBLE) / c.suf_n, 4) AS precision_at,
       round(CAST(c.suf_pos AS DOUBLE) / c.pp, 4) AS recall_at,
       round(2.0 * c.suf_pos / (c.suf_n + c.pp), 4) AS f1_at
FROM edges e JOIN cum c ON e.threshold = c.cents
ORDER BY e.decile
"""


@register("ml_pr_curve_thresholds", PR_CURVE_ORACLE)
def ml_pr_curve_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_totalprice", "o_orderpriority"]
    )
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    vc = base.groupBy("cents").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    # Suffix counts are derived as total-minus-exclusive-prefix from the
    # single O(n) running frame: Spark's UnboundedFollowing frame
    # (UnboundedFollowingWindowFunctionFrame) re-evaluates the aggregate
    # from the current row to the end FOR EVERY ROW — O(n^2) on the
    # unpartitioned relation (~150k distinct cents at sf0.1 took ~550 s).
    # suf_n = nn - cum_n + n and suf_pos = pp - cum_pos + pos are the
    # identical integers at O(n).
    # The running frame rides the two-phase bucketed
    # functions/ranks.cum_counts (no 1-task sort of the value-collapsed
    # price relation) with the totals on its bucket relation:
    # cum_n = n_upto, suf_n = nn - n_before, suf_pos = pp - pos_before.
    cum = cum_counts(vc, [], ["cents"], ["n", "pos"], 10_000).select(
        "cents",
        F.col("n_upto").alias("cum_n"),
        (F.col("n_total") - F.col("n_before")).alias("suf_n"),
        (F.col("pos_total") - F.col("pos_before")).alias("suf_pos"),
        F.col("n_total").alias("nn"),
        F.col("pos_total").alias("pp"),
    )
    cum = cum.localCheckpoint(eager=False)  # edges + confusion join
    deciles = spark.range(1, 10).select(F.col("id").alias("decile"))
    edges = (
        F.broadcast(deciles)
        .crossJoin(cum)
        .groupBy("decile")
        .agg(
            F.min(
                F.when(
                    F.col("cum_n") >= F.expr("(decile * nn + 9) div 10"),
                    F.col("cents"),
                )
            ).alias("threshold")
        )
    )
    joined = edges.join(cum, edges.threshold == cum.cents)
    return joined.select(
        "decile",
        F.col("threshold").alias("threshold_cents"),
        F.col("suf_pos").cast("long").alias("tp"),
        (F.col("suf_n") - F.col("suf_pos")).cast("long").alias("fp"),
        (F.col("pp") - F.col("suf_pos")).cast("long").alias("fn"),
        F.round(F.col("suf_pos").cast("double") / F.col("suf_n"), 4).alias(
            "precision_at"
        ),
        F.round(F.col("suf_pos").cast("double") / F.col("pp"), 4).alias("recall_at"),
        F.round(2.0 * F.col("suf_pos") / (F.col("suf_n") + F.col("pp")), 4).alias(
            "f1_at"
        ),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# stat_runs_test — Wald–Wolfowitz runs test for randomness of the
# daily revenue direction (up/down vs the previous day): too FEW runs
# means momentum/trend, too MANY means mean-reversion/oscillation —
# the quick "is this series i.i.d. enough for the simple models"
# screen in front of the ACF/Ljung-Box machinery. Directions come from
# exact integer cents comparisons over the calendar-bounded daily
# rollup (zero-change days dropped, standard practice); runs, n_up,
# n_down are exact integers; E[R] and Var[R] are the closed forms, so
# z is one deterministic expression. |z| > 1.96 flags non-randomness.
# Scale: one map-side-combined daily rollup; the lag window rides the
# O(days) series only.
# ---------------------------------------------------------------------------

RUNS_TEST_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY day
),
dirs AS (
  SELECT day,
         CASE WHEN cents > lag(cents) OVER (ORDER BY day) THEN 1
              WHEN cents < lag(cents) OVER (ORDER BY day) THEN -1 END AS dir
  FROM daily
),
seq AS (
  SELECT dir, lag(dir) OVER (ORDER BY day) AS prev_dir
  FROM (SELECT day, dir FROM dirs WHERE dir IS NOT NULL)
),
s AS (
  SELECT CAST(sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(1 + sum(CASE WHEN prev_dir IS NOT NULL AND dir <> prev_dir
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM seq
)
SELECT n1 AS n_up, n2 AS n_down, runs AS n_runs,
       round(1.0 + 2.0 * n1 * n2 / (n1 + n2), 4) AS expected_runs,
       round((runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1))), 4)
           AS z_score,
       CAST(CASE WHEN abs((runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1))))
             > 1.959963984540054 THEN 1 ELSE 0 END AS BIGINT) AS nonrandom_95
FROM s
"""


@register("stat_runs_test", RUNS_TEST_ORACLE)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("day")  # O(days) calendar-bounded series
    dirs = daily.select(
        "day",
        F.when(F.col("cents") > F.lag("cents").over(w), 1)
        .when(F.col("cents") < F.lag("cents").over(w), -1)
        .alias("dir"),
    ).filter(F.col("dir").isNotNull())
    seq = dirs.select("dir", F.lag("dir").over(Window.orderBy("day")).alias("prev_dir"))
    s = seq.agg(
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0)).cast("long").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_dir").isNotNull()
                    & (F.col("dir") != F.col("prev_dir")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    z = (runs - er) / F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return s.select(
        n1.alias("n_up"),
        n2.alias("n_down"),
        runs.alias("n_runs"),
        F.round(er, 4).alias("expected_runs"),
        F.round(z, 4).alias("z_score"),
        F.when(F.abs(z) > 1.959963984540054, 1).otherwise(0).cast("long").alias(
            "nonrandom_95"
        ),
    )


# ---------------------------------------------------------------------------
# ml_learning_curve — RMSE vs training-set size for the price~quantity
# OLS model: train on the first 2/4/6/8 Knuth-hash tenths, always
# evaluate on the held-out tenth 9 — the "is more data still buying
# accuracy" curve that decides whether to scale data or model. ZERO
# extra training passes at any size: per-tenth exact-integer moment
# sums are computed ONCE and each curve point's training moments are a
# prefix sum over fold ids (the k-fold leave-out identity, composed);
# the single test tenth is scored against the 4-row broadcast
# coefficient table in one pass with cent-quantized residuals.
# ---------------------------------------------------------------------------

LEARNING_CURVE_ORACLE = f"""
WITH base AS (
  SELECT CAST(((l_orderkey % {KEY_REDUCE}) * {KNUTH_MUL}) % {KNUTH_MOD} % 10 AS BIGINT)
             AS fold,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
fm AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY fold
),
pts AS (
  SELECT k.k,
         CAST(sum(f.n) AS BIGINT) AS n, CAST(sum(f.sx) AS BIGINT) AS sx,
         CAST(sum(f.sy) AS BIGINT) AS sy, CAST(sum(f.sxy) AS BIGINT) AS sxy,
         CAST(sum(f.sxx) AS BIGINT) AS sxx
  FROM fm f JOIN (SELECT unnest([2, 4, 6, 8]) AS k) k ON f.fold < k.k
  GROUP BY k.k
),
coefs AS (
  -- r10 headroom audit: n * sxy ~ 2e19 at sf0.1 overflows int64 —
  -- multiply in DOUBLE (identical expression both engines)
  SELECT k, n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b1,
         (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS b0
  FROM pts
),
scored AS (
  -- residuals quantized to whole DOLLARS before squaring (dollar
  -- squares are safe to ~1e9 test rows; cent squares were not)
  SELECT c.k, c.n,
         CAST(round((b.y - (c.b0 + c.b1 * b.x)) / 100) AS BIGINT) AS rc
  FROM (SELECT * FROM base WHERE fold = 9) b CROSS JOIN coefs c
)
SELECT k AS train_tenths, any_value(n) AS n_train,
       CAST(count(*) AS BIGINT) AS n_test,
       round(sqrt(CAST(sum(rc * rc) AS DOUBLE) / count(*)), 4) AS test_rmse
FROM scored
GROUP BY k
ORDER BY k
"""


@register("ml_learning_curve", LEARNING_CURVE_ORACLE)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_quantity", "l_extendedprice"],
    )
    base = li.select(
        F.expr(
            f"CAST(((l_orderkey % {KEY_REDUCE}) * {KNUTH_MUL}) % {KNUTH_MOD} % 10"
            " AS BIGINT)"
        ).alias("fold"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    fm = base.groupBy("fold").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    ks = spark.createDataFrame([(2,), (4,), (6,), (8,)], "k long")
    pts = (
        fm.join(F.broadcast(ks), fm.fold < ks.k)
        .groupBy("k")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxy").alias("sxy"),
            F.sum("sxx").alias("sxx"),
        )
    )
    # cross-products in DOUBLE: n * sxy ~ 2e19 at sf0.1 overflows int64
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    b1 = num / den
    coefs = pts.select(
        "k",
        "n",
        b1.alias("b1"),
        (
            (F.col("sy").cast("double") - b1 * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("b0"),
    )
    scored = (
        base.filter(F.col("fold") == 9)
        .crossJoin(F.broadcast(coefs))
        .select(
            "k",
            "n",
            F.round((F.col("y") - (F.col("b0") + F.col("b1") * F.col("x"))) / 100)
            .cast("long")
            .alias("rc"),
        )
    )
    return (
        scored.groupBy("k")
        .agg(
            F.any_value("n").alias("n_train"),
            F.count("*").cast("long").alias("n_test"),
            F.round(
                F.sqrt(F.sum(F.col("rc") * F.col("rc")).cast("double") / F.count("*")),
                4,
            ).alias("test_rmse"),
        )
        .select(F.col("k").alias("train_tenths"), "n_train", "n_test", "test_rmse")
        .orderBy("train_tenths")
    )


# ---------------------------------------------------------------------------
# stat_did_promo_uplift — difference-in-differences: the causal-
# inference workhorse the A/B rows (paired effect, two-proportion z)
# don't cover. Treatment = promo-class parts, control = the rest;
# periods split at the timeline midpoint (deterministic integer epoch
# midpoint of order dates). DiD = (T_post − T_pre) − (C_post − C_pre)
# on mean unit revenue, cancelling both group-level and period-level
# confounds. ONE aggregation pass collects all four cells' exact
# integer (n, Σcents) sufficient statistics; the estimate is four
# deterministic quotients and three subtractions. Scale: one
# broadcast part join + one 4-cell map-side-combined groupBy.
# ---------------------------------------------------------------------------

DID_ORACLE = """
WITH bounds AS (
  SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
),
obs AS (
  SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treated,
         CASE WHEN datediff('day', b.lo, o.o_orderdate)
                   >= datediff('day', b.lo, b.hi) // 2 THEN 1 ELSE 0 END AS post,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  CROSS JOIN bounds b
),
cells AS (
  SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s
  FROM obs GROUP BY treated, post
),
wide AS (
  SELECT
    sum(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
    sum(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
    sum(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
    sum(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
    CAST(sum(n) AS BIGINT) AS n_total
  FROM cells
)
SELECT n_total,
       round(t_pre / 100, 2) AS treated_pre_mean,
       round(t_post / 100, 2) AS treated_post_mean,
       round(c_pre / 100, 2) AS control_pre_mean,
       round(c_post / 100, 2) AS control_post_mean,
       round(((t_post - t_pre) - (c_post - c_pre)) / 100, 4) AS did_estimate
FROM wide
"""


@register("stat_did_promo_uplift", DID_ORACLE)
def stat_did_promo_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey", "l_extendedprice"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_type"])
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    obs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .crossJoin(F.broadcast(bounds))
        .select(
            F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias("treated"),
            F.when(
                F.datediff("o_orderdate", "lo")
                >= F.expr("datediff(hi, lo) div 2"),
                1,
            )
            .otherwise(0)
            .alias("post"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    cells = obs.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").alias("s")
    )
    mean = F.col("s").cast("double") / F.col("n")
    wide = cells.agg(
        F.sum(F.when((F.col("treated") == 1) & (F.col("post") == 0), mean)).alias("t_pre"),
        F.sum(F.when((F.col("treated") == 1) & (F.col("post") == 1), mean)).alias("t_post"),
        F.sum(F.when((F.col("treated") == 0) & (F.col("post") == 0), mean)).alias("c_pre"),
        F.sum(F.when((F.col("treated") == 0) & (F.col("post") == 1), mean)).alias("c_post"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return wide.select(
        "n_total",
        F.round(F.col("t_pre") / 100, 2).alias("treated_pre_mean"),
        F.round(F.col("t_post") / 100, 2).alias("treated_post_mean"),
        F.round(F.col("c_pre") / 100, 2).alias("control_pre_mean"),
        F.round(F.col("c_post") / 100, 2).alias("control_post_mean"),
        F.round(
            ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")))
            / 100,
            4,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# stat_wasserstein_hi_lo — 1-D earth-mover (Wasserstein-1) distance
# between urgent/high vs normal order-value distributions: the
# INTEGRAL of |F_hi − F_lo| over the value axis, complementing the KS
# row's supremum with the mass-transport view (KS sees the worst
# point; W1 sees the total shift). Same value-collapsed machinery as
# stat_ks_two_sample: cross-multiplied integer ECDF gaps times the
# exact integer spacing to the next distinct value, summed as BIGINTs
# with ONE terminal division. BIGINT headroom: Σ|Δ|·gap ≤
# n_hi·n_lo·range ≈ 3e17 at sf0.1; beyond ~sf3 drop to 64-bit-safe
# per-segment partials. Scale: map-side value collapse, then the
# ordered walk rides DISTINCT VALUES only (two-phase prefix scan at
# 100 TB, as the KS row documents).
# ---------------------------------------------------------------------------

W1_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS hi
  FROM orders
),
tot AS (
  SELECT CAST(sum(hi) AS BIGINT) AS n_hi,
         CAST(sum(1 - hi) AS BIGINT) AS n_lo,
         CAST(max(cents) - min(cents) AS BIGINT) AS value_range
  FROM arms
),
by_val AS (
  SELECT cents, CAST(sum(hi) AS BIGINT) AS h, CAST(sum(1 - hi) AS BIGINT) AS l
  FROM arms GROUP BY cents
),
walked AS (
  SELECT cents,
         sum(h) OVER w AS c_hi,
         sum(l) OVER w AS c_lo,
         lead(cents) OVER (ORDER BY cents) AS next_cents
  FROM by_val
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
acc AS (
  SELECT CAST(sum(abs(c_hi * t.n_lo - c_lo * t.n_hi) * (next_cents - cents))
              AS BIGINT) AS num,
         any_value(t.n_hi) AS n_hi, any_value(t.n_lo) AS n_lo,
         any_value(t.value_range) AS value_range
  FROM walked CROSS JOIN tot t
  WHERE next_cents IS NOT NULL
)
SELECT n_hi, n_lo,
       round(CAST(num AS DOUBLE) / (n_hi * n_lo) / 100, 4) AS w1_dollars,
       round(CAST(num AS DOUBLE) / (n_hi * n_lo) / value_range, 6)
           AS w1_normalized
FROM acc
"""


@register("stat_wasserstein_hi_lo", W1_ORACLE)
def stat_wasserstein_hi_lo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    tot = arms.agg(
        F.sum("hi").cast("long").alias("n_hi"),
        F.sum(1 - F.col("hi")).cast("long").alias("n_lo"),
        (F.max("cents") - F.min("cents")).cast("long").alias("value_range"),
    )
    by_val = arms.groupBy("cents").agg(
        F.sum("hi").cast("long").alias("h"),
        F.sum(1 - F.col("hi")).cast("long").alias("l"),
    )
    # ECDF cums and the next distinct value, both bucketed
    # (functions/ranks): no window sorts the whole value relation.
    walked = cum_counts(
        with_next_value(by_val, "cents", 10_000), [], ["cents"], ["h", "l"], 10_000
    ).select(
        "cents",
        F.col("h_upto").alias("c_hi"),
        F.col("l_upto").alias("c_lo"),
        "next_cents",
    )
    acc = (
        walked.where(F.col("next_cents").isNotNull())
        .join(F.broadcast(tot))
        .agg(
            F.sum(
                F.abs(F.col("c_hi") * F.col("n_lo") - F.col("c_lo") * F.col("n_hi"))
                * (F.col("next_cents") - F.col("cents"))
            )
            .cast("long")
            .alias("num"),
            F.any_value("n_hi").alias("n_hi"),
            F.any_value("n_lo").alias("n_lo"),
            F.any_value("value_range").alias("value_range"),
        )
    )
    return acc.select(
        "n_hi",
        "n_lo",
        F.round(
            F.col("num").cast("double") / (F.col("n_hi") * F.col("n_lo")) / 100, 4
        ).alias("w1_dollars"),
        F.round(
            F.col("num").cast("double")
            / (F.col("n_hi") * F.col("n_lo"))
            / F.col("value_range"),
            6,
        ).alias("w1_normalized"),
    )


# ---------------------------------------------------------------------------
# stat_hellinger_segments — Hellinger distance + Bhattacharyya
# coefficient between the order-priority mix of two market segments:
# the bounded [0,1] distribution-distance pair that the KL/JS row
# can't provide (KL is unbounded and asymmetric). Each of the ≤5
# cells' √(p·q) contribution is quantized to an exact BIGINT
# (sqrt is IEEE-correctly-rounded on both engines, unlike ln/exp)
# before the tiny fold, so the sum is order-independent; H and the
# Bhattacharyya distance are terminal single-scalar expressions.
# Scale: one broadcast-dim join + one 5-cell contingency aggregation.
# ---------------------------------------------------------------------------

HELLINGER_ORACLE = """
WITH cells AS (
  SELECT o.o_orderpriority AS priority,
         CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY priority
),
tot AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb
  FROM cells
),
q AS (
  SELECT CAST(sum(CAST(round(1e12 * sqrt(CAST(n_a * n_b AS DOUBLE)
                                         / (t.na * t.nb))) AS BIGINT))
              AS BIGINT) AS bc_q,
         any_value(t.na) AS n_a_total, any_value(t.nb) AS n_b_total
  FROM cells CROSS JOIN tot t
)
SELECT n_a_total, n_b_total,
       round(bc_q / 1e12, 6) AS bc_coefficient,
       round(sqrt(1 - bc_q / 1e12), 6) AS hellinger,
       round(-ln(bc_q / 1e12), 6) AS bhattacharyya_distance
FROM q
"""


@register("stat_hellinger_segments", HELLINGER_ORACLE)
def stat_hellinger_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    cust = cust.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    cells = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    tot = cells.agg(
        F.sum("n_a").cast("long").alias("na"), F.sum("n_b").cast("long").alias("nb")
    )
    q = cells.join(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                F.lit(1e12)
                * F.sqrt(
                    (F.col("n_a") * F.col("n_b")).cast("double")
                    / (F.col("na") * F.col("nb"))
                )
            ).cast("long")
        )
        .cast("long")
        .alias("bc_q"),
        F.any_value("na").alias("n_a_total"),
        F.any_value("nb").alias("n_b_total"),
    )
    return q.select(
        "n_a_total",
        "n_b_total",
        F.round(F.col("bc_q") / 1e12, 6).alias("bc_coefficient"),
        F.round(F.sqrt(1 - F.col("bc_q") / 1e12), 6).alias("hellinger"),
        F.round(-F.log(F.col("bc_q") / 1e12), 6).alias("bhattacharyya_distance"),
    )


# ---------------------------------------------------------------------------
# stat_levene_brown_forsythe — Brown–Forsythe test (Levene with group
# MEDIANS) for variance homogeneity of line-item quantity across the
# three return flags: the gate in front of ANOVA, whose F assumes the
# variances this test checks. Quantity has a bounded integer domain
# (1..50), so EVERYTHING is exact: medians by integer rank selection
# over the (flag, qty, count) collapse, |x − med| deviations are
# integers, and the between/within sums of squares come from integer
# moments quantized to micro-units before the 3-row fold. Scale: one
# (flag, qty) map-side collapse — ≤150 cells regardless of table
# size; no per-row windows anywhere.
# ---------------------------------------------------------------------------

LEVENE_ORACLE = """
WITH vals AS (
  SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY flag, qty
),
spine AS (
  SELECT flag, qty, cnt,
         sum(cnt) OVER (PARTITION BY flag ORDER BY qty
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY flag) AS n_g
  FROM vals
),
med AS (
  SELECT flag, min(qty) AS med
  FROM spine WHERE cum >= (n_g + 1) // 2
  GROUP BY flag
),
g AS (
  SELECT v.flag,
         CAST(sum(v.cnt) AS BIGINT) AS n_g,
         CAST(sum(abs(v.qty - m.med) * v.cnt) AS BIGINT) AS s_g,
         CAST(sum(abs(v.qty - m.med) * abs(v.qty - m.med) * v.cnt) AS BIGINT) AS q_g,
         any_value(m.med) AS med
  FROM vals v JOIN med m ON v.flag = m.flag
  GROUP BY v.flag
),
folded AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(q_g) AS BIGINT) AS q,
         CAST(sum(CAST(round(1e6 * (CAST(s_g * s_g AS DOUBLE) / n_g)) AS BIGINT))
              AS BIGINT) AS t_micro,
         max(CASE WHEN flag = 'A' THEN med END) AS med_a,
         max(CASE WHEN flag = 'N' THEN med END) AS med_n,
         max(CASE WHEN flag = 'R' THEN med END) AS med_r
  FROM g
)
SELECT n AS n_total, med_a, med_n, med_r,
       CAST(2 AS BIGINT) AS df1, n - 3 AS df2,
       round(((n - 3) / 2.0)
             * ((t_micro - CAST(round(1e6 * (CAST(s * s AS DOUBLE) / n)) AS BIGINT))
                / CAST(1000000 * q - t_micro AS DOUBLE)), 6) AS w_statistic
FROM folded
"""


@register("stat_levene_brown_forsythe", LEVENE_ORACLE)
def stat_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_quantity"])
    vals = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("qty"),
    ).agg(F.count("*").cast("long").alias("cnt"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("flag")
    spine = vals.select(
        "flag",
        "qty",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_g"),
    )
    med = (
        spine.where(F.col("cum") >= F.expr("(n_g + 1) div 2"))
        .groupBy("flag")
        .agg(F.min("qty").alias("med"))
    )
    z = F.abs(F.col("qty") - F.col("med"))
    g = (
        vals.join(F.broadcast(med), "flag")
        .groupBy("flag")
        .agg(
            F.sum("cnt").cast("long").alias("n_g"),
            F.sum(z * F.col("cnt")).cast("long").alias("s_g"),
            F.sum(z * z * F.col("cnt")).cast("long").alias("q_g"),
            F.any_value("med").alias("med"),
        )
    )
    folded = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(
            F.round(
                F.lit(1e6) * ((F.col("s_g") * F.col("s_g")).cast("double") / F.col("n_g"))
            ).cast("long")
        )
        .cast("long")
        .alias("t_micro"),
        F.max(F.when(F.col("flag") == "A", F.col("med"))).alias("med_a"),
        F.max(F.when(F.col("flag") == "N", F.col("med"))).alias("med_n"),
        F.max(F.when(F.col("flag") == "R", F.col("med"))).alias("med_r"),
    )
    return folded.select(
        F.col("n").alias("n_total"),
        "med_a",
        "med_n",
        "med_r",
        F.lit(2).cast("long").alias("df1"),
        (F.col("n") - 3).alias("df2"),
        F.round(
            ((F.col("n") - 3) / F.lit(2.0))
            * (
                (
                    F.col("t_micro")
                    - F.round(
                        F.lit(1e6) * ((F.col("s") * F.col("s")).cast("double") / F.col("n"))
                    ).cast("long")
                )
                / (F.lit(1000000) * F.col("q") - F.col("t_micro")).cast("double")
            ),
            6,
        ).alias("w_statistic"),
    )


# ---------------------------------------------------------------------------
# stat_durbin_watson_daily — Durbin–Watson autocorrelation test on the
# residuals of the daily-revenue linear trend: the regression-
# diagnostics companion to Ljung–Box (which tests the raw series) —
# DW ≈ 2(1−ρ) of the DETRENDED series, the standard "are my OLS
# errors independent" gate. The trend fits by exact integer moments;
# the slope/intercept are pinned to integer MICRO-dollars, so every
# residual is an exact BIGINT (offset-shifted floor division keeps
# the deci-dollar quantization engine-identical for negatives), and
# both DW sums fold exact integers with one terminal quotient.
# Scale: calendar-bounded daily rollup (map-side combine); the lag
# window rides O(days).
# ---------------------------------------------------------------------------

DW_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS y
  FROM orders GROUP BY day
),
lo AS (SELECT min(day) AS d0 FROM daily),
xy AS (
  SELECT CAST(datediff('day', lo.d0, day) AS BIGINT) AS x, y, day
  FROM daily CROSS JOIN lo
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y) AS BIGINT) AS sy
  FROM xy
),
coef AS (
  SELECT n, sx, sy,
         CAST(round(1e6 * (CAST(n * sxy - sx * sy AS DOUBLE)
                           / (n * sxx - sx * sx))) AS BIGINT) AS b_micro
  FROM m
),
coef2 AS (
  SELECT b_micro,
         CAST(round(CAST(1000000 * sy - b_micro * sx AS DOUBLE) / n) AS BIGINT)
             AS a_micro
  FROM coef
),
resid AS (
  SELECT day,
         ((1000000 * y - a_micro - b_micro * x) + 1000000000000000) // 100000
             - 10000000000 AS e_deci
  FROM xy CROSS JOIN coef2
),
d AS (
  SELECT e_deci, lag(e_deci) OVER (ORDER BY day) AS e_prev FROM resid
),
s AS (
  SELECT CAST(sum(e_deci * e_deci) AS BIGINT) AS sse,
         CAST(sum(CASE WHEN e_prev IS NOT NULL
                       THEN (e_deci - e_prev) * (e_deci - e_prev) END)
              AS BIGINT) AS ssd,
         CAST(count(*) AS BIGINT) AS n_days
  FROM d
)
SELECT n_days,
       round(CAST(ssd AS DOUBLE) / sse, 6) AS dw_statistic,
       round(1 - CAST(ssd AS DOUBLE) / sse / 2, 6) AS rho_lag1
FROM s
"""


@register("stat_durbin_watson_daily", DW_ORACLE)
def stat_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("y")
    )
    lo = daily.agg(F.min("day").alias("d0"))
    xy = daily.crossJoin(F.broadcast(lo)).select(
        F.datediff(F.to_date("day"), F.to_date("d0")).cast("long").alias("x"),
        "y",
        "day",
    )
    m = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum("y").cast("long").alias("sy"),
    )
    coef = m.select(
        "n",
        "sx",
        "sy",
        F.round(
            F.lit(1e6)
            * (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            )
        )
        .cast("long")
        .alias("b_micro"),
    )
    coef2 = coef.select(
        "b_micro",
        F.round(
            (F.lit(1000000) * F.col("sy") - F.col("b_micro") * F.col("sx")).cast("double")
            / F.col("n")
        )
        .cast("long")
        .alias("a_micro"),
    )
    resid = xy.crossJoin(F.broadcast(coef2)).select(
        "day",
        F.expr(
            "((1000000 * y - a_micro - b_micro * x) + 1000000000000000) div 100000"
            " - 10000000000"
        ).alias("e_deci"),
    )
    wd = Window.orderBy("day")
    d = resid.select("e_deci", F.lag("e_deci").over(wd).alias("e_prev"))
    s = d.agg(
        F.sum(F.col("e_deci") * F.col("e_deci")).cast("long").alias("sse"),
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(),
                (F.col("e_deci") - F.col("e_prev")) * (F.col("e_deci") - F.col("e_prev")),
            )
        )
        .cast("long")
        .alias("ssd"),
        F.count("*").cast("long").alias("n_days"),
    )
    return s.select(
        "n_days",
        F.round(F.col("ssd").cast("double") / F.col("sse"), 6).alias("dw_statistic"),
        F.round(1 - F.col("ssd").cast("double") / F.col("sse") / 2, 6).alias("rho_lag1"),
    )


# ---------------------------------------------------------------------------
# stat_grubbs_daily_outlier — Grubbs' extreme-studentized-deviate
# statistic on daily revenue: WHICH day deviates most from the series
# mean, and by how many (n−1-denominator) standard deviations — the
# single-outlier test complementing the MAD/Hampel and Tukey rows
# (those census ALL outliers; Grubbs names the worst one with a test
# statistic). The argmax runs on |n·y − S| — an exact BIGINT — so the
# chosen day is engine-identical (earliest-date tiebreak); G is one
# terminal expression over exact integer moments. Scale: map-side
# daily rollup; argmax + moments in one pass over O(days).
# ---------------------------------------------------------------------------

GRUBBS_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS y
  FROM orders GROUP BY day
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(y * y) AS BIGINT) AS q
  FROM daily
),
dev AS (
  SELECT d.day, d.y, abs(m.n * d.y - m.s) AS num, m.n, m.s, m.q
  FROM daily d CROSS JOIN m
),
mx AS (SELECT max(num) AS max_num FROM dev),
one AS (
  SELECT d.* FROM dev d JOIN mx ON d.num = mx.max_num
  ORDER BY d.day LIMIT 1
)
SELECT n AS n_days, day AS outlier_day, y AS outlier_dollars,
       round((CAST(num AS DOUBLE) / n)
             / sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)), 6) AS g_statistic
FROM one
"""


@register("stat_grubbs_daily_outlier", GRUBBS_ORACLE)
def stat_grubbs_daily_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("y")
    )
    m = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "y",
        F.abs(F.col("n") * F.col("y") - F.col("s")).alias("num"),
        "n",
        "s",
        "q",
    )
    mx = dev.agg(F.max("num").alias("max_num"))
    one = (
        dev.join(F.broadcast(mx), dev.num == F.col("max_num"))
        .orderBy("day")
        .limit(1)
    )
    return one.select(
        F.col("n").alias("n_days"),
        F.col("day").alias("outlier_day"),
        F.col("y").alias("outlier_dollars"),
        F.round(
            (F.col("num").cast("double") / F.col("n"))
            / F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
            6,
        ).alias("g_statistic"),
    )


# ---------------------------------------------------------------------------
# ml_mcc_threshold_eval — full confusion-matrix evaluation (accuracy,
# precision, recall, F1, Matthews correlation) of the simplest
# decision rule — "order value above the global median ⇒ predict
# urgent" — closing the eval loop the PR-curve row opens: MCC is the
# single balanced scalar the kappa/F1 rows don't give (it uses all
# four cells symmetrically). The threshold is the exact integer
# lower-median by rank selection over the value-collapsed relation;
# all four cells are exact BIGINT counts; MCC's denominator
# multiplies the four √marginals (IEEE sqrt, engine-identical).
# Scale: value collapse + one conditional aggregation; no per-row
# window anywhere.
# ---------------------------------------------------------------------------

MCC_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
by_val AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM arms GROUP BY cents
),
walked AS (
  SELECT cents,
         sum(cnt) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS n
  FROM by_val
),
thr AS (SELECT min(cents) AS med FROM walked WHERE cum >= (n + 1) // 2),
conf AS (
  SELECT CAST(sum(CASE WHEN cents > t.med AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN cents > t.med AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN cents <= t.med AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN cents <= t.med AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM arms CROSS JOIN thr t
)
SELECT tp, fp, fn, tn,
       round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_pos,
       round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_pos,
       round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
       round(CAST(tp * tn - fp * fn AS DOUBLE)
             / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
                * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))),
             6) AS mcc
FROM conf
"""


@register("ml_mcc_threshold_eval", MCC_ORACLE)
def ml_mcc_threshold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    by_val = arms.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    walked = cum_counts(by_val, [], ["cents"], ["cnt"], 10_000).select(
        "cents", F.col("cnt_upto").alias("cum"), F.col("cnt_total").alias("n")
    )
    thr = walked.where(F.col("cum") >= F.expr("(n + 1) div 2")).agg(
        F.min("cents").alias("med")
    )
    conf = arms.crossJoin(F.broadcast(thr)).agg(
        F.sum(F.when((F.col("cents") > F.col("med")) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("cents") > F.col("med")) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("cents") <= F.col("med")) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("cents") <= F.col("med")) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    tot = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    return conf.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((F.col("tp") + F.col("tn")).cast("double") / tot, 6).alias("accuracy"),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6).alias(
            "precision_pos"
        ),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6).alias(
            "recall_pos"
        ),
        F.round(
            F.lit(2.0) * F.col("tp") / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
        F.round(
            (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast("double")
            / (
                F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
                * F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
                * F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
                * F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
            ),
            6,
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# ml_brier_calibration — Brier score + 10-bin reliability diagram for
# a rank-based pseudo-probability ("ECDF percentile of order value
# predicts urgency"): the CALIBRATION half of classifier eval that
# AUC/MCC (pure discrimination) can't see — a model can rank
# perfectly and still be miscalibrated. The score is an exact integer
# micro-probability from the value-collapsed ECDF (floor division,
# engine-identical); the Brier sum folds exact BIGINT squared errors
# (headroom ~sf5, then shard the fold); per-bin means are terminal
# divisions. Scale: value collapse + one rank-lookup equi-join + a
# 10-cell groupBy.
# ---------------------------------------------------------------------------

BRIER_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
by_val AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM arms GROUP BY cents
),
walked AS (
  SELECT cents,
         sum(cnt) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
             AS below,
         sum(cnt) OVER () AS n
  FROM by_val
),
scored AS (
  SELECT a.y, (w.below * 1000000) // (w.n - 1) AS s_micro
  FROM arms a JOIN walked w ON a.cents = w.cents
),
binned AS (
  SELECT CAST(CASE WHEN s_micro >= 1000000 THEN 9
              ELSE s_micro // 100000 END AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_bin,
         CAST(sum(s_micro) AS BIGINT) AS s_sum,
         CAST(sum(y) AS BIGINT) AS y_sum,
         CAST(sum((s_micro - y * 1000000) * (s_micro - y * 1000000)) AS BIGINT)
             AS b_sum
  FROM scored GROUP BY bin
),
tot AS (
  SELECT CAST(sum(b_sum) AS BIGINT) AS b_all, CAST(sum(n_bin) AS BIGINT) AS n_all
  FROM binned
)
SELECT bin, n_bin,
       round(CAST(s_sum AS DOUBLE) / n_bin / 1000000, 6) AS mean_predicted,
       round(CAST(y_sum AS DOUBLE) / n_bin, 6) AS observed_rate,
       round(CAST(t.b_all AS DOUBLE) / t.n_all / 1e12, 6) AS brier_score
FROM binned CROSS JOIN tot t
"""


@register("ml_brier_calibration", BRIER_ORACLE)
def ml_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    by_val = arms.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    walked = cum_counts(by_val, [], ["cents"], ["cnt"], 10_000).select(
        "cents", F.col("cnt_before").alias("below"), F.col("cnt_total").alias("n")
    )
    scored = arms.join(walked, "cents").select(
        "y", F.expr("(below * 1000000) div (n - 1)").alias("s_micro")
    )
    binned = scored.groupBy(
        F.when(F.col("s_micro") >= 1000000, F.lit(9).cast("long"))
        .otherwise(F.expr("s_micro div 100000"))
        .alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n_bin"),
        F.sum("s_micro").cast("long").alias("s_sum"),
        F.sum("y").cast("long").alias("y_sum"),
        F.sum(
            (F.col("s_micro") - F.col("y") * 1000000)
            * (F.col("s_micro") - F.col("y") * 1000000)
        )
        .cast("long")
        .alias("b_sum"),
    )
    tot = binned.agg(
        F.sum("b_sum").cast("long").alias("b_all"),
        F.sum("n_bin").cast("long").alias("n_all"),
    )
    return binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_bin",
        F.round(F.col("s_sum").cast("double") / F.col("n_bin") / 1000000, 6).alias(
            "mean_predicted"
        ),
        F.round(F.col("y_sum").cast("double") / F.col("n_bin"), 6).alias("observed_rate"),
        F.round(F.col("b_all").cast("double") / F.col("n_all") / 1e12, 6).alias(
            "brier_score"
        ),
    )


# ---------------------------------------------------------------------------
# stat_nelson_aalen_hazard — Nelson–Aalen cumulative-hazard estimator
# over the same customer-retention data as the Kaplan–Meier row: H(t)
# = Σ_{d≤t} events_d / risk_d, the additive companion KM's product-
# limit form (NA is what you difference to get hazard RATES, and its
# exp(−H) survival is the Fleming–Harrington estimate). Each
# duration's hazard increment is quantized to an exact BIGINT
# nano-unit, so the cumulative sum is an INTEGER window fold — even
# stronger ordering-safety than KM's ordered ln-sum — with exp only
# in the terminal display column. Scale: identical shape to KM — one
# per-customer rollup, windows over the O(distinct durations)
# relation.
# ---------------------------------------------------------------------------

NA_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(floor(date_diff('day', CAST(min(o_orderdate) AS DATE),
                              CAST(max(o_orderdate) AS DATE)) / 7.0) AS BIGINT)
             AS duration,
         CAST(max(o_orderdate) AS DATE) AS last_day
  FROM orders GROUP BY o_custkey
),
horizon AS (SELECT max(last_day) AS obs_end, count(*) AS n_total FROM per_cust),
flagged AS (
  SELECT p.duration,
         CASE WHEN p.last_day < h.obs_end - INTERVAL 90 DAY THEN 1 ELSE 0 END AS churned,
         h.n_total
  FROM per_cust p CROSS JOIN horizon h
),
per_dur AS (
  SELECT duration, n_total,
         CAST(count(*) AS BIGINT) AS n_leaving,
         CAST(sum(churned) AS BIGINT) AS n_events
  FROM flagged GROUP BY duration, n_total
),
risk AS (
  SELECT duration, n_leaving, n_events,
         n_total - CAST(coalesce(sum(n_leaving) OVER (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_risk
  FROM per_dur
),
na AS (
  SELECT duration, n_risk, n_events,
         CAST(sum(CAST(round(1e9 * n_events / n_risk) AS BIGINT))
              OVER (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS h_q
  FROM risk
)
SELECT duration AS duration_weeks, n_risk, n_events,
       round(h_q / 1e9, 6) AS cum_hazard,
       round(exp(-(h_q / 1e9)), 6) AS na_survival
FROM na
WHERE n_events > 0
ORDER BY duration_weeks
"""


@register("stat_nelson_aalen_hazard", NA_ORACLE)
def stat_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    per_cust = orders.groupBy("o_custkey").agg(
        F.floor(
            F.datediff(F.to_date(F.max("o_orderdate")), F.to_date(F.min("o_orderdate")))
            / 7.0
        )
        .cast("long")
        .alias("duration"),
        F.to_date(F.max("o_orderdate")).alias("last_day"),
    )
    horizon = per_cust.agg(
        F.max("last_day").alias("obs_end"), F.count("*").alias("n_total")
    )
    flagged = per_cust.crossJoin(F.broadcast(horizon)).select(
        "duration",
        F.when(F.col("last_day") < F.date_sub("obs_end", 90), 1)
        .otherwise(0)
        .alias("churned"),
        "n_total",
    )
    per_dur = flagged.groupBy("duration", "n_total").agg(
        F.count("*").cast("long").alias("n_leaving"),
        F.sum("churned").cast("long").alias("n_events"),
    )
    w_prev = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_dur.withColumn(
        "n_risk",
        F.col("n_total") - F.coalesce(F.sum("n_leaving").over(w_prev), F.lit(0)),
    )
    na = risk.withColumn(
        "h_q",
        F.sum(
            F.round(F.lit(1e9) * F.col("n_events") / F.col("n_risk")).cast("long")
        )
        .over(w_cum)
        .cast("long"),
    )
    return (
        na.filter(F.col("n_events") > 0)
        .select(
            F.col("duration").alias("duration_weeks"),
            "n_risk",
            "n_events",
            F.round(F.col("h_q") / 1e9, 6).alias("cum_hazard"),
            F.round(F.exp(-(F.col("h_q") / 1e9)), 6).alias("na_survival"),
        )
        .orderBy("duration_weeks")
    )


# ---------------------------------------------------------------------------
# stat_kendall_tau_ordinal — Kendall's tau-b between order PRIORITY
# (ordinal 1..5) and order-value QUINTILE: the rank-correlation
# complement to Spearman that counts pair concordance — robust to any
# monotone transform and the standard choice for ordinal×ordinal
# association. Both variables are bucketed to a ≤5×5 contingency
# (priority from its digit; quintile by exact integer ECDF division),
# so concordant/discordant pair counts are exact BIGINT sums over a
# 25×25 cell cross join — NEVER per-observation pairs — and the tie
# corrections come from exact marginals; tau-b is one terminal
# expression. Scale: value collapse + one 25-cell contingency; the
# pair census cost is cells², independent of table size.
# ---------------------------------------------------------------------------

KENDALL_ORACLE = """
WITH arms AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pr,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
by_val AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM arms GROUP BY cents),
walked AS (
  SELECT cents,
         sum(cnt) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
             AS below,
         sum(cnt) OVER () AS n
  FROM by_val
),
cells AS (
  SELECT a.pr AS i, (w.below * 5) // w.n AS j, CAST(count(*) AS BIGINT) AS nij
  FROM arms a JOIN walked w ON a.cents = w.cents
  GROUP BY 1, 2
),
paircnt AS (
  SELECT
    CAST(sum(CASE WHEN b.i > a.i AND b.j > a.j THEN a.nij * b.nij ELSE 0 END)
         AS BIGINT) AS conc,
    CAST(sum(CASE WHEN b.i > a.i AND b.j < a.j THEN a.nij * b.nij ELSE 0 END)
         AS BIGINT) AS disc
  FROM cells a CROSS JOIN cells b
),
marg AS (
  SELECT (SELECT CAST(sum(nij) AS BIGINT) FROM cells) AS n,
         (SELECT CAST(sum(t * (t - 1)) AS BIGINT) // 2
          FROM (SELECT CAST(sum(nij) AS BIGINT) AS t FROM cells GROUP BY i)) AS n1,
         (SELECT CAST(sum(t * (t - 1)) AS BIGINT) // 2
          FROM (SELECT CAST(sum(nij) AS BIGINT) AS t FROM cells GROUP BY j)) AS n2
)
SELECT n, conc AS concordant, disc AS discordant,
       round((conc - disc)
             / (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE))
                * sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE))), 6) AS tau_b
FROM paircnt CROSS JOIN marg
"""


@register("stat_kendall_tau_ordinal", KENDALL_ORACLE)
def stat_kendall_tau_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    by_val = arms.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    walked = cum_counts(by_val, [], ["cents"], ["cnt"], 10_000).select(
        "cents", F.col("cnt_before").alias("below"), F.col("cnt_total").alias("n")
    )
    cells = (
        arms.join(walked, "cents")
        .groupBy(
            F.col("pr").alias("i"), F.expr("(below * 5) div n").alias("j")
        )
        .agg(F.count("*").cast("long").alias("nij"))
    )
    a = cells.select(
        F.col("i").alias("ai"), F.col("j").alias("aj"), F.col("nij").alias("an")
    )
    b = cells.select(
        F.col("i").alias("bi"), F.col("j").alias("bj"), F.col("nij").alias("bn")
    )
    paircnt = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when((F.col("bi") > F.col("ai")) & (F.col("bj") > F.col("aj")),
                   F.col("an") * F.col("bn")).otherwise(0)
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when((F.col("bi") > F.col("ai")) & (F.col("bj") < F.col("aj")),
                   F.col("an") * F.col("bn")).otherwise(0)
        )
        .cast("long")
        .alias("disc"),
    )
    marg_n = cells.agg(F.sum("nij").cast("long").alias("n"))
    marg_i = (
        cells.groupBy("i")
        .agg(F.sum("nij").cast("long").alias("t"))
        .agg(F.expr("CAST(sum(t * (t - 1)) AS BIGINT) div 2").alias("n1"))
    )
    marg_j = (
        cells.groupBy("j")
        .agg(F.sum("nij").cast("long").alias("t"))
        .agg(F.expr("CAST(sum(t * (t - 1)) AS BIGINT) div 2").alias("n2"))
    )
    out = (
        paircnt.crossJoin(F.broadcast(marg_n))
        .crossJoin(F.broadcast(marg_i))
        .crossJoin(F.broadcast(marg_j))
    )
    n0 = F.expr("n * (n - 1) div 2")
    return out.select(
        "n",
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc"))
            / (
                F.sqrt((n0 - F.col("n1")).cast("double"))
                * F.sqrt((n0 - F.col("n2")).cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# agg_kmv_set_intersection — KMV sketch SET-INTERSECTION estimate
# (Beyer et al. 2007): customers with urgent/high orders (A) vs
# customers with returned lines (B). Each side keeps its k=64
# smallest portable sha-48 key hashes; the union sketch is the k
# smallest of K(A) ∪ K(B); the Jaccard estimator is the fraction of
# union-sketch members present in BOTH single-side sketches, and
# |A∩B| ≈ ρ · est(A∪B) — the set-operation algebra KMV buys that
# HLL's union-only merge cannot. Every sketch step is an integer
# order statistic on exact hashes, so the driver value-hashes the
# estimator itself; exact counts ride along for the error column.
# Scale: two key-rollup shuffles; every sketch is 64 ints, merged
# without touching the driver; at 100 TB swap the rank window for a
# per-scope top-k aggregate (same stance as the union row).
# ---------------------------------------------------------------------------

KMV_INTERSECT_ORACLE = f"""
WITH flags AS (
  SELECT o.o_custkey AS ck,
         CAST(max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
         CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS in_b
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_custkey
),
h AS (
  SELECT ck, in_a, in_b, {_sha48_sql("CAST(ck AS VARCHAR)")} AS hv FROM flags
),
ka AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h WHERE in_a = 1
  ) WHERE rn <= {_KMV_K}
),
kb AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h WHERE in_b = 1
  ) WHERE rn <= {_KMV_K}
),
ku AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn
    FROM (SELECT hv FROM ka UNION SELECT hv FROM kb)
  ) WHERE rn <= {_KMV_K}
),
stats AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM h WHERE in_a = 1) AS n_a,
    (SELECT CAST(count(*) AS BIGINT) FROM h WHERE in_b = 1) AS n_b,
    (SELECT CAST(count(*) AS BIGINT) FROM h WHERE in_a = 1 AND in_b = 1)
        AS n_inter,
    (SELECT max(hv) FROM ka) AS hk_a,
    (SELECT max(hv) FROM kb) AS hk_b,
    (SELECT max(hv) FROM ku) AS hk_u,
    (SELECT CAST(count(*) AS BIGINT) FROM ku
     WHERE hv IN (SELECT hv FROM ka) AND hv IN (SELECT hv FROM kb)) AS rho_num
)
SELECT n_a AS n_a_exact, n_b AS n_b_exact, n_inter AS n_inter_exact,
       round(({_KMV_K} - 1) * {float(_KMV_DOMAIN)} / hk_a, 2) AS est_a,
       round(({_KMV_K} - 1) * {float(_KMV_DOMAIN)} / hk_b, 2) AS est_b,
       round(({_KMV_K} - 1) * {float(_KMV_DOMAIN)} / hk_u, 2) AS est_union,
       rho_num,
       round(rho_num * (({_KMV_K} - 1) * {float(_KMV_DOMAIN)} / hk_u)
             / {_KMV_K}, 2) AS est_intersection
FROM stats
"""


@register("agg_kmv_set_intersection", KMV_INTERSECT_ORACLE)
def agg_kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderpriority"]
    )
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    flags = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max(
                F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
            )
            .cast("long")
            .alias("in_a"),
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("in_b"),
        )
    )
    h = flags.select(
        "ck", "in_a", "in_b", _sha48(F.col("ck").cast("string")).alias("hv")
    ).localCheckpoint(eager=True)  # reused by both sketches + exact counts

    def sketch(side):
        w = Window.orderBy("hv")
        return (
            h.where(F.col(side) == 1)
            .select("hv")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _KMV_K)
            .select("hv")
        )

    ka, kb = sketch("in_a"), sketch("in_b")
    ku = (
        ka.union(kb)
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .where(F.col("rn") <= _KMV_K)
        .select("hv")
    )
    exact = h.agg(
        F.sum(F.col("in_a")).cast("long").alias("n_a"),
        F.sum(F.col("in_b")).cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
    )
    hk_a = ka.agg(F.max("hv").alias("hk_a"))
    hk_b = kb.agg(F.max("hv").alias("hk_b"))
    hk_u = ku.agg(F.max("hv").alias("hk_u"))
    rho = (
        ku.join(ka.withColumnRenamed("hv", "hv_a"), ku.hv == F.col("hv_a"))
        .join(kb.withColumnRenamed("hv", "hv_b"), F.col("hv") == F.col("hv_b"))
        .agg(F.count("*").cast("long").alias("rho_num"))
    )
    out = (
        exact.crossJoin(F.broadcast(hk_a))
        .crossJoin(F.broadcast(hk_b))
        .crossJoin(F.broadcast(hk_u))
        .crossJoin(F.broadcast(rho))
    )
    est = lambda c: F.round(F.lit(_KMV_K - 1) * F.lit(float(_KMV_DOMAIN)) / F.col(c), 2)
    return out.select(
        F.col("n_a").alias("n_a_exact"),
        F.col("n_b").alias("n_b_exact"),
        F.col("n_inter").alias("n_inter_exact"),
        est("hk_a").alias("est_a"),
        est("hk_b").alias("est_b"),
        est("hk_u").alias("est_union"),
        "rho_num",
        F.round(
            F.col("rho_num")
            * (F.lit(_KMV_K - 1) * F.lit(float(_KMV_DOMAIN)) / F.col("hk_u"))
            / F.lit(_KMV_K),
            2,
        ).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# stat_theil_inequality — Theil T and Theil L (mean-log-deviation)
# inequality indices of order values: the information-theoretic
# complement to the Gini row — Theil decomposes additively across
# subgroups (Gini does not), and T vs L weight the top vs bottom of
# the distribution differently. Both need Σ x·ln x and Σ ln x, which
# ride the value-collapsed relation with per-distinct-value ln
# quantized to BIGINT ten-thousandths — sums fold exactly (headroom
# to ~sf10, then shard the fold); ln(mean) is one terminal scalar.
# Scale: one value collapse, no windows at all.
# ---------------------------------------------------------------------------

THEIL_ORACLE = """
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
),
q AS (
  SELECT v, cnt, CAST(round(1e4 * ln(CAST(v AS DOUBLE))) AS BIGINT) AS lq
  FROM vals
),
m AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(v * cnt) AS BIGINT) AS s,
         CAST(sum(cnt * v * lq) AS BIGINT) AS sxlx,
         CAST(sum(cnt * lq) AS BIGINT) AS slx
  FROM q
)
SELECT n, round(CAST(s AS DOUBLE) / n, 2) AS mean_value,
       round(CAST(sxlx AS DOUBLE) / (CAST(s AS DOUBLE) * 1e4)
             - ln(CAST(s AS DOUBLE) / n), 6) AS theil_t,
       round(ln(CAST(s AS DOUBLE) / n)
             - CAST(slx AS DOUBLE) / (CAST(n AS DOUBLE) * 1e4), 6) AS theil_l
FROM m
"""


@register("stat_theil_inequality", THEIL_ORACLE)
def stat_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    vals = orders.groupBy(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    q = vals.select(
        "v",
        "cnt",
        F.round(F.lit(1e4) * F.log(F.col("v").cast("double"))).cast("long").alias("lq"),
    )
    m = q.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("cnt")).cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("v") * F.col("lq")).cast("long").alias("sxlx"),
        F.sum(F.col("cnt") * F.col("lq")).cast("long").alias("slx"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    return m.select(
        "n",
        F.round(mean, 2).alias("mean_value"),
        F.round(
            F.col("sxlx").cast("double") / (F.col("s").cast("double") * 1e4)
            - F.log(mean),
            6,
        ).alias("theil_t"),
        F.round(
            F.log(mean) - F.col("slx").cast("double") / (F.col("n").cast("double") * 1e4),
            6,
        ).alias("theil_l"),
    )


# ---------------------------------------------------------------------------
# stat_effect_sizes_urgency — standardized effect sizes (Cohen's d,
# Hedges' g, Glass's Δ) for the urgent-vs-normal order-value
# difference: the MAGNITUDE companion to the Welch-t row — a
# trillion-row table makes any difference "significant", so the
# curation decision rides the effect size, not the p-value. All three
# derive from the same exact integer (n, Σ, Σ²) moments per arm in
# ONE conditional aggregation; the pooled/control SDs and the
# small-sample correction are terminal expressions. Mean difference
# stays EXACT cents; the SD moments use KILO-DOLLAR units (r10
# headroom audit: cent squares summed past int64 at sf0.1 — kilo-
# dollar squares are safe to ~2.5e13 rows/arm, and the standardized
# effect sizes are unit-invariant ratios of kilo-dollar moments).
# Scale: one map-side-combined aggregation, nothing else.
# ---------------------------------------------------------------------------

EFFECT_ORACLE = """
WITH arms AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS hi,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(round(o_totalprice / 1000) AS BIGINT) AS kd
  FROM orders
),
m AS (
  SELECT CAST(sum(hi) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN hi = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN hi = 1 THEN kd ELSE 0 END) AS BIGINT) AS k1,
         CAST(sum(CASE WHEN hi = 1 THEN kd * kd ELSE 0 END) AS BIGINT) AS q1,
         CAST(sum(1 - hi) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN hi = 0 THEN cents ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN hi = 0 THEN kd ELSE 0 END) AS BIGINT) AS k2,
         CAST(sum(CASE WHEN hi = 0 THEN kd * kd ELSE 0 END) AS BIGINT) AS q2
  FROM arms
),
d AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
         CAST(k1 AS DOUBLE) / n1 AS km1, CAST(k2 AS DOUBLE) / n2 AS km2,
         (q1 - CAST(k1 AS DOUBLE) * k1 / n1) / (n1 - 1) AS v1,
         (q2 - CAST(k2 AS DOUBLE) * k2 / n2) / (n2 - 1) AS v2
  FROM m
)
SELECT n1 AS n_urgent, n2 AS n_normal,
       round((m1 - m2) / 100, 2) AS mean_diff_dollars,
       round((km1 - km2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 6)
           AS cohens_d,
       round(((km1 - km2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)))
             * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
       round((km1 - km2) / sqrt(v2), 6) AS glass_delta
FROM d
"""


@register("stat_effect_sizes_urgency", EFFECT_ORACLE)
def stat_effect_sizes_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.round(F.col("o_totalprice") / 1000).cast("long").alias("kd"),
    )
    m = arms.agg(
        F.sum("hi").cast("long").alias("n1"),
        F.sum(F.when(F.col("hi") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("hi") == 1, F.col("kd")).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("hi") == 1, F.col("kd") * F.col("kd")).otherwise(0))
        .cast("long")
        .alias("q1"),
        F.sum(1 - F.col("hi")).cast("long").alias("n2"),
        F.sum(F.when(F.col("hi") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(F.when(F.col("hi") == 0, F.col("kd")).otherwise(0))
        .cast("long")
        .alias("k2"),
        F.sum(F.when(F.col("hi") == 0, F.col("kd") * F.col("kd")).otherwise(0))
        .cast("long")
        .alias("q2"),
    )
    d = m.select(
        "n1",
        "n2",
        (F.col("s1").cast("double") / F.col("n1")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2")).alias("m2"),
        (F.col("k1").cast("double") / F.col("n1")).alias("km1"),
        (F.col("k2").cast("double") / F.col("n2")).alias("km2"),
        (
            (F.col("q1") - F.col("k1").cast("double") * F.col("k1") / F.col("n1"))
            / (F.col("n1") - 1)
        ).alias("v1"),
        (
            (F.col("q2") - F.col("k2").cast("double") * F.col("k2") / F.col("n2"))
            / (F.col("n2") - 1)
        ).alias("v2"),
    )
    pooled_sd = F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2"))
        / (F.col("n1") + F.col("n2") - 2)
    )
    cohens = (F.col("km1") - F.col("km2")) / pooled_sd
    return d.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_normal"),
        F.round((F.col("m1") - F.col("m2")) / 100, 2).alias("mean_diff_dollars"),
        F.round(cohens, 6).alias("cohens_d"),
        F.round(
            cohens * (1 - F.lit(3.0) / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
        F.round((F.col("km1") - F.col("km2")) / F.sqrt(F.col("v2")), 6).alias(
            "glass_delta"
        ),
    )


# ---------------------------------------------------------------------------
# stat_power_sample_size — experiment-design power analysis: for every
# market-segment pair, the per-arm sample size needed to detect the
# OBSERVED urgent-rate difference at α=0.05 (two-sided) with 80% and
# 90% power — n = (z_{α/2}+z_β)²(p₁q₁+p₂q₂)/(p₁−p₂)², the planning
# number a data team computes BEFORE the two-proportion z-test row
# can be trusted. Rates come from exact integer counts; equal-rate
# pairs are excluded by an integer cross-multiplication (no float
# equality); z constants are fixed literals; ceil of the shared
# double expression is engine-identical. Scale: one segment rollup;
# the pair grid is segments², never rows.
# ---------------------------------------------------------------------------

_Z_A2 = 1.959963984540054   # Phi^-1(0.975)
_Z_80 = 0.8416212335729143  # Phi^-1(0.80)
_Z_90 = 1.2815515655446004  # Phi^-1(0.90)

POWER_ORACLE = f"""
WITH seg AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
pairs AS (
  SELECT a.segment AS seg_a, b.segment AS seg_b,
         a.s AS sa, a.n AS na, b.s AS sb, b.n AS nb
  FROM seg a JOIN seg b ON a.segment < b.segment
  WHERE a.s * b.n <> b.s * a.n
),
rates AS (
  SELECT seg_a, seg_b,
         CAST(sa AS DOUBLE) / na AS pa, CAST(sb AS DOUBLE) / nb AS pb
  FROM pairs
)
SELECT seg_a, seg_b,
       round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
       CAST(ceiling(({_Z_A2} + {_Z_80}) * ({_Z_A2} + {_Z_80})
            * (pa * (1 - pa) + pb * (1 - pb)) / ((pa - pb) * (pa - pb)))
           AS BIGINT) AS n80_per_arm,
       CAST(ceiling(({_Z_A2} + {_Z_90}) * ({_Z_A2} + {_Z_90})
            * (pa * (1 - pa) + pb * (1 - pb)) / ((pa - pb) * (pa - pb)))
           AS BIGINT) AS n90_per_arm
FROM rates
ORDER BY seg_a, seg_b
"""


@register("stat_power_sample_size", POWER_ORACLE)
def stat_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    seg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
            )
            .cast("long")
            .alias("s"),
        )
    )
    a = seg.select(
        F.col("segment").alias("seg_a"), F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = seg.select(
        F.col("segment").alias("seg_b"), F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("seg_a") < F.col("seg_b"))
        .where(F.col("sa") * F.col("nb") != F.col("sb") * F.col("na"))
    )
    pa = F.col("sa").cast("double") / F.col("na")
    pb = F.col("sb").cast("double") / F.col("nb")
    rates = pairs.select("seg_a", "seg_b", pa.alias("pa"), pb.alias("pb"))

    def n_arm(z2: float):
        return F.ceil(
            (F.lit(_Z_A2) + F.lit(z2))
            * (F.lit(_Z_A2) + F.lit(z2))
            * (F.col("pa") * (1 - F.col("pa")) + F.col("pb") * (1 - F.col("pb")))
            / ((F.col("pa") - F.col("pb")) * (F.col("pa") - F.col("pb")))
        ).cast("long")

    return rates.select(
        "seg_a",
        "seg_b",
        F.round("pa", 6).alias("rate_a"),
        F.round("pb", 6).alias("rate_b"),
        n_arm(_Z_80).alias("n80_per_arm"),
        n_arm(_Z_90).alias("n90_per_arm"),
    ).orderBy("seg_a", "seg_b")


# ---------------------------------------------------------------------------
# stat_bayesian_ab_urgency — Bayesian A/B readout for every segment
# pair: with Beta(1,1) priors on urgent rates, P(rate_A > rate_B)
# under the normal approximation of the Beta posteriors — the
# decision-ready probability a frequentist z-test (significant
# yes/no) never gives. Posterior moments are exact-integer-derived
# doubles; Φ comes from the Abramowitz–Stegun 7.1.26 erfc polynomial
# as ONE SHARED EXPRESSION TEXT evaluated by both engines (the Cramer
# shared-text pattern), so the sole libm call (exp) is a terminal
# per-pair scalar under round(6). Scale: one segment rollup; the
# pair grid is segments², never rows.
# ---------------------------------------------------------------------------

# Phi(d) via A&S 7.1.26 on x = |d|/sqrt(2); shared text, column `d`.
_PHI_SHARED = (
    "CASE WHEN d >= 0 THEN 1.0 - 0.5 * ({e}) ELSE 0.5 * ({e}) END".format(
        e=(
            "(0.254829592 * tt - 0.284496736 * tt * tt"
            " + 1.421413741 * tt * tt * tt"
            " - 1.453152027 * tt * tt * tt * tt"
            " + 1.061405429 * tt * tt * tt * tt * tt)"
            " * exp(-(abs(d) / 1.4142135623730951)"
            " * (abs(d) / 1.4142135623730951))"
        ).replace("tt", "(1.0 / (1.0 + 0.3275911 * (abs(d) / 1.4142135623730951)))")
    )
)

BAYES_AB_ORACLE = f"""
WITH seg AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
pairs AS (
  SELECT a.segment AS seg_a, b.segment AS seg_b,
         a.s + 1 AS aa, a.n - a.s + 1 AS ab,
         b.s + 1 AS ba, b.n - b.s + 1 AS bb
  FROM seg a JOIN seg b ON a.segment < b.segment
),
moments AS (
  SELECT seg_a, seg_b,
         CAST(aa AS DOUBLE) / (aa + ab) AS ma,
         CAST(ba AS DOUBLE) / (ba + bb) AS mb,
         CAST(aa AS DOUBLE) * ab
             / ((CAST(aa + ab AS DOUBLE)) * (aa + ab) * (aa + ab + 1)) AS va,
         CAST(ba AS DOUBLE) * bb
             / ((CAST(ba + bb AS DOUBLE)) * (ba + bb) * (ba + bb + 1)) AS vb
  FROM pairs
),
scored AS (
  SELECT seg_a, seg_b, ma, mb,
         (ma - mb) / sqrt(va + vb) AS d
  FROM moments
)
SELECT seg_a, seg_b,
       round(ma, 6) AS posterior_mean_a,
       round(mb, 6) AS posterior_mean_b,
       round(d, 4) AS z_distance,
       round({_PHI_SHARED}, 6) AS prob_a_beats_b
FROM scored
ORDER BY seg_a, seg_b
"""


@register("stat_bayesian_ab_urgency", BAYES_AB_ORACLE)
def stat_bayesian_ab_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B comparison of urgent-order rates: Beta-posterior summaries per segment from exact conversion counts."""
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    seg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
            )
            .cast("long")
            .alias("s"),
        )
    )
    a = seg.select(
        F.col("segment").alias("seg_a"),
        (F.col("s") + 1).alias("aa"),
        (F.col("n") - F.col("s") + 1).alias("ab"),
    )
    b = seg.select(
        F.col("segment").alias("seg_b"),
        (F.col("s") + 1).alias("ba"),
        (F.col("n") - F.col("s") + 1).alias("bb"),
    )
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("seg_a") < F.col("seg_b"))
    moments = pairs.select(
        "seg_a",
        "seg_b",
        (F.col("aa").cast("double") / (F.col("aa") + F.col("ab"))).alias("ma"),
        (F.col("ba").cast("double") / (F.col("ba") + F.col("bb"))).alias("mb"),
        (
            F.col("aa").cast("double")
            * F.col("ab")
            / (
                (F.col("aa") + F.col("ab")).cast("double")
                * (F.col("aa") + F.col("ab"))
                * (F.col("aa") + F.col("ab") + 1)
            )
        ).alias("va"),
        (
            F.col("ba").cast("double")
            * F.col("bb")
            / (
                (F.col("ba") + F.col("bb")).cast("double")
                * (F.col("ba") + F.col("bb"))
                * (F.col("ba") + F.col("bb") + 1)
            )
        ).alias("vb"),
    )
    scored = moments.select(
        "seg_a",
        "seg_b",
        "ma",
        "mb",
        ((F.col("ma") - F.col("mb")) / F.sqrt(F.col("va") + F.col("vb"))).alias("d"),
    )
    return scored.select(
        "seg_a",
        "seg_b",
        F.round("ma", 6).alias("posterior_mean_a"),
        F.round("mb", 6).alias("posterior_mean_b"),
        F.round("d", 4).alias("z_distance"),
        F.round(F.expr(_PHI_SHARED), 6).alias("prob_a_beats_b"),
    ).orderBy("seg_a", "seg_b")


# ---------------------------------------------------------------------------
# stat_qlr_structural_break — Quandt likelihood-ratio (sup-F) test:
# the BEST single structural-break day of the daily-revenue linear
# trend, scanning every candidate split in the central 70% and taking
# the split whose two-regime fit most beats the pooled fit — the
# formal "did the process change, and WHEN" answer that CUSUM (drift
# alarm) and the runs test (randomness) don't localize. Every
# segment's SSE comes in closed form from PREFIX MOMENTS (one
# cumulative window over the daily rollup gives all 2·n candidate
# regressions — no per-split scans); prefix sums are exact BIGINTs,
# so each split's F is the same IEEE double on both engines and the
# argmax (earliest-day tiebreak) is engine-identical. Scale: one
# calendar-bounded window pass; the split scan is O(days), not
# O(days·rows).
# ---------------------------------------------------------------------------

QLR_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS y
  FROM orders GROUP BY day
),
lo AS (SELECT min(day) AS d0 FROM daily),
xy AS (
  SELECT day, CAST(datediff('day', lo.d0, day) AS BIGINT) AS x, y,
         row_number() OVER (ORDER BY day) AS rn
  FROM daily CROSS JOIN lo
),
pre AS (
  SELECT day, rn, x, y,
         CAST(sum(x) OVER w AS BIGINT) AS cx, CAST(sum(y) OVER w AS BIGINT) AS cy,
         CAST(sum(x * x) OVER w AS BIGINT) AS cxx,
         CAST(sum(x * y) OVER w AS BIGINT) AS cxy,
         CAST(sum(y * y) OVER w AS BIGINT) AS cyy
  FROM xy
  WINDOW w AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT CAST(max(rn) AS BIGINT) AS n, max(cx) AS tx, max(cy) AS ty,
         max(cxx) AS txx, max(cxy) AS txy, max(cyy) AS tyy
  FROM pre
),
splits AS (
  SELECT p.day, p.rn, t.n,
         (p.cyy - CAST(p.cy AS DOUBLE) * p.cy / p.rn
          - (p.cxy - CAST(p.cx AS DOUBLE) * p.cy / p.rn)
            * (p.cxy - CAST(p.cx AS DOUBLE) * p.cy / p.rn)
            / (p.cxx - CAST(p.cx AS DOUBLE) * p.cx / p.rn)) AS sse1,
         ((t.tyy - p.cyy)
          - CAST(t.ty - p.cy AS DOUBLE) * (t.ty - p.cy) / (t.n - p.rn)
          - ((t.txy - p.cxy)
             - CAST(t.tx - p.cx AS DOUBLE) * (t.ty - p.cy) / (t.n - p.rn))
            * ((t.txy - p.cxy)
               - CAST(t.tx - p.cx AS DOUBLE) * (t.ty - p.cy) / (t.n - p.rn))
            / ((t.txx - p.cxx)
               - CAST(t.tx - p.cx AS DOUBLE) * (t.tx - p.cx) / (t.n - p.rn))) AS sse2,
         (t.tyy - CAST(t.ty AS DOUBLE) * t.ty / t.n
          - (t.txy - CAST(t.tx AS DOUBLE) * t.ty / t.n)
            * (t.txy - CAST(t.tx AS DOUBLE) * t.ty / t.n)
            / (t.txx - CAST(t.tx AS DOUBLE) * t.tx / t.n)) AS ssep,
         (CAST(p.rn * p.cxy - p.cx * p.cy AS DOUBLE)
          / (p.rn * p.cxx - p.cx * p.cx)) AS slope1,
         (CAST((t.n - p.rn) * (t.txy - p.cxy)
               - (t.tx - p.cx) * (t.ty - p.cy) AS DOUBLE)
          / ((t.n - p.rn) * (t.txx - p.cxx)
             - (t.tx - p.cx) * (t.tx - p.cx))) AS slope2
  FROM pre p CROSS JOIN tot t
  WHERE p.rn >= CAST(ceil(0.15 * t.n) AS BIGINT)
    AND p.rn <= t.n - CAST(ceil(0.15 * t.n) AS BIGINT)
),
f AS (
  SELECT day, n, slope1, slope2,
         ((ssep - sse1 - sse2) / 2) / ((sse1 + sse2) / (n - 4)) AS f_stat
  FROM splits
),
best AS (SELECT max(f_stat) AS mf FROM f)
SELECT f.day AS break_day, f.n AS n_days, round(f.f_stat, 4) AS qlr_f,
       round(f.slope1, 6) AS slope_before, round(f.slope2, 6) AS slope_after
FROM f JOIN best ON f.f_stat = best.mf
ORDER BY f.day LIMIT 1
"""


@register("stat_qlr_structural_break", QLR_ORACLE)
def stat_qlr_structural_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("y")
    )
    lo = daily.agg(F.min("day").alias("d0"))
    w_rn = Window.orderBy("day")
    xy = daily.crossJoin(F.broadcast(lo)).select(
        "day",
        F.datediff(F.to_date("day"), F.to_date("d0")).cast("long").alias("x"),
        "y",
        F.row_number().over(w_rn).alias("rn"),
    )
    w_cum = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = xy.select(
        "day",
        "rn",
        F.sum("x").over(w_cum).cast("long").alias("cx"),
        F.sum("y").over(w_cum).cast("long").alias("cy"),
        F.sum(F.col("x") * F.col("x")).over(w_cum).cast("long").alias("cxx"),
        F.sum(F.col("x") * F.col("y")).over(w_cum).cast("long").alias("cxy"),
        F.sum(F.col("y") * F.col("y")).over(w_cum).cast("long").alias("cyy"),
    ).localCheckpoint(eager=True)  # feeds both the totals and the split scan
    tot = pre.agg(
        F.max("rn").cast("long").alias("n"),
        F.max("cx").alias("tx"),
        F.max("cy").alias("ty"),
        F.max("cxx").alias("txx"),
        F.max("cxy").alias("txy"),
        F.max("cyy").alias("tyy"),
    )

    def sse(n, sx, sy, sxx, sxy, syy):
        sxy_c = sxy - sx.cast("double") * sy / n
        return (
            syy
            - sy.cast("double") * sy / n
            - sxy_c * sxy_c / (sxx - sx.cast("double") * sx / n)
        )

    p, c = F.col, lambda a, b: F.col(a) - F.col(b)
    splits = (
        pre.crossJoin(F.broadcast(tot))
        .where(
            (p("rn") >= F.ceil(F.lit(0.15) * p("n")).cast("long"))
            & (p("rn") <= p("n") - F.ceil(F.lit(0.15) * p("n")).cast("long"))
        )
        .select(
            "day",
            "n",
            sse(p("rn"), p("cx"), p("cy"), p("cxx"), p("cxy"), p("cyy")).alias("sse1"),
            sse(
                p("n") - p("rn"),
                c("tx", "cx"),
                c("ty", "cy"),
                c("txx", "cxx"),
                c("txy", "cxy"),
                c("tyy", "cyy"),
            ).alias("sse2"),
            sse(p("n"), p("tx"), p("ty"), p("txx"), p("txy"), p("tyy")).alias("ssep"),
            (
                (p("rn") * p("cxy") - p("cx") * p("cy")).cast("double")
                / (p("rn") * p("cxx") - p("cx") * p("cx"))
            ).alias("slope1"),
            (
                (
                    (p("n") - p("rn")) * c("txy", "cxy")
                    - c("tx", "cx") * c("ty", "cy")
                ).cast("double")
                / (
                    (p("n") - p("rn")) * c("txx", "cxx")
                    - c("tx", "cx") * c("tx", "cx")
                )
            ).alias("slope2"),
        )
    )
    f = splits.select(
        "day",
        "n",
        "slope1",
        "slope2",
        (
            ((p("ssep") - p("sse1") - p("sse2")) / 2)
            / ((p("sse1") + p("sse2")) / (p("n") - 4))
        ).alias("f_stat"),
        # Materialized before the argmax self-join: constraint
        # inference would otherwise push the `f_stat = mf` predicate
        # BELOW the trim filter, evaluating the segment-SSE division
        # on rn=1 (zero x-variance) — an ANSI-mode crash on the
        # driver's vanilla session. O(days) rows, trivially cheap.
    ).localCheckpoint(eager=True)
    best = f.agg(F.max("f_stat").alias("mf"))
    return (
        f.join(F.broadcast(best), f.f_stat == F.col("mf"))
        .orderBy("day")
        .limit(1)
        .select(
            F.col("day").alias("break_day"),
            F.col("n").alias("n_days"),
            F.round("f_stat", 4).alias("qlr_f"),
            F.round("slope1", 6).alias("slope_before"),
            F.round("slope2", 6).alias("slope_after"),
        )
    )


# ---------------------------------------------------------------------------
# stat_lorenz_curve_deciles — the Lorenz curve behind the Gini row:
# cumulative income share at each population decile, with EXACT
# within-tie interpolation (rank cuts are integer divisions; the
# partial block at a cut contributes (r_k − cum_before)·v integer
# cents), so every curve point is a ratio of exact BIGINTs. The
# curve is what the Gini scalar integrates — needed to SEE where
# inequality lives (top-decile dominance vs broad spread). Scale:
# value collapse + one ordered walk over distinct values; 10 output
# rows.
# ---------------------------------------------------------------------------

LORENZ_ORACLE = """
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY v
),
walked AS (
  SELECT v, cnt,
         CAST(sum(cnt) OVER w AS BIGINT) - cnt AS cnt_before,
         CAST(sum(v * cnt) OVER w AS BIGINT) - v * cnt AS sum_before
  FROM vals
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(v * cnt) AS BIGINT) AS s
  FROM vals
),
deciles AS (SELECT CAST(unnest([1,2,3,4,5,6,7,8,9,10]) AS BIGINT) AS k),
cuts AS (SELECT k, (t.n * k) // 10 AS rk, t.n, t.s FROM deciles CROSS JOIN tot t),
pts AS (
  SELECT c.k, c.rk, c.n, c.s,
         max_by(w.sum_before + (c.rk - w.cnt_before) * w.v, w.v) AS cum_at_cut
  FROM cuts c JOIN walked w
    ON w.cnt_before < c.rk AND c.rk <= w.cnt_before + w.cnt
  GROUP BY c.k, c.rk, c.n, c.s
)
SELECT k AS decile, round(k / 10.0, 1) AS pop_share,
       round(CAST(cum_at_cut AS DOUBLE) / s, 6) AS income_share,
       round(k / 10.0 - CAST(cum_at_cut AS DOUBLE) / s, 6) AS lorenz_gap
FROM pts
ORDER BY decile
"""


@register("stat_lorenz_curve_deciles", LORENZ_ORACLE)
def stat_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    vals = orders.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    walked = cum_counts(
        vals.withColumn("vc", F.col("v") * F.col("cnt")), [], ["v"], ["cnt", "vc"], 10_000
    ).select(
        "v",
        "cnt",
        F.col("cnt_before").cast("long").alias("cnt_before"),
        F.col("vc_before").cast("long").alias("sum_before"),
    )
    tot = vals.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("cnt")).cast("long").alias("s"),
    )
    deciles = spark.createDataFrame([(k,) for k in range(1, 11)], "k long")
    cuts = deciles.crossJoin(F.broadcast(tot)).select(
        "k", F.expr("(n * k) div 10").alias("rk"), "n", "s"
    )
    pts = (
        cuts.join(
            walked,
            (walked.cnt_before < cuts.rk)
            & (cuts.rk <= walked.cnt_before + walked.cnt),
        )
        .groupBy("k", "rk", "n", "s")
        .agg(
            F.max_by(
                F.col("sum_before") + (F.col("rk") - F.col("cnt_before")) * F.col("v"),
                F.col("v"),
            ).alias("cum_at_cut")
        )
    )
    return pts.select(
        F.col("k").alias("decile"),
        F.round(F.col("k") / 10.0, 1).alias("pop_share"),
        F.round(F.col("cum_at_cut").cast("double") / F.col("s"), 6).alias("income_share"),
        F.round(
            F.col("k") / 10.0 - F.col("cum_at_cut").cast("double") / F.col("s"), 6
        ).alias("lorenz_gap"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# stat_mcnemar_paired — McNemar's test for paired binary outcomes on
# the SAME unit: per order, flag A = "any line was returned"
# (l_returnflag = 'R') vs flag B = "order fully shipped" (status 'F').
# The test uses only the discordant cells b (A and not B) and c (B and
# not A): chi2 = (b-c)^2/(b+c), plus the Edwards continuity-corrected
# variant — the standard before/after marginal-homogeneity check. All
# four cells are exact integer counts; the statistics are terminal
# divisions. Scale: one orderkey rollup + broadcast-joined flags, one
# global fold to a single row.
# ---------------------------------------------------------------------------

MCNEMAR_ORACLE = """
WITH a AS (
  SELECT l_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS fa
  FROM lineitem GROUP BY l_orderkey
),
pairs AS (
  SELECT a.fa, CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS fb
  FROM a JOIN orders o ON o.o_orderkey = a.l_orderkey
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(fa * (1 - fb)) AS BIGINT) AS b,
         CAST(sum((1 - fa) * fb) AS BIGINT) AS c
  FROM pairs
)
SELECT n AS n_pairs, b AS discordant_b, c AS discordant_c,
       round(pow(CAST(b - c AS DOUBLE), 2) / (b + c), 4) AS mcnemar_chi2,
       round(pow(abs(CAST(b - c AS DOUBLE)) - 1, 2) / (b + c), 4)
           AS mcnemar_corrected
FROM cells
WHERE b + c > 0
"""


@register("stat_mcnemar_paired", MCNEMAR_ORACLE)
def stat_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderstatus"])
    a = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("fa")
    )
    pairs = a.join(orders, a.l_orderkey == orders.o_orderkey).select(
        "fa", F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("fb")
    )
    cells = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("fa") * (1 - F.col("fb"))).cast("long").alias("b"),
        F.sum((1 - F.col("fa")) * F.col("fb")).cast("long").alias("c"),
    )
    bc = F.col("b") + F.col("c")
    diff = (F.col("b") - F.col("c")).cast("double")
    return cells.where(bc > 0).select(
        F.col("n").alias("n_pairs"),
        F.col("b").alias("discordant_b"),
        F.col("c").alias("discordant_c"),
        F.round(F.pow(diff, 2) / bc, 4).alias("mcnemar_chi2"),
        F.round(F.pow(F.abs(diff) - 1, 2) / bc, 4).alias("mcnemar_corrected"),
    )


# ---------------------------------------------------------------------------
# stat_cuped_adjustment — CUPED variance reduction for the events
# experiment surface: per user, X = pre-period spend (days 1-15 of
# the observation month), Y = post-period spend; theta = cov(X,Y) /
# var(X); the adjusted metric Y - theta*(X - Xbar) has variance
# var(Y)*(1 - rho^2) — the % of A/B-test variance the pre-period
# covariate removes. Values quantized to integer cents per row; all
# five moments exact BIGINT sums; rho/theta terminal doubles. Scale:
# one user-key rollup, one scalar fold.
# ---------------------------------------------------------------------------

CUPED_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN day(ts) <= 15
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN day(ts) > 15
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM per_user
)
SELECT n AS n_users,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6) AS theta,
       round(pow(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy, 2)
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
           AS rho_squared,
       round((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * n) / 1e4, 4) AS var_y,
       round((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * n) / 1e4
             * (1 - pow(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy, 2)
                    / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                       * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))), 4)
           AS var_y_adjusted
FROM m
WHERE n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
  AND n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy > 0
"""


@register("stat_cuped_adjustment", CUPED_ORACLE)
def stat_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        events.where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    m = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    rho2 = F.pow(cov, 2) / (vx * vy)
    return m.where((vx > 0) & (vy > 0)).select(
        F.col("n").alias("n_users"),
        F.round(cov / vx, 6).alias("theta"),
        F.round(rho2, 6).alias("rho_squared"),
        F.round(vy / (nd * F.col("n")) / 1e4, 4).alias("var_y"),
        F.round(vy / (nd * F.col("n")) / 1e4 * (1 - rho2), 4).alias("var_y_adjusted"),
    )


# ---------------------------------------------------------------------------
# stat_cochran_armitage_trend — the Cochran-Armitage test for a LINEAR
# trend in a binary outcome across ORDERED groups: does the return
# rate trend with order priority (scores 1..5 from the priority
# prefix)? T = sum w_i r_i with null expectation (R/N) sum w_i n_i and
# variance pbar(1-pbar)(sum w_i^2 n_i - (sum w_i n_i)^2 / N); chi2 =
# (T-E)^2/Var. Every sum is an exact BIGINT (scores are integers);
# the statistic is one terminal expression. The ordered complement to
# stat_chi2_priority_status, which ignores group order. Scale: one
# orderkey rollup + a 5-row fold.
# ---------------------------------------------------------------------------

COCHRAN_ARMITAGE_ORACLE = """
WITH flags AS (
  SELECT l_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
  FROM lineitem GROUP BY l_orderkey
),
g AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(f.ev) AS BIGINT) AS r_i
  FROM orders o JOIN flags f ON f.l_orderkey = o.o_orderkey
  GROUP BY w
),
s AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(r_i) AS BIGINT) AS r,
         CAST(sum(w * r_i) AS BIGINT) AS t,
         CAST(sum(w * n_i) AS BIGINT) AS wn,
         CAST(sum(w * w * n_i) AS BIGINT) AS wwn
  FROM g
)
SELECT n AS n_orders, r AS n_events,
       round((CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * wn / n), 4) AS trend_t,
       round(pow(CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * wn / n, 2)
             / ((CAST(r AS DOUBLE) / n) * (1 - CAST(r AS DOUBLE) / n)
                * (CAST(wwn AS DOUBLE) - CAST(wn AS DOUBLE) * wn / n)), 4)
           AS chi2_trend,
       CASE WHEN CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * wn / n > 0
            THEN 'increasing'
            WHEN CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * wn / n < 0
            THEN 'decreasing' ELSE 'flat' END AS direction
FROM s
WHERE r > 0 AND r < n
"""


@register("stat_cochran_armitage_trend", COCHRAN_ARMITAGE_ORACLE)
def stat_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"]
    )
    flags = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ev")
    )
    g = (
        orders.join(flags, orders.o_orderkey == flags.l_orderkey)
        .groupBy(F.substring("o_orderpriority", 1, 1).cast("long").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum("ev").cast("long").alias("r_i"),
        )
    )
    s = g.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("r_i")).cast("long").alias("t"),
        F.sum(F.col("w") * F.col("n_i")).cast("long").alias("wn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i")).cast("long").alias("wwn"),
    )
    td = F.col("t").cast("double")
    rd = F.col("r").cast("double")
    nd = F.col("n").cast("double")
    dev = td - rd * F.col("wn") / F.col("n")
    pbar = rd / F.col("n")
    var0 = pbar * (1 - pbar) * (
        F.col("wwn").cast("double") - F.col("wn").cast("double") * F.col("wn") / F.col("n")
    )
    return s.where((F.col("r") > 0) & (F.col("r") < F.col("n"))).select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_events"),
        F.round(dev, 4).alias("trend_t"),
        F.round(F.pow(dev, 2) / var0, 4).alias("chi2_trend"),
        F.when(dev > 0, "increasing")
        .when(dev < 0, "decreasing")
        .otherwise("flat")
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# stat_friedman_test — Friedman's rank test for k related treatments
# over n blocks: do the 5 market segments rank consistently across
# order years? Cells are the Buhlmann (segment, year) average-order
# values quantized to integer cents; within each balanced block the
# k treatments are ranked by (value, segment) row_number — cents
# quantization makes value ties virtually impossible and the segment
# tiebreak makes any residual tie engine-identical. chi2_F =
# 12/(nk(k+1)) * sum R_j^2 - 3n(k+1), all from exact BIGINT rank
# sums. Scale: one fact rollup to k x years cells.
# ---------------------------------------------------------------------------

FRIEDMAN_ORACLE = """
WITH cells0 AS (
  SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS yr,
         CAST(round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / count(*)) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY segment, yr
),
k AS (SELECT CAST(count(DISTINCT segment) AS BIGINT) AS k FROM cells0),
balanced AS (
  SELECT yr FROM cells0 CROSS JOIN k
  GROUP BY yr, k.k HAVING count(*) = any_value(k.k)
),
ranked AS (
  SELECT c.segment, c.yr,
         CAST(row_number() OVER (PARTITION BY c.yr ORDER BY c.x, c.segment)
              AS BIGINT) AS r
  FROM cells0 c JOIN balanced b ON b.yr = c.yr
),
rs AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r) AS BIGINT) AS rank_sum
  FROM ranked GROUP BY segment
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS kk, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(rank_sum * rank_sum) AS BIGINT) AS srr
  FROM rs
)
SELECT rs.segment, tot.n AS n_blocks, rs.rank_sum,
       round(CAST(rs.rank_sum AS DOUBLE) / tot.n, 4) AS mean_rank,
       round(12.0 / (tot.n * tot.kk * (tot.kk + 1)) * tot.srr
             - 3.0 * tot.n * (tot.kk + 1), 4) AS friedman_chi2
FROM rs CROSS JOIN tot
ORDER BY rs.segment
"""


@register("stat_friedman_test", FRIEDMAN_ORACLE)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    cells0 = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
                / F.count("*")
            )
            .cast("long")
            .alias("x")
        )
    )
    k = cells0.agg(F.countDistinct("segment").cast("long").alias("k"))
    balanced = (
        cells0.crossJoin(F.broadcast(k))
        .groupBy("yr", "k")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") == F.col("k"))
        .select("yr")
    )
    ranked = (
        cells0.join(F.broadcast(balanced), "yr")
        .select(
            "segment",
            "yr",
            F.row_number()
            .over(Window.partitionBy("yr").orderBy("x", "segment"))
            .cast("long")
            .alias("r"),
        )
    )
    rs = ranked.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r").cast("long").alias("rank_sum"),
    )
    tot = rs.agg(
        F.count("*").cast("long").alias("kk"),
        F.max("n").cast("long").alias("n_b"),
        F.sum(F.col("rank_sum") * F.col("rank_sum")).cast("long").alias("srr"),
    )
    return (
        rs.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("n_b").alias("n_blocks"),
            "rank_sum",
            F.round(F.col("rank_sum").cast("double") / F.col("n_b"), 4).alias(
                "mean_rank"
            ),
            F.round(
                F.lit(12.0)
                / (F.col("n_b") * F.col("kk") * (F.col("kk") + 1))
                * F.col("srr")
                - 3.0 * F.col("n_b") * (F.col("kk") + 1),
                4,
            ).alias("friedman_chi2"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# stat_wilson_ci — Wilson score 95% confidence interval for the
# per-segment return rate: the interval that behaves at small n and
# extreme p where the Wald interval collapses (the house standard for
# reporting rates off integer counts). Inputs are exact integer
# (events, trials); the interval is one closed-form expression with
# z = 1.96 pinned. Scale: one orderkey rollup + broadcast segment
# join + 5-row fold.
# ---------------------------------------------------------------------------

WILSON_ORACLE = """
WITH flags AS (
  SELECT l_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
  FROM lineitem GROUP BY l_orderkey
),
g AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(f.ev) AS BIGINT) AS x
  FROM flags f
  JOIN orders o ON o.o_orderkey = f.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY segment
)
SELECT segment, n AS n_orders, x AS n_returned,
       round(CAST(x AS DOUBLE) / n, 6) AS p_hat,
       round((CAST(x AS DOUBLE) / n + 1.9208 / n
              - 1.96 * sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n) / n
                            + 0.9604 / (CAST(n AS DOUBLE) * n)))
             / (1 + 3.8416 / n), 6) AS wilson_low,
       round((CAST(x AS DOUBLE) / n + 1.9208 / n
              + 1.96 * sqrt((CAST(x AS DOUBLE) / n) * (1 - CAST(x AS DOUBLE) / n) / n
                            + 0.9604 / (CAST(n AS DOUBLE) * n)))
             / (1 + 3.8416 / n), 6) AS wilson_high
FROM g
WHERE n > 0
ORDER BY segment
"""


@register("stat_wilson_ci", WILSON_ORACLE)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    flags = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ev")
    )
    g = (
        flags.join(orders, flags.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("ev").cast("long").alias("x"),
        )
    )
    p = F.col("x").cast("double") / F.col("n")
    nd = F.col("n").cast("double")
    half = F.lit(1.96) * F.sqrt(p * (1 - p) / F.col("n") + 0.9604 / (nd * F.col("n")))
    denom = 1 + 3.8416 / F.col("n")
    return g.where(F.col("n") > 0).select(
        "segment",
        F.col("n").alias("n_orders"),
        F.col("x").alias("n_returned"),
        F.round(p, 6).alias("p_hat"),
        F.round((p + 1.9208 / F.col("n") - half) / denom, 6).alias("wilson_low"),
        F.round((p + 1.9208 / F.col("n") + half) / denom, 6).alias("wilson_high"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# ml_lift_gains_table — the cumulative gains / lift table every
# targeting-model review reads: rank orders by a score (order value,
# the spend-propensity proxy) descending, cut into 10 exact-count
# deciles, and report per-decile event rate (returned orders),
# cumulative capture and cumulative lift vs the base rate. Deciles
# are assigned on the DISTINCT-score cumulative walk with ceil cuts
# (a tie block lands wholly in one decile — documented semantics, no
# raw-row ntile); every rate is a ratio of exact BIGINTs. Scale: the
# walk rides the distinct-cents relation; the final table is 10 rows.
# ---------------------------------------------------------------------------

LIFT_GAINS_ORACLE = """
WITH flags AS (
  SELECT l_orderkey, max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
  FROM lineitem GROUP BY l_orderkey
),
scored AS (
  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents, f.ev
  FROM orders o JOIN flags f ON f.l_orderkey = o.o_orderkey
),
dv AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS c, CAST(sum(ev) AS BIGINT) AS e
  FROM scored GROUP BY cents
),
walk AS (
  SELECT cents, c, e,
         CAST(sum(c) OVER (ORDER BY cents DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n,
         CAST(sum(e) OVER () AS BIGINT) AS etot
  FROM dv
),
decs AS (
  SELECT (cum * 10 + n - 1) // n AS decile, c, e, n, etot
  FROM walk
),
g AS (
  SELECT decile, CAST(max(n) AS BIGINT) AS n, CAST(max(etot) AS BIGINT) AS etot,
         CAST(sum(c) AS BIGINT) AS n_orders, CAST(sum(e) AS BIGINT) AS n_events
  FROM decs GROUP BY decile
),
cumg AS (
  SELECT decile, n, etot, n_orders, n_events,
         CAST(sum(n_orders) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         CAST(sum(n_events) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_e
  FROM g
)
SELECT CAST(decile AS BIGINT) AS decile, n_orders, n_events,
       round(CAST(n_events AS DOUBLE) / n_orders, 6) AS event_rate,
       round(CAST(cum_e AS DOUBLE) / etot, 6) AS cum_capture,
       round((CAST(cum_e AS DOUBLE) / cum_n) / (CAST(etot AS DOUBLE) / n), 4)
           AS cum_lift
FROM cumg
ORDER BY decile
"""


@register("ml_lift_gains_table", LIFT_GAINS_ORACLE)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"])
    flags = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ev")
    )
    scored = orders.join(flags, orders.o_orderkey == flags.l_orderkey).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"), "ev"
    )
    dv = scored.groupBy("cents").agg(
        F.count("*").cast("long").alias("c"), F.sum("ev").cast("long").alias("e")
    )
    # On the value-collapsed relation the descending INCLUSIVE cum is
    # n - ascending exclusive prefix.
    walk = cum_counts(dv, [], ["cents"], ["c", "e"], 10_000).select(
        "c",
        "e",
        (F.col("c_total") - F.col("c_before")).cast("long").alias("cum"),
        F.col("c_total").alias("n"),
        F.col("e_total").alias("etot"),
    )
    decs = walk.select(
        F.expr("(cum * 10 + n - 1) div n").alias("decile"), "c", "e", "n", "etot"
    )
    g = decs.groupBy("decile").agg(
        F.max("n").cast("long").alias("n"),
        F.max("etot").cast("long").alias("etot"),
        F.sum("c").cast("long").alias("n_orders"),
        F.sum("e").cast("long").alias("n_events"),
    )
    w_dec = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumg = g.select(
        "decile",
        "n",
        "etot",
        "n_orders",
        "n_events",
        F.sum("n_orders").over(w_dec).cast("long").alias("cum_n"),
        F.sum("n_events").over(w_dec).cast("long").alias("cum_e"),
    )
    return cumg.select(
        F.col("decile").cast("long").alias("decile"),
        "n_orders",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("n_orders"), 6).alias(
            "event_rate"
        ),
        F.round(F.col("cum_e").cast("double") / F.col("etot"), 6).alias("cum_capture"),
        F.round(
            (F.col("cum_e").cast("double") / F.col("cum_n"))
            / (F.col("etot").cast("double") / F.col("n")),
            4,
        ).alias("cum_lift"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# stat_meta_analysis_fixed_effect — inverse-variance fixed-effect
# meta-analysis over the per-segment urgency effects (the Welch-arm
# mean differences): pooled effect = sum(w_i d_i)/sum(w_i) with w =
# 1/se^2, 95% CI, Cochran's Q heterogeneity and I^2. Per-segment
# (w, w*d, w*d^2) are quantized to BIGINT micro-units BEFORE the
# cross-segment fold, so the pooled numbers are order-independent.
# The "do the segments agree" roll-up on top of
# stat_welch_ttest_segments. Scale: one segment rollup + a 5-row fold.
# ---------------------------------------------------------------------------

META_FIXED_ORACLE = """
WITH arms AS (
  SELECT c.c_mktsegment AS segment,
         count(*) FILTER (o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS n_hi,
         avg(o.o_totalprice) FILTER (o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS m_hi,
         var_samp(o.o_totalprice) FILTER (o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS v_hi,
         count(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS n_lo,
         avg(o.o_totalprice) FILTER (o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS m_lo,
         var_samp(o.o_totalprice) FILTER (o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS v_lo
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY segment
),
q AS (
  SELECT segment,
         CAST(round(1e9 / (v_hi / n_hi + v_lo / n_lo)) AS BIGINT) AS w_q,
         CAST(round((m_hi - m_lo) * 1e2) AS BIGINT) AS d_q
  FROM arms WHERE n_hi > 1 AND n_lo > 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(w_q) AS BIGINT) AS sw,
         CAST(sum(w_q * d_q) AS BIGINT) AS swd,
         CAST(sum(w_q * d_q * d_q) AS BIGINT) AS swdd
  FROM q
)
SELECT k AS n_studies,
       round(CAST(swd AS DOUBLE) / sw / 1e2, 4) AS pooled_effect,
       round(CAST(swd AS DOUBLE) / sw / 1e2
             - 1.96 / sqrt(CAST(sw AS DOUBLE) / 1e9), 4) AS ci_low,
       round(CAST(swd AS DOUBLE) / sw / 1e2
             + 1.96 / sqrt(CAST(sw AS DOUBLE) / 1e9), 4) AS ci_high,
       round((CAST(swdd AS DOUBLE)
              - CAST(swd AS DOUBLE) * swd / sw) / 1e9 / 1e4, 4) AS cochran_q,
       round(greatest(0.0, 1 - (k - 1)
             / ((CAST(swdd AS DOUBLE) - CAST(swd AS DOUBLE) * swd / sw)
                / 1e9 / 1e4)), 4) AS i_squared
FROM s
WHERE k > 1 AND sw > 0
"""


@register("stat_meta_analysis_fixed_effect", META_FIXED_ORACLE)
def stat_meta_analysis_fixed_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    arms = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.when(hi, 1)).alias("n_hi"),
            F.avg(F.when(hi, F.col("o_totalprice"))).alias("m_hi"),
            F.var_samp(F.when(hi, F.col("o_totalprice"))).alias("v_hi"),
            F.count(F.when(~hi, 1)).alias("n_lo"),
            F.avg(F.when(~hi, F.col("o_totalprice"))).alias("m_lo"),
            F.var_samp(F.when(~hi, F.col("o_totalprice"))).alias("v_lo"),
        )
    )
    q = arms.where((F.col("n_hi") > 1) & (F.col("n_lo") > 1)).select(
        "segment",
        F.round(1e9 / (F.col("v_hi") / F.col("n_hi") + F.col("v_lo") / F.col("n_lo")))
        .cast("long")
        .alias("w_q"),
        F.round((F.col("m_hi") - F.col("m_lo")) * 1e2).cast("long").alias("d_q"),
    )
    s = q.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("w_q").cast("long").alias("sw"),
        F.sum(F.col("w_q") * F.col("d_q")).cast("long").alias("swd"),
        F.sum(F.col("w_q") * F.col("d_q") * F.col("d_q")).cast("long").alias("swdd"),
    )
    pooled = F.col("swd").cast("double") / F.col("sw") / 1e2
    half = 1.96 / F.sqrt(F.col("sw").cast("double") / 1e9)
    qstat = (
        F.col("swdd").cast("double")
        - F.col("swd").cast("double") * F.col("swd") / F.col("sw")
    ) / 1e9 / 1e4
    return s.where((F.col("k") > 1) & (F.col("sw") > 0)).select(
        F.col("k").alias("n_studies"),
        F.round(pooled, 4).alias("pooled_effect"),
        F.round(pooled - half, 4).alias("ci_low"),
        F.round(pooled + half, 4).alias("ci_high"),
        F.round(qstat, 4).alias("cochran_q"),
        F.round(F.greatest(F.lit(0.0), 1 - (F.col("k") - 1) / qstat), 4).alias(
            "i_squared"
        ),
    )


# ---------------------------------------------------------------------------
# stat_anderson_darling_normal — Anderson-Darling normality test on
# the daily-revenue distribution, in the tie-aware closed form: with
# distinct values' rank blocks [a, b] (from the cumulative walk),
#   sum(2i-1) over a block  = b^2 - (a-1)^2            (= S1)
#   sum(2(n-i)+1) over it   = 2*n*c - S1               (= S2)
# so A^2 = -n - (1/n) * sum_v [S1*lnPhi(z_v) + S2*ln(1-Phi(z_v))],
# with Phi from the shared A&S 7.1.26 expression text (the Bayesian
# A/B pattern) and both log terms QUANTIZED to 1e9 BIGINTs per
# distinct value before the fold — the whole statistic is an exact
# integer sum with one terminal division. Reports the case-3
# small-sample adjustment and the 0.787 5% verdict. Scale: moments +
# a distinct-value walk on the calendar-bounded daily relation.
# ---------------------------------------------------------------------------

AD_NORMAL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS v
  FROM orders GROUP BY day
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM daily
),
dv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY v),
walk AS (
  SELECT v, c,
         CAST(sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS b
  FROM dv
),
z AS (
  SELECT w.v, w.c, w.b, w.b - w.c + 1 AS a, m.n,
         (w.v - CAST(m.s AS DOUBLE) / m.n)
             / sqrt((m.n * CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s)
                    / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS d
  FROM walk w CROSS JOIN m
),
ph AS (
  SELECT v, c, b, a, n,
         least(greatest({_PHI_SHARED}, 1e-15), 1.0 - 1e-15) AS phi
  FROM z
),
q AS (
  SELECT n,
         b * b - (a - 1) * (a - 1) AS s1,
         2 * n * c - (b * b - (a - 1) * (a - 1)) AS s2,
         CAST(round(1e9 * ln(phi)) AS BIGINT) AS l1,
         CAST(round(1e9 * ln(1.0 - phi)) AS BIGINT) AS l2
  FROM ph
),
t AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(sum(s1 * l1 + s2 * l2) AS BIGINT) AS acc
  FROM q GROUP BY n
)
SELECT n AS n_days,
       round(-CAST(n AS DOUBLE) - CAST(acc AS DOUBLE) / 1e9 / n, 4) AS ad_stat,
       round((-CAST(n AS DOUBLE) - CAST(acc AS DOUBLE) / 1e9 / n)
             * (1 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n)), 4)
           AS ad_adjusted,
       CASE WHEN (-CAST(n AS DOUBLE) - CAST(acc AS DOUBLE) / 1e9 / n)
                 * (1 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n)) > 0.787
            THEN 'reject' ELSE 'fail_to_reject' END AS normal_5pct
FROM t
"""


@register("stat_anderson_darling_normal", AD_NORMAL_ORACLE)
def stat_anderson_darling_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("v")
    )
    m = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    dv = daily.groupBy("v").agg(F.count("*").cast("long").alias("c"))
    walk = dv.select(
        "v",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
        .alias("b"),
    )
    nd = F.col("n").cast("double")
    sd = F.sqrt(
        (F.col("n") * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s"))
        / (nd * (F.col("n") - 1))
    )
    z = walk.crossJoin(F.broadcast(m)).select(
        "v",
        "c",
        "b",
        (F.col("b") - F.col("c") + 1).alias("a"),
        "n",
        ((F.col("v") - F.col("s").cast("double") / F.col("n")) / sd).alias("d"),
    )
    ph = z.select(
        "v",
        "c",
        "b",
        "a",
        "n",
        F.least(
            F.greatest(F.expr(_PHI_SHARED), F.lit(1e-15)), F.lit(1.0 - 1e-15)
        ).alias("phi"),
    )
    s1 = F.col("b") * F.col("b") - (F.col("a") - 1) * (F.col("a") - 1)
    q = ph.select(
        "n",
        s1.alias("s1"),
        (2 * F.col("n") * F.col("c") - s1).alias("s2"),
        F.round(F.lit(1e9) * F.log("phi")).cast("long").alias("l1"),
        F.round(F.lit(1e9) * F.log(1.0 - F.col("phi"))).cast("long").alias("l2"),
    )
    t = q.groupBy("n").agg(
        F.sum(F.col("s1") * F.col("l1") + F.col("s2") * F.col("l2"))
        .cast("long")
        .alias("acc")
    )
    nd2 = F.col("n").cast("double")
    a2 = -nd2 - F.col("acc").cast("double") / 1e9 / F.col("n")
    adj = a2 * (1 + 0.75 / F.col("n") + 2.25 / (nd2 * F.col("n")))
    return t.select(
        F.col("n").alias("n_days"),
        F.round(a2, 4).alias("ad_stat"),
        F.round(adj, 4).alias("ad_adjusted"),
        F.when(adj > 0.787, "reject").otherwise("fail_to_reject").alias("normal_5pct"),
    )


# ---------------------------------------------------------------------------
# stat_benford_second_digit — the second-significant-digit Benford
# screen (the forensic follow-up when the first-digit test passes but
# fabrication is still suspected; second digits include 0 and are
# near-uniform, so deviations are subtler). The digit is taken from
# the DECIMAL STRING of exact integer cents (substr, never
# floor(log10) — immune to float boundary hazards at powers of ten);
# expected probabilities sum log10(1 + 1/(10k+d)) over k = 1..9 as
# the same closed-form expression in both engines; chi-square folds
# per-digit quantized cells. Scale: one 10-cell rollup + a 9x10
# constant grid.
# ---------------------------------------------------------------------------

BENFORD2_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
  WHERE o_totalprice >= 0.10
),
obs AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 2, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM v GROUP BY digit
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
exp_p AS (
  SELECT d.d AS digit,
         CAST(sum(CAST(round(1e12 * ln(1.0 + 1.0 / (10 * k.k + d.d))
                             / ln(10.0)) AS BIGINT)) AS DOUBLE) / 1e12 AS p
  FROM (SELECT unnest(range(0, 10)) AS d) d
  CROSS JOIN (SELECT unnest(range(1, 10)) AS k) k
  GROUP BY d.d
),
cells AS (
  SELECT e.digit, coalesce(o.n_obs, 0) AS n_obs, e.p, t.n
  FROM exp_p e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
)
SELECT CAST(digit AS BIGINT) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
       round(p, 6) AS expected_p,
       round(CAST(n_obs AS DOUBLE) / n, 6) AS observed_p,
       round(pow(n_obs - n * p, 2) / (n * p), 4) AS chi2_term
FROM cells
ORDER BY digit
"""


@register("stat_benford_second_digit", BENFORD2_ORACLE)
def stat_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    v = orders.where(F.col("o_totalprice") >= 0.10).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    obs = v.groupBy(
        F.substring(F.col("cents").cast("string"), 2, 1).cast("long").alias("digit")
    ).agg(F.count("*").cast("long").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    digits = spark.range(0, 10).select(F.col("id").alias("digit"))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    exp_p = (
        digits.crossJoin(ks)
        .groupBy("digit")
        .agg(
            # per-term quantization: a 9-double sum is still a
            # distributed float fold whose order can move the hash
            (
                F.sum(
                    F.round(
                        F.lit(1e12)
                        * F.log(1.0 + 1.0 / (10 * F.col("k") + F.col("digit")))
                        / F.log(F.lit(10.0))
                    ).cast("long")
                ).cast("double")
                / 1e12
            ).alias("p")
        )
    )
    cells = (
        exp_p.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "p",
            "n",
        )
    )
    return cells.select(
        F.col("digit").cast("long").alias("digit"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round("p", 6).alias("expected_p"),
        F.round(F.col("n_obs").cast("double") / F.col("n"), 6).alias("observed_p"),
        F.round(
            F.pow(F.col("n_obs") - F.col("n") * F.col("p"), 2) / (F.col("n") * F.col("p")),
            4,
        ).alias("chi2_term"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# stat_g_test_independence — the likelihood-ratio G-test on the same
# (priority x status) contingency table as stat_chi2_priority_status:
# G = 2 * sum O * ln(O/E) — asymptotically chi-square but additive
# across partitions of the table (the property that makes it the
# log-linear modeling workhorse). Per-cell O*ln(O/E) terms are
# quantized to 1e6 BIGINTs before the fold; E comes from exact
# integer margins. Scale: one contingency rollup (~15 cells).
# ---------------------------------------------------------------------------

G_TEST_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY pri, st
),
margins AS (
  SELECT pri, st, o,
         CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT) AS rp,
         CAST(sum(o) OVER (PARTITION BY st) AS BIGINT) AS cs,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
),
terms AS (
  SELECT n,
         CAST(count(*) OVER () AS BIGINT) AS n_cells,
         CAST(round(1e6 * o * ln(CAST(o AS DOUBLE) * n
                                 / (CAST(rp AS DOUBLE) * cs))) AS BIGINT) AS t
  FROM margins WHERE o > 0
)
SELECT CAST(max(n) AS BIGINT) AS n_orders,
       CAST(max(n_cells) AS BIGINT) AS n_cells,
       round(2 * CAST(sum(t) AS BIGINT) / 1e6, 4) AS g_statistic
FROM terms
"""


@register("stat_g_test_independence", G_TEST_ORACLE)
def stat_g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderstatus"]
    )
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    ).agg(F.count("*").cast("long").alias("o"))
    margins = cells.select(
        "pri",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pri")).cast("long").alias("rp"),
        F.sum("o").over(Window.partitionBy("st")).cast("long").alias("cs"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    terms = margins.where(F.col("o") > 0).select(
        "n",
        F.count("*").over(Window.partitionBy()).cast("long").alias("n_cells"),
        F.round(
            F.lit(1e6)
            * F.col("o")
            * F.log(
                F.col("o").cast("double")
                * F.col("n")
                / (F.col("rp").cast("double") * F.col("cs"))
            )
        )
        .cast("long")
        .alias("t"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max("n_cells").cast("long").alias("n_cells"),
        F.round(2 * F.sum("t").cast("long") / 1e6, 4).alias("g_statistic"),
    )


# ---------------------------------------------------------------------------
# stat_runs_up_down — the runs-up-and-down randomness test on the
# daily revenue series (the turning-point complement to the
# above/below-median sign runs test): count maximal monotone runs of
# the first-difference sign; under randomness E[R] = (2n-1)/3,
# Var[R] = (16n-29)/90; z = (R - E)/sqrt(Var). Differences of exact
# integer dollars — ties (zero diffs) are dropped, the standard
# treatment. Scale: one lag window over the calendar-bounded daily
# relation + a scalar fold.
# ---------------------------------------------------------------------------

RUNS_UPDOWN_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS d
  FROM orders GROUP BY day
),
diffs AS (
  SELECT day,
         CASE WHEN d > lag(d) OVER (ORDER BY day) THEN 1
              WHEN d < lag(d) OVER (ORDER BY day) THEN -1 END AS s
  FROM daily
),
sgn AS (SELECT day, s FROM diffs WHERE s IS NOT NULL),
runs AS (
  SELECT s,
         CASE WHEN s <> lag(s) OVER (ORDER BY day)
                OR lag(s) OVER (ORDER BY day) IS NULL THEN 1 ELSE 0 END AS new_run
  FROM sgn
),
t AS (
  SELECT CAST(count(*) AS BIGINT) + 1 AS n,
         CAST(sum(new_run) AS BIGINT) AS r
  FROM runs
)
SELECT n AS n_days, r AS n_runs,
       round((2.0 * n - 1) / 3, 4) AS expected_runs,
       round((r - (2.0 * n - 1) / 3)
             / sqrt((16.0 * n - 29) / 90), 4) AS z_score
FROM t
"""


@register("stat_runs_up_down", RUNS_UPDOWN_ORACLE)
def stat_runs_up_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("d")
    )
    wd = Window.orderBy("day")
    diffs = daily.select(
        "day",
        F.when(F.col("d") > F.lag("d").over(wd), 1)
        .when(F.col("d") < F.lag("d").over(wd), -1)
        .alias("s"),
    )
    sgn = diffs.where(F.col("s").isNotNull())
    runs = sgn.select(
        "s",
        F.when(
            (F.col("s") != F.lag("s").over(wd)) | F.lag("s").over(wd).isNull(), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    t = runs.agg(
        (F.count("*").cast("long") + 1).alias("n"),
        F.sum("new_run").cast("long").alias("r"),
    )
    exp = (2.0 * F.col("n") - 1) / 3
    return t.select(
        F.col("n").alias("n_days"),
        F.col("r").alias("n_runs"),
        F.round(exp, 4).alias("expected_runs"),
        F.round((F.col("r") - exp) / F.sqrt((16.0 * F.col("n") - 29) / 90), 4).alias(
            "z_score"
        ),
    )


# ---------------------------------------------------------------------------
# stat_wilcoxon_signed_rank — paired nonparametric test: did
# per-customer spend shift between the first and second half of the
# calendar? Pairs are per-customer (first-half cents, second-half
# cents) for customers active in both; |d| ranks use the DOUBLED
# average-rank trick (2*cum_before + c + 1 on the distinct-|d| walk —
# exact integers even with ties, the Spearman pattern), so W+ folds
# as a BIGINT sum; the normal approximation z is one terminal
# expression (tie-variance correction documented as omitted — cents
# ties are rare). Scale: one customer rollup, one distinct-value walk.
# ---------------------------------------------------------------------------

WILCOXON_ORACLE = """
WITH span AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0, max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
),
mid AS (SELECT d0 + CAST(floor(date_diff('day', d0, d1) / 2) AS INTEGER) AS dm
        FROM span),
pc AS (
  SELECT o.o_custkey,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) <= m.dm
                       THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) > m.dm
                       THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM orders o CROSS JOIN mid m
  GROUP BY o.o_custkey
),
d AS (
  SELECT y - x AS diff, abs(y - x) AS ad
  FROM pc WHERE x > 0 AND y > 0 AND y <> x
),
dv AS (SELECT ad, CAST(count(*) AS BIGINT) AS c,
              CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
       FROM d GROUP BY ad),
walk AS (
  SELECT ad, c, pos,
         CAST(coalesce(sum(c) OVER (ORDER BY ad
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cb
  FROM dv
),
s AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(pos * (2 * cb + c + 1)) AS BIGINT) AS w2p
  FROM walk
)
SELECT n AS n_pairs,
       round(w2p / 2.0, 1) AS w_plus,
       round((w2p / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4)
             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24), 4)
           AS z_score
FROM s
WHERE n > 10
"""


@register("stat_wilcoxon_signed_rank", WILCOXON_ORACLE)
def stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    dd = orders.select(F.to_date("o_orderdate").alias("day"))
    span = dd.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    mid = span.select(
        F.expr("date_add(d0, CAST(floor(datediff(d1, d0) / 2) AS INT))").alias("dm")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    pc = (
        orders.crossJoin(F.broadcast(mid))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.to_date("o_orderdate") <= F.col("dm"), cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.to_date("o_orderdate") > F.col("dm"), cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    d = pc.where(
        (F.col("x") > 0) & (F.col("y") > 0) & (F.col("y") != F.col("x"))
    ).select(
        (F.col("y") - F.col("x")).alias("diff"),
        F.abs(F.col("y") - F.col("x")).alias("ad"),
    )
    dv = d.groupBy("ad").agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    walk = cum_counts(dv, [], ["ad"], ["c"], 10_000).select(
        "ad", "c", "pos", F.col("c_before").cast("long").alias("cb")
    )
    s = walk.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("pos") * (2 * F.col("cb") + F.col("c") + 1))
        .cast("long")
        .alias("w2p"),
    )
    nd = F.col("n").cast("double")
    wp = F.col("w2p") / 2.0
    return s.where(F.col("n") > 10).select(
        F.col("n").alias("n_pairs"),
        F.round(wp, 1).alias("w_plus"),
        F.round(
            (wp - nd * (F.col("n") + 1) / 4)
            / F.sqrt(nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24),
            4,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# stat_sign_test — the distribution-free companion on the same paired
# frame: counts of customers whose second-half spend rose vs fell
# (zero-differences dropped), exact binomial moments under H0
# p = 1/2, normal-approximation z with continuity correction. The
# coarser-but-assumption-free cross-check every Wilcoxon readout
# ships with. Scale: same customer rollup, one scalar fold.
# ---------------------------------------------------------------------------

SIGN_TEST_ORACLE = """
WITH span AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0, max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
),
mid AS (SELECT d0 + CAST(floor(date_diff('day', d0, d1) / 2) AS INTEGER) AS dm
        FROM span),
pc AS (
  SELECT o.o_custkey,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) <= m.dm
                       THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) > m.dm
                       THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM orders o CROSS JOIN mid m
  GROUP BY o.o_custkey
),
s AS (
  SELECT CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN y < x THEN 1 ELSE 0 END) AS BIGINT) AS n_down
  FROM pc WHERE x > 0 AND y > 0 AND y <> x
)
SELECT n_up, n_down, n_up + n_down AS n_pairs,
       round(CAST(n_up AS DOUBLE) / (n_up + n_down), 6) AS frac_up,
       round((abs(CAST(n_up AS DOUBLE) - CAST(n_up + n_down AS DOUBLE) / 2) - 0.5)
             / sqrt(CAST(n_up + n_down AS DOUBLE) / 4), 4) AS z_score
FROM s
WHERE n_up + n_down > 10
"""


@register("stat_sign_test", SIGN_TEST_ORACLE)
def stat_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    dd = orders.select(F.to_date("o_orderdate").alias("day"))
    span = dd.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    mid = span.select(
        F.expr("date_add(d0, CAST(floor(datediff(d1, d0) / 2) AS INT))").alias("dm")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    pc = (
        orders.crossJoin(F.broadcast(mid))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.to_date("o_orderdate") <= F.col("dm"), cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.to_date("o_orderdate") > F.col("dm"), cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    s = pc.where(
        (F.col("x") > 0) & (F.col("y") > 0) & (F.col("y") != F.col("x"))
    ).agg(
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("y") < F.col("x"), 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    nt = F.col("n_up") + F.col("n_down")
    return s.where(nt > 10).select(
        "n_up",
        "n_down",
        nt.alias("n_pairs"),
        F.round(F.col("n_up").cast("double") / nt, 6).alias("frac_up"),
        F.round(
            (F.abs(F.col("n_up").cast("double") - nt.cast("double") / 2) - 0.5)
            / F.sqrt(nt.cast("double") / 4),
            4,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# stat_cochran_q — Cochran's Q test for k related BINARY treatments:
# did the propensity to place an urgent-priority order change across
# calendar years, measured on the balanced panel of customers active
# (>= 1 order) in EVERY year? This completes the repeated-measures
# shelf: McNemar is its k=2 special case, Friedman its ordinal
# generalization. x_ij = 1 iff customer i placed an urgent/high order
# in year j; Q = (k-1)*(k*sum_j G_j^2 - T^2) / (k*T - sum_i R_i^2)
# ~ chi2(k-1) under H0. ENGINE PARITY: G_j, R_i, T and both quadratic
# folds are exact BIGINTs; Q is one terminal quotient (NULL if the
# degenerate all-0/all-k panel zeroes the denominator — nullif guard,
# ANSI-safe). Scale: one (customer, year) rollup with map-side
# combine; the panel filter is a customer-keyed groupBy; everything
# after runs on panel x years cells.
# ---------------------------------------------------------------------------

COCHRAN_Q_ORACLE = """
WITH o AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS urgent
  FROM orders
),
ny AS (SELECT CAST(count(DISTINCT yr) AS BIGINT) AS k FROM o),
cell AS (
  SELECT o_custkey, yr, CAST(max(urgent) AS BIGINT) AS x
  FROM o GROUP BY o_custkey, yr
),
panel AS (
  SELECT o_custkey FROM cell GROUP BY o_custkey
  HAVING count(*) = (SELECT k FROM ny)
),
px AS (SELECT c.o_custkey, c.yr, c.x FROM cell c JOIN panel p USING (o_custkey)),
rows_i AS (
  SELECT o_custkey, CAST(sum(x) AS BIGINT) AS r FROM px GROUP BY o_custkey
),
cols_j AS (SELECT yr, CAST(sum(x) AS BIGINT) AS g FROM px GROUP BY yr),
agg AS (
  SELECT (SELECT k FROM ny) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM rows_i) AS n_subjects,
         (SELECT CAST(sum(r) AS BIGINT) FROM rows_i) AS t,
         (SELECT CAST(sum(r * r) AS BIGINT) FROM rows_i) AS sum_r2,
         (SELECT CAST(sum(g * g) AS BIGINT) FROM cols_j) AS sum_g2
)
SELECT k AS k_years, n_subjects, t AS total_successes,
       round((k - 1) * CAST(k * sum_g2 - t * t AS DOUBLE)
             / nullif(k * t - sum_r2, 0), 6) AS q_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM agg
"""


@register("stat_cochran_q", COCHRAN_Q_ORACLE)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_orderpriority"]
    )
    o = orders.select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("urgent"),
    )
    cell = o.groupBy("o_custkey", "yr").agg(F.max("urgent").cast("long").alias("x"))
    cell = cell.localCheckpoint(eager=True)  # panel filter + both margins
    ny = cell.select("yr").distinct().agg(F.count("*").cast("long").alias("k"))
    panel = (
        cell.groupBy("o_custkey")
        .agg(F.count("*").alias("nyr"))
        .crossJoin(F.broadcast(ny))
        .where(F.col("nyr") == F.col("k"))
        .select("o_custkey")
    )
    px = cell.join(panel, "o_custkey")
    rows_i = px.groupBy("o_custkey").agg(F.sum("x").cast("long").alias("r"))
    cols_j = px.groupBy("yr").agg(F.sum("x").cast("long").alias("g"))
    ragg = rows_i.agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum("r").cast("long").alias("t"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sum_r2"),
    )
    cagg = cols_j.agg(F.sum(F.col("g") * F.col("g")).cast("long").alias("sum_g2"))
    return (
        F.broadcast(ny)
        .crossJoin(ragg)
        .crossJoin(F.broadcast(cagg))
        .select(
            F.col("k").alias("k_years"),
            "n_subjects",
            F.col("t").alias("total_successes"),
            F.round(
                (F.col("k") - 1)
                * (F.col("k") * F.col("sum_g2") - F.col("t") * F.col("t")).cast(
                    "double"
                )
                / F.nullif(F.col("k") * F.col("t") - F.col("sum_r2"), F.lit(0)),
                6,
            ).alias("q_stat"),
            (F.col("k") - 1).cast("long").alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# stat_fisher_exact_2x2 — Fisher's EXACT test on the 2x2 table
# urgent-priority x finished-status: the small-sample-safe complement
# to the chi-square/G-test rows (no large-count approximation; the
# p-value is the exact hypergeometric tail). Two-sided convention:
# sum P(k) over all tables with P(k) <= P(observed) at fixed margins.
# ENGINE PARITY: ln k! comes from a quantized ln spine — qlf(i) =
# running BIGINT sum of round(1e9*ln(j)) — so every table's ln P(k) is
# EXACT INTEGER arithmetic on nine spine values, the "as extreme"
# comparison is an integer comparison (no float-tolerance fudge
# factor), and the tail sum adds per-k exp() quantized to 1e12 before
# the BIGINT fold. Scale: the spine is O(total row count) — built from
# spark.range(n+1) (never a single-row array materialization) with a
# chunked two-stage prefix sum (per-chunk BIGINT totals -> tiny
# exclusive chunk-offset window over n/2^16 rows -> within-chunk
# running frame partitioned by chunk), so no unpartitioned window ever
# sees the full spine; it is checkpointed once (2 BIGINTs/row) and the
# 9 lookups are plain shuffle equi-joins — the spine is never
# broadcast. BIGINT-sum exactness makes the chunked fold
# order-independent, so values are bit-identical to the single-window
# form.
# ---------------------------------------------------------------------------

FISHER_EXACT_ORACLE = """
WITH o AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS u,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
  FROM orders
),
cells AS (
  SELECT CAST(sum(u * f) AS BIGINT) AS a,
         CAST(sum(u * (1 - f)) AS BIGINT) AS b,
         CAST(sum((1 - u) * f) AS BIGINT) AS c,
         CAST(sum((1 - u) * (1 - f)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM o
),
spine AS (
  SELECT i,
         CAST(sum(CASE WHEN i = 0 THEN 0
                       ELSE CAST(round(1e9 * ln(CAST(i AS DOUBLE))) AS BIGINT)
                  END) OVER (ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS qlf
  FROM (SELECT unnest(range(0, (SELECT n FROM cells) + 1)) AS i)
),
consts AS (
  SELECT cl.a, cl.b, cl.c, cl.d, cl.n,
         cl.a + cl.b AS r1, cl.c + cl.d AS r2, cl.a + cl.c AS c1,
         sr1.qlf AS qr1, sr2.qlf AS qr2, sn.qlf AS qn,
         sc1.qlf AS qc1, sc2.qlf AS qc2
  FROM cells cl
  JOIN spine sr1 ON sr1.i = cl.a + cl.b
  JOIN spine sr2 ON sr2.i = cl.c + cl.d
  JOIN spine sn  ON sn.i  = cl.n
  JOIN spine sc1 ON sc1.i = cl.a + cl.c
  JOIN spine sc2 ON sc2.i = cl.n - cl.a - cl.c
),
ks AS (
  SELECT co.*, k.k,
         (co.qr1 - sk.qlf - sr1k.qlf
          + co.qr2 - sc1k.qlf - sr2k.qlf
          - co.qn + co.qc1 + co.qc2) AS qlnp
  FROM consts co
  CROSS JOIN (SELECT unnest(range(0, (SELECT least(a + b, a + c) FROM consts) + 1)) AS k) k
  JOIN spine sk   ON sk.i   = k.k
  JOIN spine sr1k ON sr1k.i = co.r1 - k.k
  JOIN spine sc1k ON sc1k.i = co.c1 - k.k
  JOIN spine sr2k ON sr2k.i = co.r2 - co.c1 + k.k
  WHERE k.k >= co.c1 - co.r2 AND k.k <= least(co.r1, co.c1)
),
obs AS (SELECT qlnp AS qlnp_obs FROM ks JOIN cells cl ON ks.k = cl.a)
SELECT co.a, co.b, co.c, co.d,
       round(CAST(co.a * co.d AS DOUBLE) / nullif(co.b * co.c, 0), 6)
           AS odds_ratio,
       round(CAST((SELECT sum(CAST(round(1e12 * exp(CAST(qlnp AS DOUBLE) / 1e9))
                                   AS BIGINT))
                   FROM ks, obs WHERE qlnp <= qlnp_obs) AS DOUBLE) / 1e12, 6)
           AS p_two_sided
FROM consts co
"""


@register("stat_fisher_exact_2x2", FISHER_EXACT_ORACLE)
def stat_fisher_exact_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderstatus"]
    )
    o = orders.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("u"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f"),
    )
    cells = o.agg(
        F.sum(F.col("u") * F.col("f")).cast("long").alias("a"),
        F.sum(F.col("u") * (1 - F.col("f"))).cast("long").alias("b"),
        F.sum((1 - F.col("u")) * F.col("f")).cast("long").alias("c"),
        F.sum((1 - F.col("u")) * (1 - F.col("f"))).cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    cells = cells.localCheckpoint(eager=True)  # spine bound + consts + obs
    # n is the single scalar margin of the materialized 2x2 — reading it
    # on the driver is O(1), not a data collect.
    n_total = cells.first()["n"]
    chunk_sz = 1 << 16
    terms = spark.range(0, n_total + 1).select(
        F.col("id").alias("i"),
        F.expr(f"id div {chunk_sz}").alias("ch"),
        F.when(F.col("id") == 0, F.lit(0).cast("long"))
        .otherwise(F.round(F.lit(1e9) * F.log(F.col("id").cast("double"))).cast("long"))
        .alias("t"),
    )
    # chunk offsets: exclusive prefix over n/2^16 rows (the only
    # unpartitioned window — bounded by n/65536, not n)
    w_off = Window.orderBy("ch").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        terms.groupBy("ch")
        .agg(F.sum("t").alias("cs"))
        .select("ch", F.coalesce(F.sum("cs").over(w_off), F.lit(0)).cast("long").alias("off"))
    )
    w_in = (
        Window.partitionBy("ch")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spine = (
        terms.select("i", "ch", F.sum("t").over(w_in).cast("long").alias("run"))
        .join(F.broadcast(offs), "ch")
        .select("i", (F.col("off") + F.col("run")).alias("qlf"))
        .localCheckpoint(eager=True)  # 9 lookups ride one materialized spine
    )

    def lk(name):
        return spine.select(F.col("i").alias(f"_i_{name}"), F.col("qlf").alias(name))

    consts = (
        cells.withColumn("r1", F.col("a") + F.col("b"))
        .withColumn("r2", F.col("c") + F.col("d"))
        .withColumn("c1", F.col("a") + F.col("c"))
        .join(lk("qr1"), F.col("r1") == F.col("_i_qr1"))
        .join(lk("qr2"), F.col("r2") == F.col("_i_qr2"))
        .join(lk("qn"), F.col("n") == F.col("_i_qn"))
        .join(lk("qc1"), F.col("c1") == F.col("_i_qc1"))
        .join(lk("qc2"), F.col("n") - F.col("c1") == F.col("_i_qc2"))
        .drop("_i_qr1", "_i_qr2", "_i_qn", "_i_qc1", "_i_qc2")
    )
    ks = (
        consts.select(
            "*",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0).cast("long"), F.col("c1") - F.col("r2")),
                    F.least(F.col("r1"), F.col("c1")),
                )
            ).alias("k"),
        )
        .join(lk("qk"), F.col("k") == F.col("_i_qk"))
        .join(lk("qr1k"), F.col("r1") - F.col("k") == F.col("_i_qr1k"))
        .join(lk("qc1k"), F.col("c1") - F.col("k") == F.col("_i_qc1k"))
        .join(lk("qr2k"), F.col("r2") - F.col("c1") + F.col("k") == F.col("_i_qr2k"))
        .select(
            "a", "b", "c", "d", "k",
            (
                F.col("qr1") - F.col("qk") - F.col("qr1k")
                + F.col("qr2") - F.col("qc1k") - F.col("qr2k")
                - F.col("qn") + F.col("qc1") + F.col("qc2")
            ).alias("qlnp"),
        )
    )
    ks = ks.localCheckpoint(eager=True)  # obs lookup + tail sum share it
    obs = ks.where(F.col("k") == F.col("a")).select(F.col("qlnp").alias("qlnp_obs"))
    tail = (
        ks.crossJoin(F.broadcast(obs))
        .where(F.col("qlnp") <= F.col("qlnp_obs"))
        .agg(
            F.sum(
                F.round(F.lit(1e12) * F.exp(F.col("qlnp").cast("double") / 1e9)).cast(
                    "long"
                )
            ).alias("qp")
        )
    )
    return (
        cells.crossJoin(F.broadcast(tail))
        .select(
            "a", "b", "c", "d",
            F.round(
                (F.col("a") * F.col("d")).cast("double")
                / F.nullif(F.col("b") * F.col("c"), F.lit(0)),
                6,
            ).alias("odds_ratio"),
            F.round(F.col("qp").cast("double") / 1e12, 6).alias("p_two_sided"),
        )
    )


# ---------------------------------------------------------------------------
# stat_breusch_pagan — heteroscedasticity test for the pricing
# regression (stat_ols_two_regressors' model): regress SQUARED
# residuals on the same regressors; LM = n*R^2 of that auxiliary fit
# ~ chi2(2) under homoscedasticity. The diagnostic that says whether
# the OLS row's standard errors can be trusted. DISTRIBUTED SHAPE:
# two sufficient-statistics passes (the MLlib pattern) — pass 1 the
# 3x3 Gram/moment sums and Cramer betas per return flag, pass 2 the
# aux moments with betas joined back by a 3-row broadcast; no
# per-row residual ever shuffles. ENGINE PARITY: residuals are
# deterministic doubles from exact-integer moments (the Cramer solve
# is ONE shared expression text on both engines); the squared
# residual is rescaled to kilo-dollar units then quantized per row
# (e^2 at 1e6, e^4 at 1e4 — headroom-audited: every product stays
# under 2^63 at 1e8 rows) before ANY distributed sum; LM is invariant
# to that rescaling by construction (R^2 is scale-free). df = 2;
# reject at the 5.991 chi2(2) critical value.
# ---------------------------------------------------------------------------

_BP_B0 = f"(({_OLS_D0}) / ({_OLS_DET}))"
_BP_B1 = f"(({_OLS_D1}) / ({_OLS_DET}))"
_BP_B2 = f"(({_OLS_D2}) / ({_OLS_DET}))"

# auxiliary Cramer solve: same Gram, regressand y' = quantized e^2
_BP_A_DET = _OLS_DET
_BP_A0 = _det3(("syp", "s1", "s2"), ("s1yp", "s11", "s12"), ("s2yp", "s12", "s22"))
_BP_A1 = _det3(("fn", "syp", "s2"), ("s1", "s1yp", "s12"), ("s2", "s2yp", "s22"))
_BP_A2 = _det3(("fn", "s1", "syp"), ("s1", "s11", "s1yp"), ("s2", "s12", "s2yp"))

_BP_LM = (
    f"fn * ((({_BP_A0}) / ({_BP_A_DET})) * syp"
    f" + (({_BP_A1}) / ({_BP_A_DET})) * s1yp"
    f" + (({_BP_A2}) / ({_BP_A_DET})) * s2yp"
    " - syp * syp / fn)"
    " / nullif(syyp - syp * syp / fn, 0.0)"
)

BP_ORACLE = f"""
WITH obs AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
moments AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS fn,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM obs GROUP BY l_returnflag
),
betas AS (
  SELECT l_returnflag, n_rows,
         {_BP_B0} AS b0, {_BP_B1} AS b1, {_BP_B2} AS b2
  FROM moments WHERE ({_OLS_DET}) <> 0
),
resid AS (
  SELECT o.l_returnflag, o.x1, o.x2,
         (CAST(o.y AS DOUBLE) - (b.b0 + b.b1 * o.x1 + b.b2 * o.x2)) / 100000
             AS ek
  FROM obs o JOIN betas b ON o.l_returnflag = b.l_returnflag
),
q AS (
  SELECT l_returnflag, x1, x2,
         CAST(round(1e6 * (ek * ek)) AS BIGINT) AS y2q,
         CAST(round(1e4 * ((ek * ek) * (ek * ek))) AS BIGINT) AS y4q
  FROM resid
),
aux AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS fn,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(y2q) AS DOUBLE) / 1e6 AS syp,
         CAST(sum(x1 * y2q) AS DOUBLE) / 1e6 AS s1yp,
         CAST(sum(x2 * y2q) AS DOUBLE) / 1e6 AS s2yp,
         CAST(sum(y4q) AS DOUBLE) / 1e4 AS syyp,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       round({_BP_LM}, 4) AS lm_stat,
       CAST(2 AS BIGINT) AS df,
       ({_BP_LM}) > 5.991 AS reject_5pct
FROM aux WHERE ({_BP_A_DET}) <> 0
ORDER BY l_returnflag
"""


@register("stat_breusch_pagan", BP_ORACLE)
def stat_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test: auxiliary regression of squared OLS residuals on the regressors, LM statistic from exact folds."""
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_discount", "l_extendedprice"],
    )
    obs = li.select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    obs = obs.localCheckpoint(eager=False)  # both moment passes share it
    moments = obs.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("fn"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.count("*").cast("long").alias("n_rows"),
    )
    betas = moments.filter(F.expr(f"({_OLS_DET}) <> 0")).select(
        "l_returnflag",
        F.expr(f"{_BP_B0} AS b0"),
        F.expr(f"{_BP_B1} AS b1"),
        F.expr(f"{_BP_B2} AS b2"),
    )
    resid = obs.join(F.broadcast(betas), "l_returnflag").select(
        "l_returnflag",
        "x1",
        "x2",
        F.expr("(CAST(y AS DOUBLE) - (b0 + b1 * x1 + b2 * x2)) / 100000 AS ek"),
    )
    q = resid.select(
        "l_returnflag",
        "x1",
        "x2",
        F.expr("CAST(round(1e6 * (ek * ek)) AS BIGINT) AS y2q"),
        F.expr("CAST(round(1e4 * ((ek * ek) * (ek * ek))) AS BIGINT) AS y4q"),
    )
    aux = q.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("fn"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        (F.sum("y2q").cast("double") / 1e6).alias("syp"),
        (F.sum(F.col("x1") * F.col("y2q")).cast("double") / 1e6).alias("s1yp"),
        (F.sum(F.col("x2") * F.col("y2q")).cast("double") / 1e6).alias("s2yp"),
        (F.sum("y4q").cast("double") / 1e4).alias("syyp"),
        F.count("*").cast("long").alias("n_rows"),
    )
    return (
        aux.filter(F.expr(f"({_BP_A_DET}) <> 0"))
        .select(
            "l_returnflag",
            "n_rows",
            F.expr(f"round({_BP_LM}, 4) AS lm_stat"),
            F.lit(2).cast("long").alias("df"),
            F.expr(f"({_BP_LM}) > 5.991 AS reject_5pct"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# stat_bartlett_test — Bartlett's homogeneity-of-variances test across
# the 5 market segments (order value): the PARAMETRIC complement to
# the Brown-Forsythe row (Bartlett is more powerful under normality,
# fragile otherwise — reporting both is the standard practice). Per
# segment, s_i^2 comes from exact BIGINT moment sums; the statistic
# T = [(N-k) ln(s_p^2) - sum (n_i-1) ln(s_i^2)] / C with the
# Bartlett correction C. ENGINE PARITY: each per-segment ln(s_i^2) is
# quantized round(·1e9) AS BIGINT before the k-row fold (libm never
# enters a distributed float sum); everything else is exact integers
# until the terminal expression. Values are KILO-DOLLAR units (r10
# headroom audit: cent squares summed to ~2.5e19 per segment at sf0.1,
# past int64 — kilo-dollar squares are safe to ~2.5e13 rows/segment;
# the statistic is unit-invariant, pooled_var is reported in
# kilo-dollar² units). Scale: one map-side-combined segment rollup;
# the fold runs on k = 5 rows.
# ---------------------------------------------------------------------------

BARTLETT_ORACLE = """
WITH obs AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice / 1000) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss
  FROM obs GROUP BY segment
),
v AS (
  SELECT segment, n,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS s2
  FROM m WHERE n >= 2
),
q AS (
  SELECT segment, n, s2,
         CAST(round(1e9 * ln(s2)) AS BIGINT) AS qln
  FROM v WHERE s2 > 0
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum((n - 1) * qln) AS BIGINT) AS qsum,
         sum((CAST(n AS DOUBLE) - 1) * s2) AS wss,
         sum(1.0 / (n - 1)) AS inv_sum
  FROM q
)
SELECT k AS k_groups, nn AS n_total,
       round(wss / (nn - k), 4) AS pooled_var,
       round(((nn - k) * ln(wss / (nn - k)) - CAST(qsum AS DOUBLE) / 1e9)
             / (1 + (inv_sum - 1.0 / (nn - k)) / (3.0 * (k - 1))), 4)
           AS bartlett_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM tot
"""


@register("stat_bartlett_test", BARTLETT_ORACLE)
def stat_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    obs = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") / 1000).cast("long").alias("x"),
    )
    m = obs.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    v = m.where(F.col("n") >= 2).select(
        "segment",
        "n",
        (
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s2"),
    )
    q = v.where(F.col("s2") > 0).select(
        "segment",
        "n",
        "s2",
        F.round(F.lit(1e9) * F.log("s2")).cast("long").alias("qln"),
    )
    tot = q.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum((F.col("n") - 1) * F.col("qln")).cast("long").alias("qsum"),
        F.sum((F.col("n").cast("double") - 1) * F.col("s2")).alias("wss"),
        F.sum(F.lit(1.0) / (F.col("n") - 1)).alias("inv_sum"),
    )
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.round(F.col("wss") / (F.col("nn") - F.col("k")), 4).alias("pooled_var"),
        F.round(
            (
                (F.col("nn") - F.col("k")) * F.log(F.col("wss") / (F.col("nn") - F.col("k")))
                - F.col("qsum").cast("double") / 1e9
            )
            / (
                1
                + (F.col("inv_sum") - 1.0 / (F.col("nn") - F.col("k")))
                / (3.0 * (F.col("k") - 1))
            ),
            4,
        ).alias("bartlett_stat"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


# ---------------------------------------------------------------------------
# stat_mood_median_test — Mood's k-sample median test: are the 5
# market segments' order values centered on the same median? Counts
# above vs not-above the GLOBAL lower median per segment; chi2 on the
# k x 2 table. The coarsest, most assumption-free of the k-sample
# location tests (complements Kruskal-Wallis, which uses full ranks).
# ENGINE PARITY: the global median is the exact integer cents value at
# rank ceil(N/2) from a distinct-value cumulative walk (the house
# median — no percentile interpolation); table cells and margins are
# exact BIGINTs; chi2 is one terminal fold over 2k cells. Scale: one
# value-collapse pass + one segment rollup.
# ---------------------------------------------------------------------------

MOOD_MEDIAN_ORACLE = """
WITH obs AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
vc AS (
  SELECT x, CAST(count(*) AS BIGINT) AS n FROM obs GROUP BY x
),
walk AS (
  SELECT x, CAST(sum(n) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS nn
  FROM vc
),
med AS (SELECT min(x) AS median_cents FROM walk WHERE cum >= (nn + 1) // 2),
cells AS (
  SELECT segment,
         CAST(sum(CASE WHEN x > (SELECT median_cents FROM med) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_above,
         CAST(sum(CASE WHEN x > (SELECT median_cents FROM med) THEN 0 ELSE 1 END)
              AS BIGINT) AS n_below_eq
  FROM obs GROUP BY segment
),
marg AS (
  SELECT CAST(sum(n_above) AS BIGINT) AS ta,
         CAST(sum(n_below_eq) AS BIGINT) AS tb,
         CAST(sum(n_above + n_below_eq) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS k
  FROM cells
),
chi AS (
  SELECT sum(
           pow(c.n_above - CAST(c.n_above + c.n_below_eq AS DOUBLE) * m.ta / m.nn, 2)
             / (CAST(c.n_above + c.n_below_eq AS DOUBLE) * m.ta / m.nn)
           + pow(c.n_below_eq - CAST(c.n_above + c.n_below_eq AS DOUBLE) * m.tb / m.nn, 2)
             / (CAST(c.n_above + c.n_below_eq AS DOUBLE) * m.tb / m.nn)
         ) AS chi2
  FROM cells c CROSS JOIN marg m
)
SELECT m.k AS k_groups, m.nn AS n_total,
       (SELECT median_cents FROM med) AS median_cents,
       round(chi.chi2, 4) AS chi2,
       CAST(m.k - 1 AS BIGINT) AS df
FROM marg m CROSS JOIN chi
"""


@register("stat_mood_median_test", MOOD_MEDIAN_ORACLE)
def stat_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    obs = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    obs = obs.localCheckpoint(eager=False)  # walk + cells share the scan
    vc = obs.groupBy("x").agg(F.count("*").cast("long").alias("n"))
    # The median walk: two-phase bucketed cumulative count and total
    # (functions/ranks.cum_counts, $100 buckets) — no window sorts the
    # whole value-collapsed price relation.
    walk = cum_counts(vc, [], ["x"], ["n"], 10_000).select(
        "x", F.col("n_upto").cast("long").alias("cum"), F.col("n_total").alias("nn")
    )
    med = walk.where(F.col("cum") >= F.expr("(nn + 1) div 2")).agg(
        F.min("x").alias("median_cents")
    )
    cells = (
        obs.crossJoin(F.broadcast(med))
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("x") > F.col("median_cents"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.sum(F.when(F.col("x") > F.col("median_cents"), 0).otherwise(1))
            .cast("long")
            .alias("n_below_eq"),
        )
    )
    cells = cells.localCheckpoint(eager=True)  # margins + chi2 fold
    marg = cells.agg(
        F.sum("n_above").cast("long").alias("ta"),
        F.sum("n_below_eq").cast("long").alias("tb"),
        F.sum(F.col("n_above") + F.col("n_below_eq")).cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
    )
    rt = F.col("n_above") + F.col("n_below_eq")
    ea = rt.cast("double") * F.col("ta") / F.col("nn")
    eb = rt.cast("double") * F.col("tb") / F.col("nn")
    chi = (
        cells.crossJoin(F.broadcast(marg))
        .agg(
            F.sum(
                F.pow(F.col("n_above") - ea, 2) / ea
                + F.pow(F.col("n_below_eq") - eb, 2) / eb
            ).alias("chi2")
        )
    )
    return (
        marg.crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("k").alias("k_groups"),
            F.col("nn").alias("n_total"),
            "median_cents",
            F.round("chi2", 4).alias("chi2"),
            (F.col("k") - 1).cast("long").alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# stat_page_trend_test — Page's L test for an ORDERED alternative in
# the Friedman design: does average order value trend MONOTONICALLY
# across the 5 priority classes (natural order 1-URGENT..5-LOW) within
# each balanced year block? Friedman asks "any difference"; Page asks
# "this specific ordering" and is far more powerful when the ordering
# is pre-specified. Cells/blocks/ranks follow stat_friedman_test's
# machinery (integer-cents cell values, (value, treatment) tiebreak);
# L = sum over treatments of position * rank_sum is an exact BIGINT;
# E[L] = n*k*(k+1)^2/4 and Var[L] = n*k^2*(k+1)*(k^2-1)/144 give one
# terminal z. Scale: one fact rollup to k x years cells.
# ---------------------------------------------------------------------------

PAGE_TREND_ORACLE = """
WITH cells0 AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pos,
         year(o_orderdate) AS yr,
         CAST(round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / count(*)) AS BIGINT) AS x
  FROM orders GROUP BY pos, yr
),
k AS (SELECT CAST(count(DISTINCT pos) AS BIGINT) AS k FROM cells0),
balanced AS (
  SELECT yr FROM cells0 CROSS JOIN k
  GROUP BY yr, k.k HAVING count(*) = any_value(k.k)
),
ranked AS (
  SELECT c.pos, c.yr,
         CAST(row_number() OVER (PARTITION BY c.yr ORDER BY c.x, c.pos)
              AS BIGINT) AS r
  FROM cells0 c JOIN balanced b ON b.yr = c.yr
),
rs AS (
  SELECT pos, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r) AS BIGINT) AS rank_sum
  FROM ranked GROUP BY pos
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS kk, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(pos * rank_sum) AS BIGINT) AS l_stat
  FROM rs
)
SELECT kk AS k_treatments, n AS n_blocks, l_stat,
       round((l_stat - CAST(n * kk * (kk + 1) * (kk + 1) AS DOUBLE) / 4)
             / sqrt(CAST(n * kk * kk * (kk + 1) * (kk * kk - 1) AS DOUBLE) / 144),
             4) AS z_stat
FROM tot
"""


@register("stat_page_trend_test", PAGE_TREND_ORACLE)
def stat_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderpriority", "o_orderdate", "o_totalprice"],
    )
    cells0 = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("pos"),
        F.year("o_orderdate").alias("yr"),
    ).agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / F.count("*")
        )
        .cast("long")
        .alias("x")
    )
    k = cells0.agg(F.countDistinct("pos").cast("long").alias("k"))
    balanced = (
        cells0.crossJoin(F.broadcast(k))
        .groupBy("yr", "k")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") == F.col("k"))
        .select("yr")
    )
    ranked = cells0.join(F.broadcast(balanced), "yr").select(
        "pos",
        "yr",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy("x", "pos"))
        .cast("long")
        .alias("r"),
    )
    rs = ranked.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r").cast("long").alias("rank_sum"),
    )
    tot = rs.agg(
        F.count("*").cast("long").alias("kk"),
        F.max("n").cast("long").alias("n_b"),
        F.sum(F.col("pos") * F.col("rank_sum")).cast("long").alias("l_stat"),
    )
    kk, nb, lval = F.col("kk"), F.col("n_b"), F.col("l_stat")
    return tot.select(
        kk.alias("k_treatments"),
        nb.alias("n_blocks"),
        lval.alias("l_stat"),
        F.round(
            (lval - (nb * kk * (kk + 1) * (kk + 1)).cast("double") / 4)
            / F.sqrt(
                (nb * kk * kk * (kk + 1) * (kk * kk - 1)).cast("double") / 144
            ),
            4,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# stat_jonckheere_terpstra — the Jonckheere-Terpstra ordered-
# alternative k-sample test: does order value trend monotonically
# across the 5 priority classes (natural 1-URGENT..5-LOW order)?
# The rank-based complement to Page's test (which needs blocks) and
# Cochran-Armitage (which needs binary outcomes): J sums, over every
# ordered group pair, the number of cross-pair observations in
# increasing order (ties count half). DISTRIBUTED SHAPE: the corpus
# collapses to one row per DISTINCT cents value carrying per-group
# counts (pivot to k columns); 2J = sum over values of
# sum_{g1<g2} [2*n_g2(v)*cum_g1(<v) + n_g1(v)*n_g2(v)] — the
# EXCLUSIVE prefix counts come from the one allowed running frame on
# the value-collapsed relation, and 2J is an exact BIGINT (the x2
# representation keeps tie-halves integral). z uses the standard
# untied-variance normal approximation (both engines compute the
# same convention, so parity is exact). Scale: one value-collapse
# pass; everything after rides the distinct-value axis.
# ---------------------------------------------------------------------------

_JT_PAIRS = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
_JT_2J = " + ".join(
    f"(2 * n{j} * c{i} + n{i} * n{j})" for i, j in _JT_PAIRS
)

JT_ORACLE = f"""
WITH obs AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
),
vc AS (
  SELECT x,
         {", ".join(f"CAST(sum(CASE WHEN g = {g} THEN 1 ELSE 0 END) AS BIGINT) AS n{g}" for g in range(1, 6))}
  FROM obs GROUP BY x
),
walk AS (
  SELECT x, {", ".join(f"n{g}" for g in range(1, 6))},
         {", ".join(
             f"CAST(sum(n{g}) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING"
             f" AND CURRENT ROW) - n{g} AS BIGINT) AS c{g}"
             for g in range(1, 6))}
  FROM vc
),
agg AS (
  SELECT CAST(sum({_JT_2J}) AS BIGINT) AS two_j,
         {", ".join(f"CAST(sum(n{g}) AS BIGINT) AS t{g}" for g in range(1, 6))}
  FROM walk
),
stats AS (
  SELECT two_j,
         t1 + t2 + t3 + t4 + t5 AS nn,
         t1*t1 + t2*t2 + t3*t3 + t4*t4 + t5*t5 AS sq,
         t1*t1*(2*t1+3) + t2*t2*(2*t2+3) + t3*t3*(2*t3+3)
           + t4*t4*(2*t4+3) + t5*t5*(2*t5+3) AS sq3
  FROM agg
)
SELECT nn AS n_total, two_j,
       round((two_j - CAST(nn * nn - sq AS DOUBLE) / 2)
             / (2 * sqrt((CAST(nn AS DOUBLE) * nn * (2 * nn + 3) - sq3) / 72)),
             4) AS z_stat
FROM stats
"""


@register("stat_jonckheere_terpstra", JT_ORACLE)
def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test across priority-ordered groups via pairwise Mann-Whitney counts."""
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    obs = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    vc = obs.groupBy("x").agg(
        *[
            F.sum(F.when(F.col("g") == g, 1).otherwise(0))
            .cast("long")
            .alias(f"n{g}")
            for g in range(1, 6)
        ]
    )
    walk = cum_counts(
        vc, [], ["x"], [f"n{g}" for g in range(1, 6)], 10_000
    ).select(
        "x",
        *[F.col(f"n{g}") for g in range(1, 6)],
        *[
            F.col(f"n{g}_before").cast("long").alias(f"c{g}")
            for g in range(1, 6)
        ],
    )
    two_j_terms = None
    for i, j in _JT_PAIRS:
        t = 2 * F.col(f"n{j}") * F.col(f"c{i}") + F.col(f"n{i}") * F.col(f"n{j}")
        two_j_terms = t if two_j_terms is None else two_j_terms + t
    agg = walk.agg(
        F.sum(two_j_terms).cast("long").alias("two_j"),
        *[F.sum(f"n{g}").cast("long").alias(f"t{g}") for g in range(1, 6)],
    )
    nn = sum([F.col(f"t{g}") for g in range(1, 6)][1:], F.col("t1"))
    sq = sum(
        [F.col(f"t{g}") * F.col(f"t{g}") for g in range(1, 6)][1:],
        F.col("t1") * F.col("t1"),
    )
    sq3_terms = [
        F.col(f"t{g}") * F.col(f"t{g}") * (2 * F.col(f"t{g}") + 3)
        for g in range(1, 6)
    ]
    sq3 = sum(sq3_terms[1:], sq3_terms[0])
    stats = agg.select(
        F.col("two_j"), nn.alias("nn"), sq.alias("sq"), sq3.alias("sq3")
    )
    return stats.select(
        F.col("nn").alias("n_total"),
        "two_j",
        F.round(
            (F.col("two_j") - (F.col("nn") * F.col("nn") - F.col("sq")).cast("double") / 2)
            / (
                2
                * F.sqrt(
                    (
                        F.col("nn").cast("double") * F.col("nn") * (2 * F.col("nn") + 3)
                        - F.col("sq3")
                    )
                    / 72
                )
            ),
            4,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# stat_cramer_von_mises — two-sample Cramér–von Mises criterion on the
# urgent vs normal order-value split: T = (nm/N^2) * sum over the
# POOLED sample of (F_hi - F_lo)^2 — the whole-distribution companion
# to KS (max gap) and Wasserstein (area): CvM weights EVERY gap, so it
# catches diffuse shape differences a single extremum misses.
# Standardization uses Anderson's exact moments: E[T] = (1+1/N)/6,
# Var[T] = (N+1)/(45 N^2) * (4mnN - 3(m^2+n^2) - 2mn)/(4mn) (checked:
# the m=n asymptote recovers the limiting omega^2 variance 1/45).
# ENGINE PARITY: the ECDF gap numerator c_hi*n_lo - c_lo*n_hi is an
# exact BIGINT per distinct value, but its SQUARE can exceed 2^63 (nm
# ~ 5.4e9 at sf0.1 alone), so each value's term (h+l)*(num/(nm))^2 is
# computed in doubles from exact integers and quantized round(·1e12)
# AS BIGINT before the fold (sum bounded by N*1e12 — headroom to 1e6
# distinct values per unit of T). Scale: same value-collapsed walk as
# the KS row.
# ---------------------------------------------------------------------------

CVM_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS hi
  FROM orders
),
tot AS (
  SELECT CAST(sum(hi) AS BIGINT) AS m, CAST(sum(1 - hi) AS BIGINT) AS n
  FROM arms
),
by_val AS (
  SELECT cents, CAST(sum(hi) AS BIGINT) AS h, CAST(sum(1 - hi) AS BIGINT) AS l
  FROM arms GROUP BY cents
),
walked AS (
  SELECT cents, h, l,
         sum(h) OVER w AS c_hi,
         sum(l) OVER w AS c_lo
  FROM by_val
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT CAST(sum(CAST(round(1e12 * (w.h + w.l)
           * ((CAST(w.c_hi * t.n - w.c_lo * t.m AS DOUBLE) / (t.m * t.n))
              * (CAST(w.c_hi * t.n - w.c_lo * t.m AS DOUBLE) / (t.m * t.n))))
           AS BIGINT)) AS BIGINT) AS qsum,
         any_value(t.m) AS m, any_value(t.n) AS n
  FROM walked w CROSS JOIN tot t
)
SELECT m AS n_hi, n AS n_lo,
       round(CAST(m AS DOUBLE) * n / ((m + n) * (m + n))
             * (CAST(qsum AS DOUBLE) / 1e12), 6) AS cvm_t,
       round((1 + 1.0 / (m + n)) / 6, 6) AS t_expected_h0,
       round((CAST(m AS DOUBLE) * n / ((m + n) * (m + n))
              * (CAST(qsum AS DOUBLE) / 1e12)
              - (1 + 1.0 / (m + n)) / 6)
             / sqrt((m + n + 1.0) / (45.0 * (m + n) * (m + n))
                    * (4.0 * m * n * (m + n) - 3.0 * (m * m + n * n) - 2.0 * m * n)
                    / (4.0 * m * n)), 4) AS z_stat
FROM terms
"""


@register("stat_cramer_von_mises", CVM_ORACLE)
def stat_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    by_val = arms.groupBy("cents").agg(
        F.sum("hi").cast("long").alias("h"),
        F.sum(1 - F.col("hi")).cast("long").alias("l"),
    )
    walked = cum_counts(by_val, [], ["cents"], ["h", "l"], 10_000).select(
        "h",
        "l",
        F.col("h_upto").alias("c_hi"),
        F.col("l_upto").alias("c_lo"),
        F.col("h_total").alias("m"),
        F.col("l_total").alias("n"),
    )
    gap = (F.col("c_hi") * F.col("n") - F.col("c_lo") * F.col("m")).cast(
        "double"
    ) / (F.col("m") * F.col("n"))
    terms = walked.agg(
        F.sum(
            F.round(F.lit(1e12) * (F.col("h") + F.col("l")) * (gap * gap)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("qsum"),
        F.any_value("m").alias("m"),
        F.any_value("n").alias("n"),
    )
    m, n = F.col("m"), F.col("n")
    nn = m + n
    t_stat = m.cast("double") * n / (nn * nn) * (F.col("qsum").cast("double") / 1e12)
    t_exp = (1 + 1.0 / nn) / 6
    var = (
        (nn + 1.0)
        / (45.0 * nn * nn)
        * (4.0 * m * n * nn - 3.0 * (m * m + n * n) - 2.0 * m * n)
        / (4.0 * m * n)
    )
    return terms.select(
        m.alias("n_hi"),
        n.alias("n_lo"),
        F.round(t_stat, 6).alias("cvm_t"),
        F.round(t_exp, 6).alias("t_expected_h0"),
        F.round((t_stat - t_exp) / F.sqrt(var), 4).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# stat_kuiper_two_sample — Kuiper's V = D+ + D- between the urgent and
# normal order-value ECDFs: the rotation-invariant refinement of KS
# (equally sensitive at the distribution tails and median, and the
# standard choice for cyclic/wrapped data). Rides the SAME
# value-collapsed integer walk as stat_ks_two_sample: D+ and D- come
# from the signed BIGINT gap c_hi*n_lo - c_lo*n_hi maximized in each
# direction, so the statistic is one exact integer pair + a terminal
# division. p uses the standard first-term asymptotic
# 2*(4*lam^2 - 1)*exp(-2*lam^2) with lam = (sqrt(ne) + 0.155 +
# 0.24/sqrt(ne)) * V. Scale: identical to the KS row.
# ---------------------------------------------------------------------------

KUIPER_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS hi
  FROM orders
),
tot AS (
  SELECT CAST(sum(hi) AS BIGINT) AS m, CAST(sum(1 - hi) AS BIGINT) AS n
  FROM arms
),
by_val AS (
  SELECT cents, CAST(sum(hi) AS BIGINT) AS h, CAST(sum(1 - hi) AS BIGINT) AS l
  FROM arms GROUP BY cents
),
walked AS (
  SELECT sum(h) OVER w AS c_hi, sum(l) OVER w AS c_lo
  FROM by_val
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
gaps AS (
  SELECT CAST(max(c_hi * t.n - c_lo * t.m) AS BIGINT) AS d_plus_num,
         CAST(max(c_lo * t.m - c_hi * t.n) AS BIGINT) AS d_minus_num,
         any_value(t.m) AS m, any_value(t.n) AS n
  FROM walked CROSS JOIN tot t
),
v AS (
  SELECT m, n,
         (CAST(greatest(d_plus_num, 0) AS DOUBLE)
          + greatest(d_minus_num, 0)) / (m * n) AS vstat,
         CAST(m AS DOUBLE) * n / (m + n) AS ne
  FROM gaps
)
SELECT m AS n_hi, n AS n_lo,
       round(vstat, 6) AS kuiper_v,
       round(2 * (4 * pow((sqrt(ne) + 0.155 + 0.24 / sqrt(ne)) * vstat, 2) - 1)
             * exp(-2 * pow((sqrt(ne) + 0.155 + 0.24 / sqrt(ne)) * vstat, 2)),
             6) AS p_approx
FROM v
"""


@register("stat_kuiper_two_sample", KUIPER_ORACLE)
def stat_kuiper_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    by_val = arms.groupBy("cents").agg(
        F.sum("hi").cast("long").alias("h"),
        F.sum(1 - F.col("hi")).cast("long").alias("l"),
    )
    walked = cum_counts(by_val, [], ["cents"], ["h", "l"], 10_000).select(
        F.col("h_upto").alias("c_hi"),
        F.col("l_upto").alias("c_lo"),
        F.col("h_total").alias("m"),
        F.col("l_total").alias("n"),
    )
    gaps = walked.agg(
        F.max(F.col("c_hi") * F.col("n") - F.col("c_lo") * F.col("m"))
        .cast("long")
        .alias("d_plus_num"),
        F.max(F.col("c_lo") * F.col("m") - F.col("c_hi") * F.col("n"))
        .cast("long")
        .alias("d_minus_num"),
        F.any_value("m").alias("m"),
        F.any_value("n").alias("n"),
    )
    vstat = (
        F.greatest(F.col("d_plus_num"), F.lit(0)).cast("double")
        + F.greatest(F.col("d_minus_num"), F.lit(0))
    ) / (F.col("m") * F.col("n"))
    ne = F.col("m").cast("double") * F.col("n") / (F.col("m") + F.col("n"))
    lam = (F.sqrt(ne) + 0.155 + 0.24 / F.sqrt(ne)) * vstat
    return gaps.select(
        F.col("m").alias("n_hi"),
        F.col("n").alias("n_lo"),
        F.round(vstat, 6).alias("kuiper_v"),
        F.round(
            2 * (4 * F.pow(lam, 2) - 1) * F.exp(-2 * F.pow(lam, 2)), 6
        ).alias("p_approx"),
    )
