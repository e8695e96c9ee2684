"""Round-10 operator wave: finance risk metrics (max drawdown,
Sortino, Cutler RSI), reserving completions (Cape Cod, Benktander),
rank-based scale/effect/stratified tests (Ansari-Bradley,
Brunner-Munzel, Cliff's delta, Mantel-Haenszel, Chow, Quade), and
Burrows' Delta authorship distance.

House rules throughout: every libm value is quantized to BIGINT per
row/cell BEFORE any distributed fold (partial-aggregation order can
never move a bit); divisions are nullif/WHERE-guarded for the driver's
vanilla ANSI session; every computed column is aliased identically in
the Spark plan and the DuckDB oracle; each docstring carries the
100 TB scale stance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

# Shared daily-revenue relation (the Bollinger/SMA stance: one
# map-side-combined rollup of orders to the calendar-bounded daily
# series; everything after runs on O(days) rows).
_DAILY_SQL = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY day
)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    return orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
    )


# ---------------------------------------------------------------------------
# finance_max_drawdown — peak-to-trough census on the daily revenue
# series: running peak (UNBOUNDED PRECEDING running max — the allowed
# frame), drawdown = (peak - value)/peak, top-10 deepest days. The
# risk-reporting primitive next to Bollinger/SMA/beta. Scale: one
# running window on the calendar-bounded daily relation; top-10 via
# rank on O(days) rows.
# ---------------------------------------------------------------------------

MAX_DRAWDOWN_ORACLE = f"""
WITH {_DAILY_SQL},
w AS (
  SELECT day, cents,
         CAST(max(cents) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
  FROM daily
)
SELECT day,
       round(cents / 100.0, 2) AS revenue,
       round(peak / 100.0, 2) AS peak_revenue,
       round(CAST(peak - cents AS DOUBLE) / peak, 6) AS drawdown
FROM w
ORDER BY drawdown DESC, day
LIMIT 10
"""


@register("finance_max_drawdown", MAX_DRAWDOWN_ORACLE)
def finance_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = daily.select(
        "day", "cents", F.max("cents").over(w_run).cast("long").alias("peak")
    )
    return (
        w.select(
            "day",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("peak") / 100.0, 2).alias("peak_revenue"),
            F.round(
                (F.col("peak") - F.col("cents")).cast("double") / F.col("peak"), 6
            ).alias("drawdown"),
        )
        .orderBy(F.desc("drawdown"), "day")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# finance_sortino_ratio — downside-risk-adjusted return of the daily
# revenue series (target return 0): daily % returns quantized to
# 1e6-unit BIGINTs per row, so the mean fold AND the downside
# sum-of-squares fold (rq² is exact int64 — headroom: |r| <= 10x daily
# swing -> rq <= 1e7, rq² <= 1e14, safe to ~1e4 days) are exact;
# Sortino = mean / downside-deviation. Scale: one lag window on the
# daily relation + one scalar fold.
# ---------------------------------------------------------------------------

SORTINO_ORACLE = f"""
WITH {_DAILY_SQL},
r AS (
  SELECT CAST(round(1e6 * (CAST(cents - lag(cents) OVER (ORDER BY day) AS DOUBLE)
                           / lag(cents) OVER (ORDER BY day))) AS BIGINT) AS rq
  FROM daily
),
s AS (
  SELECT CAST(count(rq) AS BIGINT) AS n,
         CAST(sum(rq) AS BIGINT) AS srq,
         CAST(sum(CASE WHEN rq < 0 THEN rq * rq ELSE 0 END) AS BIGINT) AS sdq
  FROM r WHERE rq IS NOT NULL
)
SELECT n AS n_days,
       round(CAST(srq AS DOUBLE) / n / 1e6, 6) AS mean_return,
       round(sqrt(CAST(sdq AS DOUBLE) / n) / 1e6, 6) AS downside_dev,
       round((CAST(srq AS DOUBLE) / n) / nullif(sqrt(CAST(sdq AS DOUBLE) / n), 0.0), 6)
           AS sortino
FROM s WHERE n > 0
"""


@register("finance_sortino_ratio", SORTINO_ORACLE)
def finance_sortino_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    prev = F.lag("cents").over(Window.orderBy("day"))
    r = daily.select(
        F.round(
            F.lit(1e6) * ((F.col("cents") - prev).cast("double") / prev)
        )
        .cast("long")
        .alias("rq")
    ).where(F.col("rq").isNotNull())
    s = r.agg(
        F.count("rq").cast("long").alias("n"),
        F.sum("rq").cast("long").alias("srq"),
        F.sum(F.when(F.col("rq") < 0, F.col("rq") * F.col("rq")).otherwise(F.lit(0)))
        .cast("long")
        .alias("sdq"),
    )
    dd = F.sqrt(F.col("sdq").cast("double") / F.col("n"))
    return s.where(F.col("n") > 0).select(
        F.col("n").alias("n_days"),
        F.round(F.col("srq").cast("double") / F.col("n") / 1e6, 6).alias("mean_return"),
        F.round(dd / 1e6, 6).alias("downside_dev"),
        F.round(
            (F.col("srq").cast("double") / F.col("n")) / F.nullif(dd, F.lit(0.0)), 6
        ).alias("sortino"),
    )


# ---------------------------------------------------------------------------
# finance_rsi_cutler — Cutler's RSI-14 (SMA-based, order-independent —
# unlike Wilder's recursive EWMA it needs no unbounded recursion):
# RSI = 100·G14/(G14+L14) where G/L are 14-day sums of EXACT integer
# cent gains/losses; the ratio is an exact rational rounded once.
# Reports ONE always-present summary row (n_days, min/max RSI,
# overbought/oversold census counts) followed by the per-day
# overbought/oversold census (RSI >= 70 or <= 30, full windows only,
# integer threshold comparisons). The summary row exists because at
# small SFs the census is legitimately EMPTY — an empty-vs-empty
# driver hash proves nothing (VERDICT r10) — so the driver always has
# ≥1 value-bearing row to hash at every SF. Scale: one lag + two
# rolling BIGINT windows on the daily relation (the SMA-crossover
# stance); the summary is an O(days) fold.
# ---------------------------------------------------------------------------

RSI_ORACLE = f"""
WITH {_DAILY_SQL},
d AS (
  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS diff
  FROM daily
),
g AS (
  SELECT day,
         CAST(sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w14 AS BIGINT) AS g14,
         CAST(sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w14 AS BIGINT) AS l14,
         CAST(count(diff) OVER w14 AS BIGINT) AS n14
  FROM d
  WINDOW w14 AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
r AS (
  SELECT day, round(100.0 * g14 / (g14 + l14), 4) AS rsi,
         CASE WHEN 10 * g14 >= 7 * (g14 + l14) THEN 1 ELSE 0 END AS ob,
         CASE WHEN 10 * g14 <= 3 * (g14 + l14) THEN 1 ELSE 0 END AS os
  FROM g WHERE n14 = 14 AND g14 + l14 > 0
)
SELECT 'summary' AS kind, '' AS day,
       CAST(NULL AS DOUBLE) AS rsi, CAST(NULL AS VARCHAR) AS signal,
       CAST(count(*) AS DOUBLE) AS n_days,
       min(rsi) AS min_rsi, max(rsi) AS max_rsi,
       CAST(coalesce(sum(ob), 0) AS DOUBLE) AS n_overbought,
       CAST(coalesce(sum(os), 0) AS DOUBLE) AS n_oversold
FROM r
UNION ALL
SELECT 'signal', CAST(day AS VARCHAR), rsi,
       CASE WHEN ob = 1 THEN 'overbought' ELSE 'oversold' END,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM r WHERE ob = 1 OR os = 1
ORDER BY kind, day
"""


@register("finance_rsi_cutler", RSI_ORACLE)
def finance_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wd = Window.orderBy("day")
    d = daily.select(
        "day", (F.col("cents") - F.lag("cents").over(wd)).alias("diff")
    )
    w14 = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    g = d.select(
        "day",
        F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(F.lit(0)))
        .over(w14)
        .cast("long")
        .alias("g14"),
        F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(F.lit(0)))
        .over(w14)
        .cast("long")
        .alias("l14"),
        F.count("diff").over(w14).cast("long").alias("n14"),
    )
    tot = F.col("g14") + F.col("l14")
    r = (
        g.where((F.col("n14") == 14) & (tot > 0))
        .select(
            "day",
            F.round(F.lit(100.0) * F.col("g14") / tot, 4).alias("rsi"),
            F.when(10 * F.col("g14") >= 7 * tot, 1).otherwise(0).alias("ob"),
            F.when(10 * F.col("g14") <= 3 * tot, 1).otherwise(0).alias("os"),
        )
        .localCheckpoint(eager=True)  # summary fold + census share one build
    )
    # counts as DOUBLE + day as STRING ('' on the summary row): nullable
    # BIGINT/DATE columns wobble to float64/NaT in pandas on one side or
    # the other depending on whether the census is empty — type-stable
    # columns hash identically at EVERY SF.
    summary = r.agg(
        F.count("*").cast("double").alias("n_days"),
        F.min("rsi").alias("min_rsi"),
        F.max("rsi").alias("max_rsi"),
        F.coalesce(F.sum("ob"), F.lit(0)).cast("double").alias("n_overbought"),
        F.coalesce(F.sum("os"), F.lit(0)).cast("double").alias("n_oversold"),
    ).select(
        F.lit("summary").alias("kind"),
        F.lit("").alias("day"),
        F.lit(None).cast("double").alias("rsi"),
        F.lit(None).cast("string").alias("signal"),
        "n_days", "min_rsi", "max_rsi", "n_overbought", "n_oversold",
    )
    census = r.where((F.col("ob") == 1) | (F.col("os") == 1)).select(
        F.lit("signal").alias("kind"),
        F.col("day").cast("string").alias("day"),
        "rsi",
        F.when(F.col("ob") == 1, "overbought").otherwise("oversold").alias("signal"),
        F.lit(None).cast("double").alias("n_days"),
        F.lit(None).cast("double").alias("min_rsi"),
        F.lit(None).cast("double").alias("max_rsi"),
        F.lit(None).cast("double").alias("n_overbought"),
        F.lit(None).cast("double").alias("n_oversold"),
    )
    return summary.unionAll(census).orderBy("kind", "day")


# ---------------------------------------------------------------------------
# actuarial_cape_cod — Cape Cod (Stanard-Bühlmann) reserving: the
# expected loss ratio is ESTIMATED from the triangle itself as
# ELR = Σ latest / Σ (exposure x %developed) ("used-up exposure"),
# then reserve_k = exposure_k x ELR x (1 - %developed_k). Exposure =
# cohort customer count (the BF prior's proxy); %developed =
# exp(-qsum/1e9) from the same quantized-ln CDF sums as chain-ladder,
# so the whole reserving shelf (CL / BF / CC / GB) shares one
# triangle. Scale: triangle is O(quarters²) regardless of fact size;
# the ELR is a 2-long broadcast fold over cohort rows.
# ---------------------------------------------------------------------------

from insurance_helper_spark.queries.actuarial_queries import (  # noqa: E402
    _COHORT_LABEL_SQL,
    _TRIANGLE_SQL,
    _cohort_label,
    _triangle,
)

CAPE_COD_ORACLE = f"""
WITH {_TRIANGLE_SQL},
sizes AS (SELECT cq, CAST(count(*) AS BIGINT) AS n_cust FROM cohort GROUP BY cq),
rows_cc AS (
  SELECT t.cq, t.cum_cents, z.n_cust,
         exp(-CAST(c.qsum AS DOUBLE) / 1e9) AS pdev
  FROM tips t JOIN cdfs c ON c.age = t.max_age JOIN sizes z ON z.cq = t.cq
),
elr AS (
  SELECT CAST(sum(cum_cents) AS DOUBLE) / sum(n_cust * pdev) AS elr_cents
  FROM rows_cc
)
SELECT {_COHORT_LABEL_SQL.format(c='r.cq')} AS cohort,
       r.n_cust,
       round(r.cum_cents / 100.0, 2) AS latest_cum,
       round(r.pdev, 6) AS pct_developed,
       round(e.elr_cents / 100.0, 4) AS elr_per_customer,
       round(r.n_cust * e.elr_cents * (1 - r.pdev) / 100.0, 2) AS cc_reserve,
       round((r.cum_cents + r.n_cust * e.elr_cents * (1 - r.pdev)) / 100.0, 2)
           AS cc_ultimate
FROM rows_cc r CROSS JOIN elr e
ORDER BY cohort
"""


@register("actuarial_cape_cod", CAPE_COD_ORACLE)
def actuarial_cape_cod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cape Cod reserving: decay-weighted expected loss ratio over the shared development triangle, IBNR per cohort."""
    tips, cdfs, sizes = _triangle(spark, sf_dir)
    rows_cc = (
        tips.join(F.broadcast(cdfs), cdfs.age == tips.max_age)
        .join(sizes, "cq")
        .select(
            "cq",
            "cum_cents",
            "n_cust",
            F.exp(-F.col("qsum").cast("double") / 1e9).alias("pdev"),
        )
        .localCheckpoint(eager=True)  # ELR fold + per-cohort output share it
    )
    elr = rows_cc.agg(
        (
            F.sum("cum_cents").cast("double")
            / F.sum(F.col("n_cust") * F.col("pdev"))
        ).alias("elr_cents")
    )
    return (
        rows_cc.crossJoin(F.broadcast(elr))
        .select(
            _cohort_label(F.col("cq")).alias("cohort"),
            "n_cust",
            F.round(F.col("cum_cents") / 100.0, 2).alias("latest_cum"),
            F.round(F.col("pdev"), 6).alias("pct_developed"),
            F.round(F.col("elr_cents") / 100.0, 4).alias("elr_per_customer"),
            F.round(
                F.col("n_cust") * F.col("elr_cents") * (1 - F.col("pdev")) / 100.0, 2
            ).alias("cc_reserve"),
            F.round(
                (
                    F.col("cum_cents")
                    + F.col("n_cust") * F.col("elr_cents") * (1 - F.col("pdev"))
                )
                / 100.0,
                2,
            ).alias("cc_ultimate"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# actuarial_benktander — the Benktander-Hovinen (iterated BF) ultimate:
# U_GB = Z·U_CL + (1-Z)·U_BF with credibility Z = %developed — the
# "best of both" blend every reserving review reports beside CL and
# BF. Prior = mature-cohort per-customer ultimate, identical
# expressions to actuarial_bf_reserve, so GB is exactly the
# CL/BF blend of the engine's own published columns. Scale: same
# O(quarters²) triangle + one broadcast fold.
# ---------------------------------------------------------------------------

BENKTANDER_ORACLE = f"""
WITH {_TRIANGLE_SQL},
sizes AS (SELECT cq, CAST(count(*) AS BIGINT) AS n_cust FROM cohort GROUP BY cq),
mature AS (
  SELECT CAST(sum(t.cum_cents) AS BIGINT) AS m_cents,
         CAST(sum(z.n_cust) AS BIGINT) AS m_cust
  FROM tips t JOIN sizes z ON z.cq = t.cq
  WHERE t.max_age * 2 >= (SELECT max(max_age) FROM spine)
),
rows_gb AS (
  SELECT t.cq, t.cum_cents, z.n_cust,
         exp(-CAST(c.qsum AS DOUBLE) / 1e9) AS pdev,
         t.cum_cents * exp(CAST(c.qsum AS DOUBLE) / 1e9) AS cl_ult,
         t.cum_cents + z.n_cust * (CAST(m.m_cents AS DOUBLE) / m.m_cust)
             * (1 - exp(-CAST(c.qsum AS DOUBLE) / 1e9)) AS bf_ult
  FROM tips t
  JOIN cdfs c ON c.age = t.max_age
  JOIN sizes z ON z.cq = t.cq
  CROSS JOIN mature m
)
SELECT {_COHORT_LABEL_SQL.format(c='cq')} AS cohort,
       round(cum_cents / 100.0, 2) AS latest_cum,
       round(pdev, 6) AS credibility_z,
       round(cl_ult / 100.0, 2) AS cl_ultimate,
       round(bf_ult / 100.0, 2) AS bf_ultimate,
       round((pdev * cl_ult + (1 - pdev) * bf_ult) / 100.0, 2) AS gb_ultimate,
       round((pdev * cl_ult + (1 - pdev) * bf_ult - cum_cents) / 100.0, 2)
           AS gb_reserve
FROM rows_gb
ORDER BY cohort
"""


@register("actuarial_benktander", BENKTANDER_ORACLE)
def actuarial_benktander(spark: SparkSession, sf_dir: str) -> DataFrame:
    tips, cdfs, sizes = _triangle(spark, sf_dir)
    max_age_all = tips.agg(F.max("max_age").alias("maxa"))
    mature = (
        tips.join(sizes, "cq")
        .crossJoin(F.broadcast(max_age_all))
        .where(F.col("max_age") * 2 >= F.col("maxa"))
        .agg(
            F.sum("cum_cents").cast("long").alias("m_cents"),
            F.sum("n_cust").cast("long").alias("m_cust"),
        )
    )
    pdev = F.exp(-F.col("qsum").cast("double") / 1e9)
    cl_ult = F.col("cum_cents") * F.exp(F.col("qsum").cast("double") / 1e9)
    bf_ult = F.col("cum_cents") + F.col("n_cust") * (
        F.col("m_cents").cast("double") / F.col("m_cust")
    ) * (1 - F.exp(-F.col("qsum").cast("double") / 1e9))
    rows_gb = (
        tips.join(F.broadcast(cdfs), cdfs.age == tips.max_age)
        .join(sizes, "cq")
        .crossJoin(F.broadcast(mature))
        .select(
            "cq",
            "cum_cents",
            pdev.alias("pdev"),
            cl_ult.alias("cl_ult"),
            bf_ult.alias("bf_ult"),
        )
    )
    gb = F.col("pdev") * F.col("cl_ult") + (1 - F.col("pdev")) * F.col("bf_ult")
    return rows_gb.select(
        _cohort_label(F.col("cq")).alias("cohort"),
        F.round(F.col("cum_cents") / 100.0, 2).alias("latest_cum"),
        F.round(F.col("pdev"), 6).alias("credibility_z"),
        F.round(F.col("cl_ult") / 100.0, 2).alias("cl_ultimate"),
        F.round(F.col("bf_ult") / 100.0, 2).alias("bf_ultimate"),
        F.round(gb / 100.0, 2).alias("gb_ultimate"),
        F.round((gb - F.col("cum_cents")) / 100.0, 2).alias("gb_reserve"),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# stat_cliff_delta — Cliff's delta effect size (urgent vs non-urgent
# order values): delta = (#(x>y) - #(x<y)) / (n1·n0), computed EXACTLY
# from the doubled-midrank Mann-Whitney identity 2U = Σ c_hi(2cum+c+1)
# - n1(n1+1) on the distinct-value walk (ties contribute the exact
# half-count; no float rank ever exists), delta = (2U - n1·n0)/(n1·n0)
# — one integer ratio. The magnitude class compares |numerator|·1000
# against 147/330/474·denominator — pure integer comparisons, no float
# threshold. Also reports p̂ = P(X>Y) + ½P(X=Y) (the common-language
# effect size / AUC twin). Scale: one value-collapse groupBy + a
# running window on the distinct-value relation (the KS/AUC stance).
# ---------------------------------------------------------------------------

CLIFF_DELTA_ORACLE = """
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS hi
  FROM orders
),
cells AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c, CAST(sum(hi) AS BIGINT) AS ch
  FROM vals GROUP BY v
),
walk AS (
  SELECT v, c, ch,
         CAST(coalesce(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
  FROM cells
),
agg AS (
  SELECT CAST(sum(ch) AS BIGINT) AS n1,
         CAST(sum(c - ch) AS BIGINT) AS n0,
         CAST(sum(ch * (2 * cum + c + 1)) AS BIGINT) AS r2
  FROM walk
),
d AS (
  SELECT n1, n0,
         r2 - n1 * (n1 + 1) AS u2,
         r2 - n1 * (n1 + 1) - n1 * n0 AS num,
         n1 * n0 AS den
  FROM agg
)
SELECT n1 AS n_hi, n0 AS n_lo,
       round(CAST(num AS DOUBLE) / den, 6) AS cliff_delta,
       round(CAST(u2 AS DOUBLE) / (2 * den), 6) AS p_superiority,
       CASE WHEN 1000 * abs(num) < 147 * den THEN 'negligible'
            WHEN 1000 * abs(num) < 330 * den THEN 'small'
            WHEN 1000 * abs(num) < 474 * den THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
"""


@register("stat_cliff_delta", CLIFF_DELTA_ORACLE)
def stat_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_totalprice", "o_orderpriority"]
    )
    vals = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    cells = vals.groupBy("v").agg(
        F.count("*").cast("long").alias("c"), F.sum("hi").cast("long").alias("ch")
    )
    from insurance_helper_spark.functions.ranks import cum_counts

    walk = cum_counts(cells, [], ["v"], ["c"], 10_000).select(
        "v", "c", "ch", F.col("c_before").cast("long").alias("cum")
    )
    agg = walk.agg(
        F.sum("ch").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("ch")).cast("long").alias("n0"),
        F.sum(F.col("ch") * (2 * F.col("cum") + F.col("c") + 1))
        .cast("long")
        .alias("r2"),
    )
    d = agg.select(
        "n1", "n0",
        (F.col("r2") - F.col("n1") * (F.col("n1") + 1)).alias("u2"),
        (F.col("r2") - F.col("n1") * (F.col("n1") + 1) - F.col("n1") * F.col("n0")).alias("num"),
        (F.col("n1") * F.col("n0")).alias("den"),
    )
    return d.select(
        F.col("n1").alias("n_hi"),
        F.col("n0").alias("n_lo"),
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias("cliff_delta"),
        F.round(F.col("u2").cast("double") / (2 * F.col("den")), 6).alias("p_superiority"),
        F.when(1000 * F.abs(F.col("num")) < 147 * F.col("den"), "negligible")
        .when(1000 * F.abs(F.col("num")) < 330 * F.col("den"), "small")
        .when(1000 * F.abs(F.col("num")) < 474 * F.col("den"), "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# stat_mantel_haenszel — stratified 2x2 association (urgent-priority x
# finished-status, stratified by order YEAR): the MH common odds ratio
# Σ(a·d/n)/Σ(b·c/n) and the Cochran-Mantel-Haenszel chi² =
# (Σa - ΣE)²/ΣV with E = r1·c1/n, V = r1·r2·c1·c2/(n²(n-1)) — the
# confounder-adjusted complement to the marginal chi²/Fisher rows.
# Per-stratum rationals are quantized round(1e6·) to BIGINT before the
# k-row fold (headroom: each term <= n/4 -> q <= n/4·1e6, safe to 1e10
# rows/stratum). Scale: one map-side-combined year rollup; everything
# after runs on O(years) rows.
# ---------------------------------------------------------------------------

MANTEL_HAENSZEL_ORACLE = """
WITH s AS (
  SELECT year(o_orderdate) AS yr,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS u,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
  FROM orders
),
t AS (
  SELECT yr,
         CAST(sum(u * f) AS BIGINT) AS a, CAST(sum(u * (1 - f)) AS BIGINT) AS b,
         CAST(sum((1 - u) * f) AS BIGINT) AS c,
         CAST(sum((1 - u) * (1 - f)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM s GROUP BY yr
),
q AS (
  SELECT yr, a, n,
         CAST(round(1e6 * CAST(a AS DOUBLE) * d / n) AS BIGINT) AS rq,
         CAST(round(1e6 * CAST(b AS DOUBLE) * c / n) AS BIGINT) AS sq,
         CAST(round(1e6 * CAST(a + b AS DOUBLE) * (a + c) / n) AS BIGINT) AS eq,
         CAST(round(1e6 * CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                    / (CAST(n AS DOUBLE) * n * (n - 1))) AS BIGINT) AS vq
  FROM t WHERE n > 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata, CAST(sum(a) AS BIGINT) AS sa,
         CAST(sum(rq) AS BIGINT) AS srq, CAST(sum(sq) AS BIGINT) AS ssq,
         CAST(sum(eq) AS BIGINT) AS se, CAST(sum(vq) AS BIGINT) AS sv
  FROM q
)
SELECT n_strata,
       round(CAST(srq AS DOUBLE) / nullif(CAST(ssq AS DOUBLE), 0.0), 6) AS or_mh,
       round((CAST(sa AS DOUBLE) - CAST(se AS DOUBLE) / 1e6)
             * (CAST(sa AS DOUBLE) - CAST(se AS DOUBLE) / 1e6)
             / nullif(CAST(sv AS DOUBLE) / 1e6, 0.0), 4) AS cmh_chi2,
       round((CAST(sa AS DOUBLE) - CAST(se AS DOUBLE) / 1e6)
             * (CAST(sa AS DOUBLE) - CAST(se AS DOUBLE) / 1e6)
             / nullif(CAST(sv AS DOUBLE) / 1e6, 0.0), 4) > 3.841 AS reject_5pct
FROM g
"""


@register("stat_mantel_haenszel", MANTEL_HAENSZEL_ORACLE)
def stat_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderdate", "o_orderpriority", "o_orderstatus"],
    )
    s = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("u"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f"),
    )
    t = s.groupBy("yr").agg(
        F.sum(F.col("u") * F.col("f")).cast("long").alias("a"),
        F.sum(F.col("u") * (1 - F.col("f"))).cast("long").alias("b"),
        F.sum((1 - F.col("u")) * F.col("f")).cast("long").alias("c"),
        F.sum((1 - F.col("u")) * (1 - F.col("f"))).cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    nD = F.col("n").cast("double")
    q = t.where(F.col("n") > 1).select(
        "a",
        F.round(F.lit(1e6) * F.col("a").cast("double") * F.col("d") / F.col("n"))
        .cast("long")
        .alias("rq"),
        F.round(F.lit(1e6) * F.col("b").cast("double") * F.col("c") / F.col("n"))
        .cast("long")
        .alias("sq"),
        F.round(
            F.lit(1e6) * (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c")) / F.col("n")
        )
        .cast("long")
        .alias("eq"),
        F.round(
            F.lit(1e6) * (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d")) * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nD * F.col("n") * (F.col("n") - 1))
        )
        .cast("long")
        .alias("vq"),
    )
    g = q.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("rq").cast("long").alias("srq"),
        F.sum("sq").cast("long").alias("ssq"),
        F.sum("eq").cast("long").alias("se"),
        F.sum("vq").cast("long").alias("sv"),
    )
    diff = F.col("sa").cast("double") - F.col("se").cast("double") / 1e6
    chi2 = F.round(
        diff * diff / F.nullif(F.col("sv").cast("double") / 1e6, F.lit(0.0)), 4
    )
    return g.select(
        "n_strata",
        F.round(
            F.col("srq").cast("double")
            / F.nullif(F.col("ssq").cast("double"), F.lit(0.0)),
            6,
        ).alias("or_mh"),
        chi2.alias("cmh_chi2"),
        (chi2 > 3.841).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# stat_chow_test — structural-break F test of the daily-revenue-on-
# time regression at the KNOWN calendar midpoint: fit y = a + b·x
# separately on each half and pooled, F = ((SSR_p - SSR_1 - SSR_2)/2)
# / ((SSR_1 + SSR_2)/(n - 4)). All moments are EXACT BIGINTs — y in
# hundred-dollar units (headroom: y² ~ 1e10 per day, safe to ~1e8
# days), x = day index — and both regimes fold in ONE conditional
# aggregate; every SSR is the same closed-form expression text on both
# engines. Scale: one rollup to the daily relation + one scalar fold.
# ---------------------------------------------------------------------------

_CHOW_SSR = (
    "(CAST(syy{g} AS DOUBLE) - CAST(sy{g} AS DOUBLE) * sy{g} / n{g})"
    " - (CAST(sxy{g} AS DOUBLE) - CAST(sx{g} AS DOUBLE) * sy{g} / n{g})"
    " * (CAST(sxy{g} AS DOUBLE) - CAST(sx{g} AS DOUBLE) * sy{g} / n{g})"
    " / nullif(CAST(sxx{g} AS DOUBLE) - CAST(sx{g} AS DOUBLE) * sx{g} / n{g}, 0.0)"
)

CHOW_ORACLE = f"""
WITH {_DAILY_SQL},
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
pts AS (
  SELECT CAST(datediff('day', b.d0, d.day) AS BIGINT) AS x,
         cents // 10000 AS y,
         CASE WHEN 2 * datediff('day', b.d0, d.day)
                   <= datediff('day', b.d0, b.d1) THEN 1 ELSE 2 END AS regime
  FROM daily d CROSS JOIN bounds b
),
m AS (
  SELECT
    CAST(sum(CASE WHEN regime = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN regime = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
    CAST(sum(CASE WHEN regime = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
    CAST(sum(CASE WHEN regime = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
    CAST(sum(CASE WHEN regime = 1 THEN x * y ELSE 0 END) AS BIGINT) AS sxy1,
    CAST(sum(CASE WHEN regime = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syy1,
    CAST(sum(CASE WHEN regime = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN regime = 2 THEN x ELSE 0 END) AS BIGINT) AS sx2,
    CAST(sum(CASE WHEN regime = 2 THEN y ELSE 0 END) AS BIGINT) AS sy2,
    CAST(sum(CASE WHEN regime = 2 THEN x * x ELSE 0 END) AS BIGINT) AS sxx2,
    CAST(sum(CASE WHEN regime = 2 THEN x * y ELSE 0 END) AS BIGINT) AS sxy2,
    CAST(sum(CASE WHEN regime = 2 THEN y * y ELSE 0 END) AS BIGINT) AS syy2
  FROM pts
),
mm AS (
  SELECT m.*, n1 + n2 AS np, sx1 + sx2 AS sxp, sy1 + sy2 AS syp,
         sxx1 + sxx2 AS sxxp, sxy1 + sxy2 AS sxyp, syy1 + syy2 AS syyp
  FROM m
),
f AS (
  SELECT n1, n2,
         {_CHOW_SSR.format(g='p')} AS ssr_p,
         {_CHOW_SSR.format(g='1')} AS ssr_1,
         {_CHOW_SSR.format(g='2')} AS ssr_2
  FROM mm WHERE n1 > 2 AND n2 > 2
)
SELECT n1 AS n_regime1, n2 AS n_regime2,
       round(ssr_p, 2) AS ssr_pooled,
       round(ssr_1 + ssr_2, 2) AS ssr_split,
       round(((ssr_p - ssr_1 - ssr_2) / 2)
             / nullif((ssr_1 + ssr_2) / (n1 + n2 - 4), 0.0), 4) AS chow_f,
       round(((ssr_p - ssr_1 - ssr_2) / 2)
             / nullif((ssr_1 + ssr_2) / (n1 + n2 - 4), 0.0), 4) > 3.0
           AS reject_5pct
FROM f
"""


@register("stat_chow_test", CHOW_ORACLE)
def stat_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test: pooled vs split-half OLS of the daily revenue series, F statistic from exact folds."""
    daily = _daily(spark, sf_dir)
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    pts = daily.crossJoin(F.broadcast(bounds)).select(
        F.datediff("day", "d0").cast("long").alias("x"),
        F.expr("cents div 10000").alias("y"),
        F.when(
            2 * F.datediff("day", "d0") <= F.datediff("d1", "d0"), 1
        ).otherwise(2).alias("regime"),
    )
    def _m(g, col):
        return F.sum(F.when(F.col("regime") == g, col).otherwise(F.lit(0))).cast("long")

    m = pts.agg(
        *[
            e.alias(n)
            for g in (1, 2)
            for n, e in [
                (f"n{g}", _m(g, F.lit(1))),
                (f"sx{g}", _m(g, F.col("x"))),
                (f"sy{g}", _m(g, F.col("y"))),
                (f"sxx{g}", _m(g, F.col("x") * F.col("x"))),
                (f"sxy{g}", _m(g, F.col("x") * F.col("y"))),
                (f"syy{g}", _m(g, F.col("y") * F.col("y"))),
            ]
        ]
    )
    mm = m.select(
        "*",
        (F.col("n1") + F.col("n2")).alias("np"),
        (F.col("sx1") + F.col("sx2")).alias("sxp"),
        (F.col("sy1") + F.col("sy2")).alias("syp"),
        (F.col("sxx1") + F.col("sxx2")).alias("sxxp"),
        (F.col("sxy1") + F.col("sxy2")).alias("sxyp"),
        (F.col("syy1") + F.col("syy2")).alias("syyp"),
    )
    f = mm.where((F.col("n1") > 2) & (F.col("n2") > 2)).select(
        "n1",
        "n2",
        F.expr(_CHOW_SSR.format(g="p")).alias("ssr_p"),
        F.expr(_CHOW_SSR.format(g="1")).alias("ssr_1"),
        F.expr(_CHOW_SSR.format(g="2")).alias("ssr_2"),
    )
    chow = F.round(
        ((F.col("ssr_p") - F.col("ssr_1") - F.col("ssr_2")) / 2)
        / F.nullif((F.col("ssr_1") + F.col("ssr_2")) / (F.col("n1") + F.col("n2") - 4), F.lit(0.0)),
        4,
    )
    return f.select(
        F.col("n1").alias("n_regime1"),
        F.col("n2").alias("n_regime2"),
        F.round(F.col("ssr_p"), 2).alias("ssr_pooled"),
        F.round(F.col("ssr_1") + F.col("ssr_2"), 2).alias("ssr_split"),
        chow.alias("chow_f"),
        (chow > 3.0).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# stat_quade_test — Quade's weighted-rank test for treatment effects
# in randomized blocks (years = blocks, the 5 order priorities =
# treatments, cell = exact total cents), the range-weighted
# alternative to Friedman that credits blocks with bigger spread:
# S_ij = Q_i·(r_ij - (k+1)/2) with Q_i the rank of the block's range.
# DOUBLED scores 2S = Q_i·(2r_ij - (k+1)) keep everything exact
# BIGINT; T3 = (b-1)·B'/(b·A - B') with A = ΣΣ(2S)², B' = Σ_j(Σ_i 2S)²
# is ONE integer ratio (the 4x score scaling cancels). Within-block
# and range ranks break ties deterministically (treatment / year) —
# exact-cent cell ties are measure-zero. Scale: one fact rollup to
# b·k cells; everything after is O(b·k) rows.
# ---------------------------------------------------------------------------

QUADE_ORACLE = """
WITH cells AS (
  SELECT year(o_orderdate) AS yr, o_orderpriority AS trt,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY yr, trt
),
kk AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cells),
fullb AS (
  SELECT yr FROM cells GROUP BY yr
  HAVING CAST(count(*) AS BIGINT) = (SELECT k FROM kk)
),
r AS (
  SELECT c.yr, c.trt, c.v,
         CAST(row_number() OVER (PARTITION BY c.yr ORDER BY c.v, c.trt) AS BIGINT) AS rnk,
         CAST(max(c.v) OVER (PARTITION BY c.yr)
              - min(c.v) OVER (PARTITION BY c.yr) AS BIGINT) AS rng
  FROM cells c JOIN fullb fb ON fb.yr = c.yr
),
qw AS (
  SELECT yr, CAST(row_number() OVER (ORDER BY rng, yr) AS BIGINT) AS q
  FROM (SELECT DISTINCT yr, rng FROM r)
),
s AS (
  SELECT r.trt, r.yr, qw.q * (2 * r.rnk - (k.k + 1)) AS s2
  FROM r JOIN qw ON qw.yr = r.yr CROSS JOIN kk k
),
per_trt AS (SELECT trt, CAST(sum(s2) AS BIGINT) AS sj FROM s GROUP BY trt),
agg AS (
  SELECT (SELECT CAST(count(DISTINCT yr) AS BIGINT) FROM s) AS b,
         (SELECT k FROM kk) AS k,
         (SELECT CAST(sum(s2 * s2) AS BIGINT) FROM s) AS a2,
         CAST(sum(sj * sj) AS BIGINT) AS bd
  FROM per_trt
)
SELECT b AS n_blocks, k AS k_treatments,
       (k - 1) AS df1, (b - 1) * (k - 1) AS df2,
       round((b - 1) * CAST(bd AS DOUBLE)
             / nullif(b * CAST(a2 AS DOUBLE) - bd, 0.0), 4) AS quade_t3
FROM agg
"""


@register("stat_quade_test", QUADE_ORACLE)
def stat_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderdate", "o_orderpriority", "o_totalprice"],
    )
    cells = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.col("o_orderpriority").alias("trt")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("v")
    )
    kk = cells.agg(F.countDistinct("trt").cast("long").alias("k"))
    fullb = (
        cells.groupBy("yr")
        .agg(F.count("*").cast("long").alias("nc"))
        .crossJoin(F.broadcast(kk))
        .where(F.col("nc") == F.col("k"))
        .select("yr")
    )
    wb = Window.partitionBy("yr")
    r = (
        cells.join(F.broadcast(fullb), "yr")
        .select(
            "yr", "trt", "v",
            F.row_number().over(wb.orderBy("v", "trt")).cast("long").alias("rnk"),
            (F.max("v").over(wb) - F.min("v").over(wb)).cast("long").alias("rng"),
        )
    )
    qw = (
        r.select("yr", "rng")
        .distinct()
        .select("yr", F.row_number().over(Window.orderBy("rng", "yr")).cast("long").alias("q"))
    )
    s = (
        r.join(F.broadcast(qw), "yr")
        .crossJoin(F.broadcast(kk))
        .select(
            "trt", "yr", (F.col("q") * (2 * F.col("rnk") - (F.col("k") + 1))).alias("s2")
        )
        .localCheckpoint(eager=True)  # per-trt fold + a2/b fold share it
    )
    per_trt = s.groupBy("trt").agg(F.sum("s2").cast("long").alias("sj"))
    tot = s.agg(
        F.countDistinct("yr").cast("long").alias("b"),
        F.sum(F.col("s2") * F.col("s2")).cast("long").alias("a2"),
    )
    agg = (
        per_trt.agg(F.sum(F.col("sj") * F.col("sj")).cast("long").alias("bd"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(kk))
    )
    return agg.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        (F.col("k") - 1).alias("df1"),
        ((F.col("b") - 1) * (F.col("k") - 1)).alias("df2"),
        F.round(
            (F.col("b") - 1) * F.col("bd").cast("double")
            / F.nullif(
                F.col("b") * F.col("a2").cast("double") - F.col("bd"), F.lit(0.0)
            ),
            4,
        ).alias("quade_t3"),
    )


# ---------------------------------------------------------------------------
# stat_ansari_bradley — rank-based SCALE test (are H1 and H2 daily
# revenues equally dispersed?): AB scores rank from both ends,
# score(i) = min(i, N+1-i). Tied blocks get the exact average score
# via the CLOSED-FORM prefix sum S(k) of the score sequence (two
# triangular pieces around h = (N+1) div 2) — B_v = S(cum+c) - S(cum)
# is the exact BIGINT block score sum, and the group-1 statistic folds
# round(1e6 · c1·B/c) per distinct value (exact whenever c | c1·B,
# i.e. always for the tie-free daily cents). E/Var are the classical
# no-tie closed forms (parity CASE on N). Scale: one value-collapse +
# running window on the calendar-bounded daily relation (the KS walk).
# ---------------------------------------------------------------------------


def _ab_s(k: str, dv: str) -> str:
    """Closed-form S(k) = sum_{i=1..k} min(i, nn+1-i), dv = integer-div."""
    return (
        f"(CASE WHEN ({k}) <= h THEN (({k}) * (({k}) + 1)) {dv} 2 "
        f"ELSE (h * (h + 1)) {dv} 2 + (({k}) - h) * (nn + 1) "
        f"- ((({k}) * (({k}) + 1)) - h * (h + 1)) {dv} 2 END)"
    )


_AB_E = (
    "(CASE WHEN nn % 2 = 0 THEN n1 * (nn + 2) / 4.0 "
    "ELSE n1 * CAST((nn + 1) * (nn + 1) AS DOUBLE) / (4.0 * nn) END)"
)
_AB_VAR = (
    "(CASE WHEN nn % 2 = 0 "
    "THEN CAST(n1 AS DOUBLE) * n0 * (nn + 2) * (nn - 2) / (48.0 * (nn - 1)) "
    "ELSE CAST(n1 AS DOUBLE) * n0 * (nn + 1) * (3 + nn * nn) / (48.0 * nn * nn) END)"
)

ANSARI_ORACLE = f"""
WITH {_DAILY_SQL},
vals AS (
  SELECT cents AS v, CASE WHEN month(day) <= 6 THEN 1 ELSE 0 END AS g1
  FROM daily
),
cells AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c, CAST(sum(g1) AS BIGINT) AS c1
  FROM vals GROUP BY v
),
walk AS (
  SELECT v, c, c1,
         CAST(coalesce(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
  FROM cells
),
consts AS (
  SELECT CAST(sum(c) AS BIGINT) AS nn, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c - c1) AS BIGINT) AS n0,
         CAST((sum(c) + 1) // 2 AS BIGINT) AS h
  FROM cells
),
contrib AS (
  SELECT CAST(round(1e6 * CAST(w.c1 AS DOUBLE)
              * ({_ab_s('w.cum + w.c', '//')} - {_ab_s('w.cum', '//')})
              / w.c) AS BIGINT) AS aq
  FROM walk w CROSS JOIN consts
),
res AS (
  SELECT co.nn, co.n1, co.n0,
         CAST((SELECT sum(aq) FROM contrib) AS DOUBLE) / 1e6 AS ab
  FROM consts co
)
SELECT n1 AS n_h1, n0 AS n_h2,
       round(ab, 4) AS ab_statistic,
       round({_AB_E}, 4) AS expected_ab,
       round((ab - {_AB_E}) / nullif(sqrt({_AB_VAR}), 0.0), 4) AS z_score
FROM res
"""


@register("stat_ansari_bradley", ANSARI_ORACLE)
def stat_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley dispersion test between half-year revenue arms from symmetric mid-ranks."""
    daily = _daily(spark, sf_dir)
    vals = daily.select(
        F.col("cents").alias("v"),
        F.when(F.month("day") <= 6, 1).otherwise(0).alias("g1"),
    )
    cells = vals.groupBy("v").agg(
        F.count("*").cast("long").alias("c"), F.sum("g1").cast("long").alias("c1")
    )
    cells = cells.localCheckpoint(eager=True)  # walk + consts share it
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    walk = cells.select(
        "v", "c", "c1",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).cast("long").alias("cum"),
    )
    consts = cells.agg(
        F.sum("c").cast("long").alias("nn"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("n0"),
        F.expr("(sum(c) + 1) div 2").cast("long").alias("h"),
    )
    contrib = walk.crossJoin(F.broadcast(consts)).select(
        F.expr(
            "CAST(round(1e6 * CAST(c1 AS DOUBLE) * "
            f"({_ab_s('cum + c', 'div')} - {_ab_s('cum', 'div')}) / c) AS BIGINT)"
        ).alias("aq")
    )
    a_sum = contrib.agg(F.sum("aq").cast("long").alias("saq"))
    res = consts.crossJoin(F.broadcast(a_sum)).select(
        "nn", "n1", "n0", (F.col("saq").cast("double") / 1e6).alias("ab")
    )
    return res.select(
        F.col("n1").alias("n_h1"),
        F.col("n0").alias("n_h2"),
        F.round(F.col("ab"), 4).alias("ab_statistic"),
        F.round(F.expr(_AB_E), 4).alias("expected_ab"),
        F.round(
            (F.col("ab") - F.expr(_AB_E))
            / F.nullif(F.sqrt(F.expr(_AB_VAR)), F.lit(0.0)),
            4,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# text_burrows_delta — Burrows' Delta authorship/style distance
# between document sources: z-scores of the top-20 corpus terms'
# relative frequencies (per-source frequency quantized round(1e9·) to
# BIGINT, so the cross-source mean/sd moments are exact integer sums),
# Delta(a,b) = mean_t |z_a(t) - z_b(t)| with per-term contributions
# quantized round(1e6·) before the pair fold. The stylometry standard
# (Burrows 2002) — here the "same pipeline?" detector for corpus
# provenance. Scale: one token pass to the (source, term) matrix; the
# z/pair algebra runs on sources x 20 cells; the pair join is an
# equi-join on term over S² pairs of a |sources|-bounded relation.
# ---------------------------------------------------------------------------

_TOKS_SQL = "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"

BURROWS_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(
    -- a punctuation-only doc normalizes to '' and string_split('', ' ')
    -- yields [''] in DuckDB while Spark's tokens() drops it — guard
    -- with the same empty-after-normalize CASE the text oracles use
    -- (ADVICE r10)
    CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
         THEN [] ELSE {_TOKS_SQL} END
  ) AS term FROM documents WHERE trim(text) <> ''
),
totals AS (SELECT source, CAST(count(*) AS BIGINT) AS tot FROM toks GROUP BY source),
tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
       FROM toks GROUP BY source, term),
top20 AS (
  SELECT term FROM (
    SELECT term, CAST(sum(cnt) AS BIGINT) AS tc FROM tf GROUP BY term
  ) ORDER BY tc DESC, term LIMIT 20
),
fr AS (
  SELECT g.source, g.term,
         CAST(round(1e9 * CAST(coalesce(tf.cnt, 0) AS DOUBLE) / g.tot) AS BIGINT) AS fq
  FROM (SELECT s.source, s.tot, t.term FROM totals s CROSS JOIN top20 t) g
  LEFT JOIN tf ON tf.source = g.source AND tf.term = g.term
),
st AS (
  SELECT term, CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(fq) AS BIGINT) AS sf, CAST(sum(fq * fq) AS BIGINT) AS sff
  FROM fr GROUP BY term
),
sd AS (
  SELECT term,
         sqrt(CAST(sff AS DOUBLE) / ns
              - (CAST(sf AS DOUBLE) / ns) * (CAST(sf AS DOUBLE) / ns)) AS sigma
  FROM st
),
pairc AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(round(1e6 * abs(CAST(a.fq - b.fq AS DOUBLE))
                    / nullif(1e9 * sd.sigma, 0.0)) AS BIGINT) AS cq
  FROM fr a
  JOIN fr b ON b.term = a.term AND a.source < b.source
  JOIN sd ON sd.term = a.term
)
SELECT source_a, source_b,
       round(CAST(sum(cq) AS DOUBLE) / 1e6 / count(cq), 6) AS burrows_delta
FROM pairc
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@register("text_burrows_delta", BURROWS_ORACLE)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    toks = docs.where(F.trim("text") != "").select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    toks = toks.localCheckpoint(eager=True)  # totals + tf share one pass
    totals = toks.groupBy("source").agg(F.count("*").cast("long").alias("tot"))
    tf = toks.groupBy("source", "term").agg(F.count("*").cast("long").alias("cnt"))
    tf = tf.localCheckpoint(eager=True)  # top-20 + the grid join share it
    top20 = (
        tf.groupBy("term")
        .agg(F.sum("cnt").cast("long").alias("tc"))
        .orderBy(F.desc("tc"), "term")
        .limit(20)
        .select("term")
    )
    grid = totals.crossJoin(F.broadcast(top20))
    fr = (
        grid.join(tf, ["source", "term"], "left")
        .select(
            "source", "term",
            F.round(
                F.lit(1e9) * F.coalesce(F.col("cnt"), F.lit(0)).cast("double") / F.col("tot")
            )
            .cast("long")
            .alias("fq"),
        )
        .localCheckpoint(eager=True)  # moments + both pair sides share it
    )
    st = fr.groupBy("term").agg(
        F.count("*").cast("long").alias("ns"),
        F.sum("fq").cast("long").alias("sf"),
        F.sum(F.col("fq") * F.col("fq")).cast("long").alias("sff"),
    )
    mean = F.col("sf").cast("double") / F.col("ns")
    sd = st.select(
        "term",
        F.sqrt(F.col("sff").cast("double") / F.col("ns") - mean * mean).alias("sigma"),
    )
    a = fr.select(F.col("source").alias("source_a"), "term", F.col("fq").alias("fqa"))
    b = fr.select(F.col("source").alias("source_b"), "term", F.col("fq").alias("fqb"))
    pairc = (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(sd), "term")
        .select(
            "source_a", "source_b",
            F.round(
                F.lit(1e6) * F.abs((F.col("fqa") - F.col("fqb")).cast("double"))
                / F.nullif(F.lit(1e9) * F.col("sigma"), F.lit(0.0))
            )
            .cast("long")
            .alias("cq"),
        )
    )
    return (
        pairc.groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum("cq").cast("double") / 1e6 / F.count("cq"), 6
            ).alias("burrows_delta")
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# stat_brunner_munzel — the Brunner-Munzel generalized Wilcoxon test
# (H1 vs H2 daily revenue): tests P(X<Y) + half-P(X=Y) = 1/2 WITHOUT
# the equal-variance assumption Mann-Whitney needs — the modern
# default for two-sample stochastic comparison. Everything reduces to
# the value-collapsed walk: per distinct value, DOUBLED overall and
# within-group midranks are exact integers (2R = 2cum+c+1), the
# rank-variance terms are per-cell exact BIGINTs
# M_g = n_g·(2R - 2R_g) - K_g + n_g(n_g+1) (|M| <= ~2·n_g·N, squares
# safe for any calendar-bounded relation), and the statistic
# W = n1·n2·(Rbar2 - Rbar1) / ((n1+n2)·sqrt(n1·S1² + n2·S2²)) with the
# Welch-type df follows Brunner & Munzel (2000) exactly (the same
# closed form scipy.stats.brunnermunzel implements; pinned against an
# independent numpy brute force in test_r10_invariants). Scale: one
# value-collapse + three running sums on the SAME ordered walk over
# the calendar-bounded daily relation; one scalar fold.
# ---------------------------------------------------------------------------

BRUNNER_MUNZEL_ORACLE = f"""
WITH {_DAILY_SQL},
vals AS (
  SELECT cents AS v, CASE WHEN month(day) <= 6 THEN 1 ELSE 0 END AS g1
  FROM daily
),
cells AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c, CAST(sum(g1) AS BIGINT) AS c1
  FROM vals GROUP BY v
),
walk AS (
  SELECT v, c, c1, c - c1 AS c2,
         CAST(coalesce(sum(c) OVER w, 0) AS BIGINT) AS cum,
         CAST(coalesce(sum(c1) OVER w, 0) AS BIGINT) AS cum1,
         CAST(coalesce(sum(c - c1) OVER w, 0) AS BIGINT) AS cum2
  FROM cells
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
kc AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * (2 * cum + c + 1)) AS BIGINT) AS k1,
         CAST(sum(c2 * (2 * cum + c + 1)) AS BIGINT) AS k2
  FROM walk
),
s AS (
  SELECT any_value(kc.n1) AS n1, any_value(kc.n2) AS n2,
         any_value(kc.k1) AS k1, any_value(kc.k2) AS k2,
         CAST(sum(w.c1 * (kc.n1 * (2 * (w.cum - w.cum1) + (w.c - w.c1))
                          - kc.k1 + kc.n1 * (kc.n1 + 1))
                       * (kc.n1 * (2 * (w.cum - w.cum1) + (w.c - w.c1))
                          - kc.k1 + kc.n1 * (kc.n1 + 1))) AS BIGINT) AS m1s,
         CAST(sum(w.c2 * (kc.n2 * (2 * (w.cum - w.cum2) + (w.c - w.c2))
                          - kc.k2 + kc.n2 * (kc.n2 + 1))
                       * (kc.n2 * (2 * (w.cum - w.cum2) + (w.c - w.c2))
                          - kc.k2 + kc.n2 * (kc.n2 + 1))) AS BIGINT) AS m2s
  FROM walk w CROSS JOIN kc
),
d AS (
  SELECT n1, n2,
         CAST(k1 AS DOUBLE) / (2 * n1) AS rb1,
         CAST(k2 AS DOUBLE) / (2 * n2) AS rb2,
         CAST(m1s AS DOUBLE) / (4.0 * n1 * n1 * (n1 - 1)) AS s1,
         CAST(m2s AS DOUBLE) / (4.0 * n2 * n2 * (n2 - 1)) AS s2
  FROM s WHERE n1 > 1 AND n2 > 1
)
SELECT n1 AS n_h1, n2 AS n_h2,
       round((rb2 - (n2 + 1) / 2.0) / n1, 6) AS p_hat,
       round(n1 * n2 * (rb2 - rb1)
             / ((n1 + n2) * nullif(sqrt(n1 * s1 + n2 * s2), 0.0)), 4)
           AS bm_statistic,
       round((n1 * s1 + n2 * s2) * (n1 * s1 + n2 * s2)
             / nullif((n1 * s1) * (n1 * s1) / (n1 - 1)
                      + (n2 * s2) * (n2 * s2) / (n2 - 1), 0.0), 2) AS welch_df
FROM d
"""


@register("stat_brunner_munzel", BRUNNER_MUNZEL_ORACLE)
def stat_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    vals = daily.select(
        F.col("cents").alias("v"),
        F.when(F.month("day") <= 6, 1).otherwise(0).alias("g1"),
    )
    cells = vals.groupBy("v").agg(
        F.count("*").cast("long").alias("c"), F.sum("g1").cast("long").alias("c1")
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    walk = cells.select(
        "v", "c", "c1", (F.col("c") - F.col("c1")).alias("c2"),
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).cast("long").alias("cum"),
        F.coalesce(F.sum("c1").over(w_cum), F.lit(0)).cast("long").alias("cum1"),
        F.coalesce(F.sum(F.col("c") - F.col("c1")).over(w_cum), F.lit(0))
        .cast("long")
        .alias("cum2"),
    )
    walk = walk.localCheckpoint(eager=True)  # kc fold + the M fold share it
    kc = walk.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum") + F.col("c") + 1))
        .cast("long")
        .alias("k1"),
        F.sum(F.col("c2") * (2 * F.col("cum") + F.col("c") + 1))
        .cast("long")
        .alias("k2"),
    )
    m1 = (
        F.col("n1") * (2 * (F.col("cum") - F.col("cum1")) + (F.col("c") - F.col("c1")))
        - F.col("k1")
        + F.col("n1") * (F.col("n1") + 1)
    )
    m2 = (
        F.col("n2") * (2 * (F.col("cum") - F.col("cum2")) + (F.col("c") - F.col("c2")))
        - F.col("k2")
        + F.col("n2") * (F.col("n2") + 1)
    )
    s = walk.crossJoin(F.broadcast(kc)).agg(
        F.any_value("n1").alias("n1"),
        F.any_value("n2").alias("n2"),
        F.any_value("k1").alias("k1"),
        F.any_value("k2").alias("k2"),
        F.sum(F.col("c1") * m1 * m1).cast("long").alias("m1s"),
        F.sum(F.col("c2") * m2 * m2).cast("long").alias("m2s"),
    )
    d = s.where((F.col("n1") > 1) & (F.col("n2") > 1)).select(
        "n1", "n2",
        (F.col("k1").cast("double") / (2 * F.col("n1"))).alias("rb1"),
        (F.col("k2").cast("double") / (2 * F.col("n2"))).alias("rb2"),
        (
            F.col("m1s").cast("double")
            / (F.lit(4.0) * F.col("n1") * F.col("n1") * (F.col("n1") - 1))
        ).alias("s1"),
        (
            F.col("m2s").cast("double")
            / (F.lit(4.0) * F.col("n2") * F.col("n2") * (F.col("n2") - 1))
        ).alias("s2"),
    )
    var_term = F.col("n1") * F.col("s1") + F.col("n2") * F.col("s2")
    return d.select(
        F.col("n1").alias("n_h1"),
        F.col("n2").alias("n_h2"),
        F.round(
            (F.col("rb2") - (F.col("n2") + 1) / 2.0) / F.col("n1"), 6
        ).alias("p_hat"),
        F.round(
            F.col("n1") * F.col("n2") * (F.col("rb2") - F.col("rb1"))
            / ((F.col("n1") + F.col("n2")) * F.nullif(F.sqrt(var_term), F.lit(0.0))),
            4,
        ).alias("bm_statistic"),
        F.round(
            var_term * var_term
            / F.nullif(
                (F.col("n1") * F.col("s1")) * (F.col("n1") * F.col("s1")) / (F.col("n1") - 1)
                + (F.col("n2") * F.col("s2")) * (F.col("n2") * F.col("s2")) / (F.col("n2") - 1),
                F.lit(0.0),
            ),
            2,
        ).alias("welch_df"),
    )
