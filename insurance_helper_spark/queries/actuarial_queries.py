"""Actuarial analytics shelf: loss-development triangles (chain-ladder
and Bornhuetter-Ferguson reserving), compound frequency-severity
moments, Buhlmann credibility weighting, and the two-group log-rank
survival test.

This is the domain shelf the repo is named for: the reference
(insurance-helper) scrapes insurer disclosure tables; the natural
next question a consumer of that data asks is the reserving /
credibility arithmetic actuaries run over it. Each query re-expresses
a textbook actuarial method as exact-integer Spark aggregation:

- development triangles are built from order cohorts (a customer's
  first-order quarter) with cumulative spend as the "developing
  loss" — the same triangle shape as claims development;
- age-to-age factors are ratios of exact BIGINT column sums; the
  cumulative-to-ultimate factor is exp of a running sum of
  per-factor quantized ln values (house integer-moment pattern), so
  partial-aggregation order can never move the hash;
- every other statistic (EPV/VHM, compound moments, log-rank O/E/V)
  folds exact BIGINT sums with one terminal double expression.

Engine-parity notes: libm outputs (ln) are quantized to BIGINT
micro/nano units per ROW before any distributed sum; terminal scalar
exp/sqrt under round(..) is the accepted house style (IEEE sqrt and
division are correctly rounded; a single exp ulp is annihilated by
the rounding scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared triangle machinery: cumulative development cells and
# volume-weighted age-to-age factors. Cohort = the quarter of a
# customer's FIRST order; age = quarters since cohort; cell value =
# the cohort's cumulative order cents through that age. The spine is
# dense (missing quarters contribute 0 increment) so cumulative sums
# and the observation anti-diagonal (max_age = latest quarter -
# cohort quarter) are well-defined. Scale: one customer-key shuffle
# to find cohorts, one (cohort, age) rollup; everything after runs on
# the O(quarters^2) triangle — tens of rows at any data scale.
# ---------------------------------------------------------------------------

_TRIANGLE_SQL = """
o AS (
  SELECT o_custkey,
         year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS q,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (SELECT o_custkey, min(q) AS cq FROM o GROUP BY o_custkey),
latest AS (SELECT max(q) AS lq FROM o),
inc AS (
  SELECT c.cq, o.q - c.cq AS age, CAST(sum(o.cents) AS BIGINT) AS inc_cents
  FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
  GROUP BY c.cq, o.q - c.cq
),
spine AS (
  SELECT c.cq, l.lq - c.cq AS max_age,
         unnest(range(0, l.lq - c.cq + 1)) AS age
  FROM (SELECT DISTINCT cq FROM cohort) c CROSS JOIN latest l
),
cum AS (
  SELECT s.cq, s.max_age, s.age,
         CAST(sum(coalesce(i.inc_cents, 0)) OVER (
             PARTITION BY s.cq ORDER BY s.age
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cents
  FROM spine s LEFT JOIN inc i ON i.cq = s.cq AND i.age = s.age
),
fac AS (
  SELECT a.age AS from_age,
         CAST(sum(b.cum_cents) AS BIGINT) AS s_next,
         CAST(sum(a.cum_cents) AS BIGINT) AS s_prev,
         CAST(round(1e9 * ln(CAST(sum(b.cum_cents) AS DOUBLE)
                             / sum(a.cum_cents))) AS BIGINT) AS qln
  FROM cum a JOIN cum b ON b.cq = a.cq AND b.age = a.age + 1
  WHERE a.max_age >= a.age + 1
  GROUP BY a.age
),
agespine AS (
  SELECT unnest(range(0, (SELECT max(max_age) FROM spine) + 1)) AS age
),
cdfs AS (
  SELECT a.age, CAST(coalesce(sum(f.qln), 0) AS BIGINT) AS qsum
  FROM agespine a LEFT JOIN fac f ON f.from_age >= a.age
  GROUP BY a.age
),
tips AS (SELECT cq, max_age, cum_cents FROM cum WHERE age = max_age)
"""


def _cum_cells(spark: SparkSession, sf_dir: str):
    """The cumulative development cells (cq, max_age, age, cum_cents)
    shared by the reserving queries and the LDF-selection audit —
    identical expressions to the _TRIANGLE_SQL `cum` CTE. Memoized +
    eagerly checkpointed per (app, sf_dir, orders files) via
    shared_cache (r10): six reserving queries consume the same
    triangle, and several self-join it, so the orders rollup runs once
    per session instead of 6+ times — the in-session analogue of a
    published triangle table."""
    from insurance_helper_spark.queries.shared_cache import input_files, memo_checkpoint

    def _o():
        orders = load_table(
            spark, sf_dir, "orders",
            columns=["o_custkey", "o_orderdate", "o_totalprice"],
        )
        return orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1)
            .cast("long")
            .alias("q"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )

    def build_cum() -> DataFrame:
        o = _o()
        cohort = o.groupBy("o_custkey").agg(F.min("q").alias("cq"))
        latest = o.agg(F.max("q").alias("lq"))
        inc = (
            o.join(cohort, "o_custkey")
            .groupBy("cq", (F.col("q") - F.col("cq")).alias("age"))
            .agg(F.sum("cents").cast("long").alias("inc_cents"))
        )
        spine = (
            cohort.select("cq")
            .distinct()
            .crossJoin(F.broadcast(latest))
            .select(
                "cq",
                (F.col("lq") - F.col("cq")).alias("max_age"),
                F.explode(
                    F.sequence(F.lit(0).cast("long"), F.col("lq") - F.col("cq"))
                ).alias("age"),
            )
        )
        w_cum = Window.partitionBy("cq").orderBy("age").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return spine.join(inc, ["cq", "age"], "left").select(
            "cq",
            "max_age",
            "age",
            F.sum(F.coalesce("inc_cents", F.lit(0)))
            .over(w_cum)
            .cast("long")
            .alias("cum_cents"),
        )

    def build_sizes() -> DataFrame:
        o = _o()
        cohort = o.groupBy("o_custkey").agg(F.min("q").alias("cq"))
        return cohort.groupBy("cq").agg(F.count("*").cast("long").alias("n_cust"))

    inputs = input_files(sf_dir, "orders")
    cum = memo_checkpoint(spark, ("actuarial_cum_cells", sf_dir, inputs), build_cum)
    sizes = memo_checkpoint(spark, ("actuarial_cohort_sizes", sf_dir, inputs), build_sizes)
    return cum, sizes


def _fac_of(cum: DataFrame) -> DataFrame:
    """Volume-weighted age-to-age factors (from_age, s_next, s_prev,
    qln) from the cumulative cells — identical to _TRIANGLE_SQL `fac`."""
    a, b = cum.alias("a"), cum.alias("b")
    fac = (
        a.join(
            b,
            (F.col("b.cq") == F.col("a.cq")) & (F.col("b.age") == F.col("a.age") + 1),
        )
        .where(F.col("a.max_age") >= F.col("a.age") + 1)
        .groupBy(F.col("a.age").alias("from_age"))
        .agg(
            F.sum("b.cum_cents").cast("long").alias("s_next"),
            F.sum("a.cum_cents").cast("long").alias("s_prev"),
            F.round(
                F.lit(1e9)
                * F.log(
                    F.sum("b.cum_cents").cast("double") / F.sum("a.cum_cents")
                )
            )
            .cast("long")
            .alias("qln"),
        )
    )
    return fac


def _cdfs_of(cum: DataFrame, fac: DataFrame) -> DataFrame:
    """Quantized-ln cumulative development factor per age — identical
    to _TRIANGLE_SQL `cdfs`."""
    agespine = (
        cum.agg(F.max("max_age").alias("maxa"))
        .select(F.explode(F.sequence(F.lit(0).cast("long"), F.col("maxa"))).alias("age"))
    )
    return (
        agespine.join(fac, fac.from_age >= agespine.age, "left")
        .groupBy("age")
        .agg(F.coalesce(F.sum("qln"), F.lit(0)).cast("long").alias("qsum"))
    )


def _triangle(spark: SparkSession, sf_dir: str):
    """Build (tips, cdfs, cohort_sizes) DataFrames for the reserving
    queries. tips: one row per cohort at its latest observed age;
    cdfs: quantized-ln cumulative development factor per age."""
    cum, sizes = _cum_cells(spark, sf_dir)
    fac = _fac_of(cum)
    cdfs = _cdfs_of(cum, fac)
    tips = cum.where(F.col("age") == F.col("max_age")).select(
        "cq", "max_age", "cum_cents"
    )
    return tips, cdfs, sizes


def _cohort_label(col):
    """'2024Q3'-style label from the quarter index (year*4 + q - 1)."""
    return F.concat(
        (col / 4).cast("long").cast("string"),
        F.lit("Q"),
        (col % 4 + 1).cast("string"),
    )


_COHORT_LABEL_SQL = (
    "CAST({c} // 4 AS VARCHAR) || 'Q' || CAST({c} % 4 + 1 AS VARCHAR)"
)

# ---------------------------------------------------------------------------
# actuarial_chain_ladder — the classical volume-weighted chain-ladder
# projection: per cohort, the latest observed cumulative value, the
# cumulative-to-ultimate development factor (product of remaining
# age-to-age factors, computed as exp of the reverse-cumulative sum
# of per-factor quantized lns), the projected ultimate, and the IBNR
# reserve (ultimate - latest). Factors are >= 1 by construction
# (increments are non-negative and age-0 cumulative is positive), so
# ln is always defined. Scale: triangle is O(quarters^2) regardless
# of fact-table size; the only full-data work is the cohort rollup.
# ---------------------------------------------------------------------------

CHAIN_LADDER_ORACLE = f"""
WITH {_TRIANGLE_SQL}
SELECT {_COHORT_LABEL_SQL.format(c='t.cq')} AS cohort,
       t.max_age AS dev_age,
       round(t.cum_cents / 100.0, 2) AS latest_cum,
       round(exp(CAST(c.qsum AS DOUBLE) / 1e9), 6) AS cdf_to_ultimate,
       round(t.cum_cents * exp(CAST(c.qsum AS DOUBLE) / 1e9) / 100.0, 2)
           AS ultimate,
       round(t.cum_cents * (exp(CAST(c.qsum AS DOUBLE) / 1e9) - 1) / 100.0, 2)
           AS ibnr_reserve
FROM tips t JOIN cdfs c ON c.age = t.max_age
ORDER BY cohort
"""


@register("actuarial_chain_ladder", CHAIN_LADDER_ORACLE)
def actuarial_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    tips, cdfs, _ = _triangle(spark, sf_dir)
    dev = F.exp(F.col("qsum").cast("double") / 1e9)
    return (
        tips.join(F.broadcast(cdfs), cdfs.age == tips.max_age)
        .select(
            _cohort_label(F.col("cq")).alias("cohort"),
            F.col("max_age").alias("dev_age"),
            F.round(F.col("cum_cents") / 100.0, 2).alias("latest_cum"),
            F.round(dev, 6).alias("cdf_to_ultimate"),
            F.round(F.col("cum_cents") * dev / 100.0, 2).alias("ultimate"),
            F.round(F.col("cum_cents") * (dev - 1) / 100.0, 2).alias("ibnr_reserve"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# actuarial_bf_reserve — Bornhuetter-Ferguson reserving: instead of
# multiplying the (volatile) latest value by the full development
# factor, BF takes reserve = prior-expected ultimate x (1 - 1/CDF),
# blending an a-priori per-customer ultimate (estimated from MATURE
# cohorts, dev age >= half the maximum) with observed emergence.
# 1/CDF = exp(-qsum/1e9) directly from the same quantized-ln sums.
# Output also carries the chain-ladder reserve for comparison — the
# reserving pair every actuarial review reports side by side.
# ---------------------------------------------------------------------------

BF_ORACLE = f"""
WITH {_TRIANGLE_SQL},
sizes AS (SELECT cq, CAST(count(*) AS BIGINT) AS n_cust FROM cohort GROUP BY cq),
mature AS (
  SELECT CAST(sum(t.cum_cents) AS BIGINT) AS m_cents,
         CAST(sum(z.n_cust) AS BIGINT) AS m_cust
  FROM tips t JOIN sizes z ON z.cq = t.cq
  WHERE t.max_age * 2 >= (SELECT max(max_age) FROM spine)
)
SELECT {_COHORT_LABEL_SQL.format(c='t.cq')} AS cohort,
       z.n_cust,
       round(t.cum_cents / 100.0, 2) AS latest_cum,
       round(exp(-CAST(c.qsum AS DOUBLE) / 1e9), 6) AS pct_developed,
       round((t.cum_cents
              + z.n_cust * (CAST(m.m_cents AS DOUBLE) / m.m_cust)
                * (1 - exp(-CAST(c.qsum AS DOUBLE) / 1e9))) / 100.0, 2)
           AS bf_ultimate,
       round(z.n_cust * (CAST(m.m_cents AS DOUBLE) / m.m_cust)
             * (1 - exp(-CAST(c.qsum AS DOUBLE) / 1e9)) / 100.0, 2)
           AS bf_reserve,
       round(t.cum_cents * (exp(CAST(c.qsum AS DOUBLE) / 1e9) - 1) / 100.0, 2)
           AS cl_reserve
FROM tips t
JOIN cdfs c ON c.age = t.max_age
JOIN sizes z ON z.cq = t.cq
CROSS JOIN mature m
ORDER BY cohort
"""


@register("actuarial_bf_reserve", BF_ORACLE)
def actuarial_bf_reserve(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    inv_dev = F.exp(-F.col("qsum").cast("double") / 1e9)
    prior = F.col("n_cust") * (F.col("m_cents").cast("double") / F.col("m_cust"))
    return (
        tips.join(F.broadcast(cdfs), cdfs.age == tips.max_age)
        .join(sizes, "cq")
        .crossJoin(F.broadcast(mature))
        .select(
            _cohort_label(F.col("cq")).alias("cohort"),
            "n_cust",
            F.round(F.col("cum_cents") / 100.0, 2).alias("latest_cum"),
            F.round(inv_dev, 6).alias("pct_developed"),
            F.round(
                (F.col("cum_cents") + prior * (1 - inv_dev)) / 100.0, 2
            ).alias("bf_ultimate"),
            F.round(prior * (1 - inv_dev) / 100.0, 2).alias("bf_reserve"),
            F.round(
                F.col("cum_cents")
                * (F.exp(F.col("qsum").cast("double") / 1e9) - 1)
                / 100.0,
                2,
            ).alias("cl_reserve"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# actuarial_freq_severity — compound (collective-risk) frequency/
# severity decomposition per market segment: claim frequency lambda =
# orders per customer, severity mean and coefficient of variation,
# and the compound-Poisson aggregate-loss moments E[S] = total/n_cust
# and Var[S] = lambda*E[X^2] = sum(x^2)/n_cust. First moments stay
# EXACT integer cents; SECOND moments use KILO-DOLLAR units (r10
# headroom audit: sum(cents^2) is ~2.5e19 per segment at sf0.1 —
# already past int64, silently wrapping in ANSI-off sessions and
# erroring in ANSI-on; kilo-dollar squares are safe to ~2.5e13
# orders/segment, and CV is a unit-invariant ratio of kilo-dollar
# moments; agg_loss_sd is converted back to dollars for display).
# NOTE (ADVICE r10): because each order is rounded to the nearest
# $1000 BEFORE the second moments, the published sev_cv / agg_loss_sd
# are kilo-dollar-quantized approximations of the cent-level
# statistic — statistically negligible at these row counts, but
# "EXACT" above refers to the kilo-dollar definition both engines
# share, not cent-level dispersion.
# Scale: one map-side-combined groupBy on 5 segments after a
# broadcast customer join.
# ---------------------------------------------------------------------------

FREQ_SEV_ORACLE = """
WITH o AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         CAST(round(o.o_totalprice / 1000) AS BIGINT) AS kd
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT segment,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(kd) AS BIGINT) AS sk,
         CAST(sum(kd * kd) AS BIGINT) AS ssq
  FROM o GROUP BY segment
)
SELECT segment, n_cust, n_orders,
       round(CAST(n_orders AS DOUBLE) / n_cust, 6) AS freq_lambda,
       round(CAST(s AS DOUBLE) / n_orders / 100.0, 4) AS sev_mean,
       round(sqrt((CAST(n_orders AS DOUBLE) * ssq - CAST(sk AS DOUBLE) * sk)
                  / (CAST(n_orders AS DOUBLE) * (n_orders - 1)))
             / (CAST(sk AS DOUBLE) / n_orders), 6) AS sev_cv,
       round(CAST(s AS DOUBLE) / n_cust / 100.0, 4) AS agg_loss_mean,
       round(sqrt(CAST(ssq AS DOUBLE) / n_cust) * 1000, 4) AS agg_loss_sd
FROM m
ORDER BY segment
"""


@register("actuarial_freq_severity", FREQ_SEV_ORACLE)
def actuarial_freq_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    o = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.round(F.col("o_totalprice") / 1000).cast("long").alias("kd"),
    )
    m = o.groupBy("segment").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_cust"),
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("s"),
        F.sum("kd").cast("long").alias("sk"),
        F.sum(F.col("kd") * F.col("kd")).cast("long").alias("ssq"),
    )
    nd = F.col("n_orders").cast("double")
    s_ = F.col("s").cast("double")
    sk_ = F.col("sk").cast("double")
    return m.select(
        "segment",
        "n_cust",
        "n_orders",
        F.round(nd / F.col("n_cust"), 6).alias("freq_lambda"),
        F.round(s_ / F.col("n_orders") / 100.0, 4).alias("sev_mean"),
        F.round(
            F.sqrt(
                (nd * F.col("ssq") - sk_ * F.col("sk"))
                / (nd * (F.col("n_orders") - 1))
            )
            / (sk_ / F.col("n_orders")),
            6,
        ).alias("sev_cv"),
        F.round(s_ / F.col("n_cust") / 100.0, 4).alias("agg_loss_mean"),
        F.round(F.sqrt(F.col("ssq").cast("double") / F.col("n_cust")) * 1000, 4).alias(
            "agg_loss_sd"
        ),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# actuarial_buhlmann_credibility — balanced Buhlmann credibility over
# (segment, year) cells: the per-cell observation X_it is the
# segment's average order cents that year, QUANTIZED to an integer
# cent once per cell (house pattern) so the within/between dispersion
# numerators fold as exact BIGINTs. Only years in which ALL segments
# are observed enter (balanced design, the textbook estimator):
#   EPV  = mean within-class variance (process noise),
#   VHM  = variance of class means - EPV/n (true between-class signal),
#   Z    = n / (n + EPV/VHM), clamped to 0 when VHM <= 0.
# Output: per-segment credibility-weighted premium Z*Xbar_i +
# (1-Z)*Xbar. Scale: 5 x years cells; one fact-table rollup.
# ---------------------------------------------------------------------------

BUHLMANN_ORACLE = """
WITH cells0 AS (
  SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS yr,
         CAST(round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / count(*)) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY segment, yr
),
k AS (SELECT CAST(count(DISTINCT segment) AS BIGINT) AS k FROM cells0),
balanced_years AS (
  SELECT yr FROM cells0 CROSS JOIN k
  GROUP BY yr, k.k HAVING count(*) = any_value(k.k)
),
cells AS (SELECT c.* FROM cells0 c JOIN balanced_years b ON b.yr = c.yr),
per_class AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM cells GROUP BY segment
),
q AS (
  SELECT segment, n, sx,
         CAST(round((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / n)
              AS BIGINT) AS within_num,
         CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) AS mbar
  FROM per_class
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS kk, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(within_num) AS BIGINT) AS w,
         CAST(sum(mbar) AS BIGINT) AS sm, CAST(sum(mbar * mbar) AS BIGINT) AS smm
  FROM q
),
p AS (
  SELECT kk, n, CAST(sm AS DOUBLE) / kk AS grand_mean,
         CAST(w AS DOUBLE) / (kk * (n - 1)) AS epv,
         (CAST(kk AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm)
             / (CAST(kk AS DOUBLE) * (kk - 1))
           - CAST(w AS DOUBLE) / (kk * (n - 1)) / n AS vhm
  FROM g
)
SELECT q.segment, p.n AS n_years,
       round(q.mbar / 100.0, 2) AS class_mean,
       round(p.grand_mean / 100.0, 2) AS grand_mean,
       round(CASE WHEN p.vhm > 0
                  THEN p.n / (p.n + p.epv / p.vhm) ELSE 0.0 END, 6) AS z_cred,
       round((CASE WHEN p.vhm > 0
                   THEN p.n / (p.n + p.epv / p.vhm) ELSE 0.0 END * q.mbar
              + (1 - CASE WHEN p.vhm > 0
                          THEN p.n / (p.n + p.epv / p.vhm) ELSE 0.0 END)
                * p.grand_mean) / 100.0, 2) AS cred_premium
FROM q CROSS JOIN p
ORDER BY segment
"""


@register("actuarial_buhlmann_credibility", BUHLMANN_ORACLE)
def actuarial_buhlmann_credibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    cells0 = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("yr"),
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
    balanced_years = (
        cells0.crossJoin(F.broadcast(k))
        .groupBy("yr", "k")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") == F.col("k"))
        .select("yr")
    )
    cells = cells0.join(F.broadcast(balanced_years), "yr")
    per_class = cells.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    q = per_class.select(
        "segment",
        "n",
        "sx",
        F.round(
            (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            / F.col("n")
        )
        .cast("long")
        .alias("within_num"),
        F.round(F.col("sx").cast("double") / F.col("n")).cast("long").alias("mbar"),
    )
    g = q.agg(
        F.count("*").cast("long").alias("kk"),
        F.max("n").cast("long").alias("n"),
        F.sum("within_num").cast("long").alias("w"),
        F.sum("mbar").cast("long").alias("sm"),
        F.sum(F.col("mbar") * F.col("mbar")).cast("long").alias("smm"),
    )
    p = g.select(
        "kk",
        F.col("n").alias("n_periods"),
        (F.col("sm").cast("double") / F.col("kk")).alias("grand_mean"),
        (F.col("w").cast("double") / (F.col("kk") * (F.col("n") - 1))).alias("epv"),
        (
            (F.col("kk").cast("double") * F.col("smm") - F.col("sm").cast("double") * F.col("sm"))
            / (F.col("kk").cast("double") * (F.col("kk") - 1))
            - F.col("w").cast("double") / (F.col("kk") * (F.col("n") - 1)) / F.col("n")
        ).alias("vhm"),
    )
    z = F.when(
        F.col("vhm") > 0,
        F.col("n_periods") / (F.col("n_periods") + F.col("epv") / F.col("vhm")),
    ).otherwise(F.lit(0.0))
    return (
        q.drop("n", "sx")
        .crossJoin(F.broadcast(p))
        .select(
            "segment",
            F.col("n_periods").alias("n_years"),
            F.round(F.col("mbar") / 100.0, 2).alias("class_mean"),
            F.round(F.col("grand_mean") / 100.0, 2).alias("grand_mean"),
            F.round(z, 6).alias("z_cred"),
            F.round(
                (z * F.col("mbar") + (1 - z) * F.col("grand_mean")) / 100.0, 2
            ).alias("cred_premium"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# actuarial_logrank_test — two-group log-rank test on customer
# order-activity lifetimes (the KM framing from
# stat_kaplan_meier_retention: duration = weeks first->last order,
# censored if the last order is within 90 days of observation end).
# Groups: solvent (c_acctbal >= 0) vs overdrawn customers. At each
# event week t: O1 = observed group-1 events, E1_t = d_t*n1_t/n_t,
# V_t = d_t*(n1/n)*(n2/n)*(n-d)/(n-1); both E and V contributions are
# quantized to BIGINT micro-units per event row before the sum, so
# the chi-square is order-independent. Scale: one customer rollup,
# then every window rides the |distinct weeks| reduced relation.
# ---------------------------------------------------------------------------

LOGRANK_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(floor(date_diff('day', CAST(min(o_orderdate) AS DATE),
                              CAST(max(o_orderdate) AS DATE)) / 7.0) AS BIGINT)
             AS duration,
         CAST(max(o_orderdate) AS DATE) AS last_day
  FROM orders GROUP BY o_custkey
),
grp AS (
  SELECT p.duration, p.last_day,
         CASE WHEN c.c_acctbal >= 0 THEN 1 ELSE 0 END AS g1
  FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
),
horizon AS (SELECT max(last_day) AS obs_end,
                   CAST(sum(g1) AS BIGINT) AS n1_total,
                   CAST(sum(1 - g1) AS BIGINT) AS n2_total
            FROM grp),
flagged AS (
  SELECT g.duration, g.g1,
         CASE WHEN g.last_day < h.obs_end - INTERVAL 90 DAY THEN 1 ELSE 0 END
             AS churned,
         h.n1_total, h.n2_total
  FROM grp g CROSS JOIN horizon h
),
per_dur AS (
  SELECT duration, n1_total, n2_total,
         CAST(sum(g1) AS BIGINT) AS l1,
         CAST(sum(1 - g1) AS BIGINT) AS l2,
         CAST(sum(g1 * churned) AS BIGINT) AS e1,
         CAST(sum((1 - g1) * churned) AS BIGINT) AS e2
  FROM flagged GROUP BY duration, n1_total, n2_total
),
risk AS (
  SELECT duration, e1, e2,
         n1_total - CAST(coalesce(sum(l1) OVER (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n1,
         n2_total - CAST(coalesce(sum(l2) OVER (ORDER BY duration
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n2
  FROM per_dur
),
contrib AS (
  SELECT e1, e2, n1, n2,
         CAST(round(1e6 * (e1 + e2) * CAST(n1 AS DOUBLE) / (n1 + n2)) AS BIGINT)
             AS qe1,
         CASE WHEN n1 + n2 > 1 THEN
           CAST(round(1e6 * (e1 + e2)
                      * (CAST(n1 AS DOUBLE) / (n1 + n2))
                      * (CAST(n2 AS DOUBLE) / (n1 + n2))
                      * (n1 + n2 - e1 - e2) / (n1 + n2 - 1)) AS BIGINT)
           ELSE 0 END AS qv
  FROM risk WHERE e1 + e2 > 0
),
s AS (
  SELECT CAST(sum(e1) AS BIGINT) AS o1, CAST(sum(e2) AS BIGINT) AS o2,
         CAST(sum(qe1) AS BIGINT) AS se1, CAST(sum(qv) AS BIGINT) AS sv
  FROM contrib
)
SELECT o1 AS observed_g1, o2 AS observed_g2,
       round(se1 / 1e6, 4) AS expected_g1,
       round(pow(o1 - se1 / 1e6, 2) / (sv / 1e6), 4) AS logrank_chi2
FROM s
"""


@register("actuarial_logrank_test", LOGRANK_ORACLE)
def actuarial_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_acctbal"])
    per_cust = orders.groupBy("o_custkey").agg(
        F.floor(
            F.datediff(F.to_date(F.max("o_orderdate")), F.to_date(F.min("o_orderdate")))
            / 7.0
        )
        .cast("long")
        .alias("duration"),
        F.to_date(F.max("o_orderdate")).alias("last_day"),
    )
    grp = per_cust.join(
        F.broadcast(cust), per_cust.o_custkey == cust.c_custkey
    ).select(
        "duration",
        "last_day",
        F.when(F.col("c_acctbal") >= 0, 1).otherwise(0).alias("g1"),
    )
    horizon = grp.agg(
        F.max("last_day").alias("obs_end"),
        F.sum("g1").cast("long").alias("n1_total"),
        F.sum(1 - F.col("g1")).cast("long").alias("n2_total"),
    )
    flagged = grp.crossJoin(F.broadcast(horizon)).select(
        "duration",
        "g1",
        F.when(F.col("last_day") < F.date_sub("obs_end", 90), 1)
        .otherwise(0)
        .alias("churned"),
        "n1_total",
        "n2_total",
    )
    per_dur = flagged.groupBy("duration", "n1_total", "n2_total").agg(
        F.sum("g1").cast("long").alias("l1"),
        F.sum(1 - F.col("g1")).cast("long").alias("l2"),
        F.sum(F.col("g1") * F.col("churned")).cast("long").alias("e1"),
        F.sum((1 - F.col("g1")) * F.col("churned")).cast("long").alias("e2"),
    )
    w_prev = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_dur.select(
        "duration",
        "e1",
        "e2",
        (
            F.col("n1_total") - F.coalesce(F.sum("l1").over(w_prev), F.lit(0))
        ).cast("long").alias("n1"),
        (
            F.col("n2_total") - F.coalesce(F.sum("l2").over(w_prev), F.lit(0))
        ).cast("long").alias("n2"),
    )
    n = F.col("n1") + F.col("n2")
    d = F.col("e1") + F.col("e2")
    contrib = risk.where(d > 0).select(
        "e1",
        "e2",
        F.round(F.lit(1e6) * d * F.col("n1").cast("double") / n)
        .cast("long")
        .alias("qe1"),
        F.when(
            n > 1,
            F.round(
                F.lit(1e6)
                * d
                * (F.col("n1").cast("double") / n)
                * (F.col("n2").cast("double") / n)
                * (n - d)
                / (n - 1)
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("qv"),
    )
    s = contrib.agg(
        F.sum("e1").cast("long").alias("o1"),
        F.sum("e2").cast("long").alias("o2"),
        F.sum("qe1").cast("long").alias("se1"),
        F.sum("qv").cast("long").alias("sv"),
    )
    return s.select(
        F.col("o1").alias("observed_g1"),
        F.col("o2").alias("observed_g2"),
        F.round(F.col("se1") / 1e6, 4).alias("expected_g1"),
        F.round(
            F.pow(F.col("o1") - F.col("se1") / 1e6, 2) / (F.col("sv") / 1e6), 4
        ).alias("logrank_chi2"),
    )


# ---------------------------------------------------------------------------
# actuarial_ldf_selection — the loss-development-factor SELECTION
# table an actuary reviews before accepting a chain-ladder projection:
# for every age-to-age step, the volume-weighted LDF (what
# chain_ladder uses), the simple (unweighted) mean of per-cohort
# ratios, the min/max cohort ratio (the dispersion that flags an
# unstable factor), the number of contributing cohorts, and the
# cumulative-to-ultimate factor from that age. VW vs simple-mean
# disagreement + a wide min/max band is the standard "don't trust
# this diagonal" signal. ENGINE PARITY: per-cohort ratios are
# quantized round(·1e9) AS BIGINT per row before the mean/min/max
# folds (ratios of positive exact BIGINTs — cohort age-0 cumulative
# is positive by construction); the VW factor is a ratio of exact
# BIGINT sums; the CDF reuses the same quantized-ln sums as
# chain_ladder. Scale: everything past the one cohort rollup runs on
# the O(quarters^2) triangle.
# ---------------------------------------------------------------------------

LDF_SELECTION_ORACLE = f"""
WITH {_TRIANGLE_SQL},
ratios AS (
  SELECT a.age AS from_age,
         CAST(round(1e9 * (CAST(b.cum_cents AS DOUBLE) / a.cum_cents))
              AS BIGINT) AS qr
  FROM cum a JOIN cum b ON b.cq = a.cq AND b.age = a.age + 1
  WHERE a.max_age >= a.age + 1
),
rstats AS (
  SELECT from_age, CAST(count(*) AS BIGINT) AS n_cohorts,
         CAST(sum(qr) AS BIGINT) AS qsumr,
         CAST(min(qr) AS BIGINT) AS qmin, CAST(max(qr) AS BIGINT) AS qmax
  FROM ratios GROUP BY from_age
)
SELECT f.from_age, f.from_age + 1 AS to_age, r.n_cohorts,
       round(CAST(f.s_next AS DOUBLE) / f.s_prev, 6) AS vw_ldf,
       round(CAST(r.qsumr AS DOUBLE) / 1e9 / r.n_cohorts, 6) AS simple_ldf,
       round(CAST(r.qmin AS DOUBLE) / 1e9, 6) AS min_ldf,
       round(CAST(r.qmax AS DOUBLE) / 1e9, 6) AS max_ldf,
       round(exp(CAST(c.qsum AS DOUBLE) / 1e9), 6) AS cdf_to_ultimate
FROM fac f
JOIN rstats r ON r.from_age = f.from_age
JOIN cdfs c ON c.age = f.from_age
ORDER BY f.from_age
"""


@register("actuarial_ldf_selection", LDF_SELECTION_ORACLE)
def actuarial_ldf_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum, _ = _cum_cells(spark, sf_dir)
    cum = cum.localCheckpoint(eager=True)  # fac + ratios + cdfs reuse it
    fac = _fac_of(cum)
    cdfs = _cdfs_of(cum, fac)
    a, b = cum.alias("a"), cum.alias("b")
    ratios = (
        a.join(
            b,
            (F.col("b.cq") == F.col("a.cq")) & (F.col("b.age") == F.col("a.age") + 1),
        )
        .where(F.col("a.max_age") >= F.col("a.age") + 1)
        .select(
            F.col("a.age").alias("from_age"),
            F.round(
                F.lit(1e9) * (F.col("b.cum_cents").cast("double") / F.col("a.cum_cents"))
            )
            .cast("long")
            .alias("qr"),
        )
    )
    rstats = ratios.groupBy("from_age").agg(
        F.count("*").cast("long").alias("n_cohorts"),
        F.sum("qr").cast("long").alias("qsumr"),
        F.min("qr").cast("long").alias("qmin"),
        F.max("qr").cast("long").alias("qmax"),
    )
    return (
        fac.join(rstats, "from_age")
        .join(F.broadcast(cdfs), cdfs.age == F.col("from_age"))
        .select(
            "from_age",
            (F.col("from_age") + 1).alias("to_age"),
            "n_cohorts",
            F.round(F.col("s_next").cast("double") / F.col("s_prev"), 6).alias(
                "vw_ldf"
            ),
            F.round(
                F.col("qsumr").cast("double") / 1e9 / F.col("n_cohorts"), 6
            ).alias("simple_ldf"),
            F.round(F.col("qmin").cast("double") / 1e9, 6).alias("min_ldf"),
            F.round(F.col("qmax").cast("double") / 1e9, 6).alias("max_ldf"),
            F.round(F.exp(F.col("qsum").cast("double") / 1e9), 6).alias(
                "cdf_to_ultimate"
            ),
        )
        .orderBy("from_age")
    )


# ---------------------------------------------------------------------------
# actuarial_mack_sigma — the Mack (distribution-free chain-ladder)
# variance table: per development age, sigma^2_k = 1/(n_k-1) *
# sum_j c_jk * (f_jk - fhat_k)^2 — the process-variance estimate that
# turns the deterministic chain-ladder projection into a reserve with
# a standard error. Reported with the volume-weighted factor and its
# standard error SE(fhat_k) = sqrt(sigma^2_k / sum_j c_jk); ages with
# a single contributing cohort have no variance estimate and are
# excluded (Mack's rule). ENGINE PARITY: fhat is the ratio of exact
# BIGINT sums; each weighted squared deviation is quantized
# round(·1e4) AS BIGINT per cohort before the fold (terms are
# O(c·dev^2) ~ 1e6, so 1e4-scaled terms stay far under 2^63 at any
# realistic cohort count). Scale: O(quarters^2) triangle work after
# one cohort rollup.
# ---------------------------------------------------------------------------

MACK_SIGMA_ORACLE = f"""
WITH {_TRIANGLE_SQL},
rat AS (
  SELECT a.age AS from_age, a.cum_cents AS c_prev,
         CAST(b.cum_cents AS DOUBLE) / a.cum_cents AS f
  FROM cum a JOIN cum b ON b.cq = a.cq AND b.age = a.age + 1
  WHERE a.max_age >= a.age + 1
),
dev AS (
  SELECT r.from_age,
         CAST(count(*) AS BIGINT) AS n_cohorts,
         any_value(CAST(f.s_next AS DOUBLE) / f.s_prev) AS fhat,
         CAST(sum(CAST(round(1e4 * r.c_prev
                  * (r.f - CAST(f.s_next AS DOUBLE) / f.s_prev)
                  * (r.f - CAST(f.s_next AS DOUBLE) / f.s_prev)) AS BIGINT))
              AS BIGINT) AS qdev,
         CAST(sum(r.c_prev) AS BIGINT) AS c_total
  FROM rat r JOIN fac f ON f.from_age = r.from_age
  GROUP BY r.from_age
)
SELECT from_age, from_age + 1 AS to_age, n_cohorts,
       round(fhat, 6) AS vw_ldf,
       round(CAST(qdev AS DOUBLE) / 1e4 / (n_cohorts - 1), 6) AS sigma2,
       round(sqrt((CAST(qdev AS DOUBLE) / 1e4 / (n_cohorts - 1)) / c_total), 6)
           AS se_factor
FROM dev WHERE n_cohorts >= 2
ORDER BY from_age
"""


@register("actuarial_mack_sigma", MACK_SIGMA_ORACLE)
def actuarial_mack_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum, _ = _cum_cells(spark, sf_dir)
    cum = cum.localCheckpoint(eager=True)  # ratios + factors share it
    fac = _fac_of(cum)
    a, b = cum.alias("a"), cum.alias("b")
    rat = (
        a.join(
            b,
            (F.col("b.cq") == F.col("a.cq")) & (F.col("b.age") == F.col("a.age") + 1),
        )
        .where(F.col("a.max_age") >= F.col("a.age") + 1)
        .select(
            F.col("a.age").alias("from_age"),
            F.col("a.cum_cents").alias("c_prev"),
            (F.col("b.cum_cents").cast("double") / F.col("a.cum_cents")).alias("f"),
        )
    )
    fhat = F.col("s_next").cast("double") / F.col("s_prev")
    dev = (
        rat.join(F.broadcast(fac), "from_age")
        .groupBy("from_age")
        .agg(
            F.count("*").cast("long").alias("n_cohorts"),
            F.any_value(fhat).alias("fhat"),
            F.sum(
                F.round(
                    F.lit(1e4)
                    * F.col("c_prev")
                    * (F.col("f") - fhat)
                    * (F.col("f") - fhat)
                ).cast("long")
            )
            .cast("long")
            .alias("qdev"),
            F.sum("c_prev").cast("long").alias("c_total"),
        )
    )
    sigma2 = F.col("qdev").cast("double") / 1e4 / (F.col("n_cohorts") - 1)
    return (
        dev.where(F.col("n_cohorts") >= 2)
        .select(
            "from_age",
            (F.col("from_age") + 1).alias("to_age"),
            "n_cohorts",
            F.round(F.col("fhat"), 6).alias("vw_ldf"),
            F.round(sigma2, 6).alias("sigma2"),
            F.round(F.sqrt(sigma2 / F.col("c_total")), 6).alias("se_factor"),
        )
        .orderBy("from_age")
    )
