"""Analytics-surface extensions: ranking-window breadth (ntile /
percent_rank / cume_dist / first+last value), scalar math & conditional
functions, pivot, and batch gap-based sessionization.

The reference has no window functions at all (SURVEY.md §2A end-note);
these complete the §2B "Windows" and "Scalar fns — math/misc" rows and
add the batch twin of the streaming session-window operator (the
streaming one — ``stream_session_windows`` — only gets a rows-only
check; this one is fully SQL-expressible, so the driver can value-hash
it).

Parity notes: percent_rank/cume_dist are exact rationals computed from
row counts — identical across engines; rounding to 6 decimals only
collapses display dust. ntile is deterministic given a total order, so
every window here orders by a unique key suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql.types import TimestampNTZType

from insurance_helper_spark.functions.dates import epoch_us
from insurance_helper_spark.functions.ranks import cum_counts
from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table


def _is_ntz(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, TimestampNTZType)


# ---------------------------------------------------------------------------
# window_rank_variants — every ranking-family function over one
# partitioned window. Scale: one shuffle on the partition key; ranking
# functions stream through each partition with O(1) state.
# ---------------------------------------------------------------------------

RANK_VARIANTS_ORACLE = """
SELECT c_nationkey,
       c_custkey,
       round(c_acctbal, 2) AS acctbal,
       ntile(4)       OVER w AS quartile,
       dense_rank()   OVER w AS drank,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cdist,
       first_value(c_custkey) OVER w AS richest_cust,
       last_value(c_custkey)
         OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS poorest_cust
FROM customer
WHERE c_custkey <= 300
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_nationkey, drank, c_custkey
"""


@register("window_rank_variants", RANK_VARIANTS_ORACLE)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey", "c_acctbal"]
    ).filter(F.col("c_custkey") <= 300)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.ntile(4).over(w).alias("quartile"),
            F.dense_rank().over(w).alias("drank"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
            F.first("c_custkey").over(w).alias("richest_cust"),
            F.last("c_custkey").over(w_full).alias("poorest_cust"),
        )
        .orderBy("c_nationkey", "drank", "c_custkey")
    )


# ---------------------------------------------------------------------------
# scalar_math_functions — math/conditional scalar surface in one
# projection (SURVEY §2B "Scalar fns — math/misc"). Pure codegen'd
# expressions over a pruned scan; no shuffle at all.
# ---------------------------------------------------------------------------

MATH_ORACLE = """
SELECT l_orderkey,
       l_linenumber,
       round(abs(l_extendedprice - l_tax * 1000), 4)      AS abs_diff,
       CAST(ceil(l_quantity / 7) AS BIGINT)               AS ceil_q,
       CAST(floor(l_extendedprice / 100) AS BIGINT)       AS floor_p,
       round(sqrt(l_extendedprice), 4)                    AS sqrt_p,
       round(ln(l_extendedprice + 1), 4)                  AS ln_p,
       round(log10(l_extendedprice + 1), 4)               AS log10_p,
       round(exp(l_discount), 4)                          AS exp_d,
       round(pow(l_quantity, 2), 2)                       AS qty_sq,
       CAST(l_quantity AS BIGINT) % 5                     AS qty_mod5,
       CAST(sign(l_extendedprice - 1000) AS DOUBLE)       AS price_sign,
       round(greatest(l_extendedprice, l_quantity * 100), 2) AS biggest,
       round(least(l_discount, l_tax), 4)                 AS smallest,
       nullif(l_returnflag, 'N')                          AS flag_or_null,
       coalesce(nullif(l_returnflag, 'N'), 'none')        AS flag_filled
FROM lineitem
WHERE l_orderkey <= 500
ORDER BY l_orderkey, l_linenumber
"""


@register("scalar_math_functions", MATH_ORACLE)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=[
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_returnflag",
        ],
    ).filter(F.col("l_orderkey") <= 500)
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.abs(price - F.col("l_tax") * 1000), 4).alias("abs_diff"),
            # ceil/floor → BIGINT and sign → DOUBLE on BOTH sides: Spark's
            # ceil/floor are LONG while DuckDB's are DOUBLE, and DuckDB's
            # sign is integer while Spark's signum is DOUBLE; without the
            # casts the driver's dtype-faithful hash mismatches.
            F.ceil(qty / 7).cast("long").alias("ceil_q"),
            F.floor(price / 100).cast("long").alias("floor_p"),
            F.round(F.sqrt(price), 4).alias("sqrt_p"),
            F.round(F.log(price + 1), 4).alias("ln_p"),
            F.round(F.log10(price + 1), 4).alias("log10_p"),
            F.round(F.exp("l_discount"), 4).alias("exp_d"),
            F.round(F.pow(qty, 2), 2).alias("qty_sq"),
            (qty.cast("bigint") % 5).alias("qty_mod5"),
            F.signum(price - 1000).cast("double").alias("price_sign"),
            F.round(F.greatest(price, qty * 100), 2).alias("biggest"),
            F.round(F.least("l_discount", "l_tax"), 4).alias("smallest"),
            F.nullif("l_returnflag", F.lit("N")).alias("flag_or_null"),
            F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias("flag_filled"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# pivot_status_by_priority — long→wide pivot: order counts and revenue
# per priority, one column set per order status. Spark's relational
# pivot with an explicit value list (never let it scan for distinct
# values at 100 TB); the oracle is the equivalent CASE-sum spread.
# Scale: a pivot with listed values is a single groupBy — one shuffle,
# map-side partials; output width is fixed at plan time.
# ---------------------------------------------------------------------------

PIVOT_ORACLE = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS rev_f,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS rev_o,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS rev_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("pivot_status_by_priority", PIVOT_ORACLE)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderstatus", "o_totalprice"]
    )
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.coalesce("F_rev", F.lit(0.0)).alias("rev_f"),
        F.coalesce("O_rev", F.lit(0.0)).alias("rev_o"),
        F.coalesce("P_rev", F.lit(0.0)).alias("rev_p"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# sessionize_events_batch — batch twin of stream_session_windows:
# gap-based sessionization (30-minute inactivity closes a session) via
# the classic lag → gap-flag → running-sum pattern. Fully
# SQL-expressible, so unlike the streaming variant this one is
# value-hash-checked. Scale: two windows over the same (user_id, ts)
# ordering — one shuffle, both window passes pipeline in a single
# exchange; per-user state is O(1).
# ---------------------------------------------------------------------------

SESSIONIZE_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '30 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess,
           event_id
    FROM events
), numbered AS (
    SELECT user_id, ts, value,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id,
       session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       round(sum(value), 2) AS total_value
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


@register("sessionize_events_batch", SESSIONIZE_ORACLE)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "value"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-precision gap: casting ts to LONG truncates sub-second
    # components, which mis-classifies gaps straddling exactly 1800 s
    # relative to the oracle's full-precision INTERVAL comparison.
    ts_us = epoch_us(F.col("ts"), ntz=_is_ntz(ev, "ts"))
    gap_us = ts_us - F.lag(ts_us).over(w)
    flagged = ev.withColumn(
        "new_sess", F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# agg_stats_functions — statistical aggregate surface: stddev / variance
# (sample + population), correlation, covariance. Ratio-scale outputs
# (corr, stddev) round to 4; raw second moments (variance, covariance,
# magnitude ~1e10 with ~1e-4 cross-engine float dust) round to 1 so the
# rounding unit stays 3 orders above the dust. Scale: all are single-pass
# distributive aggregates with map-side partials.
# ---------------------------------------------------------------------------

STATS_ORACLE = """
SELECT c.c_nationkey,
       count(*) AS n_orders,
       round(stddev_samp(o.o_totalprice), 4) AS sd_price,
       round(var_pop(o.o_totalprice), 1)     AS var_price,
       round(corr(c.c_acctbal, o.o_totalprice), 4)      AS corr_bal_price,
       round(covar_samp(c.c_acctbal, o.o_totalprice), 1) AS covar_bal_price
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


@register("agg_stats_functions", STATS_ORACLE)
def agg_stats_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey", "c_acctbal"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
            F.round(F.var_pop("o_totalprice"), 1).alias("var_price"),
            F.round(F.corr("c_acctbal", "o_totalprice"), 4).alias("corr_bal_price"),
            F.round(F.covar_samp("c_acctbal", "o_totalprice"), 1).alias("covar_bal_price"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# histogram_order_totals — fixed-width binning against a global
# [min, max) range obtained from a scalar-aggregate subquery (1-row
# broadcast — no second pass over the ordered data, no collect).
# ---------------------------------------------------------------------------

HISTOGRAM_ORACLE = """
WITH bounds AS (
    SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
)
SELECT least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 10.0)) AS BIGINT), 9) AS bin,
       count(*) AS n,
       round(min(o_totalprice), 2) AS bin_min,
       round(max(o_totalprice), 2) AS bin_max
FROM orders, bounds
GROUP BY bin
ORDER BY bin
"""


@register("histogram_order_totals", HISTOGRAM_ORACLE)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.join(F.broadcast(bounds)).select(
        "o_totalprice",
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)),
            F.lit(9),
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Hierarchical time-bucket rollup (the hypertable/continuous-aggregate
# pattern): events aggregate to 1-minute buckets, hours derive from the
# MINUTE PARTIALS (sum-of-sums / sum-of-counts), never rescanning raw
# rows — the incremental-view-maintenance shape where each level is
# ~60× smaller than the one below. The oracle aggregates raw→hour
# directly; associativity makes the two mathematically identical, which
# is exactly the property the rollup exploits.
# ---------------------------------------------------------------------------

ROLLUP_HOURLY_ORACLE = """
SELECT event_type,
       date_trunc('hour', ts) AS bucket_hour,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, bucket_hour
"""


def _trunc_us(col, unit_us: int, *, ntz: bool = False):
    """Session-timezone-INDEPENDENT timestamp truncation via epoch-µs
    arithmetic. ``date_trunc`` truncates in session-local time (and
    coerces NTZ inputs through the session TZ), which diverges from the
    naive-timestamp oracle on non-whole-hour-offset zones (e.g. +05:30)
    — the driver's vanilla session controls the TZ, so the query must
    not depend on it. NTZ inputs are reinterpreted as UTC wall time
    (no shift) via ``epoch_us``."""
    # floor (not cast-truncation) so pre-epoch timestamps bucket to the
    # PREVIOUS boundary like date_trunc does, not the next one.
    return F.timestamp_micros(
        F.floor(epoch_us(col, ntz=ntz) / unit_us).cast("long") * unit_us
    )


@register("events_rollup_hourly", ROLLUP_HOURLY_ORACLE)
def events_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute→hour→day rollup of the event stream with epoch-floor bucketing (pre-epoch timestamps bucket to the previous interval)."""
    events = load_table(spark, sf_dir, "events", columns=["event_type", "ts", "value"])
    minutes = events.groupBy(
        "event_type",
        _trunc_us(F.col("ts"), 60_000_000, ntz=_is_ntz(events, "ts")).alias("bucket_min"),
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    return (
        minutes.groupBy(
            "event_type", _trunc_us(F.col("bucket_min"), 3_600_000_000).alias("bucket_hour")
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
        .orderBy("event_type", "bucket_hour")
    )


# ---------------------------------------------------------------------------
# Ordered conversion funnel over the event stream: a user converts at
# stage N only with a STRICTLY LATER event than their stage-N-1
# conversion (first-touch attribution). Three per-user min-aggregates
# chained by co-partitioned joins on user_id — at scale each stage is
# one shuffle on the same key, and AQE reuses the partitioning. The
# stage relations shrink monotonically (conversion is lossy), so later
# joins are cheaper, never wider.
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS stage_no, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
  UNION ALL
  SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM c
  UNION ALL
  SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
)
ORDER BY stage_no
"""


@register("events_funnel_conversion", FUNNEL_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type", "ts"])

    def first_after(event_type: str, prev: DataFrame | None, prev_t: str, t: str) -> DataFrame:
        stage = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            stage = stage.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return stage.groupBy("user_id").agg(F.min("ts").alias(t))

    v = first_after("view", None, "", "t1")
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    rows = [
        (1, "view", v),
        (2, "view>click", c),
        (3, "view>click>purchase", p),
    ]
    out = None
    for no, label, df in rows:
        one = df.agg(F.count("*").alias("n_users")).select(
            F.lit(no).alias("stage_no"), F.lit(label).alias("stage"), "n_users"
        )
        out = one if out is None else out.unionByName(one)
    return out.orderBy("stage_no")


# ---------------------------------------------------------------------------
# Cohort retention matrix: users grouped by first-seen week, activity
# tracked for the following weeks. Weeks are computed with pure integer
# epoch-day arithmetic ((day + 3) / 7 — epoch day 0 is a Thursday, +3
# makes weeks Monday-start) so the result is session-timezone-
# independent and integer-exact in both engines — date_trunc('week')
# would route NTZ values through the session zone. Plan: activity and
# the per-user cohort aggregate are both keyed on user_id, so the join
# co-partitions (the cohort relation is per-USER — never broadcast it
# at corpus scale); the final matrix aggregate is tiny.
# ---------------------------------------------------------------------------

COHORT_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(floor((floor(epoch(ts) / 86400) + 3) / 7) AS BIGINT) AS week_no
  FROM events
),
cohort AS (
  SELECT user_id, min(week_no) AS cohort_week FROM activity GROUP BY user_id
)
SELECT c.cohort_week,
       CAST(a.week_no - c.cohort_week AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM activity a JOIN cohort c USING (user_id)
WHERE a.week_no - c.cohort_week <= 4
GROUP BY c.cohort_week, week_offset
ORDER BY c.cohort_week, week_offset
"""


@register("events_cohort_retention", COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    week_no = F.floor(
        (F.floor(epoch_us(F.col("ts"), ntz=_is_ntz(ev, "ts")) / 86_400_000_000) + 3) / 7
    ).cast("long")
    activity = ev.select("user_id", week_no.alias("week_no")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week_no").alias("cohort_week"))
    return (
        activity.join(cohort, "user_id")
        .withColumn("week_offset", (F.col("week_no") - F.col("cohort_week")).cast("long"))
        .filter(F.col("week_offset") <= 4)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly flags: each event's value scored against the
# trailing 20-event mean/stddev for its user — the rolling-statistics
# frame shape (monitoring, fraud, sensor QC). One shuffle on user_id;
# the frame computation is streaming state per partition. Events
# without 5 predecessors emit NULL scores (insufficient history), which
# both engines state identically.
# ---------------------------------------------------------------------------

ZSCORE_ORACLE = """
WITH scored AS (
  SELECT user_id, event_id, value,
         count(*) OVER w AS n_hist,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id,
       round(value, 4) AS value,
       CASE WHEN n_hist >= 5 AND sd > 0
            THEN round((value - mu) / sd, 4) END AS zscore,
       coalesce(n_hist >= 5 AND sd > 0
                AND abs((value - mu) / sd) > 3.0, FALSE) AS anomaly
FROM scored
ORDER BY user_id, event_id
"""


@register("events_rolling_zscore", ZSCORE_ORACLE)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "value"])
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    n_hist = F.count("*").over(w)
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sd
    usable = (n_hist >= 5) & (sd > 0)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.when(usable, F.round(z, 4)).alias("zscore"),
            F.coalesce(usable & (F.abs(z) > 3.0), F.lit(False)).alias("anomaly"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# events_locf_gapfill — calendar spine + last-observation-carried-
# forward: per user, the daily max value is forward-filled across days
# with no events (the classic sensor/metrics gap-fill — TimescaleDB's
# time_bucket_gapfill + locf pair). Daily value is max() (order-
# independent, exactly reproducible cross-engine, unlike avg over
# unordered doubles). Scale: the spine explode multiplies rows only by
# days-per-user; everything partitions on user_id end-to-end — one
# shuffle — and the LOCF window is a streaming frame with O(1) state.
# ---------------------------------------------------------------------------

LOCF_ORACLE = """
WITH obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS day_max
  FROM events GROUP BY user_id, day
),
bounds AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY user_id
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
filled AS (
  SELECT s.user_id, s.day, o.day_max,
         last_value(o.day_max IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
  FROM spine s
  LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(count(day_max) AS BIGINT) AS n_observed,
       CAST(count(*) - count(day_max) AS BIGINT) AS n_filled,
       round(sum(locf), 2) AS total_locf
FROM filled
GROUP BY user_id
ORDER BY user_id
"""


@register("events_locf_gapfill", LOCF_ORACLE)
def events_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    obs = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max("value").alias("day_max")
    )
    bounds = obs.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = spine.join(obs, ["user_id", "day"], "left").withColumn(
        "locf", F.last("day_max", ignorenulls=True).over(w)
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count("*").alias("n_days"),
            F.count("day_max").alias("n_observed"),
            (F.count("*") - F.count("day_max")).alias("n_filled"),
            F.round(F.sum("locf"), 2).alias("total_locf"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# customer_rfm_segments — classic RFM segmentation: per-customer
# Recency (days since last order), Frequency (order count), Monetary
# (total spend), each cut into quartiles by ntile over a deterministic
# total order (metric, then custkey). Scale: one shuffle on custkey for
# the per-customer agg; each ntile is derived from a bucketed running
# count over the already-reduced |customers| relation, so no window
# sorts all customers in one task.
# ---------------------------------------------------------------------------

RFM_ORACLE = """
WITH per_cust AS (
  SELECT o.o_custkey AS custkey,
         date_diff('day', CAST(max(o.o_orderdate) AS DATE), DATE '1999-01-01')
             AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS monetary_cents
  FROM orders o
  GROUP BY custkey
),
scored AS (
  SELECT custkey, recency_days, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY recency_days, custkey) AS r_quartile,
         ntile(4) OVER (ORDER BY frequency DESC, custkey) AS f_quartile,
         ntile(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_quartile
  FROM per_cust
)
SELECT r_quartile, f_quartile, m_quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(monetary_cents) / 100.0, 2) AS segment_spend
FROM scored
GROUP BY r_quartile, f_quartile, m_quartile
ORDER BY r_quartile, f_quartile, m_quartile
"""


@register("customer_rfm_segments", RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(
                F.lit("1999-01-01").cast("date"), F.to_date(F.max("o_orderdate"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        # feeds the three rank walks — one orders scan total
        .localCheckpoint(eager=True)
    )
    # ntile(4) over a TOTAL order (metric, custkey) is a pure function
    # of the row's 1-based global rank and n, so each rank is the
    # bucketed running count of functions/ranks.cum_counts over
    # (possibly negated metric, custkey) — `__one_upto` is the row
    # number and `__one_total` is n — and Spark's ntile fill rule
    # (first n%4 buckets take one extra row) is applied arithmetically.
    # Every walk's total is n; each call replaces the previous one.
    def add_rank(df: DataFrame, metric: str, desc: bool, width: int, out: str) -> DataFrame:
        v = (-F.col(metric)) if desc else F.col(metric)
        walked = cum_counts(
            df.drop("n").withColumn("__v", v), [], ["__v", "custkey"], ["__one"], width
        )
        return (
            walked.withColumnRenamed("__one_upto", out)
            .withColumnRenamed("__one_total", "n")
            .drop("__v", "__one_before")
        )

    ranked = per_cust.withColumn("__one", F.lit(1))
    ranked = add_rank(ranked, "recency_days", False, 64, "r_rank")
    ranked = add_rank(ranked, "frequency", True, 8, "f_rank")
    ranked = add_rank(ranked, "monetary_cents", True, 1_000_000, "m_rank")

    def quartile(rank_col: str) -> F.Column:
        # ntile(4): base = n div 4, rem = n % 4; the first rem buckets
        # hold base+1 rows. Integer `div` keeps the cut exact at any n;
        # the else-branch divisor is guarded for n < 4 (branch unreachable
        # there — every rank falls inside the padded buckets).
        return F.expr(
            f"CASE WHEN {rank_col} <= (n % 4) * (n div 4 + 1) "
            f"THEN ({rank_col} + n div 4) div (n div 4 + 1) "
            f"ELSE n % 4 + ({rank_col} - (n % 4) * (n div 4 + 1) + n div 4 - 1) "
            f"div greatest(n div 4, 1) END"
        ).cast("int")

    scored = ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        quartile("r_rank").alias("r_quartile"),
        quartile("f_rank").alias("f_quartile"),
        quartile("m_rank").alias("m_quartile"),
    )
    return (
        scored.groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("monetary_cents") / 100.0, 2).alias("segment_spend"),
        )
        .orderBy("r_quartile", "f_quartile", "m_quartile")
    )


# ---------------------------------------------------------------------------
# part_abc_classification — ABC/Pareto analysis: rank parts by revenue,
# classify A (first 80% of cumulative revenue share), B (next 15%),
# C (tail 5%). Integer-cents revenue keeps the running share exact
# cross-engine. Scale: per-part agg co-shuffles on partkey; the
# running sum over the reduced |parts| relation ordered by revenue is
# bucketed, so no window sorts all parts in one task.
# ---------------------------------------------------------------------------

ABC_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM lineitem
  GROUP BY partkey
),
cum AS (
  SELECT partkey, rev_cents,
         sum(rev_cents) OVER (ORDER BY rev_cents DESC, partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_cents,
         sum(rev_cents) OVER () AS total_cents
  FROM per_part
),
classed AS (
  SELECT partkey, rev_cents,
         CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
              WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(rev_cents) / 100.0, 2) AS class_revenue
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


@register("part_abc_classification", ABC_ORACLE)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_partkey", "l_extendedprice", "l_discount"]
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(cents).alias("rev_cents")
    )
    # The desc running sum and the grand total ride the bucketed
    # functions/ranks.cum_counts over (negated revenue, partkey): a
    # total order, so `rev_cents_upto` is the global running sum.
    neg = per_part.withColumn("neg", -F.col("rev_cents"))
    cum = cum_counts(neg, [], ["neg", "partkey"], ["rev_cents"], 1_000_000).select(
        "partkey",
        "rev_cents",
        F.col("rev_cents_upto").alias("cum_cents"),
        F.col("rev_cents_total").alias("total_cents"),
    )
    classed = cum.select(
        "partkey",
        "rev_cents",
        F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("rev_cents") / 100.0, 2).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# events_markov_transitions — first-order Markov chain over per-user
# event-type sequences: P(next_type | type) with transition counts.
# START pseudo-state marks session entry (first event per user).
# Scale: one shuffle on user_id for the lag window (streaming frame),
# then a tiny (|types|+1)² aggregation with map-side partials.
# ---------------------------------------------------------------------------

MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type, 1, 'START') OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type AS next_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq
  GROUP BY prev_type, next_type
),
totals AS (
  SELECT prev_type, sum(n) AS row_total FROM counts GROUP BY prev_type
)
SELECT c.prev_type, c.next_type, c.n,
       round(c.n * 1.0 / t.row_total, 4) AS p_transition
FROM counts c JOIN totals t ON c.prev_type = t.prev_type
ORDER BY c.prev_type, c.next_type
"""


@register("events_markov_transitions", MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type", 1, "START").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    )
    counts = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    w_row = Window.partitionBy("prev_type")
    return (
        counts.select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") * 1.0 / F.sum("n").over(w_row), 4).alias("p_transition"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# basket_pair_lift — market-basket association mining: for part pairs
# co-occurring in at least 3 orders, support/confidence/lift. Scale:
# the pair generator is a SELF-EQUI-JOIN on orderkey (never all-pairs
# across orders); per-order blowup is bounded by order size (~7 lines →
# ≤21 pairs). Both the pair count and the per-part order counts shuffle
# on content keys; the part totals relation is |parts|-sized and
# broadcast back. The n_orders scalar rides a 1-row broadcast.
# ---------------------------------------------------------------------------

BASKET_ORACLE = """
WITH order_parts AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM order_parts a
  JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
  HAVING count(*) >= 3
),
part_counts AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders_part
  FROM order_parts GROUP BY l_partkey
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem)
SELECT p.part_a, p.part_b, p.n_both,
       round(p.n_both * 1.0 / n.n_orders, 6) AS support,
       round(p.n_both * 1.0 / ca.n_orders_part, 6) AS confidence,
       round((p.n_both * 1.0 / n.n_orders)
             / ((ca.n_orders_part * 1.0 / n.n_orders)
                * (cb.n_orders_part * 1.0 / n.n_orders)), 4) AS lift
FROM pair_counts p
JOIN part_counts ca ON p.part_a = ca.l_partkey
JOIN part_counts cb ON p.part_b = cb.l_partkey
CROSS JOIN n
ORDER BY lift DESC, part_a, part_b
LIMIT 50
"""


@register("basket_pair_lift", BASKET_ORACLE)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair counts come from ONE basket aggregation (collect_set per
    order) with the a<b pair blowup generated MAP-SIDE by a single
    explode of transform-over-slice pair structs — no self-join, so
    lineitem shuffles once on orderkey instead of twice (distinct)
    plus a join shuffle. Measured ~2.6 s → ~1.9 s median warm at sf0.1
    (remaining time is fixed multi-stage overhead at this tiny scale;
    the shuffle-count win is what compounds at 100 TB). The basket
    relation is one compact row per order (sorted part array),
    checkpointed once, and feeds pair counts, per-part counts, and the
    scalar total. Scale note: the per-basket blowup is |basket|²/2
    map-side rows — bounded for retail-shaped baskets (TPC-H max 7); a
    power-law corpus would cap basket size before exploding."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # Three consumers (pairs, per-part counts, total); one compact row
    # per order — materialize once instead of re-scanning lineitem 3×.
    baskets = baskets.localCheckpoint(eager=False)
    # All a<b pairs in ONE explode of pair structs (transform-over-
    # slice, flattened): measured faster than the two-step explode
    # (600k intermediate single-part rows never materialize).
    pair_structs = F.explode(
        F.flatten(
            F.transform(
                "parts",
                lambda x, i: F.transform(
                    F.slice("parts", i + F.lit(2), F.size("parts")),
                    lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                ),
            )
        )
    ).alias("p")
    pair_counts = (
        baskets.select(pair_structs)
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    part_counts = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_orders_part"))
    )
    # Lazy 1-row broadcast for the scalar total — no eager .count()
    # action at plan-build time (an explain/noop run must not trigger
    # a job).
    n_orders = baskets.agg(F.count("*").alias("__n_orders"))
    ca = F.broadcast(part_counts.select(F.col("l_partkey").alias("part_a"),
                                        F.col("n_orders_part").alias("na")))
    cb = F.broadcast(part_counts.select(F.col("l_partkey").alias("part_b"),
                                        F.col("n_orders_part").alias("nb")))
    nn = F.col("__n_orders")
    return (
        pair_counts.join(ca, "part_a")
        .join(cb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_both",
            F.round(F.col("n_both") / nn, 6).alias("support"),
            F.round(F.col("n_both") / F.col("na"), 6).alias("confidence"),
            F.round(
                (F.col("n_both") / nn)
                / ((F.col("na") / nn) * (F.col("nb") / nn)),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# supplier_concentration_hhi — Herfindahl–Hirschman index of supplier
# concentration per part type: sum of squared revenue shares (×10,000,
# the antitrust convention). Exact integer cents for shares' numerator/
# denominator; the final ratio rounds to 2. Scale: one fact shuffle on
# (type, suppkey) via the broadcast part dim, then a tiny per-type
# reduce.
# ---------------------------------------------------------------------------

HHI_ORACLE = """
WITH per_supp AS (
  SELECT p.p_type, l.l_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, l.l_suppkey
),
totals AS (
  SELECT p_type, sum(rev_cents) AS total_cents FROM per_supp GROUP BY p_type
)
SELECT s.p_type,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum((s.rev_cents * 1.0 / t.total_cents)
                 * (s.rev_cents * 1.0 / t.total_cents)) * 10000, 2) AS hhi
FROM per_supp s JOIN totals t ON s.p_type = t.p_type
GROUP BY s.p_type
ORDER BY s.p_type
"""


@register("supplier_concentration_hhi", HHI_ORACLE)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_type"])
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    per_supp = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w_type = Window.partitionBy("p_type")
    share = F.col("rev_cents") / F.sum("rev_cents").over(w_type)
    return (
        per_supp.select("p_type", (share * share).alias("sq_share"))
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("sq_share") * 10000, 2).alias("hhi"),
        )
        .orderBy("p_type")
    )


# ---------------------------------------------------------------------------
# parts_pareto_skyline — groupwise 2-D skyline (Börzsönyi et al., ICDE
# 2001): per brand, the parts no brand-mate dominates on (cheaper
# retail price, larger size)
# — dominance = ≤ price AND ≥ size with at least one strict. For d=2
# the skyline is exactly the strictly-decreasing price frontier over
# the size-sorted relation, so the Spark side computes it with ONE
# window (running min price over size ordered desc) instead of the
# quadratic NOT-EXISTS self-join the oracle uses — same result, the
# classic sort-filter skyline algorithm. Scale: one range-partitioned
# sort; the running-min frame is streaming O(1) state.
# ---------------------------------------------------------------------------

SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_brand, round(p.p_retailprice, 2) AS price, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_partkey
"""


@register("parts_pareto_skyline", SKYLINE_ORACLE)
def parts_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(
        spark, sf_dir, "part", columns=["p_partkey", "p_brand", "p_retailprice", "p_size"]
    )
    # Sort-filter skyline per brand: scanning sizes from largest down,
    # a part is on its brand's frontier iff its price is strictly below
    # every price seen at a LARGER size, and it is the cheapest within
    # its own size. Partitioning by brand keeps every window parallel.
    w_larger = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("p_size"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_size = Window.partitionBy("p_brand", "p_size")
    return (
        part.withColumn("__min_larger", F.min("p_retailprice").over(w_larger))
        .withColumn("__min_same", F.min("p_retailprice").over(w_size))
        .filter(
            (F.col("__min_larger").isNull() | (F.col("p_retailprice") < F.col("__min_larger")))
            & (F.col("p_retailprice") == F.col("__min_same"))
        )
        .select(
            "p_partkey", "p_brand", F.round("p_retailprice", 2).alias("price"), "p_size"
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# events_longest_streak — gaps-and-islands: longest run of CONSECUTIVE
# active days per user. The classic date-minus-dense_rank trick: within
# a user, consecutive days share (day - rank_of_day), so the island id
# is a pure expression and the answer is two aggregations away. Scale:
# everything partitions on user_id — one shuffle, streaming windows,
# tiny final reduce.
# ---------------------------------------------------------------------------

STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)
             AS island
  FROM days
),
runs AS (
  SELECT user_id, island,
         CAST(count(*) AS BIGINT) AS run_len,
         min(day) AS run_start
  FROM islands GROUP BY user_id, island
)
SELECT user_id, run_len AS longest_streak, run_start AS streak_start
FROM (
  SELECT user_id, run_len, run_start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY run_len DESC, run_start) AS rn
  FROM runs
)
WHERE rn = 1
ORDER BY user_id
"""


@register("events_longest_streak", STREAK_ORACLE)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("run_len"), F.min("day").alias("run_start")
    )
    w_best = Window.partitionBy("user_id").orderBy(F.desc("run_len"), "run_start")
    return (
        runs.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("run_len").alias("longest_streak"),
            F.col("run_start").alias("streak_start"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# basket_triangle_count — triangle enumeration over the co-purchase
# graph (edge = part pair co-occurring in ≥ 2 orders): the edge-
# iterator join E⋈E⋈E with the a<b<c canonical orientation, so each
# triangle is produced exactly once. Scale: the graph is |parts|-sized
# (already reduced from the fact); orienting edges low→high bounds the
# join fan-out by the max out-degree of the degree-ordered DAG — the
# standard distributed triangle-counting trick (Suri & Vassilvitskii,
# WWW 2011).
# ---------------------------------------------------------------------------

TRIANGLE_ORACLE = """
WITH order_parts AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM order_parts a
  JOIN order_parts b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING count(*) >= 2
),
triangles AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges
FROM triangles
"""


@register("basket_triangle_count", TRIANGLE_ORACLE)
def basket_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: the undirected support≥2 edge set is exactly the src<dst
    # half of the STAGED directed co-purchase relation the nine graph
    # queries already share (sequence_queries._copurchase_edges,
    # support=2) — a directed pair and its mirror have the same order
    # count, so filtering src<dst reproduces the u<v grouped census
    # byte-for-byte. Before this the order-key self-join + groupBy
    # subtree was re-evaluated FOUR times in one plan (e1/e2/e3 and the
    # lazy n_edges leg — guide §2.4/§5: reuse, don't recompute); now
    # all four legs are column-pruned reads of the staged parquet.
    from insurance_helper_spark.queries.sequence_queries import _copurchase_edges

    edges = (
        _copurchase_edges(spark, sf_dir, support=2)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    e1 = edges.select(F.col("u").alias("t_a"), F.col("v").alias("t_b"))
    e2 = edges.select(F.col("u").alias("t_b"), F.col("v").alias("t_c"))
    e3 = edges.select(F.col("u").alias("t_a"), F.col("v").alias("t_c"))
    triangles = e1.join(e2, "t_b").join(e3, ["t_a", "t_c"], "left_semi")
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        triangles.agg(F.count("*").alias("n_triangles"))
        .join(F.broadcast(n_edges))
    )


# ---------------------------------------------------------------------------
# events_time_weighted_avg — TWAP (TimescaleDB time_weight shape): the
# piecewise-constant integral of each user's value over their active
# span, divided by the span — weights are whole seconds until the next
# event (exact integer arithmetic; the last event closes the span with
# weight 0 and is excluded from both sides). Scale: one user shuffle;
# lead() is a streaming window; the integral is a map-side partial sum.
# ---------------------------------------------------------------------------

TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - epoch_us(ts) AS dur_us
  FROM events
),
weighted AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) * dur_us AS wv_cents_us,
         dur_us
  FROM seq WHERE dur_us IS NOT NULL
)
SELECT user_id,
       CAST(sum(dur_us) AS BIGINT) AS active_us,
       ((2 * sum(wv_cents_us) + sum(dur_us)) // (2 * sum(dur_us))) / 100.0 AS twap
FROM weighted
GROUP BY user_id
HAVING sum(dur_us) > 0
ORDER BY user_id
"""


@register("events_time_weighted_avg", TWAP_ORACLE)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insurance_helper_spark.functions.dates import epoch_us

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "value"])
    us = epoch_us(F.col("ts"), ntz=_is_ntz(ev, "ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond durations: integer-exact on both engines (truncating
    # to seconds FIRST floors each endpoint differently than flooring
    # the difference — measured off-by-4th-decimal vs DuckDB epoch()).
    seq = ev.select(
        "user_id",
        "value",
        (F.lead(us).over(w) - us).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    weighted = seq.select(
        "user_id",
        (F.round(F.col("value") * 100).cast("long") * F.col("dur_us")).alias("wv_cents_us"),
        "dur_us",
    )
    return (
        weighted.groupBy("user_id")
        .agg(F.sum("dur_us").alias("active_us"), F.sum("wv_cents_us").alias("__wv"))
        .filter(F.col("active_us") > 0)
        .select(
            "user_id",
            "active_us",
            # Half-up integer division at cents precision: exact on
            # both engines (round(double) tie semantics differ), and
            # the 2*sum keeps ~100x headroom below int64 overflow at
            # any SF (the integral is ~avg_cents x span_us, SF-free).
            (
                F.expr("(2 * __wv + active_us) div (2 * active_us)") / 100.0
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# events_mad_outliers — robust dispersion per event type: exact median,
# median absolute deviation, and the count of |x − med| > 3·1.4826·MAD
# outliers (the Hampel filter the z-score breaks on heavy tails).
# Scale: two ordered-statistic passes over the same event_type
# partitioning — exact medians need a sort per key either way; swap in
# approx_percentile at the 100 TB tier (bounds-contract per
# agg_approx_percentile_bounds).
# ---------------------------------------------------------------------------

MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       round(max(d.med), 4) AS median_value,
       round(max(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers,
       CAST(count(*) AS BIGINT) AS n_events
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register("events_mad_outliers", MAD_ORACLE)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "value"])
    med = ev.groupBy("event_type").agg(F.expr("median(value)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.expr("median(adev)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_hourly_seasonality — the hour-of-day × day-of-week activity
# matrix (load heatmap): event counts and value mass per (dow, hour)
# cell. Cross-engine day-numbering pinned via dayofweek ISO convention
# on both sides. Scale: one shuffle onto a 7×24 key space with map-side
# partials — the canonical tiny-agg-over-huge-fact shape.
# ---------------------------------------------------------------------------

SEASONALITY_ORACLE = """
SELECT isodow(ts) AS dow,
       CAST(hour(ts) AS INTEGER) AS hour_of_day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY dow, hour_of_day
ORDER BY dow, hour_of_day
"""


@register("events_hourly_seasonality", SEASONALITY_ORACLE)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["ts", "value"])
    # Spark dayofweek is 1=Sunday; ISO dow is 1=Monday — remap to ISO
    # so the SQL twin (isodow) agrees.
    iso_dow = ((F.dayofweek("ts") + 5) % 7) + 1
    return (
        ev.groupBy(
            iso_dow.cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("dow", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# supplier_shipping_lag — per-supplier fulfillment latency: days from
# order date to line ship date, with exact median and p90 (the
# operational SLA view). Integer day lags are exact on both engines;
# the ordered statistics follow the agg_percentiles conventions.
# Scale: one shuffle on suppkey; exact percentiles sort per key — swap
# approx_percentile at the 100 TB tier under the bounds contract.
# ---------------------------------------------------------------------------

SHIPPING_LAG_ORACLE = """
WITH lags AS (
  SELECT l.l_suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
             AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(min(lag_days) AS BIGINT) AS min_lag,
       round(quantile_cont(lag_days, 0.5), 1) AS median_lag,
       round(quantile_cont(lag_days, 0.9), 1) AS p90_lag,
       CAST(max(lag_days) AS BIGINT) AS max_lag
FROM lags
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


@register("supplier_shipping_lag", SHIPPING_LAG_ORACLE)
def supplier_shipping_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey", "l_shipdate"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    lags = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("lag_days"),
    )
    return (
        lags.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("lag_days").cast("long").alias("min_lag"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 1).alias("median_lag"),
            F.round(F.expr("percentile(lag_days, 0.9)"), 1).alias("p90_lag"),
            F.max("lag_days").cast("long").alias("max_lag"),
        )
        .orderBy("l_suppkey")
    )


# ---------------------------------------------------------------------------
# agg_mode_listagg — the remaining aggregate-surface pair: MODE (most
# frequent value, deterministic lowest-wins tiebreak) and ordered
# string aggregation (LISTAGG / string_agg WITHIN GROUP). Spark's
# native mode() breaks ties engine-specifically, so the query computes
# the deterministic mode via count + argmin-window — same result
# DuckDB's documented lowest-value tie rule produces — while listagg
# gets an explicit ORDER BY on both sides. Scale: two aggregations
# co-shuffled on the user key; the ordered concat is bounded by
# events-per-user.
# ---------------------------------------------------------------------------

MODE_LISTAGG_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
mode_pick AS (
  SELECT user_id, event_type AS modal_type
  FROM (SELECT user_id, event_type, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rn
        FROM counts)
  WHERE rn = 1
),
kinds AS (
  SELECT user_id,
         string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_list
  FROM events GROUP BY user_id
)
SELECT m.user_id, m.modal_type, k.type_list
FROM mode_pick m JOIN kinds k ON m.user_id = k.user_id
ORDER BY m.user_id
"""


@register("agg_mode_listagg", MODE_LISTAGG_ORACLE)
def agg_mode_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type"])
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    mode_pick = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"))
    )
    kinds = ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("type_list")
    )
    return (
        mode_pick.join(kinds, "user_id")
        .select("user_id", "modal_type", "type_list")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# events_interp_gapfill — calendar spine + LINEAR interpolation between
# the surrounding observations (the other half of TimescaleDB's
# gap-fill pair; events_locf_gapfill is the step-function half). Per
# user-day: daily max (order-independent), then gap days get
# prev + (next − prev) · Δdays/span from the nearest observed days on
# each side — two IGNORE-NULLS window scans, no self-join. Spine edges
# are always observed (bounds come from the data), so every gap has
# both neighbors. Scale: identical shape to LOCF — rows multiply only
# by days-per-user, everything partitions on user_id end to end (one
# shuffle), and both windows are streaming frames with O(1) state.
# ---------------------------------------------------------------------------

INTERP_ORACLE = """
WITH obs AS (
  -- Cents from the start: value is a 2-dp decimal stored as double, so
  -- round(max*100) is engine-exact; all interpolation then happens in
  -- integer arithmetic (double round() half-cases differ between the
  -- JVM's decimal-string HALF_UP and C round on the binary value).
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(round(max(value) * 100) AS BIGINT) AS day_max
  FROM events GROUP BY user_id, day
),
bounds AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY user_id
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
ctx AS (
  SELECT s.user_id, s.day, o.day_max,
         last_value(o.day_max IGNORE NULLS) OVER wp AS prev_val,
         last_value(CASE WHEN o.day_max IS NOT NULL THEN s.day END IGNORE NULLS)
             OVER wp AS prev_day,
         first_value(o.day_max IGNORE NULLS) OVER wn AS next_val,
         first_value(CASE WHEN o.day_max IS NOT NULL THEN s.day END IGNORE NULLS)
             OVER wn AS next_day
  FROM spine s
  LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
  WINDOW wp AS (PARTITION BY s.user_id ORDER BY s.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY s.user_id ORDER BY s.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
filled AS (
  -- Round-half-up rational interpolation in pure integers:
  -- floor((2*rise*run + span) / (2*span)). The double division's
  -- operands are exact integers far below 2^53, and a non-integer
  -- quotient sits ≥ 1/(2*span) from any integer, so floor is exact on
  -- both engines.
  SELECT user_id, day, day_max,
         CASE WHEN day_max IS NOT NULL THEN day_max
              ELSE prev_val + CAST(floor(
                     (2 * (next_val - prev_val) * date_diff('day', prev_day, day)
                      + date_diff('day', prev_day, next_day))
                     / (2.0 * date_diff('day', prev_day, next_day))) AS BIGINT)
         END AS interp_c
  FROM ctx
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(count(day_max) AS BIGINT) AS n_observed,
       CAST(count(*) - count(day_max) AS BIGINT) AS n_interp,
       sum(interp_c) / 100.0 AS total_interp
FROM filled
GROUP BY user_id
ORDER BY user_id
"""


@register("events_interp_gapfill", INTERP_ORACLE)
def events_interp_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    obs = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.max("value") * 100).cast("long").alias("day_max")
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_max").isNotNull(), F.col("day"))
    ctx = (
        spine.join(obs, ["user_id", "day"], "left")
        .withColumn("prev_val", F.last("day_max", ignorenulls=True).over(wp))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(wp))
        .withColumn("next_val", F.first("day_max", ignorenulls=True).over(wn))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(wn))
    )
    # Round-half-up rational interpolation in pure integers (see the
    # oracle comment): floor((2*rise*run + span) / (2*span)).
    run = F.datediff("day", "prev_day")
    span = F.datediff("next_day", "prev_day")
    rise = F.col("next_val") - F.col("prev_val")
    interp_c = F.when(F.col("day_max").isNotNull(), F.col("day_max")).otherwise(
        F.col("prev_val")
        + F.floor((2 * rise * run + span) / (2.0 * span)).cast("long")
    )
    return (
        ctx.withColumn("interp_c", interp_c)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_days"),
            F.count("day_max").alias("n_observed"),
            (F.count("*") - F.count("day_max")).alias("n_interp"),
            (F.sum("interp_c") / 100.0).alias("total_interp"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# events_seasonal_anomalies — seasonal-baseline anomaly detection: each
# event is scored against ITS OWN (iso-dow × hour) cell's robust
# baseline (median + MAD over the cell), so a value that is normal at
# Friday-noon load but wild at Sunday-3am is caught — the seasonal-
# hybrid upgrade of events_mad_outliers' global-per-type filter.
# Output is the per-cell scorecard (baseline, spread, flagged count),
# not the flagged rows, so the result stays 7×24-bounded at any SF.
# Scale: two ordered-statistic passes over the SAME (dow, hour)
# partitioning (exact medians sort per cell; swap approx_percentile at
# the 100 TB tier under the bounds contract), then one broadcast join
# back to the fact for the flag fold — one fact shuffle total.
# ---------------------------------------------------------------------------

SEASONAL_ANOM_ORACLE = """
WITH cells AS (
  SELECT isodow(ts) AS dow, CAST(hour(ts) AS INTEGER) AS hour_of_day, value
  FROM events
),
base AS (
  SELECT dow, hour_of_day, median(value) AS med
  FROM cells GROUP BY dow, hour_of_day
),
dev AS (
  SELECT c.dow, c.hour_of_day, c.value, b.med, abs(c.value - b.med) AS adev
  FROM cells c JOIN base b USING (dow, hour_of_day)
),
spread AS (
  SELECT dow, hour_of_day, median(adev) AS mad FROM dev GROUP BY dow, hour_of_day
)
SELECT d.dow, d.hour_of_day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(d.med), 4) AS median_value,
       round(max(s.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.adev > 3.5 * 1.4826 * s.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_anomalies
FROM dev d JOIN spread s USING (dow, hour_of_day)
GROUP BY d.dow, d.hour_of_day
ORDER BY d.dow, d.hour_of_day
"""


@register("events_seasonal_anomalies", SEASONAL_ANOM_ORACLE)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["ts", "value"])
    iso_dow = ((F.dayofweek("ts") + 5) % 7) + 1
    cells = ev.select(
        iso_dow.cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_of_day"),
        "value",
    )
    base = cells.groupBy("dow", "hour_of_day").agg(
        F.expr("median(value)").alias("med")
    )
    dev = cells.join(F.broadcast(base), ["dow", "hour_of_day"]).withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    spread = dev.groupBy("dow", "hour_of_day").agg(F.expr("median(adev)").alias("mad"))
    return (
        dev.join(F.broadcast(spread), ["dow", "hour_of_day"])
        .groupBy("dow", "hour_of_day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                (F.col("adev") > 3.5 * 1.4826 * F.col("mad")).cast("long")
            ).alias("n_anomalies"),
        )
        .orderBy("dow", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# orders_decile_transform — equi-depth quantile binning (the rank-based
# feature transform): within each order priority, orders are cut into
# 10 equal-count bins over a deterministic total order (price, then
# key), and the report pins each bin's population and price range —
# the per-bin min/max ARE the empirical decile edges, the lookup table
# a quantile-normalizing feature encoder ships to training. ntile's
# remainder rule (first bins get the extra row) is the same on both
# engines. Scale: the per-priority windows sort within each of 5
# partitions; for an unpartitioned billion-row transform, swap ntile
# for percent_rank cuts (RFM's caveat) or approx_percentile edges.
# ---------------------------------------------------------------------------

DECILE_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT priority, CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(price_cents) / 100.0 AS min_price,
       max(price_cents) / 100.0 AS max_price,
       CAST(sum(price_cents) AS BIGINT) AS total_cents
FROM ranked
GROUP BY priority, decile
ORDER BY priority, decile
"""


@register("orders_decile_transform", DECILE_ORACLE)
def orders_decile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.ntile(10).over(w).alias("decile"),
    )
    return (
        ranked.groupBy("priority", F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count("*").alias("n_orders"),
            (F.min("price_cents") / 100.0).alias("min_price"),
            (F.max("price_cents") / 100.0).alias("max_price"),
            F.sum("price_cents").alias("total_cents"),
        )
        .orderBy("priority", "decile")
    )


# ---------------------------------------------------------------------------
# orders_compound_growth — month-over-month revenue growth and the
# compounded growth index per order priority: the KPI triple (monthly
# revenue, MoM growth rate, index-vs-first-month) every revenue
# dashboard opens with. The cumulative product of (1+g) telescopes to
# cents_t / cents_first, so the index is ONE exact integer ratio —
# no exp(sum(ln)) float chain for the engines to disagree on; all
# pre-division arithmetic is BIGINT cents. Scale: one map-side-combine
# shuffle to the (priority, month) rollup; the lag/first_value windows
# then run over an O(priorities x months) series — calendar-bounded,
# like every series query here, no unpartitioned window.
# ---------------------------------------------------------------------------

COMPOUND_GROWTH_ORACLE = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  GROUP BY priority, month
)
SELECT priority, month, cents / 100.0 AS revenue,
       round(CAST(cents AS DOUBLE)
             / lag(cents) OVER (PARTITION BY priority ORDER BY month) - 1,
             4) AS mom_growth,
       round(CAST(cents AS DOUBLE)
             / first_value(cents) OVER (PARTITION BY priority ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             4) AS growth_index
FROM monthly
ORDER BY priority, month
"""


@register("orders_compound_growth", COMPOUND_GROWTH_ORACLE)
def orders_compound_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderdate", "o_totalprice"]
    )
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("priority").orderBy("month")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "priority",
        "month",
        (F.col("cents") / 100.0).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.lag("cents").over(w) - 1, 4
        ).alias("mom_growth"),
        F.round(
            F.col("cents").cast("double") / F.first("cents").over(wf), 4
        ).alias("growth_index"),
    ).orderBy("priority", "month")


# ---------------------------------------------------------------------------
# orders_max_drawdown — maximum drawdown of the daily revenue series
# per order priority: running peak via a cumulative-max window, then
# the deepest (peak - value)/peak dip, reported with its trough day —
# the risk/volatility summary for any cumulative KPI series (the
# dual of the compound-growth index: that tracks gains vs the first
# month, this tracks losses vs the best day so far). All pre-division
# arithmetic is BIGINT cents; drawdown ratios are IEEE quotients of
# integers, so the argmax row (day tiebreak) is engine-deterministic.
# Scale: one map-side-combine shuffle to the (priority, day) rollup;
# the cumulative-max and argmax windows run over the calendar-bounded
# series — same stance as every series query here.
# ---------------------------------------------------------------------------

MAX_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY priority, day
),
walked AS (
  SELECT priority, day, cents,
         max(cents) OVER (PARTITION BY priority ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS peak,
         count(*) OVER (PARTITION BY priority) AS n_days
  FROM daily
),
scored AS (
  SELECT priority, day, cents, peak, n_days,
         CAST(peak - cents AS DOUBLE) / peak AS dd,
         row_number() OVER (PARTITION BY priority
                            ORDER BY CAST(peak - cents AS DOUBLE) / peak DESC,
                                     day) AS rn
  FROM walked
)
SELECT priority, CAST(n_days AS BIGINT) AS n_days,
       round(dd, 6) AS max_drawdown,
       peak / 100.0 AS peak_revenue,
       cents / 100.0 AS trough_revenue,
       day AS trough_day
FROM scored WHERE rn = 1
ORDER BY priority
"""


@register("orders_max_drawdown", MAX_DRAWDOWN_ORACLE)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderpriority", "o_orderdate", "o_totalprice"],
    )
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wp = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("priority")
    walked = daily.select(
        "priority",
        "day",
        "cents",
        F.max("cents").over(wp).alias("peak"),
        F.count("*").over(wn).alias("n_days"),
    )
    dd = (F.col("peak") - F.col("cents")).cast("double") / F.col("peak")
    wr = Window.partitionBy("priority").orderBy(F.desc(dd), "day")
    return (
        walked.withColumn("dd", dd)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "priority",
            F.col("n_days").cast("long").alias("n_days"),
            F.round("dd", 6).alias("max_drawdown"),
            (F.col("peak") / 100.0).alias("peak_revenue"),
            (F.col("cents") / 100.0).alias("trough_revenue"),
            F.col("day").alias("trough_day"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# lineitem_business_day_lag — order-to-ship lead time in BUSINESS days
# per line status, via closed-form weekend-skipping date arithmetic
# (functions/dates.business_days_between: no calendar dimension table,
# no UDF — a div/mod formula over Monday-indexed day-of-week, so it
# runs inside whole-stage codegen). Reports calendar vs business lag
# side by side; the ratio exposes how much of the SLA is weekend
# artifact. All-integer day counts; the only division is the final
# rounded mean. Scale: one join keyed on l_orderkey (the natural
# lineitem->orders rendezvous) and one tiny groupBy — the formula adds
# zero shuffles over the plain calendar-lag query.
# ---------------------------------------------------------------------------

from insurance_helper_spark.functions.dates import (  # noqa: E402
    business_days_between as _bdays,
    business_days_between_sql as _bdays_sql,
)

BUSINESS_LAG_ORACLE = f"""
WITH lag_rel AS (
  SELECT l.l_linestatus AS linestatus,
         datediff('day', o.o_orderdate, l.l_shipdate) AS cal_days,
         {_bdays_sql("o.o_orderdate", "l.l_shipdate")} AS biz_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
)
SELECT linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(avg(cal_days), 4) AS avg_calendar_days,
       round(avg(biz_days), 4) AS avg_business_days,
       CAST(max(cal_days) AS BIGINT) AS max_calendar_days,
       CAST(max(biz_days) AS BIGINT) AS max_business_days
FROM lag_rel
GROUP BY linestatus
ORDER BY linestatus
"""


@register("lineitem_business_day_lag", BUSINESS_LAG_ORACLE)
def lineitem_business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag in BUSINESS days (weekend-aware closed-form calendar arithmetic), mean per line status."""
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linestatus", "l_shipdate"]
    )
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    lag_rel = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("l_linestatus").alias("linestatus"),
            F.datediff("l_shipdate", "o_orderdate").alias("cal_days"),
            _bdays(F.col("o_orderdate"), F.col("l_shipdate")).alias("biz_days"),
        )
    )
    return (
        lag_rel.groupBy("linestatus")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(F.avg("cal_days"), 4).alias("avg_calendar_days"),
            F.round(F.avg("biz_days"), 4).alias("avg_business_days"),
            F.max("cal_days").cast("long").alias("max_calendar_days"),
            F.max("biz_days").cast("long").alias("max_business_days"),
        )
        .orderBy("linestatus")
    )


# ---------------------------------------------------------------------------
# orders_seasonal_decomposition — classical ratio-to-moving-average
# decomposition of monthly revenue: detrend with a 12-month moving
# average (ROWS 5 PRECEDING..6 FOLLOWING, only where all 12 months
# exist), then the seasonal index per month-of-year = mean detrended
# ratio, normalized so the 12 indices average to 1. The multiplicative
# seasonality profile behind "is December really +20%?" — complements
# the dow x hour robust baselines (events_seasonal_anomalies) with the
# calendar-month trade cycle. Exact BIGINT cents up to the trend
# division; every later float op is a deterministic function of exact
# inputs, rounded at 4. Scale: one map-side-combined rollup shuffle;
# all windows run over the O(months) series (same stance as ACF /
# compound growth).
# ---------------------------------------------------------------------------

SEASONAL_DECOMP_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY month
),
trended AS (
  SELECT month, cents,
         sum(cents) OVER w AS win_sum,
         count(*) OVER w AS win_n
  FROM monthly
  WINDOW w AS (ORDER BY month ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
),
ratios AS (
  SELECT CAST(month(month) AS INT) AS month_of_year,
         cents * 12.0 / win_sum AS ratio
  FROM trended WHERE win_n = 12
),
idx AS (
  SELECT month_of_year, CAST(count(*) AS BIGINT) AS n_obs,
         avg(ratio) AS raw_idx
  FROM ratios GROUP BY month_of_year
),
norm AS (SELECT avg(raw_idx) AS grand FROM idx)
SELECT month_of_year, n_obs,
       round(raw_idx / grand, 4) AS seasonal_index
FROM idx CROSS JOIN norm
ORDER BY month_of_year
"""


@register("orders_seasonal_decomposition", SEASONAL_DECOMP_ORACLE)
def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("month").rowsBetween(-5, 6)
    trended = monthly.select(
        "month",
        "cents",
        F.sum("cents").over(w).alias("win_sum"),
        F.count("*").over(w).alias("win_n"),
    )
    ratios = trended.filter(F.col("win_n") == 12).select(
        F.month("month").cast("int").alias("month_of_year"),
        (F.col("cents") * 12.0 / F.col("win_sum")).alias("ratio"),
    )
    idx = ratios.groupBy("month_of_year").agg(
        F.count("*").cast("long").alias("n_obs"), F.avg("ratio").alias("raw_idx")
    )
    norm = idx.agg(F.avg("raw_idx").alias("grand"))
    return (
        idx.join(F.broadcast(norm))
        .select(
            "month_of_year",
            "n_obs",
            F.round(F.col("raw_idx") / F.col("grand"), 4).alias("seasonal_index"),
        )
        .orderBy("month_of_year")
    )


# ---------------------------------------------------------------------------
# orders_cohort_ltv — customer-lifetime-value curves by acquisition
# cohort: customers grouped by FIRST-order month, and for every months-
# since-acquisition index the active-customer count plus cumulative
# revenue per cohort member — the LTV triangle that prices acquisition
# spend (complement of events_cohort_retention: that counts presence,
# this accumulates value). Month arithmetic is integer (year*12+month
# deltas — no float months_between), revenue is exact BIGINT cents,
# and the running sum is a window over the (cohort, month_index)
# ROLLUP, never raw orders; the per-member LTV rounds HALF-UP IN
# INTEGER CENTS ((2*cum+size) div (2*size)) so no engine rounding-
# policy boundary can flip a penny. Scale: first-order month = one min-agg per
# customer (map-side combine), joined back on the same custkey the
# rollup then groups by — one key family end to end.
# ---------------------------------------------------------------------------

COHORT_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
),
sized AS (
  SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY cohort_m
),
facts AS (
  SELECT f.cohort_m,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
             AS month_index,
         o.o_custkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
),
cells AS (
  SELECT cohort_m, month_index,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
         CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM facts GROUP BY cohort_m, month_index
)
SELECT make_date(c.cohort_m // 12, c.cohort_m % 12 + 1, 1) AS cohort,
       CAST(month_index AS INT) AS month_index,
       s.cohort_size, n_active,
       (2 * sum(rev_cents) OVER (PARTITION BY c.cohort_m ORDER BY month_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          + s.cohort_size) // (2 * s.cohort_size) / 100.0 AS avg_cum_ltv
FROM cells c JOIN sized s ON c.cohort_m = s.cohort_m
ORDER BY cohort, month_index
"""


@register("orders_cohort_ltv", COHORT_LTV_ORACLE)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    mnum = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = orders.groupBy("o_custkey").agg(F.min(mnum).alias("cohort_m"))
    sized = firsts.groupBy("cohort_m").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    facts = orders.join(firsts, "o_custkey").select(
        "cohort_m",
        (mnum - F.col("cohort_m")).alias("month_index"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cells = facts.groupBy("cohort_m", "month_index").agg(
        F.count_distinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").cast("long").alias("rev_cents"),
    )
    wc = (
        Window.partitionBy("cohort_m")
        .orderBy("month_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sized), "cohort_m")
        .select(
            F.make_date(
                F.expr("cohort_m div 12"), F.col("cohort_m") % 12 + 1, F.lit(1)
            ).alias("cohort"),
            F.col("month_index").cast("int").alias("month_index"),
            "cohort_size",
            "n_active",
            (
                F.expr(
                    "(2 * sum(rev_cents) OVER (PARTITION BY cohort_m "
                    "ORDER BY month_index ROWS BETWEEN UNBOUNDED PRECEDING "
                    "AND CURRENT ROW) + cohort_size) div (2 * cohort_size)"
                )
                / 100.0
            ).alias("avg_cum_ltv"),
        )
        .orderBy("cohort", "month_index")
    )


# ---------------------------------------------------------------------------
# orders_forecast_backtest — backtesting harness for the two classical
# zero-parameter forecasters on monthly revenue: seasonal-naive
# (y_hat_t = y_{t-12}) vs naive (y_hat_t = y_{t-1}), scored with MAPE
# and SMAPE over the months where both forecasts exist, plus the skill
# score 1 - MAPE_seasonal/MAPE_naive (positive = seasonality is real
# signal, worth a seasonal model). The evaluation shape every real
# forecaster is judged by — the model is swappable, the harness is
# the operator. Per-month errors are exact BIGINT-cents quotients; the
# final averages fold a dozen such terms and round at 4. Scale: one
# rollup shuffle, lag windows over the O(months) series.
# ---------------------------------------------------------------------------

FORECAST_BACKTEST_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY month
),
lagged AS (
  SELECT month, cents,
         lag(cents, 12) OVER (ORDER BY month) AS f_seasonal,
         lag(cents, 1) OVER (ORDER BY month) AS f_naive
  FROM monthly
),
scored AS (
  SELECT month, cents, f_seasonal, f_naive,
         abs(cents - f_seasonal) * 1.0 / cents AS ape_s,
         abs(cents - f_naive) * 1.0 / cents AS ape_n,
         2.0 * abs(cents - f_seasonal) / (cents + f_seasonal) AS sape_s,
         2.0 * abs(cents - f_naive) / (cents + f_naive) AS sape_n
  FROM lagged WHERE f_seasonal IS NOT NULL AND f_naive IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_months,
       round(avg(ape_s), 4) AS mape_seasonal,
       round(avg(ape_n), 4) AS mape_naive,
       round(avg(sape_s), 4) AS smape_seasonal,
       round(avg(sape_n), 4) AS smape_naive,
       round(1 - avg(ape_s) / avg(ape_n), 4) AS skill_vs_naive
FROM scored
"""


@register("orders_forecast_backtest", FORECAST_BACKTEST_ORACLE)
def orders_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("month")
    lagged = monthly.select(
        "cents",
        F.lag("cents", 12).over(w).alias("f_seasonal"),
        F.lag("cents", 1).over(w).alias("f_naive"),
    ).filter(F.col("f_seasonal").isNotNull() & F.col("f_naive").isNotNull())
    ape_s = F.abs(F.col("cents") - F.col("f_seasonal")) * 1.0 / F.col("cents")
    ape_n = F.abs(F.col("cents") - F.col("f_naive")) * 1.0 / F.col("cents")
    sape_s = 2.0 * F.abs(F.col("cents") - F.col("f_seasonal")) / (
        F.col("cents") + F.col("f_seasonal")
    )
    sape_n = 2.0 * F.abs(F.col("cents") - F.col("f_naive")) / (
        F.col("cents") + F.col("f_naive")
    )
    return lagged.agg(
        F.count("*").cast("long").alias("n_months"),
        F.round(F.avg(ape_s), 4).alias("mape_seasonal"),
        F.round(F.avg(ape_n), 4).alias("mape_naive"),
        F.round(F.avg(sape_s), 4).alias("smape_seasonal"),
        F.round(F.avg(sape_n), 4).alias("smape_naive"),
        F.round(1 - F.avg(ape_s) / F.avg(ape_n), 4).alias("skill_vs_naive"),
    )


# ---------------------------------------------------------------------------
# orders_price_index_laspeyres — classical price-index numbers over
# the sold-parts basket: per year vs the base (first) year,
# Laspeyres (base-quantity weights), Paasche (current-quantity
# weights) and Fisher (geometric mean) indices, using per-part-year
# unit prices (cents-sum / quantity-sum, both exact BIGINTs). The
# inflation/deflation lens on revenue growth — did revenue rise
# because of volume or because of price? Scale: one (part, year)
# rollup with map-side combine, a self-join keyed on partkey against
# the base-year slice (broadcastable — one year of parts), constant
# folds after; no windows.
# ---------------------------------------------------------------------------

PRICE_INDEX_ORACLE = """
WITH py AS (
  SELECT l_partkey AS part, CAST(year(l_shipdate) AS INT) AS yr,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY part, yr
),
base AS (
  SELECT part, cents * 1.0 / qty AS p0, qty AS q0
  FROM py WHERE yr = (SELECT min(yr) FROM py)
),
joined AS (
  SELECT py.yr, py.part,
         py.cents * 1.0 / py.qty AS pt, py.qty AS qt,
         b.p0, b.q0
  FROM py JOIN base b ON py.part = b.part
)
SELECT yr AS year, CAST(count(*) AS BIGINT) AS n_common_parts,
       round(sum(pt * q0) / sum(p0 * q0), 4) AS laspeyres,
       round(sum(pt * qt) / sum(p0 * qt), 4) AS paasche,
       round(sqrt((sum(pt * q0) / sum(p0 * q0)) * (sum(pt * qt) / sum(p0 * qt))), 4)
           AS fisher
FROM joined
GROUP BY yr
ORDER BY yr
"""


@register("orders_price_index_laspeyres", PRICE_INDEX_ORACLE)
def orders_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    )
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").cast("int").alias("yr"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    py = py.localCheckpoint(eager=True)  # base slice + all-years side
    base_yr = py.agg(F.min("yr").alias("byr"))
    base = (
        py.join(F.broadcast(base_yr), F.col("yr") == F.col("byr"))
        .select(
            "part",
            (F.col("cents") * 1.0 / F.col("qty")).alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    joined = py.join(F.broadcast(base), "part").select(
        "yr",
        (F.col("cents") * 1.0 / F.col("qty")).alias("pt"),
        F.col("qty").alias("qt"),
        "p0",
        "q0",
    )
    lasp = F.sum(F.col("pt") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))
    paas = F.sum(F.col("pt") * F.col("qt")) / F.sum(F.col("p0") * F.col("qt"))
    return (
        joined.groupBy(F.col("yr").alias("year"))
        .agg(
            F.count("*").cast("long").alias("n_common_parts"),
            F.round(lasp, 4).alias("laspeyres"),
            F.round(paas, 4).alias("paasche"),
            F.round(F.sqrt(lasp * paas), 4).alias("fisher"),
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# ml_churn_label_summary — supervised-label generation for a churn
# model: a customer is labeled churned when their last order predates
# the dataset horizon (global max order date) by more than 90 days —
# the standard "observation window" labeling rule — reported per
# segment with rate and the median days-since-last-order of the
# churned group (integer rank selection). The label-engineering step
# between raw facts and any training run; the query IS the feature
# spec, versioned with the engine. Scale: one max-date fold
# (broadcast), one per-customer max-agg on the custkey the segment
# join also uses, percentile window over the churned subset only.
# ---------------------------------------------------------------------------

_CHURN_DAYS = 90

CHURN_LABEL_ORACLE = f"""
WITH horizon AS (SELECT max(o_orderdate) AS h FROM orders),
last_orders AS (
  SELECT o_custkey, max(o_orderdate) AS last_order
  FROM orders GROUP BY o_custkey
),
labeled AS (
  SELECT c.c_mktsegment AS segment,
         datediff('day', l.last_order, hz.h) AS days_silent,
         datediff('day', l.last_order, hz.h) > {_CHURN_DAYS} AS churned,
         l.o_custkey
  FROM last_orders l
  JOIN customer c ON l.o_custkey = c.c_custkey
  CROSS JOIN horizon hz
),
ranked AS (
  SELECT segment, churned, days_silent,
         row_number() OVER (PARTITION BY segment, churned
                            ORDER BY days_silent, o_custkey) AS rn,
         count(*) OVER (PARTITION BY segment, churned) AS n
  FROM labeled
),
per_arm AS (
  SELECT segment, churned, any_value(n) AS n_arm,
         max(CASE WHEN rn = (n + 1) // 2 THEN days_silent END) AS median_silence
  FROM ranked GROUP BY segment, churned
)
SELECT segment,
       CAST(coalesce(sum(CASE WHEN churned THEN n_arm END), 0) AS BIGINT)
           AS n_churned,
       CAST(coalesce(sum(CASE WHEN NOT churned THEN n_arm END), 0) AS BIGINT)
           AS n_active,
       round(coalesce(sum(CASE WHEN churned THEN n_arm END), 0) * 1.0
             / sum(n_arm), 6) AS churn_rate,
       CAST(max(CASE WHEN churned THEN median_silence END) AS BIGINT)
           AS median_churned_silence
FROM per_arm
GROUP BY segment
ORDER BY segment
"""


@register("ml_churn_label_summary", CHURN_LABEL_ORACLE)
def ml_churn_label_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    last_orders = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order")
    )
    labeled = (
        last_orders.join(cust, last_orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(horizon))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff("h", "last_order").alias("days_silent"),
            (F.datediff("h", "last_order") > _CHURN_DAYS).alias("churned"),
            "o_custkey",
        )
    )
    wr = Window.partitionBy("segment", "churned").orderBy("days_silent", "o_custkey")
    wn = Window.partitionBy("segment", "churned")
    ranked = labeled.select(
        "segment",
        "churned",
        "days_silent",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    per_arm = ranked.groupBy("segment", "churned").agg(
        F.any_value("n").alias("n_arm"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("days_silent"))
        ).alias("median_silence"),
    )
    return (
        per_arm.groupBy("segment")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("churned"), F.col("n_arm"))), F.lit(0)
            ).cast("long").alias("n_churned"),
            F.coalesce(
                F.sum(F.when(~F.col("churned"), F.col("n_arm"))), F.lit(0)
            ).cast("long").alias("n_active"),
            F.round(
                F.coalesce(F.sum(F.when(F.col("churned"), F.col("n_arm"))), F.lit(0))
                * 1.0 / F.sum("n_arm"),
                6,
            ).alias("churn_rate"),
            F.max(
                F.when(F.col("churned"), F.col("median_silence"))
            ).cast("long").alias("median_churned_silence"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# lineitem_revenue_waterfall — the finance waterfall decomposition per
# year: gross (extended price) → discount given → net → tax collected
# → billed total, with each step's share of gross — the bridge report
# that reconciles TPC-H q1's aggregate formulas into an explainable
# sequence. EXACTNESS: each per-line step amount is computed in
# integer cents with HALF-UP rounding applied AT THE LINE LEVEL
# (round(ext*disc*100) etc.), so the waterfall reconciles to the penny
# by construction — sums of exact BIGINTs — and both engines agree
# bit-for-bit before the two ratio columns. Scale: pure projection +
# one year-key map-side-combined aggregation; no joins, no windows.
# ---------------------------------------------------------------------------

WATERFALL_ORACLE = """
WITH lines AS (
  SELECT CAST(year(l_shipdate) AS INT) AS year,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS gross_c,
         CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS disc_c,
         CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100) AS BIGINT)
             AS tax_c
  FROM lineitem
)
SELECT year,
       CAST(count(*) AS BIGINT) AS n_lines,
       sum(gross_c) / 100.0 AS gross_revenue,
       sum(disc_c) / 100.0 AS discount_given,
       (sum(gross_c) - sum(disc_c)) / 100.0 AS net_revenue,
       sum(tax_c) / 100.0 AS tax_collected,
       (sum(gross_c) - sum(disc_c) + sum(tax_c)) / 100.0 AS billed_total,
       round(sum(disc_c) * 1.0 / sum(gross_c), 4) AS discount_rate,
       round(sum(tax_c) * 1.0 / (sum(gross_c) - sum(disc_c)), 4) AS effective_tax_rate
FROM lines
GROUP BY year
ORDER BY year
"""


@register("lineitem_revenue_waterfall", WATERFALL_ORACLE)
def lineitem_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_shipdate", "l_extendedprice", "l_discount", "l_tax"],
    )
    lines = li.select(
        F.year("l_shipdate").cast("int").alias("year"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("gross_c"),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("long")
        .alias("disc_c"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax") * 100
        )
        .cast("long")
        .alias("tax_c"),
    )
    g, d, t = F.sum("gross_c"), F.sum("disc_c"), F.sum("tax_c")
    return (
        lines.groupBy("year")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            (g / 100.0).alias("gross_revenue"),
            (d / 100.0).alias("discount_given"),
            ((g - d) / 100.0).alias("net_revenue"),
            (t / 100.0).alias("tax_collected"),
            ((g - d + t) / 100.0).alias("billed_total"),
            F.round(d * 1.0 / g, 4).alias("discount_rate"),
            F.round(t * 1.0 / (g - d), 4).alias("effective_tax_rate"),
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# orders_apportionment_largest_remainder — proportional allocation of
# a fixed integer budget (1000 "seats": capacity units, sample quota,
# ad slots) across nations by revenue share, Hamilton's
# largest-remainder method: every nation gets floor(seats * share),
# and the leftover seats go to the largest fractional remainders —
# the standard way to turn continuous shares into integers that sum
# EXACTLY to the budget (naive per-group rounding drifts). All
# arithmetic is exact int64 (seats * rev_cents ≤ ~2e16 at sf1;
# div/mod against the grand total), the remainder rank breaks ties
# deterministically on nation name, and the only double is the
# display-quota column. Scale: revenue rollup is one shuffle; the
# rank window runs over 25 pre-aggregated rows — the engine-wide
# unpartitioned-window rule (calendar/key-bounded tiny series only)
# holds.
# ---------------------------------------------------------------------------

APPORTION_SEATS = 1000

APPORTION_ORACLE = f"""
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
tot AS (SELECT sum(rev_cents) AS grand FROM rev),
quota AS (
  SELECT nation, rev_cents,
         ({APPORTION_SEATS} * rev_cents) // grand AS floor_seats,
         ({APPORTION_SEATS} * rev_cents) % grand AS remainder_num,
         round({APPORTION_SEATS} * rev_cents * 1.0 / grand, 6) AS exact_quota
  FROM rev, tot
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY remainder_num DESC, nation) AS rem_rank,
         {APPORTION_SEATS} - sum(floor_seats) OVER () AS leftover
  FROM quota
)
SELECT nation, rev_cents, exact_quota,
       CAST(floor_seats AS BIGINT) AS floor_seats,
       CAST(CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS BIGINT) AS bonus_seat,
       CAST(floor_seats + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS seats
FROM ranked
ORDER BY nation
"""


@register("orders_apportionment_largest_remainder", APPORTION_ORACLE)
def orders_apportionment_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    nation = load_table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    grand_w = Window.partitionBy()
    quota = rev.select(
        "nation",
        "rev_cents",
        (F.lit(APPORTION_SEATS) * F.col("rev_cents")).alias("num"),
        F.sum("rev_cents").over(grand_w).alias("grand"),
    ).select(
        "nation",
        "rev_cents",
        F.expr("num div grand").alias("floor_seats"),
        (F.col("num") % F.col("grand")).alias("remainder_num"),
        F.round(F.col("num") * 1.0 / F.col("grand"), 6).alias("exact_quota"),
    )
    ranked = quota.select(
        "*",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.desc("remainder_num"), "nation"))
        .alias("rem_rank"),
        (F.lit(APPORTION_SEATS) - F.sum("floor_seats").over(grand_w)).alias("leftover"),
    )
    bonus = F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "nation",
        "rev_cents",
        "exact_quota",
        F.col("floor_seats").cast("long").alias("floor_seats"),
        bonus.cast("long").alias("bonus_seat"),
        (F.col("floor_seats") + bonus).cast("long").alias("seats"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# orders_pareto_frontier — the 2-D skyline: (order date, total price)
# points not dominated by any other point (no order both later AND at
# least as expensive, with one strict) — "best price seen so far from
# the end of time", the multi-objective shortlist primitive (cheapest-
# newest supplier offers, best quality-vs-cost checkpoints, …).
# VERIFICATION DESIGN (the IVM two-formulations pattern): the oracle
# states the DEFINITION (NOT EXISTS a dominating point); the Spark
# side computes the frontier ALGEBRAICALLY — collapse to per-date max
# price (calendar-bounded relation), then one cumulative-max window
# ordered by date DESC over that reduced spine — so the value-hash
# match PROVES the cummax algebra implements dominance. Scale: one
# map-side-combined (date) rollup; the window touches only the
# O(distinct dates) spine; the raw table is never sorted.
# ---------------------------------------------------------------------------

PARETO_ORACLE = """
WITH pts AS (
  SELECT o_orderdate AS day,
         CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS best_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_orderdate
)
SELECT day, best_cents, n_orders
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.day >= p.day AND q.best_cents >= p.best_cents
    AND (q.day > p.day OR q.best_cents > p.best_cents)
)
ORDER BY day
"""


@register("orders_pareto_frontier", PARETO_ORACLE)
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    pts = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("best_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    # Cumulative max over STRICTLY later days (date-desc order, frame
    # excludes current row); a point survives iff it beats every later
    # day's best. Runs on the O(distinct dates) spine only.
    w = Window.orderBy(F.desc("day")).rowsBetween(Window.unboundedPreceding, -1)
    return (
        pts.withColumn("later_best", F.max("best_cents").over(w))
        .filter(
            F.col("later_best").isNull() | (F.col("best_cents") > F.col("later_best"))
        )
        .select("day", "best_cents", "n_orders")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# events_running_distinct_users — cumulative distinct users per event
# type at month-end checkpoints WITHOUT any running-distinct window
# (no engine has one): each user contributes at their FIRST event
# (min date per (type, user) — one groupBy), so the running distinct
# count is a broadcast range-join of first-appearances against the
# month-end spine — the Heaps'-law checkpoint trick applied to the
# product-analytics "cumulative reached users" curve. Scale: one
# (type, user) map-side-combined rollup; the spine is calendar-
# bounded; counting is an exact-integer broadcast range join.
# ---------------------------------------------------------------------------

RUNNING_DISTINCT_ORACLE = """
WITH first_seen AS (
  SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY event_type, user_id
),
spine AS (
  SELECT DISTINCT event_type,
         last_day(date_trunc('month', CAST(ts AS DATE))) AS month_end
  FROM events
)
SELECT s.event_type, s.month_end,
       CAST(count(f.user_id) AS BIGINT) AS distinct_users_to_date
FROM spine s
LEFT JOIN first_seen f
  ON f.event_type = s.event_type AND f.first_day <= s.month_end
GROUP BY s.event_type, s.month_end
ORDER BY s.event_type, s.month_end
"""


@register("events_running_distinct_users", RUNNING_DISTINCT_ORACLE)
def events_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "user_id", "ts"])
    day = F.col("ts").cast("date")
    first_seen = ev.groupBy(
        F.col("event_type").alias("fs_type"), "user_id"
    ).agg(F.min(day).alias("first_day"))
    spine = ev.select(
        "event_type", F.last_day(F.date_trunc("month", day)).alias("month_end")
    ).distinct()
    return (
        first_seen.join(
            F.broadcast(spine),
            (F.col("fs_type") == F.col("event_type"))
            & (F.col("first_day") <= F.col("month_end")),
            "right",
        )
        .groupBy("event_type", "month_end")
        .agg(F.count("user_id").cast("long").alias("distinct_users_to_date"))
        .orderBy("event_type", "month_end")
    )


# ---------------------------------------------------------------------------
# part_xyz_demand_classes — the XYZ half of ABC/XYZ inventory
# segmentation (ABC = value share, already part_abc_classification;
# XYZ = demand VARIABILITY): per part brand, the coefficient of
# variation of monthly demand, classed X (CV < 0.5, steady), Y
# (< 1.0, variable), Z (≥ 1.0, erratic). Forecastability is what
# decides safety stock and model choice — the planning complement to
# the seasonal/forecast rows. ENGINE PARITY: monthly demand sums and
# the (n, Σq, Σq²) brand moments are exact BIGINTs; CV is one
# deterministic quotient; class edges compare exact arithmetic
# (2·sd vs mean via 4·var·n² cross-multiplication is overkill here —
# CV is compared AFTER 6-decimal rounding so both engines class
# identically). Scale: (brand, month) rollup with map-side combine,
# then k-row brand folds.
# ---------------------------------------------------------------------------

XYZ_ORACLE = """
WITH monthly AS (
  SELECT p.p_brand AS brand, date_trunc('month', o.o_orderdate) AS mon,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, mon
),
m AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n_months,
         CAST(sum(qty) AS BIGINT) AS s, CAST(sum(qty * qty) AS BIGINT) AS ss
  FROM monthly GROUP BY brand
),
cv AS (
  SELECT brand, n_months,
         CAST(s AS DOUBLE) / n_months AS mean_qty,
         round(CASE WHEN s > 0 THEN
           sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_months) / n_months)
           / (CAST(s AS DOUBLE) / n_months) END, 6) AS cv6
  FROM m
)
SELECT brand, n_months,
       round(mean_qty, 2) AS mean_monthly_qty,
       cv6 AS demand_cv,
       CASE WHEN cv6 < 0.5 THEN 'X' WHEN cv6 < 1.0 THEN 'Y' ELSE 'Z' END
           AS xyz_class
FROM cv
ORDER BY brand
"""


@register("part_xyz_demand_classes", XYZ_ORACLE)
def part_xyz_demand_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey", "l_quantity"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    monthly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
    )
    m = monthly.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum("qty").alias("s"),
        F.sum(F.col("qty") * F.col("qty")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_months")
    cv6 = F.round(
        F.when(
            F.col("s") > 0,
            F.sqrt(
                (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n_months"))
                / F.col("n_months")
            )
            / mean,
        ),
        6,
    )
    return m.select(
        "brand",
        "n_months",
        F.round(mean, 2).alias("mean_monthly_qty"),
        cv6.alias("demand_cv"),
        F.when(cv6 < 0.5, "X").when(cv6 < 1.0, "Y").otherwise("Z").alias("xyz_class"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# events_cohort_retention — the D7/D30 retention matrix per signup-week
# cohort (first event = signup): share of each cohort active again in
# days 1-7 and days 8-30 after their first day — THE product-health
# curve (DAU/MAU says how many; retention says whether they come
# back). Exact integer counting: per-user first day (one groupBy),
# then ONE pass over events joined to first days with interval flags
# folded by max() per user, then a cohort rollup. Scale: two
# map-side-combined shuffles on user_id (exchange-reusable) + one
# cohort rollup; no windows at all.
# ---------------------------------------------------------------------------

RETENTION_ORACLE = """
WITH first_day AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
),
flags AS (
  SELECT f.user_id, date_trunc('week', f.d0) AS cohort_week,
         max(CASE WHEN CAST(e.ts AS DATE) > f.d0
                   AND CAST(e.ts AS DATE) <= f.d0 + INTERVAL 7 DAY
                  THEN 1 ELSE 0 END) AS d7,
         max(CASE WHEN CAST(e.ts AS DATE) > f.d0 + INTERVAL 7 DAY
                   AND CAST(e.ts AS DATE) <= f.d0 + INTERVAL 30 DAY
                  THEN 1 ELSE 0 END) AS d30
  FROM first_day f JOIN events e ON e.user_id = f.user_id
  GROUP BY f.user_id, cohort_week
)
SELECT CAST(cohort_week AS DATE) AS cohort_week,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(d7) AS BIGINT) AS d7_retained,
       CAST(sum(d30) AS BIGINT) AS d30_retained,
       round(CAST(sum(d7) AS DOUBLE) / count(*), 4) AS d7_rate,
       round(CAST(sum(d30) AS DOUBLE) / count(*), 4) AS d30_rate
FROM flags
GROUP BY cohort_week
ORDER BY cohort_week
"""


@register("events_cohort_retention", RETENTION_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    day = F.col("ts").cast("date")
    first_day = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    joined = ev.join(first_day, "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("d0")).cast("date").alias("cohort_week"),
        day.alias("d"),
        "d0",
    )
    flags = joined.groupBy("user_id", "cohort_week").agg(
        F.max(
            F.when(
                (F.col("d") > F.col("d0")) & (F.col("d") <= F.date_add("d0", 7)), 1
            ).otherwise(0)
        ).alias("d7"),
        F.max(
            F.when(
                (F.col("d") > F.date_add("d0", 7)) & (F.col("d") <= F.date_add("d0", 30)),
                1,
            ).otherwise(0)
        ).alias("d30"),
    )
    return (
        flags.groupBy("cohort_week")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("d7").cast("long").alias("d7_retained"),
            F.sum("d30").cast("long").alias("d30_retained"),
            F.round(F.sum("d7").cast("double") / F.count("*"), 4).alias("d7_rate"),
            F.round(F.sum("d30").cast("double") / F.count("*"), 4).alias("d30_rate"),
        )
        .orderBy("cohort_week")
    )


# ---------------------------------------------------------------------------
# orders_yoy_growth — year-over-year monthly revenue growth per order
# priority: each month matched to the SAME month one year earlier by a
# calendar equi-join on add_months (never a lag window with a fragile
# fixed offset — months can be missing, and the equi-join is
# skip-safe). Completes the growth family: compound_growth is MoM +
# index, this is the seasonality-free YoY view. Exact integer cents
# revenue on both sides of one deterministic quotient. Scale: one
# (priority, month) map-side-combined rollup, then a self-join of the
# calendar-bounded series with the prior-year side broadcast.
# ---------------------------------------------------------------------------

YOY_ORACLE = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY priority, mon
)
SELECT cur.priority, cur.mon,
       round(cur.cents / 100.0, 2) AS revenue,
       round(prev.cents / 100.0, 2) AS revenue_prior_year,
       round((CAST(cur.cents AS DOUBLE) - prev.cents) / prev.cents, 4) AS yoy_growth
FROM monthly cur
JOIN monthly prev
  ON cur.priority = prev.priority AND prev.mon = cur.mon - INTERVAL 12 MONTH
ORDER BY cur.priority, cur.mon
"""


@register("orders_yoy_growth", YOY_ORACLE)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderpriority", "o_orderdate", "o_totalprice"],
    )
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("mon"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    cur = monthly
    prev = monthly.select(
        F.col("priority").alias("p2"),
        F.add_months(F.col("mon"), 12).alias("mon2"),
        F.col("cents").alias("prev_cents"),
    )
    return (
        cur.join(
            F.broadcast(prev),
            (F.col("priority") == F.col("p2")) & (F.col("mon") == F.col("mon2")),
        )
        .select(
            "priority",
            "mon",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("prev_cents") / 100.0, 2).alias("revenue_prior_year"),
            F.round(
                (F.col("cents").cast("double") - F.col("prev_cents"))
                / F.col("prev_cents"),
                4,
            ).alias("yoy_growth"),
        )
        .orderBy("priority", "mon")
    )


# ---------------------------------------------------------------------------
# part_price_elasticity — log-log price elasticity of demand per
# brand: the slope of ln(quantity) on ln(unit price) across line
# items, the textbook constant-elasticity regression (and the pricing
# team's first number). Rides the house integer-moment OLS: both log
# coordinates are quantized to BIGINT micro-units and CENTERED by
# fixed constants (7.0 for ln-price, 2.5 for ln-qty — affine shifts
# leave the slope unchanged but buy ~100× of BIGINT headroom for the
# squared sums), so all five moments fold exactly; the slope is one
# terminal double expression per brand. Scale: one broadcast part
# join + one map-side-combined groupBy on ~25 brands.
# ---------------------------------------------------------------------------

ELASTICITY_ORACLE = """
WITH pts AS (
  SELECT p.p_brand AS brand,
         CAST(round(1e6 * ln(l.l_extendedprice / l.l_quantity)) AS BIGINT)
             - 7000000 AS lx,
         CAST(round(1e6 * ln(l.l_quantity)) AS BIGINT) - 2500000 AS ly
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
         CAST(sum(lx * lx) AS BIGINT) AS sxx,
         CAST(sum(lx * ly) AS BIGINT) AS sxy
  FROM pts GROUP BY brand
)
SELECT brand, n AS n_lines,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4)
           AS elasticity,
       round((7000000 + CAST(sx AS DOUBLE) / n) / 1e6, 4) AS mean_ln_price
FROM m
ORDER BY brand
"""


@register("part_price_elasticity", ELASTICITY_ORACLE)
def part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_partkey", "l_extendedprice", "l_quantity"]
    )
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    pts = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        (
            F.round(F.lit(1e6) * F.log(F.col("l_extendedprice") / F.col("l_quantity")))
            .cast("long")
            - 7000000
        ).alias("lx"),
        (F.round(F.lit(1e6) * F.log(F.col("l_quantity"))).cast("long") - 2500000).alias(
            "ly"
        ),
    )
    m = pts.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        "brand",
        F.col("n").alias("n_lines"),
        F.round(
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")),
            4,
        ).alias("elasticity"),
        F.round((F.lit(7000000) + F.col("sx").cast("double") / F.col("n")) / 1e6, 4).alias(
            "mean_ln_price"
        ),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# customer_new_vs_returning — monthly revenue split by NEW (order
# falls in the customer's first month) vs RETURNING customers: the
# growth-accounting complement to cohort retention/LTV — "is this
# month's revenue acquisition or repeat business". First month per
# customer is one key rollup; classification is an equi-join on the
# customer key; all revenue folds are exact integer cents. Scale: two
# customer-key shuffles, calendar-bounded output.
# ---------------------------------------------------------------------------

NEWRET_ORACLE = """
WITH o AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
firstm AS (SELECT o_custkey, min(month) AS m0 FROM o GROUP BY o_custkey)
SELECT CAST(o.month AS DATE) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN o.month = f.m0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_cust_orders,
       round(CAST(sum(CASE WHEN o.month = f.m0 THEN cents ELSE 0 END) AS BIGINT)
             / 100.0, 2) AS revenue_new,
       round(CAST(sum(CASE WHEN o.month <> f.m0 THEN cents ELSE 0 END) AS BIGINT)
             / 100.0, 2) AS revenue_returning
FROM o JOIN firstm f ON o.o_custkey = f.o_custkey
GROUP BY o.month
ORDER BY month
"""


@register("customer_new_vs_returning", NEWRET_ORACLE)
def customer_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    o = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    firstm = o.groupBy("o_custkey").agg(F.min("month").alias("m0"))
    is_new = F.col("month") == F.col("m0")
    return (
        o.join(firstm, "o_custkey")
        .groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("n_new_cust_orders"),
            F.round(
                F.sum(F.when(is_new, F.col("cents")).otherwise(0)).cast("long") / 100.0, 2
            ).alias("revenue_new"),
            F.round(
                F.sum(F.when(~is_new, F.col("cents")).otherwise(0)).cast("long") / 100.0,
                2,
            ).alias("revenue_returning"),
        )
        .select(
            F.to_date("month").alias("month"),
            "n_orders",
            "n_new_cust_orders",
            "revenue_new",
            "revenue_returning",
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# orders_concurrency_census — peak concurrent OPEN orders per year by
# the classic interval +1/−1 boundary sweep: an order is open from
# its order date until its last ship date; emit +1 at start, −1 the
# day after end, prefix-sum over the date-collapsed boundary relation
# — the O(distinct days) algorithm every "max simultaneous sessions /
# beds / connections" question uses (vs the naive per-day × per-order
# range join). All deltas and running counts are exact integers; the
# peak day per year is the earliest argmax. Scale: one order-key
# rollup for spans + a calendar-bounded running window (the
# interval-merge row's stance).
# ---------------------------------------------------------------------------

CONCURRENCY_ORACLE = """
WITH spans AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_day,
         CAST(max(l.l_shipdate) AS DATE) AS end_day
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
bounds AS (
  SELECT start_day AS day, CAST(count(*) AS BIGINT) AS delta
  FROM spans GROUP BY start_day
  UNION ALL
  SELECT end_day + 1 AS day, CAST(-count(*) AS BIGINT) AS delta
  FROM spans GROUP BY end_day + 1
),
folded AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM bounds GROUP BY day),
run AS (
  SELECT day,
         CAST(sum(delta) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
  FROM folded
),
yearly AS (
  SELECT CAST(year(day) AS BIGINT) AS yr, max(open_orders) AS mx
  FROM run GROUP BY 1
)
SELECT y.yr AS year, CAST(y.mx AS BIGINT) AS max_open_orders,
       min(r.day) AS peak_day
FROM yearly y
JOIN run r ON CAST(year(r.day) AS BIGINT) = y.yr AND r.open_orders = y.mx
GROUP BY y.yr, y.mx
ORDER BY year
"""


@register("orders_concurrency_census", CONCURRENCY_ORACLE)
def orders_concurrency_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_shipdate"])
    spans = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.to_date(F.max("l_shipdate")).alias("end_day"))
        .select(F.to_date("o_orderdate").alias("start_day"), "end_day")
    )
    starts = spans.groupBy(F.col("start_day").alias("day")).agg(
        F.count("*").cast("long").alias("delta")
    )
    ends = spans.groupBy(F.date_add("end_day", 1).alias("day")).agg(
        (-F.count("*")).cast("long").alias("delta")
    )
    folded = (
        starts.unionByName(ends)
        .groupBy("day")
        .agg(F.sum("delta").cast("long").alias("delta"))
    )
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = folded.select(
        "day", F.sum("delta").over(w_run).cast("long").alias("open_orders")
    )
    yearly = run.groupBy(F.year("day").cast("long").alias("yr")).agg(
        F.max("open_orders").alias("mx")
    )
    return (
        yearly.join(
            run,
            (F.year(run.day).cast("long") == yearly.yr)
            & (run.open_orders == yearly.mx),
        )
        .groupBy("yr", "mx")
        .agg(F.min("day").alias("peak_day"))
        .select(
            F.col("yr").alias("year"),
            F.col("mx").cast("long").alias("max_open_orders"),
            "peak_day",
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# orders_backlog_aging — point-in-time backlog aging report: orders
# OPEN at the timeline-midpoint snapshot (ordered on or before it,
# last line shipping strictly after it), bucketed by age — the
# operations-desk "how stale is the open book" view, and the
# point-in-time query pattern (reconstructing state AS OF a date from
# an event log) that complements the SCD2/snapshot-diff rows. The
# snapshot day derives from exact integer date arithmetic; ages and
# buckets are integer; value folds are exact cents. Scale: one
# order-key rollup for spans + a broadcast snapshot scalar; the
# filter prunes to the open book before any aggregation.
# ---------------------------------------------------------------------------

BACKLOG_ORACLE = """
WITH spans AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_day,
         CAST(max(l.l_shipdate) AS DATE) AS end_day,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
),
snap AS (
  SELECT min(start_day)
         + CAST(datediff('day', min(start_day), max(start_day)) // 2 AS INTEGER)
             AS snap_day
  FROM spans
),
open_book AS (
  SELECT s.o_orderkey, s.cents,
         CAST(datediff('day', s.start_day, p.snap_day) AS BIGINT) AS age
  FROM spans s CROSS JOIN snap p
  WHERE s.start_day <= p.snap_day AND s.end_day > p.snap_day
)
SELECT CASE WHEN age <= 30 THEN '0-30'
            WHEN age <= 60 THEN '31-60'
            WHEN age <= 90 THEN '61-90'
            ELSE '90+' END AS age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS open_value,
       CAST(max(age) AS BIGINT) AS oldest_age_days
FROM open_book
GROUP BY age_bucket
ORDER BY age_bucket
"""


@register("orders_backlog_aging", BACKLOG_ORACLE)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate", "o_totalprice"]
    )
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_shipdate"])
    spans = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.to_date(F.max("l_shipdate")).alias("end_day"))
        .select(
            F.to_date("o_orderdate").alias("start_day"),
            "end_day",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    snap = spans.agg(
        F.date_add(
            F.min("start_day"),
            (F.datediff(F.max("start_day"), F.min("start_day")) / 2).cast("int"),
        ).alias("snap_day")
    )
    open_book = (
        spans.crossJoin(F.broadcast(snap))
        .where((F.col("start_day") <= F.col("snap_day")) & (F.col("end_day") > F.col("snap_day")))
        .select(
            "cents", F.datediff("snap_day", "start_day").cast("long").alias("age")
        )
    )
    return (
        open_book.groupBy(
            F.when(F.col("age") <= 30, "0-30")
            .when(F.col("age") <= 60, "31-60")
            .when(F.col("age") <= 90, "61-90")
            .otherwise("90+")
            .alias("age_bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("cents").cast("long") / 100.0, 2).alias("open_value"),
            F.max("age").cast("long").alias("oldest_age_days"),
        )
        .orderBy("age_bucket")
    )


# ---------------------------------------------------------------------------
# finance_bollinger_breakout — Bollinger-band breakout census over the
# daily revenue series: 20-day rolling mean +/- 2 population sigma;
# a day is a breakout when |z| > 2 against the PRECEDING-window
# stats. Daily revenue is folded to exact integer dollars (cents div
# 100 — the BIGINT-headroom dial: squared daily sums stay exact
# through ~sf10); the rolling moments are exact BIGINT window sums,
# so mean/sigma/z are deterministic IEEE expressions per row. Scale:
# the unpartitioned window rides the calendar-bounded daily relation
# (the EWMA/OHLC stance); full 20-row windows only.
# ---------------------------------------------------------------------------

BOLLINGER_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS d
  FROM orders GROUP BY day
),
w AS (
  SELECT day, d,
         CAST(count(*) OVER w20 AS BIGINT) AS n,
         CAST(sum(d) OVER w20 AS BIGINT) AS s,
         CAST(sum(d * d) OVER w20 AS BIGINT) AS sx2
  FROM daily
  WINDOW w20 AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
z AS (
  SELECT day, d, s,
         (d - CAST(s AS DOUBLE) / n)
             / sqrt((n * CAST(sx2 AS DOUBLE) - CAST(s AS DOUBLE) * s) / (n * n))
             AS zscore
  FROM w
  WHERE n = 20 AND n * CAST(sx2 AS DOUBLE) - CAST(s AS DOUBLE) * s > 0
)
SELECT day, CAST(d AS BIGINT) AS revenue,
       round(CAST(s AS DOUBLE) / 20, 2) AS ma20,
       round(zscore, 4) AS z,
       CASE WHEN zscore > 0 THEN 'up' ELSE 'down' END AS direction
FROM z
WHERE abs(zscore) > 2
ORDER BY day
"""


@register("finance_bollinger_breakout", BOLLINGER_ORACLE)
def finance_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("d")
    )
    w20 = Window.orderBy("day").rowsBetween(-19, Window.currentRow)
    w = daily.select(
        "day",
        "d",
        F.count("*").over(w20).cast("long").alias("n"),
        F.sum("d").over(w20).cast("long").alias("s"),
        F.sum(F.col("d") * F.col("d")).over(w20).cast("long").alias("sx2"),
    )
    var_num = F.col("n") * F.col("sx2").cast("double") - F.col("s").cast("double") * F.col("s")
    zscore = (F.col("d") - F.col("s").cast("double") / F.col("n")) / F.sqrt(
        var_num / (F.col("n") * F.col("n"))
    )
    z = (
        w.where((F.col("n") == 20) & (var_num > 0))
        .select("day", "d", "s", zscore.alias("zscore"))
    )
    return (
        z.where(F.abs("zscore") > 2)
        .select(
            "day",
            F.col("d").cast("long").alias("revenue"),
            F.round(F.col("s").cast("double") / 20, 2).alias("ma20"),
            F.round("zscore", 4).alias("z"),
            F.when(F.col("zscore") > 0, "up").otherwise("down").alias("direction"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# finance_beta_sharpe — per-brand market beta and annualized Sharpe
# from monthly ln-returns: brand revenue vs the whole-market series.
# Returns ride the house quantized-ln pattern (1e6 micro-units per
# row) over CONSECUTIVE observed months only (month index = prev + 1
# via lag), so every moment is an exact BIGINT sum; beta, correlation
# and Sharpe are terminal closed-form doubles. Scale: one fact rollup
# to (brand, month) cells; the lag windows ride brand-partitioned
# calendar-bounded relations; market series broadcast.
# ---------------------------------------------------------------------------

BETA_SHARPE_ORACLE = """
WITH bm AS (
  SELECT p.p_brand AS brand,
         year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS m,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, m
),
mkt AS (
  SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
  FROM lineitem GROUP BY m
),
bret AS (
  SELECT brand, m,
         CAST(round(1e6 * ln(CAST(cents AS DOUBLE)
              / lag(cents) OVER (PARTITION BY brand ORDER BY m))) AS BIGINT)
             AS rb
  FROM bm
  QUALIFY lag(m) OVER (PARTITION BY brand ORDER BY m) = m - 1
),
mret AS (
  SELECT m,
         CAST(round(1e6 * ln(CAST(cents AS DOUBLE)
              / lag(cents) OVER (ORDER BY m))) AS BIGINT) AS rm
  FROM mkt
  QUALIFY lag(m) OVER (ORDER BY m) = m - 1
),
j AS (SELECT b.brand, b.rb, r.rm FROM bret b JOIN mret r ON r.m = b.m),
mo AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rb) AS BIGINT) AS sb, CAST(sum(rm) AS BIGINT) AS sm,
         CAST(sum(rb * rb) AS BIGINT) AS sbb,
         CAST(sum(rm * rm) AS BIGINT) AS smm,
         CAST(sum(rb * rm) AS BIGINT) AS sbm
  FROM j GROUP BY brand
)
SELECT brand, n AS n_months,
       round((n * CAST(sbm AS DOUBLE) - CAST(sb AS DOUBLE) * sm)
             / (n * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm), 4) AS beta,
       round((n * CAST(sbm AS DOUBLE) - CAST(sb AS DOUBLE) * sm)
             / sqrt((n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb)
                    * (n * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm)), 4)
           AS corr_mkt,
       round(CAST(sb AS DOUBLE)
             / sqrt(n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb)
             * sqrt(12.0), 4) AS sharpe_ann
FROM mo
WHERE n >= 12
  AND n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb > 0
  AND n * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm > 0
ORDER BY brand
"""


@register("finance_beta_sharpe", BETA_SHARPE_ORACLE)
def finance_beta_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem", columns=["l_partkey", "l_shipdate", "l_extendedprice"]
    )
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    mcol = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m")
    cents = F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long")
    bm = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), mcol)
        .agg(cents.alias("cents"))
    )
    mkt = li.groupBy(mcol).agg(cents.alias("cents"))
    wb = Window.partitionBy("brand").orderBy("m")
    wm = Window.orderBy("m")
    bret = (
        bm.select(
            "brand",
            "m",
            F.lag("m").over(wb).alias("pm"),
            F.round(
                F.lit(1e6)
                * F.log(F.col("cents").cast("double") / F.lag("cents").over(wb))
            )
            .cast("long")
            .alias("rb"),
        )
        .where(F.col("pm") == F.col("m") - 1)
    )
    mret = (
        mkt.select(
            "m",
            F.lag("m").over(wm).alias("pm"),
            F.round(
                F.lit(1e6)
                * F.log(F.col("cents").cast("double") / F.lag("cents").over(wm))
            )
            .cast("long")
            .alias("rm"),
        )
        .where(F.col("pm") == F.col("m") - 1)
        .select("m", "rm")
    )
    j = bret.join(F.broadcast(mret), "m")
    mo = j.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rb").cast("long").alias("sb"),
        F.sum("rm").cast("long").alias("sm"),
        F.sum(F.col("rb") * F.col("rb")).cast("long").alias("sbb"),
        F.sum(F.col("rm") * F.col("rm")).cast("long").alias("smm"),
        F.sum(F.col("rb") * F.col("rm")).cast("long").alias("sbm"),
    )
    nd = F.col("n").cast("double")
    cov_num = nd * F.col("sbm") - F.col("sb").cast("double") * F.col("sm")
    varb = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    varm = nd * F.col("smm") - F.col("sm").cast("double") * F.col("sm")
    return (
        mo.where((F.col("n") >= 12) & (varb > 0) & (varm > 0))
        .select(
            "brand",
            F.col("n").alias("n_months"),
            F.round(cov_num / varm, 4).alias("beta"),
            F.round(cov_num / F.sqrt(varb * varm), 4).alias("corr_mkt"),
            F.round(
                F.col("sb").cast("double") / F.sqrt(varb) * F.sqrt(F.lit(12.0)), 4
            ).alias("sharpe_ann"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# finance_vwap_monthly — volume-weighted average unit price per brand
# per month vs the naive mean unit price: VWAP = sum(extendedprice) /
# sum(quantity) — BOTH sums exact integers (the extendedprice IS
# price x volume, so no per-row multiplication is even needed) —
# against the equal-weighted mean of per-row unit prices (quantized
# 1e4 per row). The spread between the two is the volume-skew signal
# trading desks monitor. Scale: one map-side-combined rollup to
# (brand, month); no windows, no joins besides the broadcast dim.
# ---------------------------------------------------------------------------

VWAP_ORACLE = """
WITH rows_ AS (
  SELECT p.p_brand AS brand,
         year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS m,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l.l_quantity) AS BIGINT) AS qty,
         CAST(round(l.l_extendedprice / l.l_quantity * 1e4) AS BIGINT) AS up_q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
agg AS (
  SELECT brand, m, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(cents) AS BIGINT) AS s_cents,
         CAST(sum(qty) AS BIGINT) AS s_qty,
         CAST(sum(up_q) AS BIGINT) AS s_up
  FROM rows_ GROUP BY brand, m
)
SELECT brand,
       CAST(m // 12 AS BIGINT) AS yr, CAST(m % 12 + 1 AS BIGINT) AS mon,
       n_lines, s_qty AS volume,
       ((2 * s_cents * 100 + s_qty) // (2 * s_qty)) / 1e4 AS vwap,
       ((2 * s_up + n_lines) // (2 * n_lines)) / 1e4 AS mean_price,
       ((2 * s_cents * 100 + s_qty) // (2 * s_qty)
        - (2 * s_up + n_lines) // (2 * n_lines)) / 1e4 AS vwap_premium
FROM agg
ORDER BY brand, yr, mon
"""


@register("finance_vwap_monthly", VWAP_ORACLE)
def finance_vwap_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    )
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    rows_ = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") / F.col("l_quantity") * 1e4)
        .cast("long")
        .alias("up_q"),
    )
    agg = rows_.groupBy("brand", "m").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("cents").cast("long").alias("s_cents"),
        F.sum("qty").cast("long").alias("s_qty"),
        F.sum("up_q").cast("long").alias("s_up"),
    )
    # Exact half-up integer rounding ((2a+b) div 2b) so the 4-dp grid
    # values can never sit on an engine-dependent half boundary.
    vq = F.expr("(2 * s_cents * 100 + s_qty) div (2 * s_qty)")
    mq = F.expr("(2 * s_up + n_lines) div (2 * n_lines)")
    return agg.select(
        "brand",
        F.expr("m div 12").cast("long").alias("yr"),
        (F.col("m") % 12 + 1).cast("long").alias("mon"),
        "n_lines",
        F.col("s_qty").alias("volume"),
        (vq / 1e4).alias("vwap"),
        (mq / 1e4).alias("mean_price"),
        ((vq - mq) / 1e4).alias("vwap_premium"),
    ).orderBy("brand", "yr", "mon")


# ---------------------------------------------------------------------------
# stat_gumbel_block_maxima — extreme-value analysis by the block-
# maxima method: monthly maxima of daily revenue (exact integer
# dollars), Gumbel parameters by the method of moments (beta =
# s*sqrt(6)/pi, mu = xbar - gamma*beta with Euler-Mascheroni gamma),
# and the one-month probability of exceeding the historical maximum,
# 1 - exp(-exp(-(x-mu)/beta)) — the tail-risk number a capacity /
# reinsurance review wants. Moments fold as exact BIGINT sums over
# the ~tens-of-blocks relation; everything after is terminal scalar
# arithmetic on one row. Complements stat_hill_tail_index (POT view).
# ---------------------------------------------------------------------------

GUMBEL_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS d
  FROM orders GROUP BY day
),
blocks AS (
  SELECT date_trunc('month', day) AS mth, CAST(max(d) AS BIGINT) AS mx
  FROM daily GROUP BY mth
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mx) AS BIGINT) AS s,
         CAST(sum(mx * mx) AS BIGINT) AS ss,
         CAST(max(mx) AS BIGINT) AS historic_max
  FROM blocks
),
fit AS (
  SELECT n, historic_max,
         CAST(s AS DOUBLE) / n AS xbar,
         sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
              / (CAST(n AS DOUBLE) * (n - 1))) * sqrt(6.0) / pi() AS beta
  FROM m WHERE n >= 12
)
SELECT n AS n_blocks, historic_max,
       round(xbar - 0.5772156649015329 * beta, 2) AS gumbel_mu,
       round(beta, 2) AS gumbel_beta,
       round(1 - exp(-exp(-(historic_max
                            - (xbar - 0.5772156649015329 * beta)) / beta)), 6)
           AS p_exceed_historic
FROM fit
"""


@register("stat_gumbel_block_maxima", GUMBEL_ORACLE)
def stat_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("d")
    )
    blocks = daily.groupBy(F.date_trunc("month", "day").alias("mth")).agg(
        F.max("d").cast("long").alias("mx")
    )
    m = blocks.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("ss"),
        F.max("mx").cast("long").alias("historic_max"),
    )
    nd = F.col("n").cast("double")
    xbar = F.col("s").cast("double") / F.col("n")
    beta = (
        F.sqrt(
            (F.col("n") * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s"))
            / (nd * (F.col("n") - 1))
        )
        * F.sqrt(F.lit(6.0))
        / F.lit(math.pi)
    )
    fit = m.where(F.col("n") >= 12).select(
        "n", "historic_max", xbar.alias("xbar"), beta.alias("beta")
    )
    mu = F.col("xbar") - F.lit(0.5772156649015329) * F.col("beta")
    return fit.select(
        F.col("n").alias("n_blocks"),
        "historic_max",
        F.round(mu, 2).alias("gumbel_mu"),
        F.round(F.col("beta"), 2).alias("gumbel_beta"),
        F.round(
            1 - F.exp(-F.exp(-(F.col("historic_max") - mu) / F.col("beta"))), 6
        ).alias("p_exceed_historic"),
    )


# ---------------------------------------------------------------------------
# customer_clv_heuristic — the classic margin x frequency x lifespan
# CLV heuristic per segment: average order value (exact cents ratio)
# x orders per customer per active year x expected lifetime in years
# (1 / churn rate, churn = customers whose last order predates the
# observation horizon by 90+ days — the KM framing's event flag).
# Every input is an exact integer count/sum; the CLV is one terminal
# product of ratios. Scale: one customer rollup + broadcast horizon +
# 5-row fold.
# ---------------------------------------------------------------------------

CLV_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_o,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(max(o_orderdate) AS DATE) AS last_day
  FROM orders GROUP BY o_custkey
),
horizon AS (
  SELECT max(last_day) AS obs_end,
         CAST(count(DISTINCT year(last_day)) AS BIGINT) AS n_years
  FROM per_cust
),
g AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(p.n_o) AS BIGINT) AS n_orders,
         CAST(sum(p.cents) AS BIGINT) AS s_cents,
         CAST(sum(CASE WHEN p.last_day < h.obs_end - INTERVAL 90 DAY
                       THEN 1 ELSE 0 END) AS BIGINT) AS churned,
         CAST(max(h.n_years) AS BIGINT) AS n_years
  FROM per_cust p
  JOIN customer c ON c.c_custkey = p.o_custkey
  CROSS JOIN horizon h
  GROUP BY segment
)
SELECT segment, n_cust, n_orders,
       round(CAST(s_cents AS DOUBLE) / n_orders / 100, 2) AS aov,
       round(CAST(n_orders AS DOUBLE) / n_cust / n_years, 4)
           AS orders_per_cust_year,
       round(CAST(churned AS DOUBLE) / n_cust, 6) AS churn_rate,
       round(CAST(s_cents AS DOUBLE) / n_orders / 100
             * (CAST(n_orders AS DOUBLE) / n_cust / n_years)
             / (CAST(churned AS DOUBLE) / n_cust), 2) AS clv_estimate
FROM g
WHERE churned > 0
ORDER BY segment
"""


@register("customer_clv_heuristic", CLV_ORACLE)
def customer_clv_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_o"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"),
        F.to_date(F.max("o_orderdate")).alias("last_day"),
    )
    horizon = per_cust.agg(
        F.max("last_day").alias("obs_end"),
        F.countDistinct(F.year("last_day")).cast("long").alias("n_years"),
    )
    g = (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .crossJoin(F.broadcast(horizon))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("n_o").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("s_cents"),
            F.sum(
                F.when(F.col("last_day") < F.date_sub("obs_end", 90), 1).otherwise(0)
            )
            .cast("long")
            .alias("churned"),
            F.max("n_years").cast("long").alias("n_years"),
        )
    )
    aov = F.col("s_cents").cast("double") / F.col("n_orders") / 100
    freq = F.col("n_orders").cast("double") / F.col("n_cust") / F.col("n_years")
    churn = F.col("churned").cast("double") / F.col("n_cust")
    return g.where(F.col("churned") > 0).select(
        "segment",
        "n_cust",
        "n_orders",
        F.round(aov, 2).alias("aov"),
        F.round(freq, 4).alias("orders_per_cust_year"),
        F.round(churn, 6).alias("churn_rate"),
        F.round(aov * freq / churn, 2).alias("clv_estimate"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# orders_abc_migration — ABC class MIGRATION matrix between the two
# most recent complete ship years: which parts moved between the
# A/B/C revenue tiers (same integer cross-multiplied 80/95 cuts as
# part_abc_classification) year-over-year, including 'N' for parts
# absent in one of the years. The churn-of-importance census an
# assortment review reads next to the static ABC split. Scale: two
# year-filtered part rollups; the class windows ride per-year part
# relations ordered by exact cents (rev DESC, partkey ties).
# ---------------------------------------------------------------------------

ABC_MIGRATION_ORACLE = """
WITH yy AS (SELECT max(year(l_shipdate)) - 2 AS y1, max(year(l_shipdate)) - 1 AS y2
            FROM lineitem),
pp AS (
  SELECT year(l.l_shipdate) AS yr, l.l_partkey AS partkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l CROSS JOIN yy
  WHERE year(l.l_shipdate) IN (yy.y1, yy.y2)
  GROUP BY yr, partkey
),
classed AS (
  SELECT yr, partkey, rev_cents,
         CASE WHEN sum(rev_cents) OVER (PARTITION BY yr
                    ORDER BY rev_cents DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                   <= sum(rev_cents) OVER (PARTITION BY yr) * 80 THEN 'A'
              WHEN sum(rev_cents) OVER (PARTITION BY yr
                    ORDER BY rev_cents DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                   <= sum(rev_cents) OVER (PARTITION BY yr) * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM pp
),
c1 AS (SELECT partkey, abc_class, rev_cents FROM classed, yy WHERE yr = yy.y1),
c2 AS (SELECT partkey, abc_class, rev_cents FROM classed, yy WHERE yr = yy.y2),
m AS (
  SELECT coalesce(c1.abc_class, 'N') AS class_from,
         coalesce(c2.abc_class, 'N') AS class_to,
         coalesce(c2.rev_cents, 0) AS rev2
  FROM c1 FULL OUTER JOIN c2 ON c1.partkey = c2.partkey
)
SELECT class_from, class_to,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(rev2) / 100.0, 2) AS to_year_revenue
FROM m
GROUP BY class_from, class_to
ORDER BY class_from, class_to
"""


@register("orders_abc_migration", ABC_MIGRATION_ORACLE)
def orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_discount"],
    )
    yy = li.agg(
        (F.max(F.year("l_shipdate")) - 2).alias("y1"),
        (F.max(F.year("l_shipdate")) - 1).alias("y2"),
    )
    pp = (
        li.select(
            F.year("l_shipdate").alias("yr"),
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(yy))
        .where(F.col("yr").isin(F.col("y1"), F.col("y2")))
        .groupBy("yr", "partkey")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w_cum = (
        Window.partitionBy("yr")
        .orderBy(F.col("rev_cents").desc(), "partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("yr")
    classed = pp.select(
        "yr",
        "partkey",
        "rev_cents",
        F.when(
            F.sum("rev_cents").over(w_cum) * 100 <= F.sum("rev_cents").over(w_tot) * 80,
            "A",
        )
        .when(
            F.sum("rev_cents").over(w_cum) * 100 <= F.sum("rev_cents").over(w_tot) * 95,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
    ).crossJoin(F.broadcast(yy))
    c1 = classed.where(F.col("yr") == F.col("y1")).select(
        "partkey", F.col("abc_class").alias("cls1")
    )
    c2 = classed.where(F.col("yr") == F.col("y2")).select(
        F.col("partkey").alias("pk2"),
        F.col("abc_class").alias("cls2"),
        F.col("rev_cents").alias("rev2"),
    )
    m = c1.join(c2, c1.partkey == c2.pk2, "full_outer").select(
        F.coalesce("cls1", F.lit("N")).alias("class_from"),
        F.coalesce("cls2", F.lit("N")).alias("class_to"),
        F.coalesce("rev2", F.lit(0)).alias("rev2"),
    )
    return (
        m.groupBy("class_from", "class_to")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.sum("rev2") / 100.0, 2).alias("to_year_revenue"),
        )
        .orderBy("class_from", "class_to")
    )


# ---------------------------------------------------------------------------
# stat_poisson_rate_test — two-sample Poisson rate comparison: did the
# daily order arrival rate change between the first and second half
# of the calendar (split at the midpoint date, exact day counts)?
# Conditional binomial form: given N = n1 + n2 events, under H0
# E[n1] = N * t1/(t1+t2); z = (n1 - N*p0) / sqrt(N*p0*(1-p0)) — every
# input an exact integer, one terminal expression. Scale: one
# calendar rollup to two cells.
# ---------------------------------------------------------------------------

POISSON_RATE_ORACLE = """
WITH span AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0, max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
),
mid AS (
  SELECT d0, d1, d0 + CAST(floor(date_diff('day', d0, d1) / 2) AS INTEGER) AS dm
  FROM span
),
cells AS (
  SELECT CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) <= m.dm THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN CAST(o.o_orderdate AS DATE) > m.dm THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         CAST(date_diff('day', m.d0, m.dm) + 1 AS BIGINT) AS t1,
         CAST(date_diff('day', m.dm, m.d1) AS BIGINT) AS t2
  FROM orders o CROSS JOIN mid m
  GROUP BY t1, t2
)
SELECT n1 AS events_first_half, n2 AS events_second_half,
       t1 AS days_first_half, t2 AS days_second_half,
       round(CAST(n1 AS DOUBLE) / t1, 4) AS rate1,
       round(CAST(n2 AS DOUBLE) / t2, 4) AS rate2,
       round((n1 - (n1 + n2) * (CAST(t1 AS DOUBLE) / (t1 + t2)))
             / sqrt((n1 + n2) * (CAST(t1 AS DOUBLE) / (t1 + t2))
                    * (1 - CAST(t1 AS DOUBLE) / (t1 + t2))), 4) AS z_score
FROM cells
WHERE n1 + n2 > 0
"""


@register("stat_poisson_rate_test", POISSON_RATE_ORACLE)
def stat_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate"])
    d = orders.select(F.to_date("o_orderdate").alias("day"))
    span = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    mid = span.select(
        "d0",
        "d1",
        F.expr("date_add(d0, CAST(floor(datediff(d1, d0) / 2) AS INT))").alias("dm"),
    )
    cells = (
        d.crossJoin(F.broadcast(mid))
        .groupBy(
            (F.datediff("dm", "d0") + 1).cast("long").alias("t1"),
            F.datediff("d1", "dm").cast("long").alias("t2"),
        )
        .agg(
            F.sum(F.when(F.col("day") <= F.col("dm"), 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("day") > F.col("dm"), 1).otherwise(0))
            .cast("long")
            .alias("n2"),
        )
    )
    ntot = F.col("n1") + F.col("n2")
    p0 = F.col("t1").cast("double") / (F.col("t1") + F.col("t2"))
    return cells.where(ntot > 0).select(
        F.col("n1").alias("events_first_half"),
        F.col("n2").alias("events_second_half"),
        F.col("t1").alias("days_first_half"),
        F.col("t2").alias("days_second_half"),
        F.round(F.col("n1").cast("double") / F.col("t1"), 4).alias("rate1"),
        F.round(F.col("n2").cast("double") / F.col("t2"), 4).alias("rate2"),
        F.round((F.col("n1") - ntot * p0) / F.sqrt(ntot * p0 * (1 - p0)), 4).alias(
            "z_score"
        ),
    )


# ---------------------------------------------------------------------------
# finance_sma_crossover — golden/death-cross census on the daily
# revenue series: days where the 5-day SMA crosses the 20-day SMA,
# detected with EXACT integer cross-multiplication (4*S5 vs S20 — no
# float SMA anywhere; 5*20 = 100x common scale cancels to 4x), full
# windows only. Reports each crossover day, direction, and both SMAs.
# Scale: two rolling BIGINT window sums on the calendar-bounded daily
# relation (the Bollinger stance).
# ---------------------------------------------------------------------------

SMA_CROSS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS d
  FROM orders GROUP BY day
),
w AS (
  SELECT day, d,
         CAST(count(*) OVER w20 AS BIGINT) AS n20,
         CAST(sum(d) OVER w5 AS BIGINT) AS s5,
         CAST(sum(d) OVER w20 AS BIGINT) AS s20
  FROM daily
  WINDOW w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w20 AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
sig AS (
  SELECT day, d, s5, s20,
         CASE WHEN 4 * s5 > s20 THEN 1 ELSE 0 END AS above,
         lag(CASE WHEN 4 * s5 > s20 THEN 1 ELSE 0 END)
             OVER (ORDER BY day) AS prev_above,
         lag(n20) OVER (ORDER BY day) AS prev_n20, n20
  FROM w
)
SELECT day, CAST(d AS BIGINT) AS revenue,
       round(CAST(s5 AS DOUBLE) / 5, 2) AS sma5,
       round(CAST(s20 AS DOUBLE) / 20, 2) AS sma20,
       CASE WHEN above = 1 THEN 'golden' ELSE 'death' END AS cross_type
FROM sig
WHERE n20 = 20 AND prev_n20 = 20 AND prev_above IS NOT NULL
  AND above <> prev_above
ORDER BY day
"""


@register("finance_sma_crossover", SMA_CROSS_ORACLE)
def finance_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        ).alias("d")
    )
    w5 = Window.orderBy("day").rowsBetween(-4, Window.currentRow)
    w20 = Window.orderBy("day").rowsBetween(-19, Window.currentRow)
    w = daily.select(
        "day",
        "d",
        F.count("*").over(w20).cast("long").alias("n20"),
        F.sum("d").over(w5).cast("long").alias("s5"),
        F.sum("d").over(w20).cast("long").alias("s20"),
    )
    above = F.when(4 * F.col("s5") > F.col("s20"), 1).otherwise(0)
    wd = Window.orderBy("day")
    sig = w.select(
        "day",
        "d",
        "s5",
        "s20",
        "n20",
        above.alias("above"),
        F.lag(above).over(wd).alias("prev_above"),
        F.lag("n20").over(wd).alias("prev_n20"),
    )
    return (
        sig.where(
            (F.col("n20") == 20)
            & (F.col("prev_n20") == 20)
            & F.col("prev_above").isNotNull()
            & (F.col("above") != F.col("prev_above"))
        )
        .select(
            "day",
            F.col("d").cast("long").alias("revenue"),
            F.round(F.col("s5").cast("double") / 5, 2).alias("sma5"),
            F.round(F.col("s20").cast("double") / 20, 2).alias("sma20"),
            F.when(F.col("above") == 1, "golden").otherwise("death").alias("cross_type"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# part_cross_elasticity — cross-price elasticity between every
# ordered pair of the top-5 revenue brands: slope of ln(quantity of
# brand A) on ln(avg unit price of brand B) across months — "does B's
# price move A's volume" (substitutes > 0, complements < 0). Monthly
# ln coordinates are quantized to BIGINT micro-units per cell (the
# own-elasticity pattern, affine-shifted for headroom); each pair's
# OLS slope folds over ~80 exact integer points. Scale: one fact
# rollup to (brand, month); the pair grid is 5x4 on broadcast cells.
# ---------------------------------------------------------------------------

CROSS_ELASTICITY_ORACLE = """
WITH bm AS (
  SELECT p.p_brand AS brand,
         year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS m,
         CAST(round(1e6 * ln(sum(l.l_quantity))) AS BIGINT) - 2500000 AS lq,
         CAST(round(1e6 * ln(sum(l.l_extendedprice) / sum(l.l_quantity)))
              AS BIGINT) - 7000000 AS lp
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, m
),
top5 AS (
  SELECT p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand
  ORDER BY CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           DESC, brand
  LIMIT 5
),
pts AS (
  SELECT a.brand AS brand_q, b.brand AS brand_p, a.lq AS y, b.lp AS x
  FROM bm a
  JOIN bm b ON b.m = a.m AND b.brand <> a.brand
  JOIN top5 ta ON ta.brand = a.brand
  JOIN top5 tb ON tb.brand = b.brand
),
mo AS (
  SELECT brand_q, brand_p, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY brand_q, brand_p
)
SELECT brand_q, brand_p, n AS n_months,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 4)
           AS cross_elasticity
FROM mo
WHERE n >= 12 AND n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
ORDER BY brand_q, brand_p
"""


@register("part_cross_elasticity", CROSS_ELASTICITY_ORACLE)
def part_cross_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    )
    part = load_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bm = j.groupBy(
        F.col("p_brand").alias("brand"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m"),
    ).agg(
        (F.round(F.lit(1e6) * F.log(F.sum("l_quantity"))).cast("long") - 2500000).alias(
            "lq"
        ),
        (
            F.round(
                F.lit(1e6) * F.log(F.sum("l_extendedprice") / F.sum("l_quantity"))
            ).cast("long")
            - 7000000
        ).alias("lp"),
    )
    top5 = (
        j.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
        .orderBy(F.col("rev").desc(), "brand")
        .limit(5)
        .select("brand")
    )
    a = bm.join(F.broadcast(top5), "brand").select(
        F.col("brand").alias("brand_q"), "m", F.col("lq").alias("y")
    )
    b = bm.join(F.broadcast(top5), "brand").select(
        F.col("brand").alias("brand_p"), F.col("m").alias("mb"), F.col("lp").alias("x")
    )
    pts = a.join(
        b, (F.col("mb") == F.col("m")) & (F.col("brand_p") != F.col("brand_q"))
    )
    mo = pts.groupBy("brand_q", "brand_p").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    return (
        mo.where((F.col("n") >= 12) & (varx > 0))
        .select(
            "brand_q",
            "brand_p",
            F.col("n").alias("n_months"),
            F.round(
                (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / varx, 4
            ).alias("cross_elasticity"),
        )
        .orderBy("brand_q", "brand_p")
    )


# ---------------------------------------------------------------------------
# trade_nation_flow_matrix — the supplier-nation x customer-nation
# revenue flow matrix (every q7 pair, not just the filtered two) with
# exact integer cents and each cell's share of world trade — the
# full bilateral trade table the TPC-H q7 query samples. Scale: the
# classic star join (orders-lineitem fact, broadcast dims), one
# (nation, nation) rollup — 25x25 output cells.
# ---------------------------------------------------------------------------

NATION_FLOW_ORACLE = """
WITH flow AS (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  GROUP BY supp_nation, cust_nation
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS world FROM flow)
SELECT f.supp_nation, f.cust_nation, f.n_lines,
       round(f.cents / 100.0, 2) AS revenue,
       round(CAST(f.cents AS DOUBLE) / t.world, 6) AS world_share
FROM flow f CROSS JOIN tot t
ORDER BY f.supp_nation, f.cust_nation
"""


@register("trade_nation_flow_matrix", NATION_FLOW_ORACLE)
def trade_nation_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    supp = load_table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    nation = load_table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    flow = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cents"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
    tot = flow.agg(F.sum("cents").cast("long").alias("world"))
    return (
        flow.crossJoin(F.broadcast(tot))
        .select(
            "supp_nation",
            "cust_nation",
            "n_lines",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("cents").cast("double") / F.col("world"), 6).alias(
                "world_share"
            ),
        )
        .orderBy("supp_nation", "cust_nation")
    )
