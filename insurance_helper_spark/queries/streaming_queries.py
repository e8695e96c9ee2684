"""Streaming-operator queries over the ``events`` fixture.

The driver's oracle is batch DuckDB SQL, so these register the
batch-equivalent computations (Spark's window/session_window functions
produce identical results in batch mode). The Structured Streaming
operators that the interval-join and enrichment queries call — the
watermarked stream–stream interval join and the stream–static
enrichment join — live in ``insurance_helper_spark/streaming/ops.py``
and are exercised as real streams by tests/test_streaming.py over a
file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Tumbling window: 6-hour buckets of event counts + value sums.
# Scale: windowed agg = one shuffle on (window, event_type) with map-side
# partials; in streaming mode the same expression runs incrementally
# with a watermark.
# ---------------------------------------------------------------------------

TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@register("stream_tumbling_window", TUMBLING_ORACLE)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sliding window: 12-hour windows sliding every 6 hours — each event
# belongs to exactly 2 windows; the oracle unions the two bucket offsets.
# ---------------------------------------------------------------------------

SLIDING_ORACLE = """
WITH starts AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '6 hours', ts) - INTERVAL '6 hours', value FROM events
)
SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM starts
GROUP BY window_start
ORDER BY window_start
"""


@register("stream_sliding_window", SLIDING_ORACLE)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["ts", "value"])
    return (
        ev.groupBy(F.window("ts", "12 hours", "6 hours").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Session windows per user (gap 2 hours). Spark's session_window end =
# last event + gap; the oracle reproduces that with lag-based gap
# detection and a running session counter.
# ---------------------------------------------------------------------------

SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '2 hours'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '2 hours' AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@register("stream_session_windows", SESSION_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    return (
        ev.groupBy(F.session_window("ts", "2 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Stateful dedup (dropDuplicates on event_id): batch equivalent of
# streaming dropDuplicatesWithinWatermark.
# ---------------------------------------------------------------------------

DEDUP_STREAM_ORACLE = """
WITH doubled AS (
  SELECT event_id, event_type FROM events
  UNION ALL
  SELECT event_id, event_type FROM events WHERE event_id % 10 = 0
)
SELECT event_type, count(*) AS n_after_dedup
FROM (SELECT DISTINCT event_id, event_type FROM doubled)
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_dedup_events", DEDUP_STREAM_ORACLE)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injects 10% duplicate events then dedups on event_id — the batch
    shape of streaming dropDuplicatesWithinWatermark (SURVEY §2B)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "event_type"])
    doubled = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_after_dedup"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Batch twins of the stream–stream interval join and the stream–static
# enrichment join (streaming/ops.py::interval_join / enrich_with_dim).
# Both call the REAL operator: withWatermark is a no-op on batch inputs
# (Catalyst's EliminateEventTimeWatermark), so the identical plan shape
# — per-key equi-join with a range predicate / broadcast left join —
# runs in batch and is oracle-checkable as ANSI SQL.
# ---------------------------------------------------------------------------

INTERVAL_JOIN_ORACLE = """
SELECT l.user_id AS user_id,
       l.event_id AS view_id,
       r.event_id AS click_id,
       l.ts AS view_ts,
       r.ts AS click_ts
FROM events l
JOIN events r
  ON l.user_id = r.user_id
 AND r.ts > l.ts
 AND r.ts <= l.ts + INTERVAL '30 minutes'
WHERE l.event_type = 'view' AND r.event_type = 'click'
ORDER BY user_id, view_id, click_id
"""


@register("stream_interval_join", INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click correlation within 30 minutes per user — the
    impression→click shape. Scale: the join key is (user_id), the range
    predicate prunes within the key's bucket; in streaming mode the same
    operator bounds state with two watermarks (streaming/ops.py::interval_join)."""
    from insurance_helper_spark.streaming.ops import interval_join

    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts", "event_type"])
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    joined = interval_join(
        views, clicks, key="user_id", left_ts="view_ts", right_ts="click_ts",
        watermark="1 hour", max_delay="30 minutes",
    )
    return joined.select(
        F.col("l.user_id").alias("user_id"), "view_id", "click_id", "view_ts", "click_ts"
    ).orderBy("user_id", "view_id", "click_id")


ENRICH_DIM_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_name, c.c_mktsegment
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
ORDER BY e.event_id
"""


@register("stream_enrich_dim", ENRICH_DIM_ORACLE)
def stream_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment: every event joined to its customer dim
    row via the broadcast left join (streaming/ops.py::enrich_with_dim). Left join
    keeps events whose dim row is missing (user 0 has no customer) —
    late dim loads must not drop facts."""
    from insurance_helper_spark.streaming.ops import enrich_with_dim

    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "event_type"])
    dim = load_table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_name", "c_mktsegment"]
    ).withColumnRenamed("c_custkey", "user_id")
    return (
        enrich_with_dim(ev, dim, on="user_id")
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
        .orderBy("event_id")
    )


USER_STATE_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       min(ts) AS first_seen,
       max(ts) AS last_seen
FROM events
WHERE user_id <= 50
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_user_state", USER_STATE_ORACLE)
def stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running session state over the event stream (count/sum/last-seen), the full-history summary a stateful per-user accumulator emits once every user has gone idle."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"]).filter(
        F.col("user_id") <= 50
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Batch twin of the LEFT OUTER stream–stream interval join
# (interval_join(how='leftOuter')): unmatched views carry NULL click
# columns — in streaming that emission waits for watermark passage, in
# batch it is the plain left-join semantics, so the SAME operator call
# is oracle-checkable here.
# ---------------------------------------------------------------------------

INTERVAL_LEFT_ORACLE = """
SELECT l.user_id AS user_id,
       l.event_id AS view_id,
       r.event_id AS click_id,
       l.ts AS view_ts,
       r.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'view') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts > l.ts
 AND r.ts <= l.ts + INTERVAL '30 minutes'
ORDER BY user_id, view_id, click_id
"""


@register("stream_interval_join_left", INTERVAL_LEFT_ORACLE)
def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution variant: every view appears, matched or not (NULL
    click columns when no click lands inside the window). Same
    watermark-bounded operator as stream_interval_join with
    how='leftOuter' (streaming/ops.py::interval_join)."""
    from insurance_helper_spark.streaming.ops import interval_join

    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts", "event_type"])
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = interval_join(
        views, clicks.withColumnRenamed("r_user_id", "user_id"),
        key="user_id", left_ts="view_ts", right_ts="click_ts",
        watermark="1 hour", max_delay="30 minutes", how="leftOuter",
    )
    return joined.select(
        F.col("l.user_id").alias("user_id"), "view_id", "click_id", "view_ts", "click_ts"
    ).orderBy("user_id", "view_id", "click_id")
