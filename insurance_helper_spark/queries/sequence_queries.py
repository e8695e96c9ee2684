"""Sequence, interval, graph-iteration, and snapshot-diff operators.

Four §2B-tier shapes the engine had not yet exercised:

- fixed-iteration PageRank over the co-purchase graph — the iterative
  join→aggregate loop (label propagation's weighted cousin; the
  connected-components operator covers the min-label variant);
- interval merging (gaps-and-islands over [start, end] spans, the
  calendar/coverage primitive);
- snapshot diff — CDC-style compare of two table versions into
  added / removed / changed rows (the reference's upsert inverse:
  storage/state.py:142-156 applies deltas, this derives them);
- last-touch attribution — each conversion event joined to the latest
  preceding touch event within a window (the marketing/causal shape).

All exact arithmetic (integer counts, date arithmetic, rank-normalized
PageRank rounded after ×N scaling), so every query is oracle-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# graph_pagerank_copurchase — 3 unrolled PageRank iterations over the
# part co-purchase graph (edge: two parts share an order). Scale: the
# edge list is the basket pair blowup (bounded per order); each
# iteration is ONE shuffle join (ranks ⋈ edges on src) + ONE shuffle
# aggregate (sum contributions on dst) — the canonical distributed
# PageRank plan; degree and edges are computed once and checkpointed.
# The symmetric graph has no dangling nodes by construction. Ranks are
# reported ×N (mean-normalized to 1) so 6-decimal rounding keeps real
# precision at any graph size.
# ---------------------------------------------------------------------------

_PR_D = 0.85

# ---------------------------------------------------------------------------
# Shared co-purchase edge build. Six of the nine graph-family queries
# consume the support->=2 strong-tie relation and three consume the
# plain distinct relation; before r10 every query rebuilt its own copy
# (the lineitem scan + basket self-join is ~60-70% of each query's
# warm cost — VERDICT r9 "Next round" #4). The builder memoizes the
# eagerly-checkpointed relation per (applicationId, sf_dir, support):
# within one session/bench run the basket self-join executes ONCE per
# variant and every later graph query starts from the cached blocks.
# Keyed by applicationId so a stopped-and-restarted session can never
# see stale checkpoint blocks; the cache holds a handful of small edge
# relations (|E| rows, two BIGINT columns), bounded by the number of
# distinct (sf_dir, support) pairs touched in-session.
# ---------------------------------------------------------------------------

def _copurchase_edges(spark: SparkSession, sf_dir: str, support: int = 1) -> DataFrame:
    """Co-purchase edge relation (both orientations), deduplicated;
    support>=2 keeps only pairs sharing at least 2 orders (the
    strong-tie pruned graph used by the neighborhood operators).
    Eagerly checkpointed + memoized per (app, sf_dir, support, lineitem
    files) via shared_cache.memo_checkpoint."""
    from insurance_helper_spark.queries.shared_cache import input_files, memo_checkpoint

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
        pairs = a.join(b, "k").filter(F.col("src") != F.col("dst"))
        if support > 1:
            return (
                pairs.groupBy("src", "dst")
                .agg(F.count("*").cast("long").alias("sup"))
                .where(F.col("sup") >= support)
                .select("src", "dst")
            )
        return pairs.select("src", "dst").distinct()

    return memo_checkpoint(
        spark, ("copurchase_edges", sf_dir, support, input_files(sf_dir, "lineitem")), build
    )

PAGERANK_ORACLE = f"""
WITH order_parts AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM order_parts a JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY src, dst
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) * 1.0 AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
r1 AS (
  SELECT e.dst AS node, (1 - {_PR_D}) / any_value(nn.n) + {_PR_D} * sum(r0.r / deg.d) AS r
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
  CROSS JOIN nn GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node, (1 - {_PR_D}) / any_value(nn.n) + {_PR_D} * sum(r1.r / deg.d) AS r
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
  CROSS JOIN nn GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node, (1 - {_PR_D}) / any_value(nn.n) + {_PR_D} * sum(r2.r / deg.d) AS r
  FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
  CROSS JOIN nn GROUP BY e.dst
)
SELECT r3.node AS part_id,
       round(r3.r * any_value(nn.n), 6) AS rank_norm,
       deg.d AS degree
FROM r3 JOIN deg ON r3.node = deg.src CROSS JOIN nn
GROUP BY part_id, r3.r, deg.d
ORDER BY part_id
"""


@register("graph_pagerank_copurchase", PAGERANK_ORACLE)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three PageRank iterations over the co-purchase graph: |E|-row contribution shuffles on the shared memoized edge relation."""
    edges = _copurchase_edges(spark, sf_dir, support=1)
    # r14: eager — deg feeds the init ranks, the weight join and the
    # final report; the lazy variant still cloned the edge-scan
    # aggregate into each broadcast subtree before first
    # materialization. nodes/nn derive from it (groupBy src IS the
    # distinct-src relation), dropping the separate distinct over
    # edges (guide §2.4).
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint(eager=True)
    # r15: the node count folds into LITERALS (one count job over the
    # checkpointed deg blocks) — the former nn aggregate+crossJoin
    # subtree was re-planned once per broadcast reference (5×). Same
    # IEEE binary64 ops on the same values, bit-identical ranks.
    n_nodes = float(deg.count())
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("r"))
    # Pre-divide the out-degree into an edge weight ONCE — otherwise
    # the edges⋈deg join re-executes inside every iteration's lineage
    # (measured ~5.2 s → ~3.4 s warm at sf0.1 for 3 iterations).
    # r15 (VERDICT r14 item 9, guide §2.1): the weighted edge relation
    # is checkpointed PRE-PARTITIONED BY src (functions/partitioned —
    # AQE-wrapped checkpoints capture UnknownPartitioning), so each
    # iteration's rank join reuses it and only the |V|-row rank side is
    # exchanged; the before-plan re-shuffled the full |E| relation once
    # per iteration (Exchanges 3/7/11).
    from insurance_helper_spark.functions.partitioned import partitioned_checkpoint

    n_shuffle = int(
        spark.conf.get("spark.sql.shuffle.partitions", None)
        or spark.sparkContext.defaultParallelism
    )
    contrib = partitioned_checkpoint(
        edges.join(deg, "src").select("src", "dst", (1.0 / F.col("d")).alias("w")),
        n_shuffle,
        "src",
    )
    for _ in range(3):
        ranks = (
            contrib.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("w")).alias("mass"))
            .select(
                "node",
                (F.lit((1 - _PR_D) / n_nodes) + F.lit(_PR_D) * F.col("mass")).alias("r"),
            )
        )
    return (
        ranks.join(deg.withColumnRenamed("src", "node"), "node")
        .select(
            F.col("node").alias("part_id"),
            F.round(F.col("r") * F.lit(n_nodes), 6).alias("rank_norm"),
            F.col("d").alias("degree"),
        )
        .orderBy("part_id")
    )


# ---------------------------------------------------------------------------
# supplier_interval_merge — merge overlapping shipment-coverage spans
# [shipdate, shipdate+1d] per supplier into islands (the interval-
# union primitive: SLA coverage, sensor uptime, lease periods). Scale:
# one shuffle on the supplier key; the island assignment is the
# classic running-max prefix scan inside each partition (O(1) state
# per row), and the two-level re-aggregation stays on the same key —
# no further shuffles.
# ---------------------------------------------------------------------------

INTERVAL_MERGE_ORACLE = """
WITH iv AS (
  SELECT DISTINCT l_suppkey AS suppkey,
         CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + INTERVAL 1 DAY AS e
  FROM lineitem
),
flagged AS (
  SELECT suppkey, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY suppkey ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT suppkey, s, e,
         sum(new_island) OVER (PARTITION BY suppkey ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island_id
  FROM flagged
),
per_island AS (
  SELECT suppkey, island_id,
         date_diff('day', min(s), max(e)) AS covered
  FROM islands GROUP BY suppkey, island_id
)
SELECT suppkey,
       CAST((SELECT count(*) FROM iv i WHERE i.suppkey = per_island.suppkey) AS BIGINT)
           AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(covered) AS BIGINT) AS covered_days
FROM per_island
GROUP BY suppkey
ORDER BY suppkey
"""


@register("supplier_interval_merge", INTERVAL_MERGE_ORACLE)
def supplier_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", columns=["l_suppkey", "l_shipdate"])
    iv = li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(F.col("l_shipdate").cast("date"), 1).alias("e"),
    ).distinct()
    w_prev = (
        Window.partitionBy("suppkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("suppkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    ).withColumn("island_id", F.sum("new_island").over(w_run))
    per_island = islands.groupBy("suppkey", "island_id").agg(
        F.datediff(F.max("e"), F.min("s")).alias("covered"),
        F.count("*").alias("n_iv"),
    )
    return (
        per_island.groupBy("suppkey")
        .agg(
            F.sum("n_iv").cast("long").alias("n_intervals"),
            F.count("*").cast("long").alias("n_islands"),
            F.sum("covered").cast("long").alias("covered_days"),
        )
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# orders_snapshot_diff — CDC derivation: diff two snapshot versions of
# the orders table into added / removed / changed rows (with old/new
# values). The snapshots are deterministic fixture derivations (drop
# every 89th key from "old", every 97th from "new", bump price on
# every 13th) so the diff is value-checkable. Scale: ONE full outer
# join on the key — both sides shuffle once; at 100 TB the same plan
# runs bucketed-by-key to skip the shuffle entirely (sources/bucketed).
# ---------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
WITH old_snap AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 89 <> 0
),
new_snap AS (
  SELECT o_orderkey,
         round(CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END, 2) AS price
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       o.price AS old_price,
       n.price AS new_price
FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.price <> n.price
ORDER BY o_orderkey
"""


@register("orders_snapshot_diff", SNAPSHOT_DIFF_ORACLE)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"])
    old_snap = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("old_price")
    )
    new_snap = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.round(
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 10
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("new_price"),
    )
    j = old_snap.alias("o").join(
        new_snap.alias("n"), on="o_orderkey", how="full_outer"
    )
    change = (
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        j.withColumn("change_type", change)
        .filter(
            F.col("old_price").isNull()
            | F.col("new_price").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select("o_orderkey", "change_type", "old_price", "new_price")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# events_attribution_last_touch — for every purchase, the latest
# click/view by the same user in the preceding 7 days (last-touch
# attribution). Scale: the join is per-user (one shuffle on user_id,
# the natural event partitioning); the per-purchase argmax is a window
# over each purchase's candidate touches — never a global sort. The
# 7-day predicate bounds the per-user pair blowup the same way a
# stream-stream interval join's watermark does (this is its batch
# twin from the opposite direction).
# ---------------------------------------------------------------------------

LAST_TOUCH_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id, user_id, ts, event_type
  FROM events WHERE event_type IN ('click', 'view')
),
joined AS (
  SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
         t.event_id AS touch_id, t.event_type AS touch_type, t.ts AS touch_ts,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY t.ts DESC NULLS LAST, t.event_id DESC NULLS LAST) AS rn
  FROM p LEFT JOIN t
    ON p.user_id = t.user_id
   AND t.ts <= p.ts
   AND t.ts > p.ts - INTERVAL 7 DAY
)
SELECT purchase_id, user_id, touch_id, touch_type,
       CAST(date_diff('second', touch_ts, purchase_ts) AS BIGINT) AS secs_before
FROM joined WHERE rn = 1
ORDER BY purchase_id
"""


@register("events_attribution_last_touch", LAST_TOUCH_ORACLE)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "event_type"]
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    t = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("touch_ts") > F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc_nulls_last("touch_ts"), F.desc_nulls_last("touch_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "touch_id",
            "touch_type",
            (
                (F.unix_timestamp("purchase_ts") - F.unix_timestamp("touch_ts"))
            ).cast("long").alias("secs_before"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# spatial_grid_nearest_customer — grid-bucketed nearest-neighbor join:
# customers get deterministic lat/lon (integer Knuth hashing of the
# key — exact on both engines), space is cut into 1°×1° cells, and
# each BUILDING-segment customer searches its 3×3 neighbor cells for
# the nearest AUTOMOBILE-segment customer by haversine distance. The
# geo analog of LSH bucketing: candidates come from a cell equi-join
# (explode 9 offsets on the probe side), never a cross join. Scale:
# cell ids are integers, the join shuffles on them, per-probe argmin
# is a window — the standard distributed spatial-join plan (a quadtree
# refines the same idea; the operator shape is identical).
# ---------------------------------------------------------------------------

SPATIAL_ORACLE = """
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         ((c_custkey * 2654435761) % 1700000) / 10000.0 - 85.0 AS lat,
         ((c_custkey * 40503) % 3600000) / 10000.0 - 180.0 AS lon
  FROM customer
),
probes AS (
  SELECT c_custkey AS probe_id, lat, lon,
         CAST(floor(lat) AS BIGINT) AS cy, CAST(floor(lon) AS BIGINT) AS cx
  FROM pts WHERE c_mktsegment = 'BUILDING'
),
cands AS (
  SELECT c_custkey AS cand_id, lat AS clat, lon AS clon,
         CAST(floor(lat) AS BIGINT) AS cy, CAST(floor(lon) AS BIGINT) AS cx
  FROM pts WHERE c_mktsegment = 'AUTOMOBILE'
),
probe_cells AS (
  SELECT p.probe_id, p.lat, p.lon, p.cy + dy.d AS cy, p.cx + dx.d AS cx
  FROM probes p
  CROSS JOIN (VALUES (-1), (0), (1)) dy(d)
  CROSS JOIN (VALUES (-1), (0), (1)) dx(d)
),
scored AS (
  SELECT pc.probe_id, c.cand_id,
         round(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(c.clat - pc.lat) / 2), 2)
           + cos(radians(pc.lat)) * cos(radians(c.clat))
             * pow(sin(radians(c.clon - pc.lon) / 2), 2))), 2) AS dist_km
  FROM probe_cells pc JOIN cands c ON pc.cy = c.cy AND pc.cx = c.cx
),
best AS (
  SELECT probe_id, cand_id, dist_km,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY dist_km, cand_id) AS rn
  FROM scored
)
SELECT probe_id, cand_id AS nearest_id, dist_km
FROM best WHERE rn = 1
ORDER BY probe_id
"""


@register("spatial_grid_nearest_customer", SPATIAL_ORACLE)
def spatial_grid_nearest_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    lat = ((F.col("c_custkey") * 2654435761) % 1700000) / 10000.0 - 85.0
    lon = ((F.col("c_custkey") * 40503) % 3600000) / 10000.0 - 180.0
    pts = cust.select("c_custkey", "c_mktsegment", lat.alias("lat"), lon.alias("lon"))
    probes = pts.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("probe_id"),
        "lat",
        "lon",
        F.floor("lat").alias("py"),
        F.floor("lon").alias("px"),
    )
    cands = pts.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("cand_id"),
        F.col("lat").alias("clat"),
        F.col("lon").alias("clon"),
        F.floor("clat").alias("cy"),
        F.floor("clon").alias("cx"),
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    ).alias("o")
    probe_cells = probes.select("probe_id", "lat", "lon", "py", "px", offsets).select(
        "probe_id",
        "lat",
        "lon",
        (F.col("py") + F.col("o.dy")).alias("cy"),
        (F.col("px") + F.col("o.dx")).alias("cx"),
    )
    dlat = F.radians(F.col("clat") - F.col("lat")) / 2
    dlon = F.radians(F.col("clon") - F.col("lon")) / 2
    hav = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians("lat")) * F.cos(F.radians("clat")) * F.pow(F.sin(dlon), 2)
    )
    dist = F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 2)
    scored = probe_cells.join(cands, ["cy", "cx"]).select(
        "probe_id", "cand_id", dist.alias("dist_km")
    )
    w = Window.partitionBy("probe_id").orderBy("dist_km", "cand_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", F.col("cand_id").alias("nearest_id"), "dist_km")
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# hierarchy_flatten_bfs — flatten a parent-pointer hierarchy to
# (node, root, depth) without recursive SQL: Spark lacks WITH
# RECURSIVE, so the BFS is a fixed-point loop of self-joins (the
# pagerank pattern applied to reachability; DuckDB's oracle IS the
# recursive CTE, making this the one query pair where the two engines
# use structurally different algorithms for identical semantics).
# The synthetic forest over part keys (parent = k div 7, roots 1..6)
# has depth ≤ ⌈log₇ max_key⌉, so the unrolled loop bound is data-
# independent and tiny; each iteration is one broadcast-ready
# equi-join (frontier ⋈ parent-edges). 100 TB stance: iterate
# frontier-only (rows whose root is still unresolved), checkpoint
# every few hops to cut lineage — both already the shape below.
# ---------------------------------------------------------------------------

HIERARCHY_ORACLE = """
WITH RECURSIVE nodes AS (
  SELECT DISTINCT p_partkey AS node FROM part WHERE p_partkey >= 1
),
walk AS (
  SELECT node, node AS cur, 0 AS depth FROM nodes
  UNION ALL
  SELECT node, cur // 7 AS cur, depth + 1
  FROM walk WHERE cur >= 7
)
SELECT node, CAST(cur AS BIGINT) AS root_id, CAST(max(depth) AS INT) AS depth
FROM walk
WHERE cur < 7
GROUP BY node, cur
ORDER BY node
"""


@register("hierarchy_flatten_bfs", HIERARCHY_ORACLE)
def hierarchy_flatten_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    part = load_table(spark, sf_dir, "part", columns=["p_partkey"])
    nodes = part.filter(F.col("p_partkey") >= 1).select(
        F.col("p_partkey").alias("node")
    ).distinct()
    # Data-independent loop bound from the max key (one tiny agg).
    (max_key,) = nodes.agg(F.max("node")).first()
    hops = max(1, math.ceil(math.log(max(int(max_key), 7), 7)))
    walk = nodes.select("node", F.col("node").alias("cur"), F.lit(0).alias("depth"))
    for _ in range(hops):
        walk = walk.select(
            "node",
            F.when(F.col("cur") >= 7, (F.col("cur") / 7).cast("long")).otherwise(
                F.col("cur")
            ).alias("cur"),
            F.when(F.col("cur") >= 7, F.col("depth") + 1).otherwise(
                F.col("depth")
            ).alias("depth"),
        )
    return nodes.join(walk, "node").select(
        "node",
        F.col("cur").cast("long").alias("root_id"),
        F.col("depth").cast("int").alias("depth"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# events_attribution_linear — linear multi-touch attribution: each
# purchase's value splits EVENLY across every click/view by the same
# user in the preceding 7 days, then credit rolls up per touch type.
# Same bounded per-user join as the last-touch query; the split is a
# count() window over each purchase's touches (no second join), and
# the rollup is a tiny re-aggregation. Credit conservation (Σcredit =
# Σattributed purchase value) is the built-in audit: exact by
# construction since value/n_touches is summed exactly n_touches
# times — pinned by the oracle's totals row.
# ---------------------------------------------------------------------------

LINEAR_ATTR_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id, user_id, ts, event_type
  FROM events WHERE event_type IN ('click', 'view')
),
joined AS (
  SELECT p.event_id AS purchase_id, p.value, t.event_type AS touch_type,
         count(*) OVER (PARTITION BY p.event_id) AS n_touches
  FROM p JOIN t
    ON p.user_id = t.user_id
   AND t.ts <= p.ts
   AND t.ts > p.ts - INTERVAL 7 DAY
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_credited_touches,
       CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases_touched,
       round(sum(value / n_touches), 4) AS total_credit
FROM joined
GROUP BY touch_type
ORDER BY touch_type
"""


@register("events_attribution_linear", LINEAR_ATTR_ORACLE)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    t = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("touch_ts") > F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("purchase_id")
    credited = joined.withColumn("n_touches", F.count("*").over(w))
    return (
        credited.groupBy("touch_type")
        .agg(
            F.count("*").alias("n_credited_touches"),
            F.count_distinct("purchase_id").alias("n_purchases_touched"),
            F.round(F.sum(F.col("value") / F.col("n_touches")), 4).alias("total_credit"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# events_ewma_daily — exponentially-weighted moving average of daily
# event value per type, as an explicit truncated lag-polynomial:
# s_t = α·Σ_{j=0..9} (1-α)^j · x_{t-j} (normalized by the weight mass
# actually present, so series heads and gaps stay unbiased). The
# recursive EWMA is inherently sequential; the 10-term truncation
# ((1-α)^10 < 3% of mass at α=0.3) turns it into a fixed window of
# lag() columns — pure window functions, one shuffle on the type key,
# and EXACTLY the same arithmetic on both engines (no running-state
# nondeterminism). Scale: identical to any lag-window query.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_TERMS = 10

_ewma_sql_terms = " + ".join(
    f"coalesce(power({1 - _EWMA_ALPHA}, {j}) * lag(day_value, {j}) OVER w, 0)"
    for j in range(_EWMA_TERMS)
)
_ewma_sql_mass = " + ".join(
    f"CASE WHEN lag(day_value, {j}) OVER w IS NULL THEN 0 "
    f"ELSE power({1 - _EWMA_ALPHA}, {j}) END"
    for j in range(_EWMA_TERMS)
)

EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(sum(value), 4) AS day_value
  FROM events GROUP BY event_type, day
)
SELECT event_type, day, day_value,
       round(({_ewma_sql_terms}) / ({_ewma_sql_mass}), 4) AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
"""


@register("events_ewma_daily", EWMA_ORACLE)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of the per-type daily event-value series as a lag-window fold with quantized weights."""
    events = load_table(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    w = Window.partitionBy("event_type").orderBy("day")
    decay = 1 - _EWMA_ALPHA
    num = None
    mass = None
    for j in range(_EWMA_TERMS):
        lagged = F.lag("day_value", j).over(w)
        term = F.coalesce(F.lit(decay**j) * lagged, F.lit(0.0))
        weight = F.when(lagged.isNull(), 0.0).otherwise(float(decay**j))
        num = term if num is None else num + term
        mass = weight if mass is None else mass + weight
    return daily.select(
        "event_type", "day", "day_value", F.round(num / mass, 4).alias("ewma")
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# events_sequence_trigrams — sequential pattern mining, contiguous
# 3-event shape: the most common event-type trigrams across user
# timelines (extends the Markov query's 2-state transitions to
# order-3 patterns). One shuffle to order each user's timeline
# (lead() window over the user partition — the same sort every
# sessionization query pays), then a plain pattern groupBy. Support =
# share of all trigram instances. Scale: per-user window state is
# O(1); the pattern space is |types|³ — tiny.
# ---------------------------------------------------------------------------

TRIGRAM_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
  SELECT event_type AS e1, e2, e3 FROM ordered
  WHERE e2 IS NOT NULL AND e3 IS NOT NULL
),
tot AS (SELECT count(*) AS n FROM tri)
SELECT t.e1, t.e2, t.e3,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       round(count(*) * 1.0 / any_value(tot.n), 6) AS support
FROM tri t CROSS JOIN tot
GROUP BY t.e1, t.e2, t.e3
HAVING count(*) >= 5
ORDER BY n_occurrences DESC, e1, e2, e3
"""


@register("events_sequence_trigrams", TRIGRAM_ORACLE)
def events_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    tot = ordered.agg(F.count("*").alias("n"))
    return (
        ordered.crossJoin(F.broadcast(tot))
        .groupBy("e1", "e2", "e3")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.round(F.count("*") / F.any_value("n"), 6).alias("support"),
        )
        .filter(F.col("n_occurrences") >= 5)
        .orderBy(F.desc("n_occurrences"), "e1", "e2", "e3")
    )


# ---------------------------------------------------------------------------
# events_attribution_time_decay — exponential time-decay multi-touch
# attribution (half-life 3 days), completing the family: last-touch
# (winner-take-all) → linear (equal split) → time-decay (recency-
# weighted split). Each touch inside the 7-day window gets
# w = 0.5^(Δsecs / 3d), normalized per purchase; the per-purchase
# scorecard folds credit by touch type. Scale: identical join shape to
# the siblings — the purchase×touch interval join shuffles on user_id,
# the normalization is one window over each purchase's own touches.
# ---------------------------------------------------------------------------

TIME_DECAY_ORACLE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id AS touch_id, user_id AS t_user, ts AS touch_ts,
         event_type AS touch_type
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.purchase_id, p.user_id, t.touch_id, t.touch_type,
         CAST(date_diff('second', t.touch_ts, p.purchase_ts) AS BIGINT) AS secs_before
  FROM p JOIN t ON p.user_id = t.t_user
   AND t.touch_ts <= p.purchase_ts
   AND t.touch_ts > p.purchase_ts - INTERVAL 7 DAY
),
wts AS (
  SELECT purchase_id, user_id, touch_id, touch_type,
         pow(0.5, secs_before / 259200.0) AS w,
         sum(pow(0.5, secs_before / 259200.0))
             OVER (PARTITION BY purchase_id) AS wsum
  FROM j
)
SELECT purchase_id, user_id,
       CAST(count(*) AS BIGINT) AS n_touches,
       round(sum(CASE WHEN touch_type = 'click' THEN w / wsum ELSE 0 END), 4)
           AS click_credit,
       round(sum(CASE WHEN touch_type = 'view' THEN w / wsum ELSE 0 END), 4)
           AS view_credit
FROM wts
GROUP BY purchase_id, user_id
ORDER BY purchase_id
"""


@register("events_attribution_time_decay", TIME_DECAY_ORACLE)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "event_type"]
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    t = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    j = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("touch_ts") > F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")),
    ).select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("touch_ts"))
        .cast("long")
        .alias("secs_before"),
    )
    w = F.pow(0.5, F.col("secs_before") / 259200.0)
    wp = Window.partitionBy("purchase_id")
    wts = j.withColumn("w", w).withColumn("wsum", F.sum("w").over(wp))
    share = F.col("w") / F.col("wsum")
    return (
        wts.groupBy("purchase_id", "user_id")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(
                F.sum(F.when(F.col("touch_type") == "click", share).otherwise(0.0)), 4
            ).alias("click_credit"),
            F.round(
                F.sum(F.when(F.col("touch_type") == "view", share).otherwise(0.0)), 4
            ).alias("view_credit"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# events_cusum_changepoint — change-point detection per event type via
# CUSUM of daily counts against the series' own mean. All arithmetic
# is EXACT integers: S_t·D = D·cumsum(n) − t·T (D days, T total), so
# the argmax day and the scaled statistic match bit-for-bit across
# engines — no float drift, no rounding policy. The day spine comes
# from the GLOBAL event span so silent zero-days count. Scale: one
# shuffle to (type, day) counts, the spine join broadcasts the tiny
# bounds row, and the scan window is a streaming frame per type.
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, s.day FROM types t CROSS JOIN spine s),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, day
),
series AS (
  SELECT g.event_type, g.day, coalesce(d.n, 0) AS n
  FROM grid g LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day
),
scanned AS (
  SELECT event_type, day, n,
         CAST(sum(n) OVER w AS BIGINT) AS cum_n,
         CAST(row_number() OVER w AS BIGINT) AS t_idx,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stat AS (
  SELECT event_type, day, n_days, total,
         abs(n_days * cum_n - t_idx * total) AS s_scaled,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(n_days * cum_n - t_idx * total) DESC, day)
             AS rn
  FROM scanned
)
SELECT event_type, day AS change_day,
       CAST(s_scaled AS BIGINT) AS cusum_scaled, n_days, total
FROM stat WHERE rn = 1
ORDER BY event_type
"""


@register("events_cusum_changepoint", CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["event_type", "ts"])
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    series = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    scanned = (
        series.withColumn("cum_n", F.sum("n").over(w).cast("long"))
        .withColumn("t_idx", F.row_number().over(Window.partitionBy("event_type").orderBy("day")).cast("long"))
        .withColumn("total", F.sum("n").over(wt).cast("long"))
        .withColumn("n_days", F.count("*").over(wt).cast("long"))
    )
    s_scaled = F.abs(
        F.col("n_days") * F.col("cum_n") - F.col("t_idx") * F.col("total")
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("s_scaled"), "day")
    return (
        scanned.withColumn("s_scaled", s_scaled)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("s_scaled").cast("long").alias("cusum_scaled"),
            "n_days",
            "total",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_acf_lags — sample autocorrelation of the daily event-count
# series at lags 1..7 (the weekly-seasonality diagnostic that decides
# rollup granularity and anomaly-detector windows). Exactness trick:
# instead of centering on the rational mean, every term is scaled by
# n — z = n*cnt - S (S = total count) is an exact BIGINT, and
# acf_k = sum(z_t * z_{t-k}) / sum(z^2) because the n^2 factors
# cancel — so both engines compute identical integers until the one
# rounded division. The lag alignment is a date-equi-join (b.day =
# a.day - k), NOT an unpartitioned window, so nothing ever funnels to
# a single task. Scale: one map-side-combine shuffle to the T-row
# daily series; the lag join and moment aggregation run on broadcast-
# size relations (T = calendar days, independent of event volume).
# ---------------------------------------------------------------------------

ACF_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY day
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s FROM daily
),
z AS (
  SELECT day, n * cnt - s AS z, n, s FROM daily CROSS JOIN tot
),
denom AS (SELECT sum(z * z) AS ss FROM z),
lags AS (SELECT unnest(range(1, 8)) AS lag_k),
num AS (
  SELECT l.lag_k, sum(a.z * b.z) AS num, CAST(count(*) AS BIGINT) AS n_pairs
  FROM z a JOIN lags l ON true
  JOIN z b ON b.day = a.day - l.lag_k * INTERVAL 1 DAY
  GROUP BY l.lag_k
)
SELECT CAST(lag_k AS INT) AS lag_k, n_pairs,
       round(CAST(num AS DOUBLE) / CAST(ss AS DOUBLE), 4) AS acf
FROM num CROSS JOIN denom
ORDER BY lag_k
"""


@register("events_acf_lags", ACF_ORACLE)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("cnt").cast("long").alias("s")
    )
    z = daily.join(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("cnt") - F.col("s")).alias("z")
    )
    denom = z.agg(F.sum(F.col("z") * F.col("z")).alias("ss"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag_k"))
    a = z.select(F.col("day").alias("da"), F.col("z").alias("za"))
    b = z.select(F.col("day").alias("db"), F.col("z").alias("zb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.date_sub(F.col("da"), F.col("lag_k")))
        .groupBy("lag_k")
        .agg(
            F.sum(F.col("za") * F.col("zb")).alias("num"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return (
        num.join(F.broadcast(denom))
        .select(
            "lag_k",
            "n_pairs",
            F.round(F.col("num").cast("double") / F.col("ss").cast("double"), 4)
            .alias("acf"),
        )
        .orderBy("lag_k")
    )


# ---------------------------------------------------------------------------
# events_daily_ohlc — open/high/low/close bars of the event value per
# (event_type, day): the time-bucketed summary where open/close carry
# ORDER semantics (first/last by timestamp, event_id tiebreak), not
# just extrema — the financial-candle shape every monitoring dashboard
# reuses. Open/close via first_value/last_value over the full window
# frame of one keyed sort; high/low/count ride the same frame, so the
# whole bar costs ONE (type, day)-partitioned window — keyed, never
# global — then a distinct. Scale: partitions are (type × day), so
# parallelism grows with the calendar and the per-partition sort is
# one day of one type; values stay exact doubles picked by order (no
# float summation anywhere).
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
WITH bars AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
         first_value(value) OVER w AS open,
         max(value) OVER w AS high,
         min(value) OVER w AS low,
         last_value(value) OVER w AS close,
         CAST(count(*) OVER w AS BIGINT) AS n_events
  FROM events
  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day,
       round(open, 4) AS open, round(high, 4) AS high,
       round(low, 4) AS low, round(close, 4) AS close, n_events
FROM bars
ORDER BY event_type, day
"""


@register("events_daily_ohlc", OHLC_ORACLE)
def events_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", columns=["ts", "event_id", "event_type", "value"]
    )
    day = F.col("ts").cast("date")
    w = (
        Window.partitionBy("event_type", day)
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        events.select(
            "event_type",
            day.alias("day"),
            F.first("value").over(w).alias("open_raw"),
            F.max("value").over(w).alias("high_raw"),
            F.min("value").over(w).alias("low_raw"),
            F.last("value").over(w).alias("close_raw"),
            F.count("*").over(w).cast("long").alias("n_events"),
        )
        .distinct()
        .select(
            "event_type",
            "day",
            F.round("open_raw", 4).alias("open"),
            F.round("high_raw", 4).alias("high"),
            F.round("low_raw", 4).alias("low"),
            F.round("close_raw", 4).alias("close"),
            "n_events",
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# events_capped_running_balance — floor-clamped running balance per
# event type: balance_t = max(0, balance_{t-1} + delta_t) over the
# daily net deltas (value - its type's mean, in exact cents — so
# deltas sum to ~zero and the clamp actually engages). This recurrence
# is NOT window-expressible — the clamp makes each prefix depend on
# the full history nonlinearly — so it is the canonical case for the
# engine's applyInPandas tier: one Arrow batch per type over the
# calendar-bounded daily series, a 3-line sequential scan inside.
# The DuckDB oracle replays the same recurrence with a RECURSIVE CTE,
# so the stateful scan is still value-hashed. Scale: the scan runs on
# the (type, day) ROLLUP (map-side combined), never raw events; state
# is one number; types parallelize across executors — the standard
# inventory/backlog shape (stock cannot go negative).
# ---------------------------------------------------------------------------

CAPPED_BALANCE_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day
),
m AS (
  SELECT event_type,
         CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
  FROM daily GROUP BY event_type
),
d AS (
  SELECT daily.event_type, day, cents - mean_cents AS delta,
         row_number() OVER (PARTITION BY daily.event_type ORDER BY day) AS rn
  FROM daily JOIN m ON daily.event_type = m.event_type
),
walk AS (
  SELECT event_type, day, rn, greatest(0, delta) AS balance
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.day, d.rn,
         greatest(0, w.balance + d.delta) AS balance
  FROM walk w JOIN d ON d.event_type = w.event_type AND d.rn = w.rn + 1
)
SELECT event_type, day, CAST(balance AS BIGINT) AS balance_cents
FROM walk
ORDER BY event_type, day
"""


@register("events_capped_running_balance", CAPPED_BALANCE_ORACLE)
def events_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = load_table(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    m = daily.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("mean_cents")
    )
    d = daily.join(F.broadcast(m), "event_type").select(
        "event_type", "day", (F.col("cents") - F.col("mean_cents")).alias("delta")
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        bal, out = 0, []
        for delta in pdf["delta"]:
            bal = max(0, bal + int(delta))
            out.append(bal)
        pdf["balance_cents"] = pd.Series(out, dtype="int64")
        return pdf[["event_type", "day", "balance_cents"]]

    return (
        d.groupBy("event_type")
        .applyInPandas(scan, "event_type string, day date, balance_cents long")
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# graph_degree_assortativity — degree assortativity of the part
# co-purchase graph: the Pearson correlation of (deg(src), deg(dst))
# over directed edges — positive means hubs co-sell with hubs
# (assortative catalog), negative means hubs bridge the long tail.
# The one-number structure summary that complements PageRank (who is
# central) and triangle count (how clustered). All sums are exact
# BIGINTs (degrees and their products; n_e * sum(xy) stays inside
# int64 through ~sf0.1 — beyond that the same plan runs the moment
# sums in DOUBLE), one rounded division at the end. Scale: edges are
# built once via the same distinct-pair equi-join every graph query
# here shares; degrees are one groupBy; the edge-degree join shuffles
# on src/dst — three map-side-combined shuffles total, no windows.
# ---------------------------------------------------------------------------

ASSORT_ORACLE = """
WITH order_parts AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM order_parts a JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY src, dst
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
xy AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges e JOIN deg ds ON e.src = ds.node JOIN deg dd ON e.dst = dd.node
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy
)
SELECT n AS n_edges,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS assortativity
FROM s
"""


@register("graph_degree_assortativity", ASSORT_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, support=1)
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    ds = deg.select(F.col("src"), F.col("d").alias("x"))
    dd = deg.select(F.col("src").alias("dst"), F.col("d").alias("y"))
    xy = edges.join(ds, "src").join(dd, "dst")
    s = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").alias("n_edges"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 4).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# events_top_paths — top user journey prefixes: each user's first five
# events (by time) concatenated into an ordered path string, counted
# and ranked — the "what do people actually do first" report that
# funnels and Markov matrices both flatten away. ORDER-CORRECT
# AGGREGATION: Spark's groupBy collect_list has no order guarantee, so
# the path is built with collect_list OVER the full frame of an
# ordered window (deterministic), matched by DuckDB's string_agg(...
# ORDER BY) — the one-per-user row then falls out of rn = 1. Scale:
# one user-key window shuffle (the sequence family's standard cost),
# path space capped by the 5-event prefix, top-20 by count with
# lexical tiebreak.
# ---------------------------------------------------------------------------

TOP_PATHS_ORACLE = """
WITH firsts AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         CAST(count(*) AS BIGINT) AS path_len
  FROM firsts WHERE rn <= 5
  GROUP BY user_id
),
counted AS (
  SELECT path, path_len, CAST(count(*) AS BIGINT) AS n_users
  FROM paths GROUP BY path, path_len
)
SELECT path, path_len, n_users,
       CAST(row_number() OVER (ORDER BY n_users DESC, path) AS INT) AS rank
FROM counted
QUALIFY rank <= 20
ORDER BY rank
"""


@register("events_top_paths", TOP_PATHS_ORACLE)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", columns=["user_id", "event_type", "ts", "event_id"]
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = events.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= 5)
    # collect_list over the ordered full frame is deterministic (unlike
    # groupBy collect_list); rn = 1 keeps one assembled row per user.
    wf = wu.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    paths = (
        firsts.select(
            "user_id",
            "rn",
            F.array_join(F.collect_list("event_type").over(wf), ">").alias("path"),
            F.count("*").over(wf).cast("long").alias("path_len"),
        )
        .filter(F.col("rn") == 1)
        .select("path", "path_len")
    )
    counted = paths.groupBy("path", "path_len").agg(
        F.count("*").cast("long").alias("n_users")
    )
    wr = Window.orderBy(F.desc("n_users"), "path")
    return (
        counted.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 20)
        .select("path", "path_len", "n_users", "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# events_engagement_dau_mau — the product-engagement staples: per
# calendar month, MAU (exact distinct users), average DAU across the
# month's active days, and stickiness = avgDAU/MAU — how much of the
# monthly audience shows up on a given day. Exact arithmetic: DAU and
# MAU are integer count_distincts; avg DAU is an integer ratio
# (sum of daily distincts / days), half-up-rounded in integer
# arithmetic before the final division so no float-mean boundary can
# flip. Scale: two distinct-aggregations (day grain, month grain) —
# both map-side partial on (bucket, user); at 100 TB swap exact
# distinct for HLL partials per the documented bounds contract
# (agg_hll_mergeable_daily is the template).
# ---------------------------------------------------------------------------

DAU_MAU_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(ts AS DATE) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY month, day
),
monthly AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY month
)
SELECT m.month, m.mau,
       CAST(count(*) AS BIGINT) AS active_days,
       CAST((2 * sum(d.dau) + count(*)) // (2 * count(*)) AS BIGINT) AS avg_dau,
       round(sum(d.dau) * 1.0 / count(*) / m.mau, 4) AS stickiness
FROM daily d JOIN monthly m ON d.month = m.month
GROUP BY m.month, m.mau
ORDER BY m.month
"""


@register("events_engagement_dau_mau", DAU_MAU_ORACLE)
def events_engagement_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["ts", "user_id"])
    month = F.date_trunc("month", "ts").cast("date")
    daily = events.groupBy(
        month.alias("month"), F.col("ts").cast("date").alias("day")
    ).agg(F.count_distinct("user_id").cast("long").alias("dau"))
    monthly = events.groupBy(month.alias("month")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    return (
        daily.join(F.broadcast(monthly), "month")
        .groupBy("month", "mau")
        .agg(
            F.count("*").cast("long").alias("active_days"),
            F.expr("(2 * sum(dau) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("avg_dau"),
            F.round(
                F.sum("dau") * 1.0 / F.count("*") / F.col("mau"), 4
            ).alias("stickiness"),
        )
        .select("month", "mau", "active_days", "avg_dau", "stickiness")
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# events_cross_correlation_leadlag — lead-lag discovery between event
# types: for every ordered type pair and lag k in 1..3 days, the
# cross-correlation of their daily-count series (does A's volume
# predict B's k days later?). Same exactness device as the ACF: each
# series is centered by n*cnt - S (exact BIGINT, no rational means),
# ccf = sum(za_t * zb_{t+k}) / sqrt(sum(za^2) * sum(zb^2)) with one
# rounded division; alignment is a date equi-join on the tiny daily
# rollup, never a window. Reports the top-10 |ccf| (pair, lag) cells —
# the causal-hypothesis shortlist feeding any lead-lag model. Scale:
# one (type, day) rollup shuffle; everything after joins
# calendar-bounded series (T rows per type).
# ---------------------------------------------------------------------------

CCF_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, day
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
z AS (
  SELECT d.event_type, d.day, t.n * d.cnt - t.s AS z
  FROM daily d JOIN tot t ON d.event_type = t.event_type
),
ss AS (SELECT event_type, CAST(sum(z * z) AS BIGINT) AS ss FROM z GROUP BY event_type),
lags AS (SELECT unnest(range(1, 4)) AS lag_k),
num AS (
  SELECT a.event_type AS lead_type, b.event_type AS lag_type, l.lag_k,
         sum(a.z * b.z) AS num, CAST(count(*) AS BIGINT) AS n_days
  FROM z a
  CROSS JOIN lags l
  JOIN z b ON b.day = a.day + l.lag_k * INTERVAL 1 DAY
          AND b.event_type <> a.event_type
  GROUP BY lead_type, lag_type, l.lag_k
),
scored AS (
  SELECT n.lead_type, n.lag_type, CAST(n.lag_k AS INT) AS lag_k, n.n_days,
         round(CAST(n.num AS DOUBLE)
               / sqrt(CAST(sa.ss AS DOUBLE) * CAST(sb.ss AS DOUBLE)), 4) AS ccf
  FROM num n
  JOIN ss sa ON n.lead_type = sa.event_type
  JOIN ss sb ON n.lag_type = sb.event_type
)
SELECT lead_type, lag_type, lag_k, n_days, ccf,
       CAST(row_number() OVER (ORDER BY abs(ccf) DESC, lead_type, lag_type, lag_k)
            AS INT) AS rank
FROM scored
QUALIFY rank <= 10
ORDER BY rank
"""


@register("events_cross_correlation_leadlag", CCF_ORACLE)
def events_cross_correlation_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events", columns=["ts", "event_type"])
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("cnt").cast("long").alias("s")
    )
    z = daily.join(F.broadcast(tot), "event_type").select(
        "event_type", "day", (F.col("n") * F.col("cnt") - F.col("s")).alias("z")
    )
    z = z.localCheckpoint(eager=True)  # both join sides + the ss fold
    ss = z.groupBy("event_type").agg(F.sum(F.col("z") * F.col("z")).alias("ss"))
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag_k"))
    a = z.select(F.col("event_type").alias("lead_type"), F.col("day").alias("da"), F.col("z").alias("za"))
    b = z.select(F.col("event_type").alias("lag_type"), F.col("day").alias("db"), F.col("z").alias("zb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("db") == F.date_add(F.col("da"), F.col("lag_k")))
            & (F.col("lag_type") != F.col("lead_type")),
        )
        .groupBy("lead_type", "lag_type", "lag_k")
        .agg(
            F.sum(F.col("za") * F.col("zb")).alias("num"),
            F.count("*").cast("long").alias("n_days"),
        )
    )
    sa = ss.select(F.col("event_type").alias("lead_type"), F.col("ss").alias("ssa"))
    sb = ss.select(F.col("event_type").alias("lag_type"), F.col("ss").alias("ssb"))
    from pyspark.sql import Window as W

    wr = W.orderBy(F.desc(F.abs(F.col("ccf"))), "lead_type", "lag_type", "lag_k")
    return (
        num.join(F.broadcast(sa), "lead_type")
        .join(F.broadcast(sb), "lag_type")
        .withColumn(
            "ccf",
            F.round(
                F.col("num").cast("double")
                / F.sqrt(F.col("ssa").cast("double") * F.col("ssb").cast("double")),
                4,
            ),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("lead_type", "lag_type", "lag_k", "n_days", "ccf", "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# orders_holt_linear — Holt's linear-trend (double) exponential
# smoothing over the daily revenue series per order priority:
#   level_t = a*y_t + (1-a)*(level_{t-1} + trend_{t-1})
#   trend_t = b*(level_t - level_{t-1}) + (1-b)*trend_{t-1}
# with a=0.5, b=0.3, initialized level_1 = y_1, trend_1 = 0. The
# level+trend pair is the one-step forecast — the next rung up from
# EWMA (events_ewma_daily) because it tracks drift instead of lagging
# it. The recurrence is nonlinear in the prefix (like the capped
# balance), so it runs on the applyInPandas tier: one Arrow batch per
# priority over the calendar-bounded daily rollup, a four-line scan
# inside; the DuckDB oracle replays the identical recurrence with a
# RECURSIVE CTE. Engine parity: daily revenue is exact cents; both
# recurrences execute the SAME IEEE operation order (the expressions
# are written identically), so the doubles match bit-for-bit before
# the display rounding. Scale: the scan input is the (priority, day)
# rollup — map-side combined, ~2.4k rows per series — never raw
# orders; state is two numbers; series parallelize across executors.
# ---------------------------------------------------------------------------

HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS revenue
  FROM orders GROUP BY 1, 2
),
d AS (
  SELECT priority, day, revenue,
         row_number() OVER (PARTITION BY priority ORDER BY day) AS rn
  FROM daily
),
walk AS (
  SELECT priority, day, rn, revenue,
         revenue AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.priority, d.day, d.rn, d.revenue,
         0.5 * d.revenue + 0.5 * (w.level + w.trend) AS level,
         0.3 * ((0.5 * d.revenue + 0.5 * (w.level + w.trend)) - w.level)
             + 0.7 * w.trend AS trend
  FROM walk w JOIN d ON d.priority = w.priority AND d.rn = w.rn + 1
)
SELECT priority, day,
       round(revenue, 2) AS revenue,
       round(level, 4) AS level,
       round(trend, 4) AS trend,
       round(level + trend, 4) AS forecast_next
FROM walk
ORDER BY priority, day
"""


@register("orders_holt_linear", HOLT_ORACLE)
def orders_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderdate", "o_totalprice"]
    )
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("revenue")
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        levels, trends = [], []
        level, trend = 0.0, 0.0
        for i, y in enumerate(pdf["revenue"]):
            y = float(y)
            if i == 0:
                level, trend = y, 0.0
            else:
                prev_level, prev_trend = level, trend
                level = 0.5 * y + 0.5 * (prev_level + prev_trend)
                trend = 0.3 * (level - prev_level) + 0.7 * prev_trend
            levels.append(level)
            trends.append(trend)
        # Rounding happens Spark-side (F.round is HALF_UP like DuckDB's
        # round; pandas .round is half-to-even and disagrees on exact
        # .5 boundaries).
        out = pd.DataFrame(
            {
                "priority": pdf["priority"],
                "day": pdf["day"],
                "revenue": pdf["revenue"],
                "level": pd.Series(levels, dtype="float64"),
                "trend": pd.Series(trends, dtype="float64"),
            }
        )
        return out

    return (
        daily.groupBy("priority")
        .applyInPandas(
            scan,
            "priority string, day date, revenue double, level double, trend double",
        )
        .select(
            "priority",
            "day",
            F.round("revenue", 2).alias("revenue"),
            F.round("level", 4).alias("level"),
            F.round("trend", 4).alias("trend"),
            F.round(F.col("level") + F.col("trend"), 4).alias("forecast_next"),
        )
        .orderBy("priority", "day")
    )


# ---------------------------------------------------------------------------
# graph_pagerank_iterations — 3 unrolled PageRank iterations (d=0.85)
# over the part co-purchase graph (same edge relation as
# graph_degree_assortativity), in EXACT INTEGER arithmetic end-to-end:
# ranks live as 1e12-scaled BIGINTs, every division is integer half-up
# ((2a+b) div (2b) — the house rounding), so iteration sums are
# order-independent and the top-10 rank order compares exact integers
# — no float appears until the display rounding. The graph is
# symmetric by construction (co-purchase), so there are no dangling
# nodes and in-degree ≥ 1 everywhere. Scale: the canonical distributed
# PageRank — one |E|-row contribution shuffle keyed on dst per
# iteration, degrees broadcast; iteration count is the only serial
# axis, and the edge relation is bounded by Σ C(parts-per-order, 2),
# never all-pairs.
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_BASE_NUM = 150 * 10**9  # 0.15 * 1e12


def _pr_step_sql(prev: str) -> str:
    """One PageRank iteration in integer arithmetic (shared shape)."""
    return f"""
  SELECT e.dst AS node,
         (2 * {_PR_BASE_NUM} + nn.n) // (2 * nn.n)
         + (2 * 17 * sum((2 * p.prq + d.d) // (2 * d.d)) + 20) // 40 AS prq
  FROM edges e
  JOIN {prev} p ON e.src = p.node
  JOIN deg d ON e.src = d.node
  CROSS JOIN nn
  GROUP BY e.dst, nn.n
"""


PAGERANK_ORACLE = f"""
WITH order_parts AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM order_parts a JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY src, dst
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
pr0 AS (
  SELECT node, (2 * {_PR_SCALE} + nn.n) // (2 * nn.n) AS prq
  FROM deg CROSS JOIN nn
),
pr1 AS ({_pr_step_sql("pr0")}),
pr2 AS ({_pr_step_sql("pr1")}),
pr3 AS ({_pr_step_sql("pr2")})
SELECT CAST(node AS BIGINT) AS part_key,
       round(CAST(prq AS DOUBLE) / {_PR_SCALE}, 8) AS pagerank,
       CAST(row_number() OVER (ORDER BY prq DESC, node) AS INT) AS rank
FROM pr3
QUALIFY rank <= 10
ORDER BY rank
"""


@register("graph_pagerank_iterations", PAGERANK_ORACLE)
def graph_pagerank_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank per-iteration convergence trace (L1 deltas per round) over the co-purchase graph."""
    edges = _copurchase_edges(spark, sf_dir, support=1)
    # r14: deg feeds the init ranks plus one broadcast join PER
    # iteration — the before-plan re-evaluated the edge-scan+aggregate
    # subtree (and nn's two-level aggregate) once per reference, ~8
    # redundant Exchange subtrees for 3 iterations (guide §2.4). One
    # eager checkpoint of the narrow (node, d) relation; nn derives
    # from it.
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    # r15: the node count folds into INTEGER LITERALS (one count job
    # over the checkpointed deg blocks) — the nn aggregate subtree was
    # re-planned per broadcast reference; exact integer arithmetic is
    # unchanged.
    n = int(deg.count())
    pr = deg.select("node", F.expr(f"(2 * {_PR_SCALE} + {n}) div (2 * {n})").alias("prq"))
    # r14: attach the out-degree to the edge ONCE — the former loop
    # broadcast-joined deg inside every iteration's lineage, same
    # inner-join semantics (every edge src has a degree row by
    # construction). r15 (VERDICT r14 item 9): checkpointed
    # PRE-PARTITIONED BY src (functions/partitioned), so each
    # iteration's rank join reuses the partitioning instead of
    # re-shuffling the |E| relation.
    from insurance_helper_spark.functions.partitioned import partitioned_checkpoint

    n_shuffle = int(
        spark.conf.get("spark.sql.shuffle.partitions", None)
        or spark.sparkContext.defaultParallelism
    )
    ew = partitioned_checkpoint(
        edges.join(F.broadcast(deg.withColumnRenamed("node", "src")), "src").select(
            "src", "dst", "d"
        ),
        n_shuffle,
        "src",
    )
    for _ in range(3):
        pr = (
            ew.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("(2 * prq + d) div (2 * d)")).alias("contrib"))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(2 * {_PR_BASE_NUM} + {n}) div (2 * {n})"
                    " + (2 * 17 * contrib + 20) div 40"
                ).alias("prq"),
            )
        )
    from pyspark.sql import Window as W

    # r15 (rank-class): per-partition top-k via orderBy+limit
    # (TakeOrderedAndProject), then row_number over ≤10 rows — the
    # global rank window no longer sees the whole node relation.
    # (prq desc, node) is a total order, so limit ≡ the rank ≤ 10
    # filter with identical ranks.
    wr = W.orderBy(F.desc("prq"), "node")
    return (
        pr.orderBy(F.desc("prq"), "node")
        .limit(10)
        .select(
            F.col("node").cast("long").alias("part_key"),
            F.round(F.col("prq").cast("double") / _PR_SCALE, 8).alias("pagerank"),
            F.row_number().over(wr).cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# stat_ljung_box — the portmanteau whiteness test that SUMMARIZES the
# ACF row: Q = n(n+2) Σ_{k=1..7} r_k²/(n−k) on the daily event-count
# series, rejecting "white noise" at the chi²(7) 95% critical value
# (14.067, a constant — no tail function needed). This is the formal
# gate in front of fitting any AR-family model; the ACF row shows the
# shape, Ljung–Box decides. Same exact-arithmetic skeleton as
# events_acf_lags: n-scaled integer centering (z = n·cnt − S), lag
# alignment by date EQUI-JOIN (never an unpartitioned per-row window),
# exact BIGINT numerators/denominator, and the 7-term Q fold quantized
# to round(·1e9) AS BIGINT. Scale: one daily rollup + 7 calendar-
# bounded self-joins.
# ---------------------------------------------------------------------------

LJUNG_BOX_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY day
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s FROM daily
),
z AS (SELECT day, n * cnt - s AS z, n FROM daily CROSS JOIN tot),
denom AS (SELECT CAST(sum(z * z) AS BIGINT) AS ss FROM z),
num AS (
  SELECT l.lag_k, CAST(sum(a.z * b.z) AS BIGINT) AS num
  FROM z a JOIN (SELECT unnest(range(1, 8)) AS lag_k) l ON true
  JOIN z b ON b.day = a.day - l.lag_k * INTERVAL 1 DAY
  GROUP BY l.lag_k
),
terms AS (
  SELECT n.lag_k,
         CAST(round((CAST(n.num AS DOUBLE) / d.ss)
                    * (CAST(n.num AS DOUBLE) / d.ss)
                    / (t.n - n.lag_k) * 1e9) AS BIGINT) AS tq,
         t.n AS n
  FROM num n CROSS JOIN denom d CROSS JOIN tot t
)
SELECT CAST(any_value(n) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS df,
       round(CAST(any_value(n) AS DOUBLE) * (any_value(n) + 2)
             * CAST(sum(tq) AS DOUBLE) / 1e9, 4) AS q_statistic,
       CAST(CASE WHEN CAST(any_value(n) AS DOUBLE) * (any_value(n) + 2)
                      * CAST(sum(tq) AS DOUBLE) / 1e9 > 14.067140449340169
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_white_noise_95
FROM terms
"""


@register("stat_ljung_box", LJUNG_BOX_ORACLE)
def stat_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("cnt").cast("long").alias("s")
    )
    z = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("cnt") - F.col("s")).alias("z"), "n"
    )
    z = z.localCheckpoint(eager=True)  # both sides of 7 lag joins + denom
    denom = z.agg(F.sum(F.col("z") * F.col("z")).cast("long").alias("ss"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag_k"))
    a = z.select(F.col("day"), F.col("z").alias("za"), "n")
    b = z.select(F.col("day").alias("bday"), F.col("z").alias("zb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bday") == F.date_sub(F.col("day"), F.col("lag_k").cast("int")))
        .groupBy("lag_k")
        .agg(F.sum(F.col("za") * F.col("zb")).cast("long").alias("num"), F.any_value("n").alias("n"))
    )
    r = F.col("num").cast("double") / F.col("ss")
    terms = num.crossJoin(F.broadcast(denom)).select(
        "lag_k",
        "n",
        F.round(r * r / (F.col("n") - F.col("lag_k")) * 1e9).cast("long").alias("tq"),
    )
    nd = F.any_value("n").cast("double")
    q = nd * (F.any_value("n") + 2) * F.sum("tq").cast("double") / 1e9
    return terms.agg(
        F.any_value("n").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("df"),
        F.round(q, 4).alias("q_statistic"),
        F.when(q > 14.067140449340169, 1).otherwise(0).cast("long").alias(
            "reject_white_noise_95"
        ),
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar — Adamic–Adar link prediction over the STRONG-TIE
# co-purchase graph (part pairs co-purchased in ≥2 orders — the
# support floor that keeps the graph sparse where the raw co-purchase
# graph is near-complete): for every two-hop non-edge pair, AA =
# Σ_z 1/ln(deg z) over common neighbors — the classic "which parts
# will be bought together next" score. Per-neighbor weights are
# quantized to BIGINT nano-units once on the degree relation (a
# common neighbor has deg ≥ 2 by construction, so ln never hits 0),
# making the pair score an exact integer sum; top-20 by (score, pair)
# is engine-identical. Scale: the support-≥2 floor IS the hot-node
# guard — candidate volume is Σ deg(z)² over the pruned graph (~1e4
# at fixture scale vs ~3e7 raw); at 100 TB raise the support floor /
# cap deg(z), the same skew dial as the hot-shingle cap.
# ---------------------------------------------------------------------------

ADAMIC_ADAR_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst FROM pairs WHERE sup >= 2),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
wq AS (
  SELECT node, CAST(round(1e9 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS w_q
  FROM deg
),
cand AS (
  SELECT e1.src AS id_a, e2.dst AS id_b, e1.dst AS z
  FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src < e2.dst
),
nonedge AS (
  SELECT c.id_a, c.id_b, c.z
  FROM cand c
  LEFT JOIN e ON e.src = c.id_a AND e.dst = c.id_b
  WHERE e.src IS NULL
),
scored AS (
  SELECT n.id_a, n.id_b,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum(w.w_q) AS BIGINT) AS aa_q
  FROM nonedge n JOIN wq w ON n.z = w.node
  GROUP BY n.id_a, n.id_b
)
SELECT id_a, id_b, common_neighbors, round(aa_q / 1e9, 6) AS aa_score
FROM scored
ORDER BY aa_q DESC, id_a, id_b
LIMIT 20
"""


@register("graph_adamic_adar", ADAMIC_ADAR_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, support=2)
    wq = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("d"))
        # A common neighbor is adjacent to both endpoints, so deg >= 2
        # always holds for joined rows — the filter exists so ln(1)=0
        # never reaches the division under ANSI mode (driver default).
        .where(F.col("d") >= 2)
        .select(
            "node",
            F.round(F.lit(1e9) / F.log(F.col("d").cast("double"))).cast("long").alias("w_q"),
        )
    )
    e1 = e.select(F.col("src").alias("id_a"), F.col("dst").alias("z"))
    e2 = e.select(F.col("src").alias("z"), F.col("dst").alias("id_b"))
    cand = e1.join(e2, "z").where(F.col("id_a") < F.col("id_b"))
    nonedge = cand.join(
        e,
        (cand.id_a == e.src) & (cand.id_b == e.dst),
        "left_anti",
    )
    scored = (
        nonedge.join(F.broadcast(wq), nonedge.z == wq.node)
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum("w_q").cast("long").alias("aa_q"),
        )
    )
    return (
        scored.orderBy(F.col("aa_q").desc(), "id_a", "id_b")
        .limit(20)
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.round(F.col("aa_q") / 1e9, 6).alias("aa_score"),
        )
    )


# ---------------------------------------------------------------------------
# graph_kcore_peel — 2-core decomposition census by iterative peeling
# (3 unrolled rounds) of the strong-tie co-purchase graph: drop all
# degree-<2 nodes, recompute degrees, repeat — the standard
# "dense-subgraph backbone" reduction (and the fixed-iteration form
# every distributed k-core implementation runs). Reports per-round
# node/edge counts and the surviving min degree — all exact integer
# censuses. Scale: each round is one degree groupBy + two semi-joins
# on the shrinking edge relation; the iteration count is the only
# serial axis (a full decomposition loops until fixpoint; 3 rounds is
# the documented budget, same stance as the PageRank/label-prop rows).
# ---------------------------------------------------------------------------

KCORE_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e0 AS (SELECT src, dst FROM pairs WHERE sup >= 2),
d0 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
k1 AS (SELECT src FROM d0 WHERE deg >= 2),
e1 AS (
  SELECT e.src, e.dst FROM e0 e
  JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src
),
d1 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e1 GROUP BY src),
k2 AS (SELECT src FROM d1 WHERE deg >= 2),
e2 AS (
  SELECT e.src, e.dst FROM e1 e
  JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src
),
d2 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY src),
k3 AS (SELECT src FROM d2 WHERE deg >= 2),
e3 AS (
  SELECT e.src, e.dst FROM e2 e
  JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src
),
d3 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e3 GROUP BY src),
census AS (
  SELECT CAST(0 AS BIGINT) AS iteration, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(coalesce(sum(deg), 0) AS BIGINT) AS n_edges,
         CAST(coalesce(min(deg), 0) AS BIGINT) AS min_degree FROM d0
  UNION ALL
  SELECT 1, CAST(count(*) AS BIGINT), CAST(coalesce(sum(deg), 0) AS BIGINT),
         CAST(coalesce(min(deg), 0) AS BIGINT) FROM d1
  UNION ALL
  SELECT 2, CAST(count(*) AS BIGINT), CAST(coalesce(sum(deg), 0) AS BIGINT),
         CAST(coalesce(min(deg), 0) AS BIGINT) FROM d2
  UNION ALL
  SELECT 3, CAST(count(*) AS BIGINT), CAST(coalesce(sum(deg), 0) AS BIGINT),
         CAST(coalesce(min(deg), 0) AS BIGINT) FROM d3
)
SELECT iteration, n_nodes, n_edges, min_degree FROM census ORDER BY iteration
"""


@register("graph_kcore_peel", KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, support=2)
    rows = []
    for it in range(4):
        deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
        census = deg.agg(
            F.lit(it).cast("long").alias("iteration"),
            F.count("*").cast("long").alias("n_nodes"),
            F.coalesce(F.sum("deg"), F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce(F.min("deg"), F.lit(0)).cast("long").alias("min_degree"),
        )
        rows.append(census)
        if it < 3:
            keep = deg.where(F.col("deg") >= 2).select("src")
            e = (
                e.join(keep, "src")
                .join(keep.withColumnRenamed("src", "dst"), "dst")
                .select("src", "dst")
                .localCheckpoint(eager=True)  # each round reuses the peeled relation
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("iteration")


# ---------------------------------------------------------------------------
# events_periodogram_calendar — discrete-Fourier power at the three
# CALENDAR frequencies (7/14/30-day periods) of the daily event-count
# series: the spectral "is there weekly seasonality" answer the
# hourly-seasonality matrix (time-of-day profile) and the ACF row
# (all lags mixed) don't give directly. Classic single-frequency
# Goertzel-style correlation: mean-centering rides exact N·x−S
# integers, the trig factors are quantized to BIGINT micro-units per
# (t mod p) — cos/sin differ across engines only in the last ulp, 10
# orders below the quantum — so both Fourier sums fold exact BIGINTs;
# R² and amplitude are terminal expressions. Scale: map-side daily
# rollup, then 3× the O(days) relation; no global windows at all.
# ---------------------------------------------------------------------------

PERIODOGRAM_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY day
),
lo AS (SELECT min(day) AS d0 FROM daily),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily),
periods AS (SELECT CAST(unnest([7, 14, 30]) AS BIGINT) AS p),
pts AS (
  SELECT p.p, m.n,
         CAST(datediff('day', lo.d0, d.day) AS BIGINT) % p.p AS mm,
         m.n * d.x - m.s AS v
  FROM daily d CROSS JOIN lo CROSS JOIN m CROSS JOIN periods p
),
trig AS (
  SELECT p, n, v,
         CAST(round(1e6 * cos(6.283185307179586 * mm / p)) AS BIGINT) AS cq,
         CAST(round(1e6 * sin(6.283185307179586 * mm / p)) AS BIGINT) AS sq
  FROM pts
),
acc AS (
  SELECT p, any_value(n) AS n,
         CAST(sum(v * cq) AS BIGINT) AS c,
         CAST(sum(v * sq) AS BIGINT) AS s2,
         CAST(sum(v * v) AS BIGINT) AS ss
  FROM trig GROUP BY p
)
SELECT p AS period_days, n AS n_days,
       round(2 * (CAST(c AS DOUBLE) * c + CAST(s2 AS DOUBLE) * s2)
             / (CAST(n AS DOUBLE) * ss * 1e12), 6) AS r2_fraction,
       round(2 * sqrt(CAST(c AS DOUBLE) * c + CAST(s2 AS DOUBLE) * s2)
             / (CAST(n AS DOUBLE) * n * 1e6), 4) AS amplitude_events
FROM acc ORDER BY p
"""


@register("events_periodogram_calendar", PERIODOGRAM_ORACLE)
def events_periodogram_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    lo = daily.agg(F.min("day").alias("d0"))
    m = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    periods = spark.createDataFrame([(7,), (14,), (30,)], "p long")
    pts = (
        daily.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(periods))
        .select(
            "p",
            "n",
            (F.datediff("day", "d0").cast("long") % F.col("p")).alias("mm"),
            (F.col("n") * F.col("x") - F.col("s")).alias("v"),
        )
    )
    theta = F.lit(6.283185307179586) * F.col("mm") / F.col("p")
    trig = pts.select(
        "p",
        "n",
        "v",
        F.round(F.lit(1e6) * F.cos(theta)).cast("long").alias("cq"),
        F.round(F.lit(1e6) * F.sin(theta)).cast("long").alias("sq"),
    )
    acc = trig.groupBy("p").agg(
        F.any_value("n").alias("n"),
        F.sum(F.col("v") * F.col("cq")).cast("long").alias("c"),
        F.sum(F.col("v") * F.col("sq")).cast("long").alias("s2"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    power = F.col("c").cast("double") * F.col("c") + F.col("s2").cast("double") * F.col(
        "s2"
    )
    return acc.select(
        F.col("p").alias("period_days"),
        F.col("n").alias("n_days"),
        F.round(
            2 * power / (F.col("n").cast("double") * F.col("ss") * 1e12), 6
        ).alias("r2_fraction"),
        F.round(
            2 * F.sqrt(power) / (F.col("n").cast("double") * F.col("n") * 1e6), 4
        ).alias("amplitude_events"),
    ).orderBy("period_days")


# ---------------------------------------------------------------------------
# orders_holt_winters — Holt–Winters ADDITIVE-SEASONAL (triple)
# exponential smoothing over the daily revenue series per priority,
# completing the smoothing ladder EWMA → Holt linear → Holt-Winters:
#   level_t = α(y_t − s_{t−7}) + (1−α)(level_{t−1} + trend_{t−1})
#   trend_t = β(level_t − level_{t−1}) + (1−β)trend_{t−1}
#   s_t     = γ(y_t − level_t) + (1−γ)s_{t−7}
# (α=0.5, β=0.3, γ=0.2, weekly season s=7, seasonals start at 0 so
# the first cycle learns them). The recurrence carries a 7-slot
# seasonal ring in addition to (level, trend), so like Holt it runs
# on the applyInPandas tier — one Arrow batch per priority over the
# calendar-bounded daily rollup — while the DuckDB oracle replays the
# identical recurrence with a RECURSIVE CTE carrying the ring as a
# LIST column. Engine parity: both recurrences execute the SAME IEEE
# operation order (expressions written identically), daily revenue is
# exact cents. Scale: scan input is the (priority, day) rollup; state
# is 9 numbers; series parallelize across executors.
# ---------------------------------------------------------------------------

HOLT_WINTERS_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS revenue
  FROM orders GROUP BY 1, 2
),
d AS (
  SELECT priority, day, revenue,
         row_number() OVER (PARTITION BY priority ORDER BY day) AS rn
  FROM daily
),
walk AS (
  SELECT priority, day, rn, revenue,
         revenue AS level, CAST(0.0 AS DOUBLE) AS trend,
         CAST(0.0 AS DOUBLE) AS seasonal,
         [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS seas
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.priority, d.day, d.rn, d.revenue,
         0.5 * (d.revenue - w.seas[1]) + 0.5 * (w.level + w.trend) AS level,
         0.3 * ((0.5 * (d.revenue - w.seas[1]) + 0.5 * (w.level + w.trend))
                - w.level) + 0.7 * w.trend AS trend,
         0.2 * (d.revenue - (0.5 * (d.revenue - w.seas[1])
                             + 0.5 * (w.level + w.trend))) + 0.8 * w.seas[1]
             AS seasonal,
         list_concat(w.seas[2:],
           [0.2 * (d.revenue - (0.5 * (d.revenue - w.seas[1])
                                + 0.5 * (w.level + w.trend)))
            + 0.8 * w.seas[1]]) AS seas
  FROM walk w JOIN d ON d.priority = w.priority AND d.rn = w.rn + 1
)
SELECT priority, day, round(revenue, 2) AS revenue, round(level, 4) AS level,
       round(trend, 4) AS trend, round(seasonal, 4) AS seasonal,
       round(level + trend + seas[1], 4) AS forecast_next
FROM walk
ORDER BY priority, day
"""


@register("orders_holt_winters", HOLT_WINTERS_ORACLE)
def orders_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_orderdate", "o_totalprice"]
    )
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("revenue")
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        levels, trends, seasonals, fnext = [], [], [], []
        level, trend = 0.0, 0.0
        seas = [0.0] * 7
        for i, y in enumerate(pdf["revenue"]):
            y = float(y)
            if i == 0:
                level, trend, s_new = y, 0.0, 0.0
            else:
                sp = seas[0]
                prev_level, prev_trend = level, trend
                level = 0.5 * (y - sp) + 0.5 * (prev_level + prev_trend)
                trend = 0.3 * (level - prev_level) + 0.7 * prev_trend
                s_new = 0.2 * (y - level) + 0.8 * sp
                seas = seas[1:] + [s_new]
            levels.append(level)
            trends.append(trend)
            seasonals.append(s_new)
            fnext.append(level + trend + seas[0])
        return pd.DataFrame(
            {
                "priority": pdf["priority"],
                "day": pdf["day"],
                "revenue": pdf["revenue"],
                "level": pd.Series(levels, dtype="float64"),
                "trend": pd.Series(trends, dtype="float64"),
                "seasonal": pd.Series(seasonals, dtype="float64"),
                "fnext": pd.Series(fnext, dtype="float64"),
            }
        )

    return (
        daily.groupBy("priority")
        .applyInPandas(
            scan,
            "priority string, day timestamp_ntz, revenue double, level double,"
            " trend double, seasonal double, fnext double",
        )
        .select(
            "priority",
            "day",
            F.round("revenue", 2).alias("revenue"),
            F.round("level", 4).alias("level"),
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round("fnext", 4).alias("forecast_next"),
        )
        .orderBy("priority", "day")
    )


# ---------------------------------------------------------------------------
# graph_clustering_coefficient — local clustering census of the
# strong-tie co-purchase graph: per-node triangle counts over
# neighbor pairs (the wedge→closure join), averaged as Watts–Strogatz
# mean local clustering, plus the global transitivity ratio
# 3·triangles/wedges — the "is this graph clumpy or stringy"
# diagnostic that degree assortativity (who links to whom) and the
# global triangle count (one number) don't localize. Per-node
# coefficients are quantized to BIGINT nano-units before the mean, so
# every fold is exact; wedges and triangles are integer censuses.
# Scale: wedge volume is Σ deg² over the support-pruned graph (the
# same skew dial as Adamic–Adar); closure check is one edge
# equi-join.
# ---------------------------------------------------------------------------

CLUSTERING_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst FROM pairs WHERE sup >= 2),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
wedge AS (
  SELECT e1.src AS v, e1.dst AS a, e2.dst AS b
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
tri AS (
  SELECT w.v, CAST(count(*) AS BIGINT) AS t
  FROM wedge w JOIN e ON e.src = w.a AND e.dst = w.b
  GROUP BY w.v
),
pernode AS (
  SELECT d.node, d.d, coalesce(t.t, 0) AS t,
         CAST(round(1e9 * (2.0 * coalesce(t.t, 0)) / (d.d * (d.d - 1)))
              AS BIGINT) AS cq
  FROM deg d LEFT JOIN tri t ON d.node = t.v
  WHERE d.d >= 2
),
agg AS (
  SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
         CAST(count(*) AS BIGINT) AS n_nodes_deg2,
         CAST(sum(t) AS BIGINT) AS sum_tri,
         CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS wedges,
         CAST(sum(cq) AS BIGINT) AS sum_cq,
         CAST(max(t) AS BIGINT) AS max_node_triangles
  FROM pernode
)
SELECT n_nodes, n_nodes_deg2,
       round(CAST(sum_cq AS DOUBLE) / n_nodes_deg2 / 1e9, 6) AS avg_clustering,
       round(CAST(sum_tri AS DOUBLE) / wedges, 6) AS global_transitivity,
       max_node_triangles
FROM agg
"""


@register("graph_clustering_coefficient", CLUSTERING_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, support=2)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").cast("long").alias("d"))
    e1 = e.select(F.col("src").alias("v"), F.col("dst").alias("wa"))
    e2 = e.select(F.col("src").alias("v"), F.col("dst").alias("wb"))
    wedge = e1.join(e2, "v").where(F.col("wa") < F.col("wb"))
    tri = (
        wedge.join(e, (wedge.wa == e.src) & (wedge.wb == e.dst))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("t"))
    )
    pernode = (
        deg.where(F.col("d") >= 2)
        .join(tri, deg.node == tri.v, "left")
        .select(
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        )
        .select(
            "d",
            "t",
            F.round(
                F.lit(1e9) * (F.lit(2.0) * F.col("t")) / (F.col("d") * (F.col("d") - 1))
            )
            .cast("long")
            .alias("cq"),
        )
    )
    n_all = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    agg = pernode.agg(
        F.count("*").cast("long").alias("n_nodes_deg2"),
        F.sum("t").cast("long").alias("sum_tri"),
        F.expr("CAST(sum(d * (d - 1)) AS BIGINT) div 2").alias("wedges"),
        F.sum("cq").cast("long").alias("sum_cq"),
        F.max("t").cast("long").alias("max_node_triangles"),
    )
    return agg.crossJoin(F.broadcast(n_all)).select(
        "n_nodes",
        "n_nodes_deg2",
        F.round(F.col("sum_cq").cast("double") / F.col("n_nodes_deg2") / 1e9, 6).alias(
            "avg_clustering"
        ),
        F.round(F.col("sum_tri").cast("double") / F.col("wedges"), 6).alias(
            "global_transitivity"
        ),
        "max_node_triangles",
    )


# ---------------------------------------------------------------------------
# graph_hits_hubs_authorities — 3 unrolled HITS iterations on the
# strong-tie co-purchase graph (support >= 2, the same pruned edge
# relation as Adamic-Adar / k-core): authority <- sum of neighbor hub
# scores, hub <- sum of neighbor authority scores, with an EXACT
# integer max-normalization after every half-step (score * 1e6 div
# max — BIGINT division, no floats anywhere until the final /1e6
# display), so partial-aggregation order can never move a bit. Scale:
# each half-step is one |E|-row join + groupBy; the support floor is
# the hot-node guard, identical stance to the PageRank rows.
# ---------------------------------------------------------------------------

HITS_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst FROM pairs WHERE sup >= 2),
nodes AS (SELECT DISTINCT src AS node FROM e),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes),
a1r AS (SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS s
        FROM e JOIN h0 h ON h.node = e.src GROUP BY e.dst),
a1 AS (SELECT node, s * 1000000 // (SELECT max(s) FROM a1r) AS s FROM a1r),
h1r AS (SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS s
        FROM e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
h1 AS (SELECT node, s * 1000000 // (SELECT max(s) FROM h1r) AS s FROM h1r),
a2r AS (SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS s
        FROM e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
a2 AS (SELECT node, s * 1000000 // (SELECT max(s) FROM a2r) AS s FROM a2r),
h2r AS (SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS s
        FROM e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
h2 AS (SELECT node, s * 1000000 // (SELECT max(s) FROM h2r) AS s FROM h2r),
a3r AS (SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS s
        FROM e JOIN h2 h ON h.node = e.src GROUP BY e.dst),
a3 AS (SELECT node, s * 1000000 // (SELECT max(s) FROM a3r) AS s FROM a3r),
h3r AS (SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS s
        FROM e JOIN a3 a ON a.node = e.dst GROUP BY e.src),
h3 AS (SELECT node, s * 1000000 // (SELECT max(s) FROM h3r) AS s FROM h3r)
SELECT h3.node AS part_id,
       round(h3.s / 1e6, 6) AS hub_score,
       round(a3.s / 1e6, 6) AS auth_score
FROM h3 JOIN a3 ON a3.node = h3.node
ORDER BY h3.s DESC, part_id
LIMIT 20
"""


def _strong_tie_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support->=2 co-purchase edge relation (both orientations),
    checkpointed + memoized because callers feed it into iterated joins."""
    return _copurchase_edges(spark, sf_dir, support=2)


def _hits_normalize(scored: DataFrame) -> DataFrame:
    mx = scored.agg(F.max("s").alias("mx"))
    return scored.crossJoin(F.broadcast(mx)).select(
        "node", F.expr("s * 1000000 div mx").alias("s")
    )


@register("graph_hits_hubs_authorities", HITS_ORACLE)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores on the strong-tie digraph: alternating exact-integer power iterations with per-round normalization."""
    e = _strong_tie_edges(spark, sf_dir)
    h = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("s", F.lit(1000000).cast("long"))
    )
    a = None
    for _ in range(3):
        a = _hits_normalize(
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").cast("long").alias("s"))
        ).localCheckpoint(eager=False)
        h = _hits_normalize(
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").cast("long").alias("s"))
        ).localCheckpoint(eager=False)
    return (
        h.join(a.withColumnRenamed("s", "sa"), "node")
        .orderBy(F.col("s").desc(), "node")
        .limit(20)
        .select(
            F.col("node").alias("part_id"),
            F.round(F.col("s") / 1e6, 6).alias("hub_score"),
            F.round(F.col("sa") / 1e6, 6).alias("auth_score"),
        )
    )


# ---------------------------------------------------------------------------
# graph_label_propagation — 3 synchronous label-propagation rounds on
# the strong-tie co-purchase graph: every node starts as its own
# community; each round it adopts the most frequent label among its
# neighbors, ties broken by the SMALLEST label (row_number over
# (count DESC, label ASC) — fully deterministic, engine-identical).
# Output: the 20 largest communities after round 3. Scale: each round
# is one |E|-row join + one count groupBy + one per-node window on
# the (node, label) candidate relation — the standard distributed
# LPA; iteration count is the only serial axis (documented budget,
# same stance as the PageRank / k-core rows).
# ---------------------------------------------------------------------------

LPA_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst FROM pairs WHERE sup >= 2),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
c1 AS (SELECT e.src AS v, l.lab, CAST(count(*) AS BIGINT) AS c
       FROM e JOIN l0 l ON l.node = e.dst GROUP BY e.src, l.lab),
l1 AS (SELECT v AS node, lab FROM (
         SELECT v, lab, row_number() OVER (PARTITION BY v
                ORDER BY c DESC, lab ASC) AS rn FROM c1) WHERE rn = 1),
c2 AS (SELECT e.src AS v, l.lab, CAST(count(*) AS BIGINT) AS c
       FROM e JOIN l1 l ON l.node = e.dst GROUP BY e.src, l.lab),
l2 AS (SELECT v AS node, lab FROM (
         SELECT v, lab, row_number() OVER (PARTITION BY v
                ORDER BY c DESC, lab ASC) AS rn FROM c2) WHERE rn = 1),
c3 AS (SELECT e.src AS v, l.lab, CAST(count(*) AS BIGINT) AS c
       FROM e JOIN l2 l ON l.node = e.dst GROUP BY e.src, l.lab),
l3 AS (SELECT v AS node, lab FROM (
         SELECT v, lab, row_number() OVER (PARTITION BY v
                ORDER BY c DESC, lab ASC) AS rn FROM c3) WHERE rn = 1)
SELECT lab AS community, CAST(count(*) AS BIGINT) AS size,
       CAST(min(node) AS BIGINT) AS min_member
FROM l3 GROUP BY lab
ORDER BY size DESC, community
LIMIT 20
"""


@register("graph_label_propagation", LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = _strong_tie_edges(spark, sf_dir)
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(3):
        cnts = (
            e.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("v"), "lab")
            .agg(F.count("*").cast("long").alias("c"))
        )
        labels = (
            cnts.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("v").orderBy(F.col("c").desc(), F.col("lab").asc())
                ),
            )
            .where(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "lab")
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count("*").cast("long").alias("size"),
            F.min("node").cast("long").alias("min_member"),
        )
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# events_attribution_position — position-based (U-shaped, 40/20/40)
# multi-touch attribution, completing the attribution family
# (last-touch / linear / time-decay): within each purchase's 7-day
# touch window the FIRST touch earns 40%, the LAST 40%, and the
# middle touches split the remaining 20% evenly (1 touch -> 100%,
# 2 -> 50/50). Touch order is (ts, event_id) so ties are engine-
# identical; per-touch credit is quantized to 1e4 BIGINTs before the
# fold. Scale: same time-bounded user join as the siblings; the
# rank window partitions by purchase.
# ---------------------------------------------------------------------------

POSITION_ATTR_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id, user_id, ts, event_type
  FROM events WHERE event_type IN ('click', 'view')
),
joined AS (
  SELECT p.event_id AS purchase_id, p.value, t.event_type AS touch_type,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY t.ts, t.event_id) AS rn,
         count(*) OVER (PARTITION BY p.event_id) AS n_touches
  FROM p JOIN t
    ON p.user_id = t.user_id
   AND t.ts <= p.ts
   AND t.ts > p.ts - INTERVAL 7 DAY
),
credited AS (
  SELECT purchase_id, touch_type, rn, n_touches,
         CAST(round(value * 1e4 *
           CASE WHEN n_touches = 1 THEN 1.0
                WHEN rn = 1 OR rn = n_touches THEN
                     CASE WHEN n_touches = 2 THEN 0.5 ELSE 0.4 END
                ELSE 0.2 / (n_touches - 2) END) AS BIGINT) AS credit_q
  FROM joined
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_credited_touches,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(sum(CASE WHEN rn = n_touches THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       round(CAST(sum(credit_q) AS BIGINT) / 1e4, 4) AS total_credit
FROM credited
GROUP BY touch_type
ORDER BY touch_type
"""


@register("events_attribution_position", POSITION_ATTR_ORACLE)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    t = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("touch_ts") > F.col("purchase_ts") - F.expr("INTERVAL 7 DAY")),
    ).select(
        "purchase_id",
        "value",
        "touch_type",
        F.row_number()
        .over(W.partitionBy("purchase_id").orderBy("touch_ts", "t_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("purchase_id")).alias("n_touches"),
    )
    n = F.col("n_touches")
    weight = (
        F.when(n == 1, F.lit(1.0))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == n),
            F.when(n == 2, F.lit(0.5)).otherwise(F.lit(0.4)),
        )
        .otherwise(F.lit(0.2) / (n - 2))
    )
    credited = joined.select(
        "touch_type",
        "rn",
        "n_touches",
        F.round(F.col("value") * 1e4 * weight).cast("long").alias("credit_q"),
    )
    return (
        credited.groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_credited_touches"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_first"),
            F.sum(F.when(F.col("rn") == F.col("n_touches"), 1).otherwise(0))
            .cast("long")
            .alias("n_last"),
            F.round(F.sum("credit_q").cast("long") / 1e4, 4).alias("total_credit"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# graph_jaccard_link_prediction — neighbor-set Jaccard link scores
# over the strong-tie graph's two-hop non-edges: J(u,v) =
# |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the normalized complement to
# Adamic-Adar (which weights rare neighbors; Jaccard penalizes hub
# endpoints). Common counts and degrees are exact integers; top-20
# ordered by the cross-multiplied EXACT rational (common * other
# union vs) — no float comparisons anywhere in the ranking. Scale:
# identical candidate volume to graph_adamic_adar (support floor =
# hot-node guard).
# ---------------------------------------------------------------------------

JACCARD_LINK_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst FROM pairs WHERE sup >= 2),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
cand AS (
  SELECT e1.src AS id_a, e2.dst AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src < e2.dst
  GROUP BY 1, 2
),
nonedge AS (
  SELECT c.id_a, c.id_b, c.common
  FROM cand c LEFT JOIN e ON e.src = c.id_a AND e.dst = c.id_b
  WHERE e.src IS NULL
),
scored AS (
  SELECT n.id_a, n.id_b, n.common,
         da.d + db.d - n.common AS un
  FROM nonedge n
  JOIN deg da ON da.node = n.id_a
  JOIN deg db ON db.node = n.id_b
)
SELECT id_a, id_b, common AS common_neighbors, un AS union_size,
       round(CAST(common AS DOUBLE) / un, 6) AS jaccard
FROM scored
ORDER BY common * 1000000 // un DESC, id_a, id_b
LIMIT 20
"""


@register("graph_jaccard_link_prediction", JACCARD_LINK_ORACLE)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _strong_tie_edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    e1 = e.select(F.col("src").alias("id_a"), F.col("dst").alias("z"))
    e2 = e.select(F.col("src").alias("z"), F.col("dst").alias("id_b"))
    cand = (
        e1.join(e2, "z")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    nonedge = cand.join(
        e, (cand.id_a == e.src) & (cand.id_b == e.dst), "left_anti"
    )
    da = deg.select(F.col("node").alias("id_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("node").alias("id_b"), F.col("d").alias("d_b"))
    scored = (
        nonedge.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            (F.col("d_a") + F.col("d_b") - F.col("common")).alias("un"),
        )
    )
    return (
        scored.orderBy(
            F.expr("common * 1000000 div un").desc(), "id_a", "id_b"
        )
        .limit(20)
        .select(
            "id_a",
            "id_b",
            F.col("common").alias("common_neighbors"),
            F.col("un").alias("union_size"),
            F.round(F.col("common").cast("double") / F.col("un"), 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# events_burstiness_memory — the Goh-Barabasi point-process pair per
# event type: burstiness B = (sigma - mu)/(sigma + mu) of inter-event
# times (B<0 regular, ~0 Poisson, >0 bursty) and the memory
# coefficient (Pearson correlation of consecutive gaps). Gaps are
# EXACT integer seconds from per-type ordered timestamps (epoch
# difference); all moments fold as BIGINT sums, both statistics are
# terminal expressions. Scale: one lag window partitioned by
# event_type (the sessionize key stance) + a per-type fold.
# ---------------------------------------------------------------------------

BURSTINESS_ORACLE = """
WITH e AS (
  SELECT event_type, ts,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pts,
         lag(ts, 2) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS ppts
  FROM events
),
gaps AS (
  SELECT event_type,
         CAST(date_diff('second', pts, ts) AS BIGINT) AS g,
         CAST(date_diff('second', ppts, pts) AS BIGINT) AS gp
  FROM e WHERE pts IS NOT NULL
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(g) AS BIGINT) AS s, CAST(sum(g * g) AS BIGINT) AS ss,
         CAST(count(gp) AS BIGINT) AS np,
         CAST(sum(CASE WHEN gp IS NOT NULL THEN g END) AS BIGINT) AS sx,
         CAST(sum(CASE WHEN gp IS NOT NULL THEN gp END) AS BIGINT) AS sy,
         CAST(sum(CASE WHEN gp IS NOT NULL THEN g * g END) AS BIGINT) AS sxx,
         CAST(sum(CASE WHEN gp IS NOT NULL THEN gp * gp END) AS BIGINT) AS syy,
         CAST(sum(g * gp) AS BIGINT) AS sxy
  FROM gaps GROUP BY event_type
)
SELECT event_type, n AS n_gaps,
       round(CAST(s AS DOUBLE) / n, 2) AS mean_gap_s,
       round((sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
                   / (CAST(n AS DOUBLE) * n)) - CAST(s AS DOUBLE) / n)
             / (sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
                     / (CAST(n AS DOUBLE) * n)) + CAST(s AS DOUBLE) / n), 6)
           AS burstiness,
       round((np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (np * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
           AS memory_coeff
FROM m
WHERE n > 2 AND np > 2
  AND np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
  AND np * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy > 0
ORDER BY event_type
"""


@register("events_burstiness_memory", BURSTINESS_ORACLE)
def events_burstiness_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events", columns=["event_id", "ts", "event_type"])
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    e = events.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("pts"),
        F.lag("ts", 2).over(w).alias("ppts"),
    )
    # NTZ-safe exact integer seconds: both timestamps share the same
    # (naive) frame, so the unix difference is frame-independent.
    gaps = e.where(F.col("pts").isNotNull()).select(
        "event_type",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.col("pts").cast("timestamp"))
        )
        .cast("long")
        .alias("g"),
        (
            F.unix_timestamp(F.col("pts").cast("timestamp"))
            - F.unix_timestamp(F.col("ppts").cast("timestamp"))
        )
        .cast("long")
        .alias("gp"),
    )
    has_p = F.col("gp").isNotNull()
    m = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("ss"),
        F.count("gp").cast("long").alias("np"),
        F.sum(F.when(has_p, F.col("g"))).cast("long").alias("sx"),
        F.sum(F.when(has_p, F.col("gp"))).cast("long").alias("sy"),
        F.sum(F.when(has_p, F.col("g") * F.col("g"))).cast("long").alias("sxx"),
        F.sum(F.when(has_p, F.col("gp") * F.col("gp"))).cast("long").alias("syy"),
        F.sum(F.col("g") * F.col("gp")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("n") * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s"))
        / (nd * F.col("n"))
    )
    npd = F.col("np").cast("double")
    covn = npd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = npd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = npd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return (
        m.where((F.col("n") > 2) & (F.col("np") > 2) & (vx > 0) & (vy > 0))
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            F.round(mu, 2).alias("mean_gap_s"),
            F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
            F.round(covn / F.sqrt(vx * vy), 6).alias("memory_coeff"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_funnel_time_to_convert — latency percentiles between funnel
# stages: for each user's FIRST signup -> FIRST purchase pair, the
# conversion delay in exact integer seconds; p50/p90 via the exact
# ceil-rank cut on the ordered distinct-delay walk (the house
# percentile shape — no raw-row ntile) plus conversion coverage. The
# time dimension the step-count funnel (events_funnel_conversion)
# deliberately ignores. Scale: one user rollup; the walk rides the
# distinct-delay relation.
# ---------------------------------------------------------------------------

FUNNEL_TIME_ORACLE = """
WITH su AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
pu AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
conv AS (
  SELECT s.user_id,
         CAST(date_diff('second', s.t0, p.t1) AS BIGINT) AS delay_s
  FROM su s JOIN pu p ON p.user_id = s.user_id AND p.t1 >= s.t0
),
base AS (SELECT CAST(count(*) AS BIGINT) AS n_signup FROM su),
dv AS (SELECT delay_s, CAST(count(*) AS BIGINT) AS c FROM conv GROUP BY delay_s),
walk AS (
  SELECT delay_s,
         CAST(sum(c) OVER (ORDER BY delay_s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM dv
)
SELECT b.n_signup,
       w.n AS n_converted,
       round(CAST(w.n AS DOUBLE) / b.n_signup, 6) AS conversion_rate,
       min(CASE WHEN 2 * w.cum >= w.n THEN w.delay_s END) AS p50_delay_s,
       min(CASE WHEN 10 * w.cum >= 9 * w.n THEN w.delay_s END) AS p90_delay_s
FROM walk w CROSS JOIN base b
GROUP BY b.n_signup, w.n
"""


@register("events_funnel_time_to_convert", FUNNEL_TIME_ORACLE)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events", columns=["ts", "user_id", "event_type"])
    su = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_user"))
        .agg(F.min("ts").alias("t1"))
    )
    conv = su.join(
        pu, (su.user_id == pu.p_user) & (pu.t1 >= su.t0)
    ).select(
        (
            F.unix_timestamp(F.col("t1").cast("timestamp"))
            - F.unix_timestamp(F.col("t0").cast("timestamp"))
        )
        .cast("long")
        .alias("delay_s")
    )
    base = su.agg(F.count("*").cast("long").alias("n_signup"))
    dv = conv.groupBy("delay_s").agg(F.count("*").cast("long").alias("c"))
    walk = dv.select(
        "delay_s",
        F.sum("c")
        .over(W.orderBy("delay_s").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum"),
        F.sum("c").over(W.partitionBy()).cast("long").alias("n"),
    )
    return (
        walk.crossJoin(F.broadcast(base))
        .groupBy("n_signup", "n")
        .agg(
            F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("delay_s"))).alias(
                "p50_delay_s"
            ),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("delay_s"))
            ).alias("p90_delay_s"),
        )
        .select(
            "n_signup",
            F.col("n").alias("n_converted"),
            F.round(F.col("n").cast("double") / F.col("n_signup"), 6).alias(
                "conversion_rate"
            ),
            "p50_delay_s",
            "p90_delay_s",
        )
    )
