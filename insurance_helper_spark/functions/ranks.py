"""Two-phase bucketed prefix counts: one primitive for every rank, ECDF
and running-sum walk.

Ranks, quantiles, ECDFs and running sums all need, per row, "Σ count
over the rows of my group that sort before me". The direct form is a
cumulative window partitioned by the group key — but the group keys
are LOW-CARDINALITY (3 return flags, or no key at all), so every row
sorts inside a handful of window partitions: a 1–3-task sort at any
core count, and an impossibility at warehouse scale (guide §2.5).

``cum_counts`` computes the identical integers two-phase instead:

1. bucket the leading order column by a fixed, data-independent width
   (``floor(v / bucket_div)`` — deterministic, no sampling);
2. per (group, bucket) sums — one map-side-combinable aggregation —
   then one window over that tiny relation gives each bucket's
   exclusive prefix and the group total; it is broadcast back;
3. one window partitioned by (group, bucket) adds the within-bucket
   running sum on top of the bucket prefix.

The frame rule of step 3: both frames are RANGE frames with
current-row bounds over the order columns, so rows that tie on every
order column (peers) are treated alike —

* ``upto``   = Σ over (UNBOUNDED PRECEDING, CURRENT ROW): earlier rows
  plus every peer of the current row;
* ``before`` = ``upto`` − Σ over (CURRENT ROW, CURRENT ROW): strictly
  earlier rows only.

One construction therefore covers value-collapsed inputs (one row per
value, ``before`` is the exclusive prefix), raw inputs with ties (tie
size = ``upto − before``), ``double`` values, grouped inputs, and total
orders such as (metric, key), where a count of 1 per row makes
``upto`` the row number. Every quantity is an exact sum and only
associativity is used, so the result equals the single-window form
while parallelism becomes #groups × #buckets and no task sorts more
than one bucket's rows. Choose ``bucket_div`` from the value DOMAIN
(e.g. 10_000 cents = $100 buckets over a ~$1k–$110k price range →
~1.1k buckets) so the bucket relation stays tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cum_counts(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    cnt_cols: list[str],
    bucket_div: int,
) -> DataFrame:
    """Add ``{c}_before``, ``{c}_upto`` and ``{c}_total`` for each
    ``cnt_cols`` member ``c``: the sum of ``c`` over the rows of the same
    ``part_cols`` group that sort strictly before the row on
    ``order_cols``, the same plus the row's peers, and the group total.
    Buckets are ``floor(order_cols[0] / bucket_div)``.

    The bucket prefix joins back with a LEFT join: every row finds its
    bucket, and a later rollup of the result that needs no prefix
    column lets the optimizer drop the join, so chained walks (three
    ranks over one relation) do not re-run each other's prefixes. Rows
    whose group key or leading order value is null get null counts."""
    df = df.withColumn("__bkt", F.floor(F.col(order_cols[0]) / bucket_div))
    per_bkt = df.groupBy(*part_cols, "__bkt").agg(
        *[F.sum(c).alias(f"__bw_{c}") for c in cnt_cols]
    )
    w_bkt = Window.partitionBy(*part_cols).orderBy("__bkt")
    prefix = per_bkt.select(
        *part_cols,
        "__bkt",
        *[
            F.coalesce(
                F.sum(f"__bw_{c}").over(
                    w_bkt.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias(f"__pfx_{c}")
            for c in cnt_cols
        ],
        *[
            F.sum(f"__bw_{c}")
            .over(w_bkt.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias(f"{c}_total")
            for c in cnt_cols
        ],
    )
    w_in = Window.partitionBy(*part_cols, "__bkt").orderBy(*order_cols)
    out = df.join(F.broadcast(prefix), [*part_cols, "__bkt"], "left")
    for c in cnt_cols:
        upto = F.col(f"__pfx_{c}") + F.sum(c).over(
            w_in.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        peers = F.sum(c).over(w_in.rangeBetween(Window.currentRow, Window.currentRow))
        out = out.withColumn(f"{c}_upto", upto).withColumn(
            f"{c}_before", F.col(f"{c}_upto") - peers
        )
    return out.drop("__bkt", *[f"__pfx_{c}" for c in cnt_cols])


def with_next_value(df: DataFrame, val_col: str, bucket_div: int) -> DataFrame:
    """Add ``next_{val_col}`` = the next larger ``val_col`` of the
    relation (one row per value), null at the maximum — the whole-relation
    ``lead`` computed per bucket: a lead partitioned by the bucket, whose
    last row per bucket is patched with the next non-empty bucket's first
    value (a lead over the tiny per-bucket min relation)."""
    bkt = F.floor(F.col(val_col) / bucket_div)
    bnext = (
        df.groupBy(bkt.alias("__bkt"))
        .agg(F.min(val_col).alias("__first"))
        .select(
            "__bkt",
            F.lead("__first").over(Window.orderBy("__bkt")).alias("__next_first"),
        )
    )
    w_in = Window.partitionBy("__bkt").orderBy(val_col)
    return (
        df.withColumn("__bkt", bkt)
        .join(F.broadcast(bnext), "__bkt", "left")
        .withColumn(
            f"next_{val_col}",
            F.coalesce(F.lead(val_col).over(w_in), F.col("__next_first")),
        )
        .drop("__bkt", "__next_first")
    )
