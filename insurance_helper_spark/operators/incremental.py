"""Incremental-pipeline operators: the semantic heart of the reference.

The reference's delta path (scripts/delta_download.py:167-211) is
  snapshot → anti-join against existing keys → act on new rows → append
and its state manager maintains completed/failed sets with upsert
semantics (storage/state.py:133-156). Re-expressed Spark-first:

- ``delta_new_rows``   — J2: the anti-join core (null-safe, key-driven).
- ``mark_completed``   — J1: completed-set union (idempotent).
- ``upsert_failed``    — J4: MERGE-style retry-count upsert expressed as
  union + window argmax + aggregation (pure DataFrame ops so it runs on
  plain parquet; on a Delta/Iceberg table this is literally MERGE INTO).
- ``resume_filter``    — C2: page-cursor resume as a predicate.

Scale: every step is a key-partitioned join or aggregation; the
"existing keys" side at 100 TB stays a table (never a driver-side set —
the reference's in-memory ``set[str]`` does not scale; SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def delta_new_rows(snapshot: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """J2: rows of ``snapshot`` whose ``key`` is absent from ``existing``.

    Exactly the reference's dedup semantics (key = document_url,
    delta_download.py:191). NULL keys are treated as new (the reference
    filters them before download instead — K4).
    """
    return snapshot.join(
        existing.select(F.col(key)).dropDuplicates([key]), on=key, how="left_anti"
    )


def mark_completed(completed: DataFrame, newly_done: DataFrame, key: str) -> DataFrame:
    """J1 maintenance: add newly completed keys to the completed set,
    idempotently (ref: state.py:133-140)."""
    return (
        completed.select(key)
        .unionByName(newly_done.select(key))
        .dropDuplicates([key])
    )


def upsert_failed(
    failed: DataFrame,
    new_failures: DataFrame,
    key: str = "url",
    error_col: str = "error",
    retries_col: str = "retries",
    ts_col: str = "last_attempt",
) -> DataFrame:
    """J4: MERGE-style upsert of failure records (ref: state.py:142-156).

    WHEN MATCHED → retries += 1, error/timestamp refreshed;
    WHEN NOT MATCHED → insert with retries = 1.

    Expressed as union + groupBy so it is a pure-DataFrame (and
    SQL-oracle-checkable) equivalent of Delta's MERGE INTO.
    ``new_failures`` carries (key, error, ts); ``failed`` carries
    (key, error, retries, ts).
    """
    old = failed.select(
        F.col(key),
        F.col(error_col).alias("__err"),
        F.col(retries_col).cast("long").alias("__retries"),
        F.col(ts_col).alias("__ts"),
    )
    new = new_failures.select(
        F.col(key),
        F.col(error_col).alias("__err"),
        F.lit(1).cast("long").alias("__retries"),
        F.col(ts_col).alias("__ts"),
    )
    merged = old.unionByName(new)
    # per key: retries = old retries + #new attempts (or just new count);
    # error/ts from the latest attempt.
    return (
        merged.groupBy(key)
        .agg(
            F.sum("__retries").alias(retries_col),
            F.max_by("__err", F.col("__ts")).alias(error_col),
            F.max("__ts").alias(ts_col),
        )
        .select(key, error_col, retries_col, ts_col)
    )


def clear_succeeded(failed: DataFrame, succeeded: DataFrame, key: str = "url") -> DataFrame:
    """J4 complement: drop failure records that later succeeded
    (ref: state.py:162-167) — an anti-join."""
    return failed.join(succeeded.select(key), on=key, how="left_anti")


def resume_filter(pages: DataFrame, last_completed_page: int, page_col: str = "page") -> Column | DataFrame:
    """C2: resume = skip pages ≤ the checkpointed cursor
    (ref: state.py:115-117, cli.py:76-77). Partition-pruning-friendly."""
    return pages.filter(F.col(page_col) > last_completed_page)


def aggregate_partials(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Map a batch to its mergeable per-key partial aggregate:
    (count, sum, min, max). One shuffle on the key; the partial row is
    O(1) per key regardless of batch size."""
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("p_count"),
        F.sum(value_col).alias("p_sum"),
        F.min(value_col).alias("p_min"),
        F.max(value_col).alias("p_max"),
    )


def merge_aggregate_partials(state: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Fold a new batch's partials into the maintained aggregate table.

    The batch twin of the streaming continuous-rollup derivation: the
    maintained table is (count, sum, min, max) per key — all MERGEABLE
    statistics (avg/variance derive downstream), so daily maintenance
    unions two |keys|-sized relations and re-reduces WITHOUT touching
    historical raw rows. Algebraically: merge(partial(A), partial(B)) ==
    partial(A ∪ B) — the catalog query's oracle checks exactly that
    identity against a direct aggregation of the union.

    Scale: both sides are already per-key partials; the merge is one
    co-partitioned shuffle on the key, independent of raw-data volume.
    """
    return (
        state.unionByName(batch)
        .groupBy(*keys)
        .agg(
            F.sum("p_count").alias("p_count"),
            F.sum("p_sum").alias("p_sum"),
            F.min("p_min").alias("p_min"),
            F.max("p_max").alias("p_max"),
        )
    )


def retract_aggregate_partials(
    state: DataFrame, deletes: DataFrame, keys: list[str]
) -> DataFrame:
    """Apply a DELETE batch to maintained (count, sum) partials —
    retractable incremental view maintenance for the commutative-GROUP
    aggregates (count/sum/avg invert; that is why retractable IVM
    engines maintain exactly these). ``deletes`` is the
    ``aggregate_partials`` of the rows being removed. Keys whose count
    reaches zero DROP from the view, mirroring a grouped aggregate
    over the shrunken base. min/max are intentionally ABSENT from the
    output: they are not retractable from partials (deleting the
    current extremum requires the surviving rows), so callers needing
    them re-derive on the remaining base — the monoid-vs-group
    distinction, surfaced in the schema rather than silently wrong.

    Scale: one co-partitioned key join of two partial relations;
    independent of raw-data volume, same as the insert-side merge.
    """
    d = deletes.select(
        *keys,
        F.col("p_count").alias("d_count"),
        F.col("p_sum").alias("d_sum"),
    )
    return (
        state.join(d, keys, "left")
        .select(
            *keys,
            (F.col("p_count") - F.coalesce(F.col("d_count"), F.lit(0))).alias("p_count"),
            (F.col("p_sum") - F.coalesce(F.col("d_sum"), F.lit(0))).alias("p_sum"),
        )
        .where(F.col("p_count") > 0)
    )
