"""Table maintenance: compaction (the lakehouse OPTIMIZE rewrite).

At 100 TB a dominant operational failure mode of a parquet table is
small-file explosion from incremental appends. ``compact`` rewrites a
directory into N right-sized files, optionally range-clustered on a
sort key so footer min/max stats stay selective. The multi-key
(z-order) clustering argument is measured by the registered
``ops_zorder_locality_audit`` query, which computes its own curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compact(
    df: DataFrame,
    path: str,
    n_files: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Rewrite a relation as exactly ``n_files`` right-sized files,
    optionally range-clustered on ``sort_cols`` (single-key
    clustering). repartitionByRange gives globally ordered, evenly
    sized files; sortWithinPartitions tightens row-group stats."""
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").format(fmt).save(path)
