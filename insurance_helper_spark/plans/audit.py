"""Physical-plan audit helpers.

The 100 TB design rules ("broadcast the dim", "push filters to the
scan", "stay inside whole-stage codegen", "don't shuffle twice") are
only real if the EXECUTED plan shows them. These helpers turn
`.explain()` eyeballing into assertions that tests can pin, so a
regression that silently de-broadcasts a join or un-pushes a filter
fails CI instead of doubling the shuffle at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges and
    AQE-reused ones)."""
    plan = executed_plan(df)
    return sum(
        line.lstrip(" +-:*()0123456789").startswith("Exchange")
        for line in plan.splitlines()
    )
