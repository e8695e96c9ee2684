"""Plan-inspection helpers that only tests use: optimized and final
(post-execution) plans, codegen-stage and substring counts, and the
scan node's PushedFilters / ReadSchema sections. The executed-plan
helpers the tools share live in ``insurance_helper_spark.plans.audit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from insurance_helper_spark.plans.audit import executed_plan


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def final_plan(df: DataFrame) -> str:
    """Execute the query, then return the AQE-final physical plan (the
    one with WholeStageCodegen `*(n)` markers and runtime join
    decisions). Use on small inputs only — it collects."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen stages in the final plan (counted
    via the `*(n)` markers; requires execution for AQE plans)."""
    plan = final_plan(df)
    import re

    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def count_in_plan(df: DataFrame, needle: str) -> int:
    return executed_plan(df).count(needle)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters: [...] section of the scan node ('' if none)."""
    plan = executed_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line:
            start = line.index("PushedFilters")
            return line[start:].split("]", 1)[0] + "]"
    return ""


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names in the parquet scan's ReadSchema (the pruning
    witness: a 2-column projection must not read 16 columns)."""
    plan = executed_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            spec = line.split("ReadSchema:", 1)[1]
            inner = spec.split("<", 1)[1].rsplit(">", 1)[0]
            depth = 0
            field = ""
            for ch in inner:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                if ch == "," and depth == 0:
                    cols.append(field.split(":", 1)[0].strip())
                    field = ""
                else:
                    field += ch
            if field.strip():
                cols.append(field.split(":", 1)[0].strip())
    return cols
