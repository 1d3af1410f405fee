"""Plan-inspection helpers for tests: assert the physical plans we rely
on at scale actually materialize (pushdown, pruning, codegen, broadcast).

The engine keeps all data-dependent logic in UDFs and lets Catalyst own
the plan (SURVEY.md §4.3); these helpers make plan regressions
test-visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def has_pushed_filters(df: DataFrame, *needles: str) -> bool:
    """True if the parquet scan reports PushedFilters covering needles."""
    plan = physical_plan(df)
    if "PushedFilters: []" in plan or "PushedFilters" not in plan:
        return False
    pushed = plan.split("PushedFilters")[1][:500]
    return all(n in pushed for n in needles)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the scan actually reads (column-pruning check)."""
    plan = physical_plan(df)
    if "ReadSchema" not in plan:
        return []
    frag = plan.split("ReadSchema:")[1].splitlines()[0]
    return [p.split(":")[0].strip() for p in
            frag.split("struct<")[-1].rstrip(">, ").split(",") if p.strip()]


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen subtrees (`*(n)` markers)."""
    import re
    plan = physical_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids) or plan.count("WholeStageCodegen")


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)
