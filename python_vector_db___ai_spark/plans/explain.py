"""Physical-plan inspection helpers.

The scale claims in this repo (pushdown, pruning, broadcast, no stray
shuffles) are asserted in tests via these helpers rather than trusted —
``.explain("formatted")`` as a unit-testable API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema clauses of every file scan — column-pruning witness."""
    return [line.split("ReadSchema:", 1)[1].strip()
            for line in formatted_plan(df).splitlines()
            if "ReadSchema:" in line]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters clauses of every file scan — pushdown witness."""
    return [line.split("PushedFilters:", 1)[1].strip()
            for line in formatted_plan(df).splitlines()
            if "PushedFilters:" in line]


def count_exchanges(df: DataFrame) -> int:
    """Number of distinct shuffle Exchange operators in the physical
    plan.  Counts the detail-section headers ``(N) Exchange`` so each
    operator is counted once (the formatted plan also repeats every
    node in the tree section)."""
    import re

    plan = formatted_plan(df)
    return sum(1 for line in plan.splitlines()
               if re.match(r"^\(\d+\) Exchange\s*$", line))


def has_broadcast_join(df: DataFrame) -> bool:
    return ("BroadcastHashJoin" in formatted_plan(df)
            or "BroadcastNestedLoopJoin" in formatted_plan(df))
