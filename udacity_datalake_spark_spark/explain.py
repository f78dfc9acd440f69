"""Physical-plan inspection helpers.

At 100 TB the physical plan IS the product: a filter that doesn't reach
the parquet scan re-reads terabytes; a dim join that misses broadcast
shuffles the fact table; a stray Python UDF breaks codegen around it.
These helpers expose the executed plan as a string so tests can assert
plan shape, not just result values (tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan string ``df.explain(mode)`` would print."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def scan_pushdown(df: DataFrame) -> list[str]:
    """The PushedFilters lines of every file scan in the plan."""
    return [
        line.strip()
        for line in explain_str(df).splitlines()
        if line.strip().startswith("PushedFilters")
    ]


def has_python_eval(df: DataFrame) -> bool:
    """True if the plan crosses into a Python worker (Batch/ArrowEvalPython,
    mapInPandas, applyInPandas …) — the slow path that breaks codegen."""
    plan = explain_str(df)
    return any(
        marker in plan
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    )


def join_nodes(df: DataFrame) -> list[str]:
    """Names of the join operators in the physical plan."""
    names = (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    )
    plan = explain_str(df)
    found: list[str] = []
    for line in plan.splitlines():
        for n in names:
            if n in line:
                found.append(n)
                break
    return found


def exchange_count(df: DataFrame) -> int:
    """Number of distinct (non-reused) shuffle Exchange nodes in the plan.

    The formatted explain prints each node twice (tree + detail section);
    count only the detail headers, which are unique per node.
    """
    import re

    plan = explain_str(df)
    return len(re.findall(r"^\(\d+\) Exchange(?!.*Reused)", plan, flags=re.MULTILINE))


def exchange_kinds(df: DataFrame) -> list[str]:
    """Partitioning kind of each distinct (non-reused) Exchange node:
    ``hash``, ``range``, ``single`` (SinglePartition) or ``other`` — the
    detail section pairs each ``(n) Exchange`` header with an
    ``Arguments: <partitioning>(…)`` line."""
    import re

    plan = explain_str(df)
    kinds: list[str] = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"^\(\d+\) Exchange(?!.*Reused)", line):
            continue
        for follow in lines[i + 1 : i + 6]:
            follow = follow.strip()
            if follow.startswith("Arguments:"):
                if "hashpartitioning" in follow:
                    kinds.append("hash")
                elif "rangepartitioning" in follow:
                    kinds.append("range")
                elif "SinglePartition" in follow:
                    kinds.append("single")
                else:
                    kinds.append("other")
                break
        else:
            kinds.append("other")
    return kinds
