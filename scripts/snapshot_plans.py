"""Snapshot the physical-plan shape of EVERY registry query into
tests/fixtures/plan_budgets.json — the registry-wide generalization of
test_plans.py's hand-curated exchange budgets.

For each query the snapshot records, from the pre-execution physical plan
at sf0.01:

- ``hash`` / ``single`` / ``range`` / ``other``: distinct (non-reused)
  shuffle Exchange nodes by partitioning kind,
- ``bnlj`` / ``cartesian``: nested-loop join node counts,
- ``python_eval``: whether the plan crosses into a Python worker,
- ``jobs_at_build``: Spark jobs fired while the query is BUILT (eager
  gate actions), counted under a job group set around the build.

tests/test_plans.py::test_registry_plan_budget_snapshot measures with
``build_shape`` and asserts every query stays WITHIN its snapshot (and
exactly matches the python_eval flag), so a regression that adds a
shuffle, a single-partition window on fact data, a nested-loop join, an
eager build action or a stray Python UDF names the query in CI instead
of surfacing as a slow cluster job.

Usage: python scripts/snapshot_plans.py [sf_dir]   (rewrites the JSON)
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from udacity_datalake_spark_spark.explain import (
    exchange_kinds,
    has_python_eval,
    join_nodes,
)
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session

OUT = os.path.join(REPO, "tests", "fixtures", "plan_budgets.json")


def plan_shape(df) -> dict:
    kinds = exchange_kinds(df)
    joins = join_nodes(df)
    return {
        "hash": kinds.count("hash"),
        "single": kinds.count("single"),
        "range": kinds.count("range"),
        "other": kinds.count("other"),
        "bnlj": joins.count("BroadcastNestedLoopJoin"),
        "cartesian": joins.count("CartesianProduct"),
        "python_eval": has_python_eval(df),
    }


def build_shape(spark, build) -> tuple:
    """Call the zero-argument ``build()`` under a job group of its own;
    return its frame and ``plan_shape`` plus ``jobs_at_build``."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "query build")
    try:
        df = build()
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return df, {**plan_shape(df), "jobs_at_build": jobs}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    subs = sys.argv[2:]
    spark = get_session(app_name="plan-snapshot")
    shapes: dict[str, dict] = {}
    if subs:  # partial refresh: keep existing entries, re-plan matches only
        with open(OUT) as fh:
            shapes = json.load(fh)
    names = [
        n for n in sorted(QUERIES) if not subs or any(s in n for s in subs)
    ]
    for name in names:
        t0 = time.perf_counter()
        try:
            _, shapes[name] = build_shape(spark, lambda: QUERIES[name](spark, sf_dir))
            print(f"  {name}: {shapes[name]} ({time.perf_counter()-t0:.2f}s)")
        finally:
            spark.catalog.clearCache()
    with open(OUT, "w") as fh:
        json.dump(shapes, fh, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(shapes)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
