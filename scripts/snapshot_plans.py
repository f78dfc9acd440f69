"""Snapshot the physical-plan shape of EVERY registry query into
tests/fixtures/plan_budgets.json — the registry-wide generalization of
test_plans.py's hand-curated exchange budgets.

For each query the snapshot records, from the pre-execution physical plan
at sf0.01:

- ``hash`` / ``single`` / ``range`` / ``other``: distinct (non-reused)
  shuffle Exchange nodes by partitioning kind,
- ``bnlj`` / ``cartesian``: nested-loop join node counts,
- ``python_eval``: whether the plan crosses into a Python worker.

tests/test_plans.py::test_registry_plan_budget_snapshot asserts every
query stays WITHIN its snapshot (and exactly matches the python_eval
flag), so a regression that adds a shuffle, a single-partition window on
fact data, a nested-loop join, or a stray Python UDF names the query in
CI instead of surfacing as a slow cluster job.

Usage: python scripts/snapshot_plans.py [sf_dir]   (rewrites the JSON)
"""

from __future__ import annotations

import json
import os
import sys
import time

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
            shapes[name] = plan_shape(QUERIES[name](spark, sf_dir))
            print(f"  {name}: {shapes[name]} ({time.perf_counter()-t0:.2f}s)")
        finally:
            spark.catalog.clearCache()
    with open(OUT, "w") as fh:
        json.dump(shapes, fh, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(shapes)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
