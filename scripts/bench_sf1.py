"""sf1 bench tier (round-7 VERDICT #1): run bench.py's FROZEN-42
headline set at the locally generated sf1 fixture (10× sf0.1,
scripts/make_sf1.py) and record the sf0.1→sf1 scaling slope per query —
the second measured decade of the 100 TB scaling argument.

Both tiers are timed in THIS run (same session, same machine window),
so the slope numerator and denominator share any host-throttle state;
the record is stamped with the host that produced it (bench.host_stamp).

Output: BENCH_SF1.json at the repo root —
  {queries_sf01, queries_sf1, slopes, flagged_ge20x, host, ...}
A healthy query's slope on 10× data is ≲10-with-overhead; ≥20 is
flagged and fails the run (exit 1 — the verify_all stage contract): a
window/LSH/pair term that is flat at sf0.1 but super-linear at sf1 is
exactly what this tier exists to catch.

Usage: python scripts/bench_sf1.py   (≈30-45 min; never run other
Spark jobs concurrently)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session

SF01_DIR = "/root/testdata/sf0.1"
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO, ".localdata", "sf1"))
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))


def main() -> None:
    if not os.path.isdir(SF1_DIR):
        sys.exit(f"sf1 fixture missing at {SF1_DIR} — run scripts/make_sf1.py first")
    spark = get_session(app_name="udacity-datalake-spark-bench-sf1")

    # warm-up: identical plan shapes at the smallest SF fill codegen/JIT
    for name in bench.HEADLINE:
        bench.min_time(lambda: QUERIES[name](spark, "/root/testdata/sf0.001"), 1)

    t_sf01: dict[str, float] = {}
    t_sf1: dict[str, float] = {}
    for name in bench.HEADLINE:
        t_sf01[name] = bench.min_time(lambda: QUERIES[name](spark, SF01_DIR), REPEATS)
        t_sf1[name] = bench.min_time(lambda: QUERIES[name](spark, SF1_DIR), REPEATS)
        slope = round(t_sf1[name] / t_sf01[name], 2) if t_sf01[name] > 0 else 0.0
        print(f"  {name}: sf0.1 {t_sf01[name]}s  sf1 {t_sf1[name]}s  slope {slope}")
        sys.stdout.flush()

    slopes = {
        n: (round(t_sf1[n] / t_sf01[n], 2) if t_sf01[n] > 0 else 0.0) for n in t_sf1
    }
    flagged = [n for n, s in slopes.items() if s >= 20.0]
    record = {
        "metric": "sf1_tier_frozen42",
        "sf_base": 0.1,
        "sf": 1.0,
        "n_queries": len(t_sf1),
        "repeats": REPEATS,
        "total_sf1_sec": round(sum(t_sf1.values()), 4),
        "total_sf01_sec": round(sum(t_sf01.values()), 4),
        "host": bench.host_stamp(spark),
        "queries_sf01": t_sf01,
        "queries_sf1": t_sf1,
        "slopes": slopes,
        "flagged_ge20x": flagged,
    }
    with open(os.path.join(REPO, "BENCH_SF1.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "sf1_tier_total",
                "value": record["total_sf1_sec"],
                "unit": "sec",
                "n_queries": len(t_sf1),
                "flagged_ge20x": flagged,
            }
        )
    )
    spark.stop()
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
