"""Dim-grown sf1 tier (round-8 VERDICT #2): measure the DIM-BOUND
headliners at .localdata/sf1d, where the customer/supplier/part key
space grows 10x alongside the facts (scripts/make_sf1.py --grow-dims).

The fact-only sf1 tier proved every corpus/fact term, but left the
queries whose true scaling variable is the DIMENSION key space reading
slope ~= 1 by fixture construction (SCALE.md r7 notes this honestly):
q07 (customer x supplier OR-join), q212/q217/q319 (co-supply graph on
part/supplier keys), q373 (brand itemset universe), q222 (part
classification).  sf1d grows exactly that axis: 10 disjoint isomorphic
replicas of the relational universe, so the expected cost model is
LINEAR (each replica reproduces sf0.1's structure on fresh keys; wedge
joins, prefix sums, and itemset lattices each do 10x the sf0.1 work
with zero cross-replica interaction).

Built-in correctness invariant: isomorphic-replica construction makes
q212's (n_nodes, n_edges, n_triangles) at sf1d EXACTLY 10x the sf0.1
values — the scale-adaptive edge threshold (1.1x mean shared parts) is
distribution-invariant across identical replicas.  The run asserts
this before recording timings; a violation means the fixture (or the
edge rule's scale adaptivity) is broken and the slopes would be
measuring the wrong graph.

Output: BENCH_SF1D.json at the repo root; flag bar identical to the
other tiers (slope >= 20 on 10x data).

Round 9 adds ``--skew`` (VERDICT r8 #5): the graph trio (q212/q217/
q319) timed on .localdata/sf1ds — same x10 fact volume, but one mega
dim-replica holds 30% of the facts with genuinely tripled per-part
supplier lists (make_sf1.py --grow-dims --skew rotates part
attachment, so the density survives the operators' DISTINCT
(part, supplier) reduction).  t(sf1ds)/t(sf1d) at EQUAL volume
isolates pure concentration cost; the wedge model predicts ~1.6x
(7 uniform replicas + one 9x-wedge replica = 16 units vs sf1d's 10),
and the flag bar is 4.0 — past that, concentration is hitting a
super-wedge term the uniform tiers can't see.  Results land under
"skew_variant" in BENCH_SF1D.json.

Usage: python scripts/bench_sf1d.py          (a few minutes; idle host only)
       python scripts/bench_sf1d.py --skew   (needs .localdata/sf1ds AND sf1d)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session

SF01_DIR = "/root/testdata/sf0.1"
SF1D_DIR = os.environ.get("SPARK_GRAFT_SF1D_DIR", os.path.join(REPO, ".localdata", "sf1d"))
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
OUT = os.path.join(REPO, "BENCH_SF1D.json")

# The queries whose sf1 slope ~=1 was fixture semantics (SCALE.md
# r7 "slopes ~1 are fixture semantics" list + VERDICT r7 item #2).
DIM_BOUND = [
    "q07_or_join_decomposed",
    "q212_triangle_count",
    "q217_clustering_coefficient",
    "q222_abc_xyz_classification",
    "q319_link_prediction",
    "q373_apriori_triples",
]


def time_query(spark, name: str, sf_dir: str, repeats: int) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(best, 4)


GRAPH_TRIO = [
    "q212_triangle_count",
    "q217_clustering_coefficient",
    "q319_link_prediction",
]
SF1DS_DIR = os.environ.get("SPARK_GRAFT_SF1DS_DIR", os.path.join(REPO, ".localdata", "sf1ds"))
SKEW_FLAG_RATIO = 4.0


def run_skew_variant() -> None:
    """Time the graph trio on the skewed-dim decade vs the uniform one
    (equal total volume — the ratio is pure concentration cost) and
    record under BENCH_SF1D.json["skew_variant"].  Exit 1 when a ratio
    crosses SKEW_FLAG_RATIO (the verify-stage contract)."""
    for d in (SF1D_DIR, SF1DS_DIR):
        if not os.path.isdir(d):
            sys.exit(
                f"fixture missing at {d} — run scripts/make_sf1.py "
                "--grow-dims [--skew] first"
            )
    spark = get_session(app_name="udacity-datalake-spark-bench-sf1ds")
    # graph-shape context: how concentrated did the fixture actually get
    g_uni = QUERIES["q212_triangle_count"](spark, SF1D_DIR).collect()[0]
    spark.catalog.clearCache()
    g_skw = QUERIES["q212_triangle_count"](spark, SF1DS_DIR).collect()[0]
    spark.catalog.clearCache()
    shape = {
        "sf1d": {k: int(g_uni[k]) for k in ("n_nodes", "n_edges", "n_triangles")},
        "sf1ds": {k: int(g_skw[k]) for k in ("n_nodes", "n_edges", "n_triangles")},
    }
    print(f"graph shape: {shape}")

    for name in GRAPH_TRIO:  # warm: identical plan shapes at tiny SF
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    spark.catalog.clearCache()
    t_uni: dict[str, float] = {}
    t_skw: dict[str, float] = {}
    for name in GRAPH_TRIO:
        t_uni[name] = time_query(spark, name, SF1D_DIR, REPEATS)
        t_skw[name] = time_query(spark, name, SF1DS_DIR, REPEATS)
        ratio = round(t_skw[name] / t_uni[name], 2) if t_uni[name] > 0 else 0.0
        print(f"  {name}: sf1d {t_uni[name]}s  sf1ds {t_skw[name]}s  ratio {ratio}")
        sys.stdout.flush()
    ratios = {
        n: (round(t_skw[n] / t_uni[n], 2) if t_uni[n] > 0 else 0.0) for n in t_skw
    }
    flagged = [n for n, r in ratios.items() if r >= SKEW_FLAG_RATIO]
    variant = {
        "tier": "sf1ds (x10 facts, one mega dim-replica holds 30% with "
        "3x distinct (part,supplier) density)",
        "wedge_model_expected_ratio": 1.6,
        "flag_ratio": SKEW_FLAG_RATIO,
        "repeats": REPEATS,
        "graph_shape": shape,
        "queries_sf1d": t_uni,
        "queries_sf1ds": t_skw,
        "skew_cost_ratio": ratios,
        "flagged": flagged,
        "host": bench.host_stamp(spark),
    }
    try:
        with open(OUT) as f:
            record = json.load(f)
    except (OSError, ValueError):
        record = {"metric": "sf1d_dim_grown_tier"}
    record["skew_variant"] = variant
    with open(OUT, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "sf1ds_skew_variant",
                "skew_cost_ratio": ratios,
                "flagged": flagged,
            }
        )
    )
    spark.stop()
    sys.exit(1 if flagged else 0)


def main() -> None:
    if "--skew" in sys.argv:
        run_skew_variant()
        return
    if not os.path.isdir(SF1D_DIR):
        sys.exit(
            f"sf1d fixture missing at {SF1D_DIR} — "
            "run scripts/make_sf1.py --grow-dims first"
        )
    spark = get_session(app_name="udacity-datalake-spark-bench-sf1d")

    # isomorphism invariant before any timing
    g01 = QUERIES["q212_triangle_count"](spark, SF01_DIR).collect()[0]
    spark.catalog.clearCache()
    g1d = QUERIES["q212_triangle_count"](spark, SF1D_DIR).collect()[0]
    spark.catalog.clearCache()
    iso = {
        "sf01": {k: int(g01[k]) for k in ("n_nodes", "n_edges", "n_triangles")},
        "sf1d": {k: int(g1d[k]) for k in ("n_nodes", "n_edges", "n_triangles")},
    }
    for k in ("n_nodes", "n_edges", "n_triangles"):
        if int(g1d[k]) != 10 * int(g01[k]):
            sys.exit(
                f"isomorphism invariant violated: {k} sf1d={int(g1d[k])} "
                f"!= 10 * sf0.1={int(g01[k])} — fixture or edge rule broken"
            )
    print(f"isomorphism invariant OK: {iso}")

    # warm-up at the smallest SF fills codegen/JIT with identical shapes
    for name in DIM_BOUND:
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    spark.catalog.clearCache()

    t_sf01: dict[str, float] = {}
    t_sf1d: dict[str, float] = {}
    for name in DIM_BOUND:
        t_sf01[name] = time_query(spark, name, SF01_DIR, REPEATS)
        t_sf1d[name] = time_query(spark, name, SF1D_DIR, REPEATS)
        slope = round(t_sf1d[name] / t_sf01[name], 2) if t_sf01[name] > 0 else 0.0
        print(f"  {name}: sf0.1 {t_sf01[name]}s  sf1d {t_sf1d[name]}s  slope {slope}")
        sys.stdout.flush()

    slopes = {
        n: (round(t_sf1d[n] / t_sf01[n], 2) if t_sf01[n] > 0 else 0.0) for n in t_sf1d
    }
    flagged = [n for n, s in slopes.items() if s >= 20.0]
    record = {
        "metric": "sf1d_dim_grown_tier",
        "sf_base": 0.1,
        "tier": "sf1d (facts x10 AND dims x10, 10 isomorphic replicas)",
        "n_queries": len(t_sf1d),
        "repeats": REPEATS,
        "isomorphism_invariant_q212": iso,
        "total_sf1d_sec": round(sum(t_sf1d.values()), 4),
        "total_sf01_sec": round(sum(t_sf01.values()), 4),
        "host": bench.host_stamp(spark),
        "queries_sf01": t_sf01,
        "queries_sf1d": t_sf1d,
        "slopes": slopes,
        "flagged_ge20x": flagged,
    }
    with open(OUT, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "sf1d_tier_total",
                "value": record["total_sf1d_sec"],
                "unit": "sec",
                "n_queries": len(t_sf1d),
                "flagged_ge20x": flagged,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
