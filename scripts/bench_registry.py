"""Full-registry slope sweep: time EVERY registered query at sf0.01 and
sf0.1 and record the per-query decade slope.

Why this exists (round 8): the frozen-42 headline set answers "did the
representative queries drift round-over-round", and BENCH_LOCAL's
69-query full sweep covers the operator families' slowest members — but
~340 of the 411 registered plans had never been TIMED at two scales.
Correctness says they compute the right answer at sf0.01; only a slope
says none of them hides a candidate blowup that ignites on 10× data.
This sweep is the completeness twin of the headline bench: one pass,
min-of-2 per tier, ≥20× flags, written to BENCH_REGISTRY.json (committed
once per round — at ~30 min it is a round artifact, not a per-sweep one).

A ≥20× slope is first ADJUDICATED against the query's own output growth
(count at both tiers): a slope within the output growth is the data's
pair structure squaring, not a plan defect (the q56/q148 ruling), and
is recorded in flag_adjudication instead of failing the run.  Queries
that error and queries whose time outgrew their output fail the run
(exit 1 — the verify_all stage contract).

The record is stamped with the host that produced it, same as
bench.py; the only decision this artifact feeds is the slope flag, which
is an intra-session ratio and therefore host-mode-invariant to first
order.

Usage: python scripts/bench_registry.py            # all 411
       python scripts/bench_registry.py q21 q30    # substring subset
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import host_stamp  # noqa: E402
from udacity_datalake_spark_spark.plans import QUERIES  # noqa: E402
from udacity_datalake_spark_spark.session import get_session  # noqa: E402

SMALL = "/root/testdata/sf0.01"
BIG = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, "BENCH_REGISTRY.json")

# Digest-plan adjudication overrides (ADVICE r8): output-growth
# adjudication counts RESULT rows, but a 1-row aggregate/digest plan
# (q148's invariant frame, q374's corpus digest) always reports growth
# 1.0 — its internal volume is invisible to the count, so a noisy-host
# >=20x slope would fail verify_all with no adjudication path even
# when the work is proven output-bound elsewhere.  Each entry points a
# digest-shaped query at the committed evidence artifact that measured
# its INTERNAL volume decade; the override only applies when the
# query's output is actually digest-shaped (row count equal at both
# tiers), so a real output regression still fails.
DIGEST_OUTPUT_BOUND = {
    # raw hamming pair job measured directly: pairs x100.8 while
    # sec-per-Mpair FELL 20.9 -> 4.0 (run_q148_evidence, skew tier)
    "q148_media_phash_pairs": "SKEW_SF1.json:q148_output_bound",
}


def _time(spark, name: str, sf_dir: str, repeats: int = 2) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(best, 4)


def main() -> None:
    subs = sys.argv[1:]
    names = sorted(n for n in QUERIES if not subs or any(s in n for s in subs))
    spark = get_session(app_name="udacity-datalake-spark-bench-registry")

    small: dict[str, float] = {}
    big: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_sweep = time.perf_counter()
    for i, name in enumerate(names, 1):
        # A failing query must not kill the sweep (the first full run
        # died at query 311/411 on q374's ANSI long-sum overflow and
        # lost 25 minutes of timings): record the error, keep going.
        try:
            # small tier first: it doubles as the warm-up for the plan shape
            small[name] = _time(spark, name, SMALL)
            big[name] = _time(spark, name, BIG)
        except Exception as ex:
            errors[name] = str(ex).splitlines()[0][:200]
            small.pop(name, None)
            print(f"  [{i}/{len(names)}] {name}: ERROR — {errors[name]}")
            sys.stdout.flush()
            spark.catalog.clearCache()
            continue
        slope = round(big[name] / small[name], 2) if small[name] > 0 else 0.0
        print(
            f"  [{i}/{len(names)}] {name}: sf0.01 {small[name]}s  "
            f"sf0.1 {big[name]}s  slope {slope}"
        )
        sys.stdout.flush()

    slopes = {
        n: round(big[n] / small[n], 2) if small[n] > 0 else 0.0 for n in big
    }
    # Output-bound adjudication (the q56/q148 ruling, automated): no
    # plan outruns its own output.  For each >=20x slope, count the
    # query's output rows at both tiers; when the slope does NOT exceed
    # the output growth, the DATA's pair/match structure grew
    # super-linearly — not the plan's cost per result row — and the
    # query lands in flagged_output_bound with the measured counts.
    # Only slope > output growth (time outgrew output) stays a failure.
    candidates = sorted(n for n, s in slopes.items() if s >= 20.0)
    adjudication: dict[str, dict] = {}
    flagged: list[str] = []
    for n in candidates:
        try:
            rows_small = QUERIES[n](spark, SMALL).count()
            spark.catalog.clearCache()
            rows_big = QUERIES[n](spark, BIG).count()
            spark.catalog.clearCache()
        except Exception as ex:
            errors[n] = str(ex).splitlines()[0][:200]
            flagged.append(n)
            continue
        growth = rows_big / max(1, rows_small)
        adjudication[n] = {
            "slope": slopes[n],
            "rows_small": rows_small,
            "rows_big": rows_big,
            "output_growth": round(growth, 1),
            "output_bound": slopes[n] <= growth,
        }
        if slopes[n] <= growth:
            continue
        # digest-shaped plans (equal row count at both tiers) may carry
        # a committed internal-volume adjudication instead (ADVICE r8)
        if rows_small == rows_big and n in DIGEST_OUTPUT_BOUND:
            adjudication[n]["output_bound"] = True
            adjudication[n]["adjudicated_by"] = DIGEST_OUTPUT_BOUND[n]
            continue
        flagged.append(n)
    artifact = {
        "metric": "registry_slopes_sf001_sf01",
        "n_queries": len(names),
        "errors": errors,
        "subset": subs or None,
        "total_big_sec": round(sum(big.values()), 2),
        "total_small_sec": round(sum(small.values()), 2),
        "sweep_wall_sec": round(time.perf_counter() - t_sweep, 1),
        "flagged_ge20x": flagged,
        "flag_adjudication": adjudication,
        "slopes": slopes,
        "big_secs": big,
        "small_secs": small,
        "host": host_stamp(spark),
    }
    if not subs:
        with open(OUT, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=True)
        print(f"wrote {OUT}")
    # compact final line (full dicts live in the file, not stdout)
    print(
        json.dumps(
            {
                "metric": "registry_slopes_sf001_sf01",
                "n_queries": len(names),
                "total_big_sec": artifact["total_big_sec"],
                "flagged_ge20x": flagged,
                "n_errors": len(errors),
                "max_slope": max(slopes.values()) if slopes else 0.0,
            }
        )
    )
    spark.stop()
    # verify_all stage contract: a >=20x slope or a failing query is a
    # failure, not a note
    sys.exit(1 if (flagged or errors) else 0)


if __name__ == "__main__":
    main()
