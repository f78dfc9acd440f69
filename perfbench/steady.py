"""Steadiness series: run the benchmark once per seed on each workload and
report, per end-to-end metric, the median and the quartile spread
((Q3 − Q1) / median, quartiles as ``statistics.quantiles(values, n=4)``).

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE] [--note TEXT]

Run from the repository root.  Each run is a separate process, as the
benchmark's own runs are.  With ``--out`` the per-run values and the
spreads are written as JSON (appended as one more series if the file
exists), so later changes can see how far each bound sits from the
measured spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    ap.add_argument("--note", default="", help="what this series is, stored with it")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    series = {"seeds": [lo, hi], "run_seconds": bench["run_seconds"], "note": args.note,
              "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in range(lo, hi + 1):
            summary, result, wall = run_once(wl, seed, bench["run_seconds"])
            values = {k: v["value"] for k, v in result["metrics"].items()}
            runs.append({"seed": seed, "wall_s": wall, "correct": result["correct"],
                         "passes": summary["pass_walls_s"], **values,
                         "stamp": summary["stamp"]})
            print(json.dumps({"workload": wl, **runs[-1]}), flush=True)
        stats = {}
        for name, bound in bounds.items():
            vals = [r[name] for r in runs]
            stats[name] = {"median": statistics.median(vals), "spread": spread(vals),
                           "bound": bound, "spread_over_bound": spread(vals) / bound}
        series["workloads"][wl] = {"runs": runs, "stats": stats}
        print(json.dumps({"workload": wl, "stats": stats}), flush=True)

    if args.out:
        history = []
        if os.path.exists(args.out):
            with open(args.out) as f:
                history = json.load(f)
        history.append(series)
        with open(args.out, "w") as f:
            json.dump(history, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
