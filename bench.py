"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints two JSON lines: the per-query detail, and LAST a compact summary
  {"metric": "headline_queries_total", "value": N, "unit": "sec",
   "n_queries": ..., "sf": ...}
The full record, stamped with the host that produced it, is mirrored to
BENCH_HEADLINE.json by a run at the default sf0.1; a run at any other
scale factor writes no mirror.

Each query is executed to completion with the no-op sink (full pipeline
runs — scan, shuffle, aggregate — without driver-side collect overhead
distorting the number); ``min_time`` is that timed run, and every bench
script in scripts/ times through it.  Wall time is the headline only:
regressions are gated structurally by tests/fixtures/plan_budgets.json
(plan shape) and the pinned build-time job counts in
tests/test_llm_ops.py, per change by the paired A/B in perfbench/, and
per-query scaling slopes by scripts/bench_registry.py.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from udacity_datalake_spark_spark import scratch
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session, physical_memory_bytes

REPO = os.path.dirname(os.path.abspath(__file__))
#: scale factor of the default $SPARK_GRAFT_SF_DIR, the one the committed
#: bench mirror records
MIRROR_SF = 0.1

# Headline policy (round 6): the driver captures only a 2000-char stdout
# TAIL and parses the LAST line.  Rounds 3 and 5 both broke parsing by
# letting the final line grow with the headliner count (51-entry slope
# dict in r3; 66-entry timings dict in r5).  The structural fix:
#   * HEADLINE is FROZEN at ~42 representative queries — every operator
#     family keeps its slowest member plus current watch items — so
#     round-over-round diffs stay like-for-like.
#   * The final stdout line is a COMPACT summary with NO per-query dict
#     (~120 chars, immune to headliner growth); per-query timings are
#     printed on the line before it and mirrored to BENCH_HEADLINE.json.
#   * tests/test_catalog.py::test_bench_headline_line_fits_tail pins the
#     rendered final line under 1800 chars.
HEADLINE = [
    # relational core — flagship + join shapes
    "q01_pricing_summary",
    "q05_inner_join",
    "q06_left_join_agg",
    "q07_or_join_decomposed",
    "q10_multi_hop_join",
    "q61_local_supplier_volume",
    "q85_market_share",
    "q91_large_volume_customers",
    # window / join-kind / scale-path surface
    "q13_topk_per_group",
    "q34_asof_join",
    "q35_range_band_join",
    "q38_salted_join",
    # LLM-pipeline + event-time surface
    "q40_dedup_exact",
    "q77_repetition_metrics",
    "q65_sessionize",
    "q72_dq_report",
    # curation / skew scale paths
    "q95_dedup_corpus",
    "q109_hot_key_skew_join",
    "q110_sequence_packing",
    # behavioral + scoring surface
    "q126_event_funnel",
    "q133_bm25_retrieval",
    "q143_pmi_cooccurrence",
    "q154_point_in_time_join",
    # moments / novelty / ranking
    "q179_trigram_novelty",
    "q189_curriculum_phases",
    "q195_curation_pipeline",
    # stats / graph / heavy-hitter / spatial
    "q210_ks_two_sample",
    "q212_triangle_count",
    "q215_heavy_hitter_bigrams",
    "q218_grid_spatial_join",
    "q222_abc_xyz_classification",
    "q229_item_neighbors",
    # containment dedup / sampling / lateness
    "q232_shingle_containment",
    "q246_monetary_unit_sampling",
    "q271_late_event_rate",
    # similarity / multimodal / decontamination / span dedup
    "q301_sparse_cosine_topk",
    "q302_png_decode",
    "q309_bloom_decontamination",
    "q311_exact_substring_spans",
    # graph mining / text growth / frequent itemsets
    "q319_link_prediction",
    "q363_heaps_law",
    "q373_apriori_triples",
]

# Duration-scaled repeats (round 10): a min-of-5 of a ~0.2 s job carries
# run-to-run variance wider than its own cost differences — the per-run
# noise floor (scheduler round-trips, GC pauses) is a fixed ~0.05-0.1 s
# that dominates sub-second members.  Every member now accumulates at
# least MIN_TIMED_WORK_SEC of timed work (more draws → the min
# converges), capped at MAX_REPEATS so a pathological slow query can't
# stall the sweep.  Multi-second members still run exactly the base
# repeats, so the headline total's cost is unchanged where it matters.
MIN_TIMED_WORK_SEC = 2.0
MAX_REPEATS = 9
DEFAULT_REPEATS = 5


def _needs_another_run(runs: int, acc_sec: float, min_runs: int) -> bool:
    """One more timed execution?  Always up to ``min_runs``; beyond
    that, only while the accumulated timed work is under
    MIN_TIMED_WORK_SEC and the MAX_REPEATS cap allows (sub-second
    queries draw up to 9 samples; multi-second queries stop at base).
    A sub-default ``min_runs`` (warm-ups, the tier scripts' 2-3
    repeats, smoke runs setting SPARK_GRAFT_BENCH_REPEATS=1/2) runs
    exactly that many times — no extension."""
    if runs < min_runs:
        return True
    if min_runs < DEFAULT_REPEATS:
        return False
    return acc_sec < MIN_TIMED_WORK_SEC and runs < MAX_REPEATS


def host_stamp(spark) -> dict:
    """Which host produced a record: a wall-clock number taken on a
    different core count or memory size is not a comparison."""
    mem = physical_memory_bytes()
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=REPO,
            capture_output=True,
            text=True,
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem / 2**30, 1) if mem else None,
        "spark_version": spark.version,
        "git_sha": sha,
    }


def scale_factor(sf_dir: str) -> float | None:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else None


def write_mirror(sf_dir: str, name: str, record: dict, root: str = REPO) -> bool:
    """Mirror ``record`` to ``root/name`` for a run at ``MIRROR_SF`` only:
    the committed mirror is an sf0.1 record, and a smoke run at sf0.01
    must not replace it.  Returns whether it wrote."""
    if scale_factor(sf_dir) != MIRROR_SF:
        return False
    try:
        with open(os.path.join(root, name), "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    except OSError:
        return False
    return True


def min_time(build: Callable[[], DataFrame], runs: int) -> float:
    """Minimum wall seconds, rounded to 4 places, of building the frame
    ``build()`` returns and writing it through the no-op sink.

    Runs at least ``runs`` times; a ``runs`` of DEFAULT_REPEATS or more
    is extended by ``_needs_another_run``.  After each run, outside the
    timed region and also when the run raises, ``scratch.release()``
    unpersists the frames the run tracked (every package persist routes
    through ``scratch.spersist``), so neither the next run nor the next
    query reads a warmed cache."""
    best, acc, n = float("inf"), 0.0, 0
    while _needs_another_run(n, acc, runs):
        t0 = time.perf_counter()
        try:
            build().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        finally:
            scratch.release()
        best = min(best, dt)
        acc += dt
        n += 1
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)

    spark = get_session(app_name="udacity-datalake-spark-bench")
    # Warm-up: run every headline query once at the smallest SF.  The plan
    # shapes are identical, so this compiles the same whole-stage-codegen
    # classes and fills the JIT — the timed region below measures
    # steady-state data throughput, not first-call code generation.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        min_time(lambda: QUERIES[name](spark, warm_dir), 1)

    # Repeat each query and report the MIN: single-shot numbers on a
    # shared machine are noise-dominated (r01's bench recorded 45.8s for
    # a query that times at ~12s idle); the min of a few runs is the
    # stable estimate of what the plan actually costs.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))
    timings = {
        name: min_time(lambda: QUERIES[name](spark, sf_dir), repeats)
        for name in HEADLINE
    }

    total = round(sum(timings.values()), 4)
    # The driver captures the TAIL of stdout and parses the LAST JSON
    # line.  Rounds 3 AND 5 both produced "parsed": null by letting the
    # final line carry a per-query dict that outgrew the 2000-char tail
    # window.  Structural fix: the per-query timings dict goes on its OWN
    # earlier line (and into the mirror on disk); the LAST line is a
    # compact constant-size summary with no per-query payload.  Nothing
    # prints after it — Spark shutdown logs go to stderr.  The per-query
    # detail prints immediately before it so the driver's tail parser
    # sees per-query seconds; detail+final are pinned inside the window
    # by tests/test_catalog.py::test_bench_headline_line_fits_tail.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf,
    }
    # Mirror the full record to disk so per-query numbers survive even if
    # stdout is truncated.
    write_mirror(
        sf_dir,
        "BENCH_HEADLINE.json",
        {**summary, "host": host_stamp(spark), "queries": timings},
    )
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
