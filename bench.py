"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints up to three JSON lines: the sf0.01 scaling slopes, the per-query
detail, and LAST a compact summary
  {"metric": "headline_queries_total", "value": N, "unit": "sec",
   "n_queries": ..., "sf": ...}
The full record, stamped with the host that produced it, is mirrored to
BENCH_HEADLINE.json (BENCH_LOCAL.json for the full sweep).

Each query is executed to completion with the no-op sink (full pipeline
runs — scan, shuffle, aggregate — without driver-side collect overhead
distorting the number).  Wall time is the headline only: regressions
are gated structurally by tests/fixtures/plan_budgets.json (plan shape)
and the pinned build-time job counts in tests/test_llm_ops.py, and per
change by the paired A/B in perfbench/.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

from udacity_datalake_spark_spark import scratch
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session, physical_memory_bytes

# Headline policy (round 6): the driver captures only a 2000-char stdout
# TAIL and parses the LAST line.  Rounds 3 and 5 both broke parsing by
# letting the final line grow with the headliner count (51-entry slope
# dict in r3; 66-entry timings dict in r5).  The structural fix:
#   * HEADLINE is FROZEN at ~42 representative queries — every operator
#     family keeps its slowest member plus current watch items — so
#     round-over-round diffs stay like-for-like.
#   * The final stdout line is a COMPACT summary with NO per-query dict
#     (~120 chars, immune to headliner growth); per-query timings and
#     slopes are printed on their own EARLIER lines and mirrored to
#     BENCH_LOCAL.json on disk.
#   * tests/test_catalog.py::test_bench_headline_line_fits_tail pins the
#     rendered final line under 1800 chars.
# The wider 66-query sweep is preserved as HEADLINE_FULL and runs with
# SPARK_GRAFT_BENCH_FULL=1 (BENCH_LOCAL.json records which set ran).
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

HEADLINE_FULL = [
    # relational core
    "q01_pricing_summary",
    "q02_filter_project",
    "q05_inner_join",
    "q06_left_join_agg",
    "q07_or_join_decomposed",
    "q10_multi_hop_join",
    "q11_groupby_agg",
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
    "q44_fingerprint",
    "q77_repetition_metrics",
    "q52_tumbling_window",
    # training-data pipeline ops
    "q64_hash_split",
    "q65_sessionize",
    "q71_interval_join",
    "q72_dq_report",
    # curation / skew scale paths
    "q95_dedup_corpus",
    "q109_hot_key_skew_join",
    "q110_sequence_packing",
    # behavioral + scoring surface
    "q126_event_funnel",
    "q133_bm25_retrieval",
    "q134_pareto_frontier",
    "q137_weighted_median",
    "q143_pmi_cooccurrence",
    "q145_rolling_active_users",
    "q151_session_funnel",
    "q154_point_in_time_join",
    # round-2 additions: moments from exact sums, novelty scoring,
    # bucketed gap audit, two-phase ranking
    "q176_higher_moments",
    "q179_trigram_novelty",
    "q188_id_gap_audit",
    "q189_curriculum_phases",
    "q195_curation_pipeline",
    # round-2 wave 15-20 operator families: bounded-bin statistics,
    # wedge-join graph metrics, MG heavy hitters, grid spatial join,
    # two-phase prefix sum, budget selection, basket recommender
    "q210_ks_two_sample",
    "q212_triangle_count",
    "q215_heavy_hitter_bigrams",
    "q218_grid_spatial_join",
    "q222_abc_xyz_classification",
    "q227_token_budget_selection",
    "q229_item_neighbors",
    # waves 21-33: containment dedup, value-proportional sampling,
    # multimodal frame features, prefix-max lateness audit
    "q232_shingle_containment",
    "q246_monetary_unit_sampling",
    "q261_audio_frame_energy",
    "q271_late_event_rate",
    # q155 (sparse cosine pairs) is deliberately NOT a headline query:
    # historically its output was quadratic on the shared-vocabulary
    # corpus (~1M pairs at sf0.1); round 9's posting_cap=200 bounded it
    # (registry slope 38.2 -> 1.34), but the set stays frozen for
    # like-for-like series continuity.  q301 is the per-doc top-k
    # product shape of the same computation and IS benched:
    "q301_sparse_cosine_topk",
    # compressed-format (PNG) decode: zlib inflate + unfilter in mapInPandas
    "q302_png_decode",
    # round-4 waves 46-48: clipped n-gram eval, Bloom decontamination,
    # exact-substring span dedup, contrastive triplet generation
    "q306_ngram_overlap_eval",
    "q309_bloom_decontamination",
    "q311_exact_substring_spans",
    "q314_contrastive_triplets",
    # round-5 additions (waves 49-62): graph link prediction, held-out
    # LM eval, GDPR erasure audit, custom Python DataSource, mergeable
    # binned quantiles, deadline-bounded conversion attribution
    "q319_link_prediction",
    "q320_heldout_perplexity",
    "q326_erasure_audit",
    "q334_custom_source_rollup",
    "q348_mergeable_quantiles",
    "q346_conversion_window",
    # round-5 waves 63-68: governance regex scan, banded decay
    # attribution, Apriori mining, M4 serving, Heaps growth
    "q350_pii_scan",
    "q356_time_decay_attribution",
    "q363_heaps_law",
    "q372_m4_downsample",
    "q373_apriori_triples",
    # round-6 wave 78: tokenizer training, graph core, basket rules
    "q409_bpe_merge_training",
    "q410_kcore_decomposition",
    "q411_association_rules",
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
    An explicit sub-default ``min_runs`` (smoke/CI runs setting
    SPARK_GRAFT_BENCH_REPEATS=1/2) is a speed request — no extension."""
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
            cwd=os.path.dirname(os.path.abspath(__file__)),
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    headline = (
        HEADLINE_FULL
        if os.environ.get("SPARK_GRAFT_BENCH_FULL", "0") == "1"
        else HEADLINE
    )
    spark = get_session(app_name="udacity-datalake-spark-bench")
    # Warm-up: run every headline query once at the smallest SF.  The plan
    # shapes are identical, so this compiles the same whole-stage-codegen
    # classes and fills the JIT — the timed region below measures
    # steady-state data throughput, not first-call code generation.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in headline:
        if name in QUERIES:
            QUERIES[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    # Repeat each query and report the MIN: single-shot numbers on a
    # shared machine are noise-dominated (r01's bench recorded 45.8s for
    # a query that times at ~12s idle); the min of a few runs is the
    # stable estimate of what the plan actually costs.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))
    timings: dict[str, float] = {}
    for name in headline:
        if name not in QUERIES:
            continue
        # duration-scaled min: at least `repeats` runs, extended up to
        # MAX_REPEATS while the member has accumulated under
        # MIN_TIMED_WORK_SEC of timed work
        best, acc, runs = float("inf"), 0.0, 0
        while _needs_another_run(runs, acc, repeats):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = min(best, dt)
            acc += dt
            runs += 1
            # operator-internal persist() frames (dedup/similarity
            # multi-branch plans) are scoped to one query — drop them so
            # repeats and later queries don't read a warmed cache.  Every
            # package persist routes through scratch.spersist, so this
            # frees exactly the query's frames (outside the timed region)
            # instead of blowing the whole session cache.
            scratch.release()
        timings[name] = round(best, 4)

    # Scaling-slope evidence: time the same set once at sf0.01 and record
    # t(sf_main)/t(sf0.01) per query.  The "within 2×" bar measured at a
    # single SF can hide a quadratic candidate blowup (dedup/similarity
    # prefilters); the slope exposes it — data grows 10×, so a healthy
    # query's ratio is ≲10-with-overhead, and anything ≥20 is flagged.
    slopes: dict[str, float] = {}
    flagged: list[str] = []
    small_dir = "/root/testdata/sf0.01"
    if os.path.isdir(small_dir) and small_dir != sf_dir and os.environ.get(
        "SPARK_GRAFT_BENCH_SLOPES", "1"
    ) != "0":
        for name in timings:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, small_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                scratch.release()
            slopes[name] = round(timings[name] / best, 2) if best > 0 else 0.0
        flagged = [n for n, r in slopes.items() if r >= 20.0]

    total = round(sum(timings.values()), 4)
    # The driver captures the TAIL of stdout and parses the LAST JSON
    # line.  Rounds 3 AND 5 both produced "parsed": null by letting the
    # final line carry a per-query dict that outgrew the 2000-char tail
    # window.  Structural fix: slopes and the per-query timings dict each
    # go on their OWN earlier line (and into the mirror on disk); the
    # LAST line is a compact constant-size summary with no per-query
    # payload.  Nothing prints after it — Spark shutdown logs go to
    # stderr.  The per-query detail prints immediately before it so the
    # driver's tail parser sees per-query seconds; detail+final are
    # pinned inside the window by
    # tests/test_catalog.py::test_bench_headline_line_fits_tail.
    if slopes:
        print(
            json.dumps(
                {
                    "metric": "slope_vs_sf0.01",
                    "slopes": slopes,
                    "flagged_ge20x": flagged,
                }
            )
        )
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
    # stdout is truncated.  Mirror-target policy (round 7): the committed
    # BENCH_LOCAL.json is RESERVED for the 66-query full sweep
    # (SPARK_GRAFT_BENCH_FULL=1); frozen-42 / driver / smoke runs write
    # BENCH_HEADLINE.json instead, so a driver run can never clobber the
    # committed full-sweep record.  tests/test_catalog.py pins this policy.
    mirror_name = (
        "BENCH_LOCAL.json" if headline is HEADLINE_FULL else "BENCH_HEADLINE.json"
    )
    try:
        with open(os.path.join(os.path.dirname(__file__), mirror_name), "w") as f:
            json.dump(
                {
                    **summary,
                    "headline_set": "full" if headline is HEADLINE_FULL else "frozen42",
                    "host": host_stamp(spark),
                    "queries": timings,
                    "slopes": slopes,
                    "flagged_ge20x": flagged,
                },
                f,
                indent=1,
            )
            f.write("\n")
    except OSError:
        pass
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
