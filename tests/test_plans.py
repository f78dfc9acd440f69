"""Plan-shape assertions: the 100 TB guarantees are properties of the
physical plan, not the result values — filters reach the parquet scan,
dim joins broadcast, nothing nested-loops, and no hot-path query crosses
into a Python worker."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_datalake_spark_spark.explain import (
    explain_str,
    has_python_eval,
    join_nodes,
    scan_pushdown,
)
from udacity_datalake_spark_spark.operators.joins import left_join_or, range_band_join, salted_join
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.sources.readers import read_table
from scripts.snapshot_plans import build_shape


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    pushed = scan_pushdown(df)
    assert pushed and any("o_orderstatus" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = explain_str(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    # only the 2 projected columns are read, not the 11-column table
    assert "l_extendedprice" not in read_schema[0] and "l_quantity" in read_schema[0]


def test_dim_join_broadcasts(spark, sf_dir):
    q = QUERIES["q05_inner_join"](spark, sf_dir)
    nodes = join_nodes(q)
    assert "BroadcastHashJoin" in nodes, nodes
    assert "BroadcastNestedLoopJoin" not in nodes and "CartesianProduct" not in nodes


def test_or_join_rewrite_has_no_nested_loop(spark):
    left = spark.createDataFrame([(1, "a", "x")], ["lid", "lname", "lloc"])
    right = spark.createDataFrame([(10, "a", "y")], ["rid", "rname", "rloc"])
    out = left_join_or(
        left, right, F.col("lname") == F.col("rname"), F.col("lloc") == F.col("rloc")
    )
    nodes = join_nodes(out)
    assert nodes and "BroadcastNestedLoopJoin" not in nodes, nodes


def test_range_band_join_is_hash_join(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem", columns=["l_extendedprice"])
    bands = spark.createDataFrame(
        [("lo", 0.0, 50000.0), ("hi", 50000.0, 110000.0)], "name string, lo double, hi double"
    )
    out = range_band_join(li, bands, value_col="l_extendedprice")
    nodes = join_nodes(out)
    assert nodes and all(n in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") for n in nodes), nodes


def test_salted_join_is_hash_join(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_quantity"])
    o = read_table(spark, sf_dir, "orders", columns=["o_orderkey"]).select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    nodes = join_nodes(salted_join(li, o, key="l_orderkey"))
    assert nodes and "BroadcastNestedLoopJoin" not in nodes and "CartesianProduct" not in nodes


def test_relational_queries_stay_jvm_side(spark, sf_dir):
    """q01–q39: pure relational surface must never cross into Python.
    (q50/q51 are the *deliberate* pandas-UDF paths and are exempt.)"""
    for name, fn in QUERIES.items():
        num = name[1:].split("_", 1)[0]
        if not num.isdigit() or not int(num) < 40:
            continue
        assert not has_python_eval(fn(spark, sf_dir)), f"{name} plans a Python eval node"


def test_flagship_query_whole_stage_codegen(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # whole-stage codegen renders as "*(n)" in the executed-plan tree
    assert "*(" in plan, plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Tables bucketed identically on the join key must join without a
    shuffle — the Exchange is paid once at write time."""
    from udacity_datalake_spark_spark.sources.writers import write_bucketed_table

    li = read_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_quantity"])
    o = read_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"])
    write_bucketed_table(li, "li_b", str(tmp_path / "li"), ["l_orderkey"], n_buckets=8,
                         sort_by=["l_orderkey"])
    write_bucketed_table(o, "o_b", str(tmp_path / "o"), ["o_orderkey"], n_buckets=8,
                         sort_by=["o_orderkey"])
    joined = spark.table("li_b").join(
        spark.table("o_b").hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # same rows as the plain-path join
    assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew handling: one hot key holding ~90% of fact rows gets its
    partition split at runtime (OptimizeSkewedJoin) instead of a single
    straggler task. Thresholds lowered to make 'skewed' reachable at
    test scale; production keeps the 256 MB defaults."""
    fact = spark.range(0, 200_000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v"
    )
    dim = spark.range(0, 200_000).selectExpr("id AS k", "id * 2 AS w")
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in lowered}
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        joined = fact.join(dim, "k")
        # collect() drives THIS frame's QueryExecution (count()/write()
        # build separate ones), letting AQE finalize it with runtime stats
        n = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert n == 200_000
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_tpch_extra_plans_have_no_nested_loops(spark, sf_dir):
    """q84–q93 (TPC-H Q7/Q8/Q9/Q12/Q14/Q15/Q17/Q18/Q20/Q21 shapes): every
    join must plan as a hash/merge join — a BroadcastNestedLoopJoin or
    CartesianProduct here would be O(n·m) at 100 TB."""
    names = [n for n in QUERIES if n[1:3].isdigit() and 84 <= int(n[1:3]) <= 93]
    assert len(names) == 10
    for name in names:
        nodes = join_nodes(QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in nodes, f"{name}: {nodes}"
        assert "CartesianProduct" not in nodes, f"{name}: {nodes}"


def test_market_share_broadcasts_all_dims(spark, sf_dir):
    """q85's 8-table join: everything except lineitem ⋈ orders must
    broadcast (part, supplier+nation, customer+nation+region)."""
    nodes = join_nodes(QUERIES["q85_market_share"](spark, sf_dir))
    assert nodes.count("BroadcastHashJoin") >= 3, nodes


def test_repetition_metrics_has_no_exchange(spark, sf_dir):
    """q77 is per-document — its physical plan must be map-only (the
    array-side mode fold), with no shuffle and no Python eval."""
    df = QUERIES["q77_repetition_metrics"](spark, sf_dir)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan
    assert not has_python_eval(df)


def test_quantile_binning_has_no_range_shuffle(spark, sf_dir):
    """q113's whole point is avoiding the NTILE total-order exchange: the
    plan must contain no rangepartitioning and no global Sort of the
    fact table — only the 1-row boundary broadcast."""
    plan = explain_str(QUERIES["q113_quantile_binning"](spark, sf_dir))
    assert "rangepartitioning" not in plan, plan
    assert not has_python_eval(QUERIES["q113_quantile_binning"](spark, sf_dir))


def test_semijoin_reduction_prefilters_fact_side(spark, sf_dir):
    """q114: the broadcast bucket prefilter must (a) plan every join as a
    hash join with at least one broadcast, and (b) actually drop fact
    rows before the exact join (zero false negatives is the oracle's
    job; reduction is this test's)."""
    from udacity_datalake_spark_spark.plans import analytic_extra  # noqa: F401
    import pyspark.sql.functions as SF

    df = QUERIES["q114_semijoin_reduction"](spark, sf_dir)
    nodes = join_nodes(df)
    assert "BroadcastNestedLoopJoin" not in nodes and "CartesianProduct" not in nodes, nodes
    assert "BroadcastHashJoin" in nodes, nodes

    o = read_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"]).where(
        SF.col("o_orderpriority") == "1-URGENT"
    )
    buckets = o.select(
        (SF.xxhash64("o_orderkey").bitwiseAND(SF.lit(0xFFFF))).alias("__bucket")
    ).distinct()
    li = read_table(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    kept = (
        li.withColumn("__bucket", SF.xxhash64("l_orderkey").bitwiseAND(SF.lit(0xFFFF)))
        .join(SF.broadcast(buckets), "__bucket", "left_semi")
        .count()
    )
    total = li.count()
    assert kept < total, f"prefilter kept all {total} rows — no reduction"


def test_interval_islands_single_exchange(spark, sf_dir):
    """q116: both window passes and both aggregates cluster on l_suppkey
    (island_id is a refinement), so the whole query needs exactly ONE
    hash exchange."""
    from udacity_datalake_spark_spark.explain import exchange_count

    assert exchange_count(QUERIES["q116_interval_islands"](spark, sf_dir)) == 1


def test_rolling_anomaly_single_exchange_jvm_side(spark, sf_dir):
    """q119: one user_id exchange, sliding frame evaluated JVM-side."""
    from udacity_datalake_spark_spark.explain import exchange_count

    df = QUERIES["q119_rolling_anomaly"](spark, sf_dir)
    assert exchange_count(df) == 1
    assert not has_python_eval(df)


def test_fuzzy_join_is_blocked_hash_join(spark, sf_dir):
    """q117: the brand equi-component must keep the fuzzy join a hash
    join — a CartesianProduct would be the O(n²) global comparison the
    blocking exists to prevent."""
    nodes = join_nodes(QUERIES["q117_fuzzy_string_join"](spark, sf_dir))
    assert nodes, "no join planned"
    assert "CartesianProduct" not in nodes and "BroadcastNestedLoopJoin" not in nodes, nodes


def test_date_dim_enrich_broadcasts(spark, sf_dir):
    """q139: the generated calendar must broadcast — the fact side never
    shuffles for calendar enrichment."""
    df = QUERIES["q139_date_dim_enrich"](spark, sf_dir)
    nodes = join_nodes(df)
    assert nodes == ["BroadcastHashJoin"] or (
        "BroadcastHashJoin" in nodes and "SortMergeJoin" not in nodes
    ), nodes
    assert not has_python_eval(df)


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    """q140: eqNullSafe must plan as a hash join, not fall back to
    nested-loop (the OR-of-IS-NULL rewrite would)."""
    nodes = join_nodes(QUERIES["q140_null_safe_join"](spark, sf_dir))
    assert nodes, "no join planned"
    assert "BroadcastNestedLoopJoin" not in nodes and "CartesianProduct" not in nodes, nodes


def test_funnel_all_hash_joins(spark, sf_dir):
    """q126: every funnel stage joins on user_id — hash joins only."""
    df = QUERIES["q126_event_funnel"](spark, sf_dir)
    # the three single-row stage-count frames combine via broadcast
    # nested loop (1×1×1 rows — fine); the per-user joins must not
    all_nodes = join_nodes(df)
    per_user = [n for n in all_nodes if n in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")]
    assert len(per_user) >= 2, all_nodes
    assert "CartesianProduct" not in all_nodes, all_nodes
    assert not has_python_eval(df)


def test_trailing_hour_window_single_exchange(spark, sf_dir):
    """q135: one user_id exchange feeds the RANGE-frame window."""
    from udacity_datalake_spark_spark.explain import exchange_count

    df = QUERIES["q135_trailing_hour_window"](spark, sf_dir)
    assert exchange_count(df) == 1
    assert not has_python_eval(df)


def test_windowed_dedup_single_exchange(spark, sf_dir):
    """q136: one (user,type) exchange, lag evaluated JVM-side."""
    from udacity_datalake_spark_spark.explain import exchange_count

    df = QUERIES["q136_windowed_dedup"](spark, sf_dir)
    assert exchange_count(df) == 1
    assert not has_python_eval(df)


def test_snapshot_diff_no_nested_loop(spark, sf_dir):
    """q131: the full-outer reconciliation join must stay key-aligned
    (SMJ/shuffled-hash), never a nested loop."""
    nodes = join_nodes(QUERIES["q131_snapshot_diff"](spark, sf_dir))
    assert nodes, "no join planned"
    assert "BroadcastNestedLoopJoin" not in nodes and "CartesianProduct" not in nodes, nodes


# queries whose PLAN legitimately crosses into a Python worker: the
# deliberate pandas/Arrow paths (multimodal decode plumbing, BLAS
# matmul similarity, custom grouped logic).  Everything else on the
# 159-query surface must stay inside whole-stage codegen.
PANDAS_ALLOWLIST = {
    "q48_ann_bruteforce",
    "q49_ann_lsh",
    "q50_multimodal_features",
    "q51_grouped_pandas",
    "q56_embedding_near_dup",
    "q57_frame_sample",
    "q60_ann_ivf",
    "q103_embedding_clusters",
    "q148_media_phash_pairs",
    "q193_wav_decode",
    "q194_ppm_decode",
    "q215_heavy_hitter_bigrams",
    "q261_audio_frame_energy",
    "q262_image_quadrants",
    "q302_png_decode",
    "q317_bmp_decode",
    "q335_udtf_chunk_spans",
    "q353_qoi_decode",
}


def test_every_query_is_jvm_side_unless_allowlisted():
    """Engine-wide invariant: no registered query sneaks a Python eval
    node into its plan unless it is one of the declared pandas paths —
    a regression here silently turns a codegen pipeline into a
    serialize-to-Python bottleneck at 100 TB.

    Enforced through the plan-budget snapshot, not by rebuilding every
    plan (round 10: the old loop re-planned all 411 queries in ONE
    157-second test — 43% of this module's wall — duplicating exactly
    what test_registry_plan_budget_snapshot already checks per query):
    the per-query snapshot test asserts has_python_eval(df) ==
    snap['python_eval'] against the LIVE plan, and
    test_plan_snapshot_covers_registry asserts every registered query
    has a snapshot — so 'snapshot python_eval implies allowlisted' is
    the whole residual invariant, a pure JSON check."""
    offenders = [
        name
        for name, snap in sorted(_PLAN_SNAPSHOT.items())
        if name in QUERIES
        and snap.get("python_eval")
        and name not in PANDAS_ALLOWLIST
    ]
    assert not offenders, f"unexpected Python eval nodes in: {offenders}"


TOPK_QUERIES = [
    "q133_bm25_retrieval",
    "q143_pmi_cooccurrence",
    "q159_skew_profile",
    "q167_weighted_sample_wor",
    "q168_skipgram_counts",
]


def test_global_topk_plans_take_ordered(spark, sf_dir):
    """Every deterministic global top-k must reduce per-partition before
    any global step: the plan must contain TakeOrderedAndProject (bounded
    k-row heap per partition + merge) rather than funneling the full
    frame through a single-partition ranking window."""
    for name in TOPK_QUERIES:
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, (
            f"{name}: expected TakeOrderedAndProject in plan, got:\n{plan[:2000]}"
        )


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A partitioned fact joined to a selective dim on the partition
    column must plan a dynamicpruning subquery in the scan's
    PartitionFilters — at 100 TB this is what keeps a one-year probe of
    a decade-partitioned table from listing every partition.  The conf
    is enabled in session.py; this proves it actually fires."""
    from udacity_datalake_spark_spark.explain import explain_str
    from udacity_datalake_spark_spark.sources.writers import write_parquet

    path = str(tmp_path / "orders_by_year")
    o = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(o, path, partition_by=["o_year"])
    fact = spark.read.parquet(path)
    # DPP requires a SELECTIVE predicate on the dim side — a bare tiny
    # table doesn't qualify (no filter to derive pruning keys from)
    dim = spark.createDataFrame(
        [(1995, "probe"), (1996, "other")], "y int, tag string"
    ).where(F.col("tag") == "probe")
    j = fact.join(dim, fact.o_year == dim.y).groupBy("tag").count()
    plan = explain_str(j)
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_static_partition_pruning_limits_scan(spark, sf_dir, tmp_path):
    """A literal filter on the partition column must land in
    PartitionFilters (directory-level pruning), not PushedFilters."""
    from udacity_datalake_spark_spark.explain import explain_str
    from udacity_datalake_spark_spark.sources.writers import write_parquet

    path = str(tmp_path / "orders_by_year_static")
    o = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(o, path, partition_by=["o_year"])
    df = spark.read.parquet(path).where(F.col("o_year") == 1995)
    lines = [l for l in explain_str(df).splitlines() if "PartitionFilters" in l]
    assert lines and any("1995" in l for l in lines), lines


# Audited plan shapes for the report waves (34-44): (max hash exchanges,
# max SinglePartition exchanges, max BroadcastNestedLoopJoin nodes).
# The discipline these pin: each query reduces the fact table to a
# bounded frame with its FIRST fact-grain hash exchange; every further
# exchange operates on aggregated (grain-bounded) frames, every
# SinglePartition exchange feeds a bounded-frame window/aggregate, and
# every BNLJ is a crossJoin against a broadcast single-row stats frame.
# A regression that adds an exchange, a driver-sized window, or a real
# nested-loop join fails here, not on the cluster.
_WAVE34PLUS_PLAN_BUDGET = {
    "q275_return_rate_ci": (1, 0, 0),
    "q276_price_dispersion": (1, 0, 0),
    "q277_duplicate_orders": (1, 0, 0),
    # round 11: global_ntile's offsets/total moved from a driver collect
    # into the plan (window over the ≤n_buckets-row counts frame + a
    # broadcast 1-row total) — the static plan text now repeats the
    # bucketed subtree per consumer (AQE reuses the exchange at runtime)
    # and each ranking call carries bounded single-partition exchanges
    # and a 1-row-stats BNLJ, both within this table's documented
    # discipline; measured 3.98 s → 2.54 s at sf0.1.  Round 12: +2
    # single / +2 bnlj — the boundary sketch moved in-plan
    # (percentile_approx 1-row aggregate broadcast-cross-joined per
    # ntile call; q278 calls ntile twice), removing the last eager
    # driver action; runtime ReusedExchange dedup pinned by
    # test_ranking_family_runtime_exchange_reuse and
    # plans/r12/q278_segment_migration_runtime.txt (6 ReusedExchange);
    # paired A/B 1.13× on top of the r11 win
    "q278_segment_migration": (15, 6, 8),
    "q279_cohort_ltv_curve": (6, 0, 0),
    "q280_source_style_similarity": (2, 0, 2),
    "q281_reliability_ranking": (1, 0, 0),
    "q282_dead_stock": (3, 0, 0),
    "q283_ranker_agreement": (12, 1, 0),
    "q284_hash_uniformity": (5, 1, 2),
    "q285_adjusted_anomalies": (6, 1, 2),
    "q286_payback_period": (6, 0, 0),
    "q287_kpi_tree": (3, 1, 2),
    "q288_price_elasticity": (1, 0, 0),
    "q289_market_overlap": (9, 0, 0),
    "q290_qq_drift": (2, 2, 6),
    "q291_priority_equity": (2, 1, 2),
    "q292_attach_rates": (7, 0, 0),
    "q293_markov_entropy": (6, 0, 0),
    "q294_top_movers": (2, 0, 0),
    "q295_stickiness": (5, 0, 0),
    "q296_tukey_outliers": (2, 0, 0),
    "q297_effect_size": (0, 1, 0),
    "q298_basket_depth": (3, 1, 2),
    "q299_weekend_share": (1, 0, 0),
    "q300_corpus_scorecard": (2, 2, 2),
    "q301_sparse_cosine_topk": (10, 1, 9),
    # round 4: wave 44/45 additions.  4th element (when present) = allowed
    # range exchanges; 5th = python eval allowed (q302's mapInPandas
    # decode is the allowlisted Arrow path).
    "q302_png_decode": (0, 0, 0, 0, True),
    "q303_repetition_flags": (1, 0, 0),
    "q304_dominant_token_share": (3, 0, 0),
    "q305_feature_hashing": (2, 0, 0, 1),
    # wave 46 (round 4): BNLJ entries are crossJoins against broadcast
    # constant frames (4-row hash seeds, 1-row totals, 20-row depth
    # spine) — never data×data
    "q306_ngram_overlap_eval": (6, 0, 0),
    "q307_domain_caps": (1, 0, 0),
    "q308_countmin_sketch": (5, 1, 6, 1),
    "q309_bloom_decontamination": (6, 0, 4),
    "q310_rank_biased_overlap": (4, 3, 2),
    # wave 47 (round 4)
    "q311_exact_substring_spans": (4, 0, 0),
    "q312_distribution_drift": (2, 2, 2),
    "q313_quantization_audit": (2, 0, 0, 1),
    # wave 48 (round 4)
    "q314_contrastive_triplets": (3, 2, 0),
    "q315_hard_negative_mining": (4, 0, 0),
    "q316_mixture_allocator": (2, 1, 2),
    # wave 49 (round 4); q319's BNLJ nodes are broadcast stats
    # crossJoins inside cosupply_edges' threshold filter
    "q317_bmp_decode": (0, 0, 0, 0, True),
    "q318_admission_caps": (3, 0, 0),
    "q319_link_prediction": (7, 1, 6),
    # wave 50 (round 4)
    "q320_heldout_perplexity": (5, 2, 2),
    "q321_text_normalization": (1, 0, 0),
    "q322_k_anonymity_audit": (2, 0, 0),
    # wave 51 (round 4)
    "q323_retrieval_metrics": (8, 1, 0),
    "q324_crossmodal_profile": (1, 0, 0),
    # wave 52 (round 4); q326's BNLJ/single entries are the six
    # broadcast 1-row count frames the three-table report crossJoins
    "q325_incremental_lsh_probe": (2, 0, 0),
    "q326_erasure_audit": (0, 6, 6),
    "q327_canonical_selection": (1, 0, 0),
    # wave 53 (round 4)
    "q328_variant_ingestion": (2, 0, 0),
    "q329_session_trigrams": (2, 0, 0),
    "q330_weekday_seasonality": (1, 1, 0),
    # wave 54 (round 4); BNLJ entries are broadcast 1-row/20-row
    # constant frames (totals, replicate spine); range = output orderBy
    "q331_jackknife_folds": (1, 1, 2, 1),
    "q332_deterministic_bootstrap": (1, 0, 2, 1),
    "q333_feature_mutual_information": (5, 0, 0, 1),
    # wave 55 (round 4): extension APIs — custom DataSource scan is
    # JVM-side-framed (arrow batches from partition readers); the UDTF
    # is the declared python table-function path
    "q334_custom_source_rollup": (2, 0, 0, 1),
    "q335_udtf_chunk_spans": (0, 0, 0, 0, True),
    # wave 56 (round 4)
    "q336_preference_pairs": (2, 0, 0),
    "q337_importance_reweighting": (2, 1, 2, 1),
    # wave 57 (round 4)
    "q338_label_confusability": (3, 0, 0),
    "q339_nb_logodds_terms": (2, 1, 2),
    # wave 58 (round 4)
    "q340_dedup_savings_forecast": (2, 0, 0, 1),
    "q341_threshold_sweep": (6, 0, 2, 1),
    # wave 59 (round 4)
    "q342_leaderboard_churn": (9, 0, 0, 1),
    "q343_join_cardinality_estimate": (2, 2, 2),
    # wave 60 (round 4); q345's BNLJ/single entries are the broadcast
    # 1-row high-water-mark frame fanned into its three scans
    "q344_restatement_audit": (1, 0, 0, 1),
    "q345_freshness_monitor": (3, 3, 6, 1),
    # wave 61 (round 4)
    "q346_conversion_window": (2, 1, 0),
    "q347_embedding_covariance": (1, 0, 0, 1),
    # wave 62 (round 4)
    "q348_mergeable_quantiles": (4, 0, 0, 1),
    "q349_duplicate_payments": (2, 1, 0),
}


import pytest as _pytest


@_pytest.mark.parametrize("name", sorted(_WAVE34PLUS_PLAN_BUDGET))
def test_wave34plus_report_plan_budget(spark, sf_dir, name):
    """Waves 34-45 (report queries): exchange/join budget frozen from the
    round-3/4 plan audits — see _WAVE34PLUS_PLAN_BUDGET."""
    from udacity_datalake_spark_spark.explain import exchange_kinds

    df = QUERIES[name](spark, sf_dir)
    kinds = exchange_kinds(df)
    joins = join_nodes(df)
    budget = _WAVE34PLUS_PLAN_BUDGET[name]
    max_hash, max_single, max_bnlj = budget[:3]
    max_range = budget[3] if len(budget) > 3 else 0
    allow_python = budget[4] if len(budget) > 4 else False
    assert kinds.count("hash") <= max_hash, (name, kinds)
    assert kinds.count("single") <= max_single, (name, kinds)
    assert kinds.count("range") <= max_range, (name, kinds)
    assert joins.count("BroadcastNestedLoopJoin") <= max_bnlj, (name, joins)
    assert "CartesianProduct" not in joins, (name, joins)
    assert has_python_eval(df) == allow_python, name
    spark.catalog.clearCache()


_PLAN_SNAPSHOT_PATH = (
    __import__("pathlib").Path(__file__).parent / "fixtures" / "plan_budgets.json"
)
_PLAN_SNAPSHOT = __import__("json").loads(_PLAN_SNAPSHOT_PATH.read_text())


def _plan_over_budget(shape: dict, snap: dict) -> dict:
    """Dimensions of a measured ``shape`` (exchanges by kind, nested-loop
    joins, build jobs) above their snapshot budget, as ``{dimension:
    (got, budget)}``."""
    return {k: (v, snap[k]) for k, v in shape.items() if k != "python_eval" and v > snap[k]}


def test_plan_snapshot_covers_registry():
    """Every registered query must have a plan-budget snapshot entry —
    a new wave regenerates tests/fixtures/plan_budgets.json
    (scripts/snapshot_plans.py) as part of landing."""
    missing = sorted(set(QUERIES) - set(_PLAN_SNAPSHOT))
    assert not missing, f"run scripts/snapshot_plans.py — missing: {missing}"


@_pytest.mark.parametrize("name", sorted(QUERIES))
def test_registry_plan_budget_snapshot(spark, sf_dir, name):
    """Registry-wide plan freeze (round 4): every query's physical plan
    must stay within its checked-in snapshot — shuffle exchanges by
    partitioning kind, nested-loop/cartesian join nodes, the Spark jobs
    fired while it is built (its eager gate actions), and the
    python-eval flag (exact match: a query silently FALLING OFF an
    allowlisted Arrow path matters as much as one falling onto it).
    Regressions name the query and the dimension that grew.  Budgets are
    upper bounds, so an IMPROVEMENT (fewer exchanges or build jobs)
    passes; regenerate the snapshot (scripts/snapshot_plans.py) to
    ratchet it down.  The snapshot is taken at sf0.01; no query fires
    more build jobs at the sf0.001 test tier."""
    snap = _PLAN_SNAPSHOT.get(name)
    if snap is None:
        _pytest.skip("covered by test_plan_snapshot_covers_registry")
    _, shape = build_shape(spark, lambda: QUERIES[name](spark, sf_dir))
    spark.catalog.clearCache()
    over = _plan_over_budget(shape, snap)
    assert not over, (name, over)
    assert shape["python_eval"] == snap["python_eval"], name


def test_plan_budget_catches_planted_exchange(spark, sf_dir):
    """The plan-budget snapshot is the regression gate for plan shape and
    build cost, so it must see planted regressions: with broadcast joins
    disabled, q05's dim join becomes a sort-merge join with two more hash
    exchanges; a build that fires one eager action more than its budget
    grows ``jobs_at_build``.  The comparison names the grown dimension."""
    name = "q05_inner_join"
    snap = _PLAN_SNAPSHOT[name]

    def build(eager_action=False):
        df = QUERIES[name](spark, sf_dir)
        if eager_action:
            df.limit(1).collect()
        return df

    assert not _plan_over_budget(build_shape(spark, build)[1], snap)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        over = _plan_over_budget(build_shape(spark, build)[1], snap)
    finally:
        spark.conf.set(key, old)
    assert over == {"hash": (2, 0)}, over
    over = _plan_over_budget(build_shape(spark, lambda: build(eager_action=True))[1], snap)
    assert set(over) == {"jobs_at_build"}, over



def test_ranking_family_runtime_exchange_reuse(spark, sf_dir):
    """The static plans of ranking-family consumers repeat the bucketed /
    counts / bounds subtrees per reference (the in-plan boundary sketch
    and offsets both re-reference the input), and the checked-in plan
    budgets were widened on the claim that AQE's ReuseExchange dedups
    those repeats at runtime (round 11 VERDICT #5 / ADVICE).  Pin the
    claim: execute one multi-ntile consumer end to end and assert the
    FINAL adaptive plan actually contains ReusedExchange nodes, so a
    future regression that breaks subtree canonicalization (and silently
    re-executes the counts pass per consumer) fails here instead of
    surfacing as a slow cluster job."""
    df = QUERIES["q153_ltv_deciles"](spark, sf_dir)
    qe = df._jdf.queryExecution()
    df.collect()  # collect() executes THIS QueryExecution through AQE
    txt = qe.executedPlan().toString()
    assert "isFinalPlan=true" in txt
    assert "ReusedExchange" in txt, (
        "expected AQE to dedup the repeated bucketed/counts subtrees:\n"
        + txt[:3000]
    )
    spark.catalog.clearCache()
