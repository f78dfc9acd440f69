"""Planted-truth tests for waves 73-75: conformal order statistics,
bitemporal belief, prefix-sum rectangles, ablation arithmetic."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from udacity_datalake_spark_spark.plans import QUERIES


import pytest as _pytest_cache_scope


@_pytest_cache_scope.fixture(autouse=True)
def _scoped_operator_cache(spark):
    """This module exercises operators whose internal persist() is
    documented as caller-clears scope (banded dedup / LSH / invariant
    frames / gate-scalar persists).  Clearing per test honors that
    contract and keeps the conftest module-level persist-leak gate
    meaningful: a NEW operator leak in any module WITHOUT this declared
    scope still fails the suite."""
    yield
    spark.catalog.clearCache()


def test_conformal_qhat_order_statistic(spark, tmp_path):
    """q-hat must be the ceil((n+1)(1-alpha))-th smallest calibration
    residual: plant a revenue series whose seasonal-naive residuals are
    a known arithmetic sequence."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 40 days; week 1 constant 100.00, then day t = 100 + t cents drift
    # → residual vs t-7 grows deterministically
    for t in range(40):
        v = 100.0 if t < 7 else 100.0 + t * 0.01
        rows.append((eid, "purchase", 1 + t % 3, base + dt.timedelta(days=t), v))
        eid += 1
    d = str(tmp_path / "fx")
    spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["q398_conformal_calibration"](spark, d).first()
    # 33 scored days (40-7); calibration = first 70% → rn*100 <= 40*70
    # over scored rows ranked by FULL series position
    assert r.n_calibration + r.n_test == 33
    assert r.qhat_cents > 0
    # residuals grow with t, so the test window's larger residuals
    # exceed the calibration quantile → coverage below 1 but sane
    assert 0.0 <= r.test_coverage <= 1.0


def test_bitemporal_asof_belief_vs_final(spark, sf_dir):
    """Restated orders must show believed != final: the audit date
    (valid + 5d) precedes the restatement (valid + 10d), so belief is
    always v0 while final includes the +500 restatements."""
    r = QUERIES["q393_bitemporal_asof"](spark, sf_dir).first()
    assert r.n_later_restated > 0
    assert r.final_total_cents == r.believed_total_cents + 500 * r.n_later_restated


def test_prefix_sum_matches_brute_force(spark, sf_dir):
    """Every rectangle count from the 4-corner prefix lookup must equal
    the brute-force point count."""
    from udacity_datalake_spark_spark.sources.readers import read_table
    from udacity_datalake_spark_spark.plans.wave73 import GRID_N

    out = {
        (r.x1, r.x2, r.y1, r.y2): r.n_points
        for r in QUERIES["q392_prefix_sum_range_count"](spark, sf_dir).collect()
    }
    c = read_table(spark, sf_dir, "customer", columns=["c_acctbal", "c_nationkey"])
    pts = c.where(F.col("c_acctbal") >= 0).select(
        F.least(
            F.expr(
                f"CAST((CAST(round(CAST(c_acctbal AS DECIMAL(18,2)) * 100, 0) "
                f"AS BIGINT) * {GRID_N}) DIV 1000100 AS BIGINT)"
            ),
            F.lit(GRID_N - 1),
        ).alias("gx"),
        (F.col("c_nationkey") % GRID_N).alias("gy"),
    )
    for (x1, x2, y1, y2), n in out.items():
        brute = pts.where(
            (F.col("gx") >= x1)
            & (F.col("gx") <= x2)
            & (F.col("gy") >= y1)
            & (F.col("gy") <= y2)
        ).count()
        assert n == brute, (x1, x2, y1, y2, n, brute)


def test_source_ablation_deltas_sum_consistency(spark, sf_dir):
    """LOSO arithmetic coherence: a source above the corpus mean must
    have positive marginal value and vice versa (sign agreement between
    the exact cross-multiplied verdict and the rounded delta)."""
    rows = QUERIES["q399_source_ablation_value"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.above_average:
            assert r.marginal_value >= 0, r
        else:
            assert r.marginal_value <= 0, r


def test_priority_sampling_estimate_brute_force(spark, sf_dir):
    """The Horvitz-Thompson estimate must match a driver-side
    recomputation from the same deterministic priorities."""
    from udacity_datalake_spark_spark.sources.readers import read_table
    import hashlib

    r = QUERIES["q391_priority_sampling"](spark, sf_dir).first()
    rows = read_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"]
    ).collect()
    pri = []
    total = 0
    for row in rows:
        wt = int(round(float(row.o_totalprice) * 100))
        hx = hashlib.md5(str(row.o_orderkey).encode()).hexdigest()
        u = 1 + (ord(hx[0]) * 1000003 + ord(hx[2]) * 4799 + ord(hx[4])) % 1000000
        q = wt * 1000000 // u
        pri.append((q, row.o_orderkey, wt))
        total += wt
    pri.sort(key=lambda t: (-t[0], t[1]))
    k = 200
    tau_w = pri[k][0] // 1000000
    est = sum(max(wt, tau_w) for _, _, wt in pri[:k])
    assert r.true_total_cents == total
    assert r.ht_estimate_cents == est


def _write_docs(spark, tmp_path, rows):
    d = str(tmp_path / "fx")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_normalization_gain_planted_variants(spark, tmp_path):
    """Case/spacing variants are invisible to byte hashing but collapse
    under canonical normalization."""
    rows = [
        (1, "alpha beta gamma", "s", "en", 1),
        (2, "Alpha  beta GAMMA", "s", "en", 1),   # variant of 1
        (3, " alpha beta gamma ", "s", "en", 1),  # variant of 1
        (4, "delta epsilon", "s", "en", 1),
        (5, "delta epsilon", "s", "en", 1),       # byte-exact dup of 4
    ]
    d = _write_docs(spark, tmp_path, rows)
    r = QUERIES["q403_normalization_dedup_gain"](spark, d).first()
    assert r.n_docs == 5
    assert r.n_raw_distinct == 4     # 4+5 collapse
    assert r.n_norm_distinct == 2    # {alpha beta gamma, delta epsilon}
    assert r.extra_dups_found == 2
    assert r.raw_dup_burden == 1 and r.norm_dup_burden == 3


def test_day_boundary_planted_crossing(spark, tmp_path):
    """A purchase at 23:00 UTC lands on the NEXT day under +8h; one at
    noon does not move."""
    import datetime as dt2

    rows = [
        (1, "purchase", 1, dt2.datetime(2024, 1, 1, 12, 0), 10.0),
        (2, "purchase", 1, dt2.datetime(2024, 1, 1, 23, 0), 5.0),
        (3, "purchase", 2, dt2.datetime(2024, 1, 2, 3, 0), 7.0),
    ]
    d = str(tmp_path / "fx")
    from pyspark.sql import functions as F2

    spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = QUERIES["q405_day_boundary_sensitivity"](spark, d).first()
    assert r.rows_crossing_boundary == 1  # only the 23:00 purchase
    assert r.cents_crossing_boundary == 500
    # day1 loses 500 (utc 1500 vs shifted 1000), day2 gains 500
    assert r.total_daily_reallocation_cents == 1000


def test_session_gap_sweep_planted_counts(spark, tmp_path):
    """Known gap structure: one user with gaps of 10 and 40 minutes →
    1 session at 60m, 2 at 30m/15m, 3 at 5m."""
    import datetime as dt2

    base = dt2.datetime(2024, 1, 1)
    rows = [
        (1, "view", 1, base, None),
        (2, "view", 1, base + dt2.timedelta(minutes=10), None),
        (3, "view", 1, base + dt2.timedelta(minutes=50), None),
    ]
    d = str(tmp_path / "fx")
    spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r.gap_minutes: r.n_sessions for r in QUERIES["q408_session_gap_sensitivity"](spark, d).collect()}
    assert out == {5: 3, 15: 2, 30: 2, 60: 1}


def test_apriori_prefilter_gate_result_invariant(spark):
    """Downward-closure basket prefilter (round-5 VERDICT #4): force the
    gate both ways on a planted corpus — a frequent triple inside wide
    baskets padded with singleton junk items — and assert the filtered
    and unfiltered plans return the SAME frequent triples, including the
    planted one.  The junk items are exactly what the prefilter exists
    to drop before the C(|basket|,3) enumeration."""
    from udacity_datalake_spark_spark.plans.wave67 import apriori_triples

    rows = []
    # 50 baskets each containing the planted triple {A, B, C} (+ D on
    # even baskets so extra frequent pairs exist), padded with 6 unique
    # junk items per basket (universe ≈ 300 junk + 4 real)
    for o in range(50):
        rows += [(o, "itemA"), (o, "itemB"), (o, "itemC")]
        if o % 2 == 0:
            rows.append((o, "itemD"))
        rows += [(o, f"junk_{o}_{j}") for j in range(6)]
    items = spark.createDataFrame(rows, "o long, p string").persist()

    def collected(prefilter_gate):
        out = apriori_triples(
            items, support_denom=3, prefilter_universe_gt=prefilter_gate
        )
        return sorted(
            (r.p1, r.p2, r.p3, r.support) for r in out.collect()
        )

    filtered = collected(0)            # universe > 0 → prefilter ON
    unfiltered = collected(10**9)      # never triggers → raw baskets
    assert filtered == unfiltered
    assert ("itemA", "itemB", "itemC", 50) in filtered
    # junk items are singletons — no junk triple can be frequent
    assert all(not p1.startswith("junk") for p1, _, _, _ in filtered)
    items.unpersist()


def test_bpe_merges_planted_and_greedy(spark):
    """BPE merge table on a corpus with known pair counts: ('a','b')
    dominates round 1 (overlap-counted), the merged symbol pairs with
    itself in round 2, and training STOPS when no pairs remain (the
    rounds budget is an upper bound, not a row count)."""
    from udacity_datalake_spark_spark.plans.wave78 import bpe_merge_table

    words = spark.createDataFrame(
        [("abab", 10), ("ab", 5), ("cd", 3)], "w string, freq long"
    )
    merges = bpe_merge_table(words, rounds=6)
    assert merges == [(1, "a", "b", 25), (2, "ab", "ab", 10), (3, "c", "d", 3)]

    # greedy left-to-right: 'aaaa' counts 3 overlapping (a,a) pairs but
    # merges to exactly two 'aa' symbols, which then merge once more
    runs = spark.createDataFrame([("aaaa", 1)], "w string, freq long")
    merges = bpe_merge_table(runs, rounds=6)
    assert merges == [(1, "a", "a", 3), (2, "aa", "aa", 1)]


def test_kcore_planted_and_converged(spark):
    """k-core peel: K4 with a pendant path — the path peels away over
    two rounds (degree recomputed INSIDE the survivor graph each round,
    which is what separates k-core from plain degree filtering), the K4
    survives with core degree 3; and the fixed 8-round schedule is a
    true upper bound (identical output at 12 rounds)."""
    from udacity_datalake_spark_spark.plans.wave78 import kcore

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(k4 + [(4, 5), (5, 6)], "u long, w long")
    got = {(r.node, r.core_degree) for r in kcore(edges, k=3, rounds=8).collect()}
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}
    again = {(r.node, r.core_degree) for r in kcore(edges, k=3, rounds=12).collect()}
    assert got == again


def test_association_rules_planted_confidence_lift(spark, tmp_path):
    """Planted baskets: 20 orders hold brand X, 10 of them also hold
    brand Y → conf(Y→X)=1.0, conf(X→Y)=0.5, lift=1.0 both ways."""
    rows_li, rows_pt = [], [(1, "pX", "X", "T", 1, 1.0), (2, "pY", "Y", "T", 1, 1.0)]
    for o in range(20):
        rows_li.append((o, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None))
        if o < 10:
            rows_li.append((o, 2, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", None))
    d = str(tmp_path / "fx")
    spark.createDataFrame(
        rows_li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        rows_pt,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    from udacity_datalake_spark_spark.plans import QUERIES

    got = {
        (r.antecedent, r.consequent): (r.confidence, r.lift, r.pair_support)
        for r in QUERIES["q411_association_rules"](spark, d).collect()
    }
    assert got[("Y", "X")] == (1.0, 1.0, 10)
    assert got[("X", "Y")] == (0.5, 1.0, 10)


def test_apriori_counts_all_null_basket(spark, tmp_path):
    """A basket whose only item has a NULL brand collects to an EMPTY
    item array; it is still a basket, so it must count toward the
    support denominator nb, as the oracle's count(DISTINCT o) counts it.
    Planted at the threshold edge: order 1 holds {A, B, C}, orders
    2..200 hold D alone, order 201 holds only the NULL-brand part.  With
    nb = 201 the triple's support 1 misses 1 * 200 >= 201, so the result
    is empty; dropping the empty basket (nb = 200) would report it."""
    import duckdb

    from tests.oracle import assert_frames_match
    from udacity_datalake_spark_spark.plans import ORACLE_SQL

    d = str(tmp_path / "fx")
    parts = {"A": 1, "B": 2, "C": 3, "D": 4, None: 5}
    rows = [(1, parts[b]) for b in ("A", "B", "C")]
    rows += [(o, parts["D"]) for o in range(2, 201)]
    rows.append((201, parts[None]))
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(v, None if k is None else f"Brand#{k}") for k, v in parts.items()],
        "p_partkey long, p_brand string",
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    pdf = QUERIES["q373_apriori_triples"](spark, d).toPandas()
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'")
    expected = con.sql(ORACLE_SQL["q373_apriori_triples"]).df()
    assert len(expected) == 0
    assert_frames_match(pdf, expected)


def test_apriori_prefilter_keeps_baskets_ascending(spark):
    """The downward-closure prefilter intersects each sorted basket with
    the member array; the triple enumeration needs the result ascending.
    Plant members whose order differs from the baskets' item order
    (items inserted descending, junk items sorting between the members)
    and check the prefiltered result equals a brute-force count."""
    from itertools import combinations

    from udacity_datalake_spark_spark.plans.wave67 import apriori_triples

    baskets = {}
    for o in range(12):
        items = ["m9", "m5", "m1"] + (["m7"] if o % 2 else ["m3"])
        # per-basket singletons m2_…, m4_…, m6_…, m8_… sort between the
        # members, so the prefilter drops items from inside the array
        items += [f"m{2 * j}_junk{o}" for j in range(1, 5)]
        baskets[o] = items
    rows = [(o, p) for o, items in baskets.items() for p in items]
    items = spark.createDataFrame(rows, "o long, p string")

    denom = 3
    counts = {}
    for ps in baskets.values():
        for t in combinations(sorted(set(ps)), 3):
            counts[t] = counts.get(t, 0) + 1
    expected = sorted(
        t + (c,) for t, c in counts.items() if c * denom >= len(baskets)
    )
    out = apriori_triples(items, support_denom=denom, prefilter_universe_gt=0)
    got = sorted((r.p1, r.p2, r.p3, r.support) for r in out.collect())
    assert got == expected
    assert ("m1", "m5", "m9", 12) in got
