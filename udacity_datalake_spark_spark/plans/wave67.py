"""Wave 67: time-series serving + mining + warehouse-theory ops —
M4 display downsampling, Apriori frequent triples, order-insensitive
table fingerprinting, and greedy cube-cell materialization benefit
(Harinarayan/Rajaraman/Ullman 1996).

Reference parity note: the reference (/root/reference/etl.py) has no
serving/mining surface; these extend the time-series family
(q119/q213/q250), basket mining (q209 pair lift), DQ fingerprints
(q44/q240), and the rollup/cube family (q19-q21/q196).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.plans.registry import query
from udacity_datalake_spark_spark.sources.readers import read_table
from udacity_datalake_spark_spark.scratch import spersist

M4_BUCKETS = 48  # "pixel columns" the chart renders


@query(
    "q372_m4_downsample",
    oracle=f"""
    WITH pts AS (
        SELECT epoch_us(ts) AS t,
               CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT) AS v,
               event_id
        FROM events WHERE event_type = 'purchase'
    ),
    bounds AS (SELECT min(t) AS t0, max(t) AS t1 FROM pts),
    binned AS (
        SELECT LEAST(CAST(floor((t - t0) * {M4_BUCKETS} / (t1 - t0 + 1))
                          AS BIGINT),
                     {M4_BUCKETS} - 1) AS b,
               t, v, event_id
        FROM pts CROSS JOIN bounds
    )
    ,ordered AS (
        SELECT b, v,
               row_number() OVER (PARTITION BY b ORDER BY t, event_id) AS ra,
               row_number() OVER (PARTITION BY b ORDER BY t DESC, event_id DESC)
                   AS rd
        FROM binned
    )
    SELECT CAST(b AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(v) AS BIGINT) AS v_min,
           CAST(max(v) AS BIGINT) AS v_max,
           CAST(max(CASE WHEN ra = 1 THEN v END) AS BIGINT) AS v_first,
           CAST(max(CASE WHEN rd = 1 THEN v END) AS BIGINT) AS v_last
    FROM ordered
    GROUP BY b
    """,
)
def q372_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 display downsampling (Jugel et al., VLDB 2014): the
    error-free way to render millions of points into W pixel columns —
    per time bucket keep min, max, first and last, which provably
    reproduces the exact line rendering.  The dashboard-serving op
    every metrics store runs on read.

    Scale shape: ONE aggregate over the fact with min/max/min_by/max_by
    (all algebraic, map-side combined); bucket assignment is integer
    arithmetic against broadcast bounds — no sort, no window."""
    e = read_table(
        spark, sf_dir, "events", columns=["event_id", "event_type", "ts", "value"]
    )
    pts = e.where(F.col("event_type") == "purchase").select(
        F.unix_micros("ts").alias("t"),
        F.round(F.col("value").cast("decimal(18,2)") * 100, 0)
        .cast("long")
        .alias("v"),
        "event_id",
    )
    bounds = pts.agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    binned = pts.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("t") - F.col("t0"))
                * M4_BUCKETS
                / (F.col("t1") - F.col("t0") + 1)
            ).cast("long"),
            F.lit(M4_BUCKETS - 1),
        ).alias("bucket"),
        "t",
        "v",
        "event_id",
    )
    order_key = F.struct(F.col("t"), F.col("event_id"))
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.min("v").cast("long").alias("v_min"),
        F.max("v").cast("long").alias("v_max"),
        F.min_by("v", order_key).cast("long").alias("v_first"),
        F.max_by("v", order_key).cast("long").alias("v_last"),
    )


#: relative support: an itemset is frequent in >= 1/SUPPORT_DENOM of
#: baskets (scale-free — the same rule discriminates at every SF)
SUPPORT_DENOM = 200


def apriori_triples(
    items: DataFrame,
    support_denom: int = SUPPORT_DENOM,
    prefilter_universe_gt: int = 1024,
) -> DataFrame:
    """One Apriori level (Agrawal & Srikant 1994) over a distinct
    ``(o, p)`` basket-item frame (a NULL ``p`` is never an item, but its
    basket still counts toward the support denominator): frequent 3-itemsets
    at relative support ≥ 1/``support_denom`` of baskets.  Candidate
    triples come ONLY from joining frequent pairs sharing their first
    item, pruned by the third-subset-frequent check; one counting pass
    confirms support.

    Scale shape (round 12, guide §2.3/§2.4): the per-basket item ARRAY
    is built once (one groupBy-``o`` exchange, persisted here — callers
    no longer need to persist ``items``) and BOTH enumeration passes
    read it map-side: ordered pairs and ordered triples are generated
    directly from each basket's sorted array (posexplode picks the
    first element, slice+explode yields strictly-later ones), so the
    former ``o``-keyed self-joins — two for the pair pass, three-way
    for the counting pass, each re-shuffling item rows on ``o`` and
    discarding the non-ascending half of every join product — are gone
    entirely; the only remaining exchanges are the basket build and the
    two support groupBys.  Enumeration volume is unchanged
    (Σ C(|basket|,2) and Σ C(|basket|,3) rows — Apriori's own bound),
    and the emitted combinations are exactly the joins' ascending
    tuples, so the support counts are identical.

    ``prefilter_universe_gt`` gates the downward-closure basket filter
    (see inline comment) — exposed so tests exercise both regimes."""
    baskets = (
        items.groupBy("o")
        .agg(F.sort_array(F.collect_list("p")).alias("__ps"))
        .transform(spersist)
    )
    # one bounded driver action for BOTH scalars the plan needs: basket
    # count (support threshold — exact) and item-universe size
    # (prefilter gate — approximate is fine for an order-of-magnitude
    # branch, and mixing a second EXACT distinct into the same agg would
    # plan an Expand that doubles the scan).  Running it over the
    # exploded persisted baskets materializes the cache in the same job.
    # explode_OUTER: a basket whose items are all NULL collects to an
    # empty array, and plain explode would drop it from ``nb`` — the
    # support denominator must count every basket, as the oracle does.
    st = (
        baskets.select("o", F.explode_outer("__ps").alias("p"))
        .agg(
            F.countDistinct("o").alias("nb"),
            F.approx_count_distinct("p").alias("np"),
        )
        .first()
    )
    n_baskets, n_items_universe = int(st.nb), int(st.np)

    def _asc_pairs(bs: DataFrame) -> DataFrame:
        """(p1, p2, __ps, __i) ascending in-basket pairs: p1 at 0-based
        position __i of the sorted array, p2 strictly later (1-based
        slice start __i + 2)."""
        return bs.select(
            "__ps", F.posexplode("__ps").alias("__i", "p1")
        ).select(
            "__ps",
            "__i",
            "p1",
            F.posexplode(
                F.slice("__ps", F.col("__i") + 2, F.size("__ps"))
            ).alias("__j", "p2"),
        )

    pairs = (
        _asc_pairs(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") * support_denom >= n_baskets)
        .transform(spersist)
    )
    x = pairs.select("p1", "p2")
    y = pairs.select(F.col("p1").alias("p1"), F.col("p2").alias("p3"))
    cand = (
        x.join(y, "p1")
        .where(F.col("p2") < F.col("p3"))
        .join(
            pairs.select(F.col("p1").alias("p2"), F.col("p2").alias("p3")),
            ["p2", "p3"],
            "left_semi",
        )
    )
    # counting pass: downward closure says a counted triple's members
    # all sit in frequent pairs, so baskets can drop every non-frequent
    # item BEFORE the C(|basket|,3) enumeration exists
    # (result-invariant).  The prefilter is GATED on the item-universe
    # size (a scalar the threshold action already fetched — no extra
    # job): on narrow universes (TPC-H's 25 brands) frequent-pair
    # members cover ~100% of items, so the filter is pure overhead,
    # while on wide-vocabulary baskets (retail SKUs, token sets) most
    # items are NOT in any frequent pair and the filter prunes the cubic
    # enumeration at the source — exactly the regime that matters at
    # 100 TB.  With array-shaped baskets the filter is a map-side
    # array_intersect against the broadcast member array — no explode,
    # no re-grouping exchange.  The result is re-sorted explicitly:
    # ``_asc_pairs`` needs ascending arrays, and array_intersect's output
    # order is an implementation detail, not a contract.
    if n_items_universe > prefilter_universe_gt:
        members = (
            pairs.select(F.col("p1").alias("p"))
            .union(pairs.select(F.col("p2").alias("p")))
            .distinct()
            .agg(F.sort_array(F.collect_list("p")).alias("__members"))
        )
        enum_baskets = (
            baskets.crossJoin(F.broadcast(members))
            .select(F.sort_array(F.array_intersect("__ps", "__members")).alias("__ps"))
        )
    else:
        enum_baskets = baskets
    # p2 sits at 1-based position __i + __j + 2 of the sorted array, so
    # the third element ranges over positions __i + __j + 3 onward
    tri = _asc_pairs(enum_baskets).select(
        "p1",
        "p2",
        F.explode(
            F.slice("__ps", F.col("__i") + F.col("__j") + 3, F.size("__ps"))
        ).alias("p3"),
    )
    support = (
        tri.join(F.broadcast(cand), ["p1", "p2", "p3"], "left_semi")
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") * support_denom >= n_baskets)
    )
    return support.select(
        "p1", "p2", "p3", F.col("sup").cast("long").alias("support")
    )


@query(
    "q373_apriori_triples",
    oracle=f"""
    WITH items AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS p
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS MATERIALIZED (SELECT count(DISTINCT o) AS n FROM items),
    pairs AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2, count(*) AS sup
        FROM items a JOIN items b ON b.o = a.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING count(*) * {SUPPORT_DENOM} >= (SELECT n FROM nb)
    ),
    cand AS (
        -- Apriori candidate generation: join frequent pairs sharing p1
        SELECT x.p1, x.p2, y.p2 AS p3
        FROM pairs x JOIN pairs y ON y.p1 = x.p1 AND x.p2 < y.p2
        WHERE EXISTS (SELECT 1 FROM pairs z
                      WHERE z.p1 = x.p2 AND z.p2 = y.p2)
    ),
    members AS MATERIALIZED (
        SELECT p1 AS p FROM pairs UNION SELECT p2 FROM pairs
    ),
    fitems AS MATERIALIZED (
        -- Apriori downward closure: a counted triple's members all sit
        -- in frequent pairs, so baskets drop every non-frequent brand
        -- BEFORE the C(|basket|,3) enumeration exists (result-invariant)
        SELECT o, p FROM items WHERE p IN (SELECT p FROM members)
    ),
    tri AS MATERIALIZED (
        -- counting pass: per-order triple enumeration is bounded by the
        -- FILTERED basket size, THEN filtered to candidates
        SELECT i1.p AS p1, i2.p AS p2, i3.p AS p3
        FROM fitems i1
        JOIN fitems i2 ON i2.o = i1.o AND i1.p < i2.p
        JOIN fitems i3 ON i3.o = i1.o AND i2.p < i3.p
    ),
    support AS (
        SELECT t.p1, t.p2, t.p3, count(*) AS sup
        FROM tri t
        JOIN cand c ON c.p1 = t.p1 AND c.p2 = t.p2 AND c.p3 = t.p3
        GROUP BY 1, 2, 3
        HAVING count(*) * {SUPPORT_DENOM} >= (SELECT n FROM nb)
    )
    SELECT p1, p2, p3, CAST(sup AS BIGINT) AS support
    FROM support
    """,
)
def q373_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets via one Apriori level (Agrawal & Srikant
    1994) on order BRAND baskets — the step past q209's pair lift:
    candidate triples come ONLY from joining frequent pairs that share
    their first item, pruned by the third-subset-frequent check, then
    one counting pass confirms support against a scale-free relative
    threshold (frequent = in >= 0.5% of baskets, integer
    cross-multiplied).  This candidate discipline is the whole point at
    scale: baskets never enumerate C(n,3) directly — and past the pair
    pass, baskets drop items outside any frequent pair when the item
    universe is wide (see ``apriori_triples``; on TPC-H's 25-brand
    universe the gate measures the filter as pure overhead and skips
    it, keeping the oracle's fitems CTE result-invariant).

    Scale shape (round 12): baskets materialize once as sorted item
    arrays (one groupBy exchange, persisted inside ``apriori_triples``);
    the pair pass and the confirmation pass both enumerate ascending
    combinations map-side from those arrays — no ``o``-keyed self-joins
    anywhere — and candidate generation runs on the (small)
    frequent-pair frame; both support counts group with map-side
    combine."""
    li = read_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    pt = read_table(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    # no persist on items (round 12): apriori_triples consumes it exactly
    # once now — the basket-array build is the operator's own persisted
    # frame and both enumeration passes read THAT
    items = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("p"))
        .distinct()
    )
    return apriori_triples(items, SUPPORT_DENOM)


@query(
    "q374_table_fingerprint",
    oracle="""
    WITH rowed AS (
        SELECT (ascii(substring(h, 1, 1)) * 1099511628211
                + ascii(substring(h, 3, 1)) * 16777619
                + ascii(substring(h, 5, 1)) * 47
                + ascii(substring(h, 7, 1))) AS mix
        FROM (
            SELECT md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                       CAST(o_custkey AS VARCHAR) || '|' ||
                       o_orderstatus || '|' ||
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                       CAST(o_orderdate AS VARCHAR) || '|' ||
                       o_orderpriority) AS h
            FROM orders
        )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(mix) % 2305843009213693951 AS BIGINT) AS content_sum,
           CAST(min(mix) AS BIGINT) AS content_min,
           CAST(max(mix) AS BIGINT) AS content_max
    FROM rowed
    """,
)
def q374_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint — the data-diff primitive
    (detect ANY changed/added/dropped row between two snapshots or two
    replication targets without sorting either side): each row
    canonicalizes to a delimited string, hashes through md5 (the
    cross-engine hash), mixes four digest bytes into an integer, and
    the table reduces to (count, Σ, min, max) of the mixes — a
    commutative digest any engine reproduces on any partitioning.

    Scale shape: per-row codegen hash + one algebraic aggregate; no
    shuffle beyond the single-row reduction.  At 100 TB the same
    expression runs per partition-grain for localized diffs.

    The content sum accumulates in DECIMAL(38,0) and reduces modulo the
    Mersenne prime 2^61-1 into a BIGINT, NOT a plain long sum: each mix
    is up to ~2.8e14, so a 64-bit sum overflows past ~33 k rows-worth
    of max-mix (the round-8 full-registry sweep caught exactly this —
    ANSI long-sum overflow at sf0.1 after a green sf0.01 oracle run;
    DuckDB hid it by summing in hugeint).  The decimal accumulator has
    ~3e23 rows of headroom and stays one algebraic aggregate; the
    modular reduction is the classic table-checksum move — exact
    integer arithmetic on both engines, change-detection collision
    probability ~2^-61, and a hash-stable int64 on the wire (a
    DECIMAL(38,0) output would cross engines as Decimal-vs-float64 and
    break the driver's value hash — tests/test_oracle_parity.py's
    dtype-drift guard caught that version)."""
    o = read_table(spark, sf_dir, "orders")
    canon = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            F.col("o_orderdate").cast("string"),
            F.col("o_orderpriority"),
        )
    )
    mix = (
        F.ascii(F.substring(canon, 1, 1)) * F.lit(1099511628211)
        + F.ascii(F.substring(canon, 3, 1)) * F.lit(16777619)
        + F.ascii(F.substring(canon, 5, 1)) * F.lit(47)
        + F.ascii(F.substring(canon, 7, 1))
    )
    return o.select(mix.alias("mix")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(F.col("mix").cast("decimal(38,0)")) % F.lit(2305843009213693951))
        .cast("long")
        .alias("content_sum"),
        F.min("mix").cast("long").alias("content_min"),
        F.max("mix").cast("long").alias("content_max"),
    )


#: synthetic workload weights for the 2-dim lattice's four views — each
#: view is queried this many times (fixed, both engines use the same)
CUBE_WORKLOAD = {"ns": 10, "n": 5, "s": 3, "root": 2}


@query(
    "q375_cube_materialization_benefit",
    oracle=f"""
    WITH sizes AS (
        SELECT
            (SELECT count(*) FROM (
                SELECT c_nationkey, c_mktsegment FROM customer GROUP BY 1, 2))
                AS sz_ns,
            (SELECT count(DISTINCT c_nationkey) FROM customer) AS sz_n,
            (SELECT count(DISTINCT c_mktsegment) FROM customer) AS sz_s,
            1 AS sz_root,
            (SELECT count(*) FROM customer) AS sz_base
    )
    SELECT view_name, CAST(n_cells AS BIGINT) AS n_cells,
           CAST(benefit AS BIGINT) AS benefit
    FROM (
        SELECT 'nation_segment' AS view_name, sz_ns AS n_cells,
               -- materializing (n,s) serves all four workload views at
               -- cost sz_ns instead of the base table
               ({CUBE_WORKLOAD["ns"]} + {CUBE_WORKLOAD["n"]}
                + {CUBE_WORKLOAD["s"]} + {CUBE_WORKLOAD["root"]})
               * (sz_base - sz_ns) AS benefit
        FROM sizes
        UNION ALL
        SELECT 'nation', sz_n,
               ({CUBE_WORKLOAD["n"]} + {CUBE_WORKLOAD["root"]})
               * (sz_base - sz_n)
        FROM sizes
        UNION ALL
        SELECT 'segment', sz_s,
               ({CUBE_WORKLOAD["s"]} + {CUBE_WORKLOAD["root"]})
               * (sz_base - sz_s)
        FROM sizes
        UNION ALL
        SELECT 'root', sz_root,
               {CUBE_WORKLOAD["root"]} * (sz_base - sz_root)
        FROM sizes
    )
    ORDER BY benefit DESC, view_name
    """,
)
def q375_cube_materialization_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy cube-view selection benefit (Harinarayan, Rajaraman &
    Ullman, SIGMOD 1996): for the customer (nation × segment) lattice,
    compute each view's materialization benefit under a fixed query
    workload — benefit(v) = Σ over workload queries answerable from v
    of (base-table cost − |v|).  The descending-benefit order IS the
    greedy algorithm's first pick; a warehouse's rollup-precompute
    planner runs exactly this before committing storage.

    Scale shape: view sizes are four bounded aggregates over one
    dimension-table scan; the benefit arithmetic is closed-form on a
    four-row frame."""
    c = read_table(spark, sf_dir, "customer", columns=["c_nationkey", "c_mktsegment"])
    sz = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("_"))
        .agg(F.count(F.lit(1)).alias("sz_ns"))
        .crossJoin(F.broadcast(c.agg(F.count_distinct("c_nationkey").alias("sz_n"))))
        .crossJoin(
            F.broadcast(c.agg(F.count_distinct("c_mktsegment").alias("sz_s")))
        )
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("sz_base"))))
    )
    w = CUBE_WORKLOAD
    views = [
        ("nation_segment", F.col("sz_ns"), w["ns"] + w["n"] + w["s"] + w["root"]),
        ("nation", F.col("sz_n"), w["n"] + w["root"]),
        ("segment", F.col("sz_s"), w["s"] + w["root"]),
        ("root", F.lit(1), w["root"]),
    ]
    frames = [
        sz.select(
            F.lit(name).alias("view_name"),
            cells.cast("long").alias("n_cells"),
            (F.lit(weight) * (F.col("sz_base") - cells)).cast("long").alias("benefit"),
        )
        for name, cells, weight in views
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy(F.col("benefit").desc(), "view_name")
