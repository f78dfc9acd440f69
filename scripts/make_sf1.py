"""Generate a local sf1 fixture (10x sf0.1) for volume-tier correctness
runs — round-5 VERDICT #5: thresholds, DECIMAL overflow headroom, rsd
bands, and LSH occupancy only get interesting at volume, and the sandbox
ships no sf1.  /root/testdata is read-only, so the fixture lands in
.localdata/sf1 under the checkout (gitignored; ~170 MB).

Construction: deterministic 10x keyed replication of sf0.1 (no RNG — a
re-run is byte-identical), derived ONLY from the public fixture:

- fact tables (orders+lineitem, events, documents, embeddings) replicate
  with per-replica key offsets; order->lineitem keys offset together so
  referential integrity holds;
- dimensions (region nation customer supplier part) copy unchanged —
  fact density per dimension key grows 10x, which is exactly the
  stress (hot keys, wide groups) a volume run should add;
- documents: replica r>0 bijectively renames every token (suffix
  ``#r``).  A bijective rename preserves every within-replica Jaccard
  (near-dup structure scales linearly, like a corpus that grew 10x)
  while cross-replica token sets are disjoint (J=0) — so dedup outputs
  grow 10x instead of quadratically;
- embeddings: replica r rotates the 64 coordinates by 6*r positions —
  norms and within-replica cosines are EXACTLY preserved; cross-replica
  similarity decorrelates.  label keeps its cluster semantics.

Round 8 adds the DIM-GROWN tier (VERDICT r7 item #2): ``--grow-dims``
writes .localdata/sf1d where the DIMENSIONS grow 10x too — the fact-only
sf1 tier left q07/q212/q217/q222/q319/q373's true scaling term (the
customer/supplier/part key space) unmeasured beyond sf0.1.
Construction: 10 DISJOINT ISOMORPHIC copies of the relational universe —
replica r offsets every key (custkey +r*15000, suppkey +r*1000,
partkey +r*20000, nationkey +r*25, orderkey +r*150000) and facts attach
to THEIR replica's dims, so each replica reproduces sf0.1's exact join/
graph structure on fresh keys:
- the co-supply graph gets 10x nodes AND 10x edges with identical
  per-replica topology (triangles/wedges grow exactly 10x — the honest
  linear-growth yardstick for the graph operators);
- p_brand gets a '#r' suffix per replica -> 250-brand universe (the
  Apriori itemset space grows 10x);
- acctbal shifts by +r*100000 in BOTH customer and supplier, so q07's
  equality arms match within a replica exactly as at sf0.1 and NEVER
  across replicas (without the shift the OR-join output would grow
  x100 = replicas^2, a fixture artifact, not a workload property);
- nation grows with the replicas (n_nationkey +r*25, region stays 5
  rows with regionkey preserved) so customer/supplier nationkeys stay
  referentially intact.
Only the relational tables are emitted for sf1d (the dim-bound subset
touches nothing else); corpus tables come from the sf1 tier.

Round 9 adds the SKEWED-DIM variant (VERDICT r8 #5): ``--grow-dims
--skew`` writes .localdata/sf1ds — same 10 dim replicas and same ×10
fact volume as sf1d, but fact replicas 0-2 ALL attach to replica 0's
dimension keys: one mega dim-replica holds 30% of the facts (3× the
per-key fact density of sf0.1 — the mega-supplier/mega-part regime),
replicas 1-2's dims hold zero, the rest hold 10% each.  sf1d proves
the dim decade on UNIFORM replicas; this variant tests the graph
trio's fan-out bounds (wedges per part) against concentration at
EQUAL total volume, so t(sf1ds)/t(sf1d) isolates the pure skew cost:
wedge- and triangle-bound work scales with density² per replica —
7·1 + 1·3² = 16 units vs sf1d's 10 — so the honest cost model for the
graph operators is ~1.6×, and anything ≥4× means concentration is
hitting a super-wedge term the uniform tiers can't see.

Usage: python scripts/make_sf1.py [out_dir]              (default .localdata/sf1)
       python scripts/make_sf1.py --grow-dims [out_dir]  (default .localdata/sf1d)
       python scripts/make_sf1.py --grow-dims --skew [out_dir]
                                                         (default .localdata/sf1ds)
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"
REPLICAS = 10
DIM = 64


def main() -> None:
    argv = sys.argv[1:]
    grow_dims = "--grow-dims" in argv
    skew = "--skew" in argv
    if skew and not grow_dims:
        sys.exit("--skew requires --grow-dims (it skews the dim attachment)")
    argv = [a for a in argv if a not in ("--grow-dims", "--skew")]
    default_out = os.path.join(
        REPO, ".localdata", "sf1ds" if skew else ("sf1d" if grow_dims else "sf1")
    )
    out = argv[0] if argv else default_out
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE OR REPLACE VIEW reps AS SELECT unnest(range({REPLICAS})) AS r")

    def write(name: str, sql: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT count(*) FROM '{out}/{name}.parquet'"
        ).fetchone()[0]
        print(f"  {name}: {n} rows")

    if grow_dims:
        write("region", f"SELECT * FROM '{SRC}/region.parquet'")
        write(
            "nation",
            f"""
            SELECT CAST(n_nationkey + r * 25 AS INTEGER) AS n_nationkey,
                   CASE WHEN r = 0 THEN n_name ELSE n_name || '#' || r END AS n_name,
                   n_regionkey
            FROM '{SRC}/nation.parquet', reps
            """,
        )
        write(
            "customer",
            f"""
            SELECT c_custkey + r * 15000 AS c_custkey,
                   CASE WHEN r = 0 THEN c_name ELSE c_name || '#' || r END AS c_name,
                   CAST(c_nationkey + r * 25 AS INTEGER) AS c_nationkey,
                   c_acctbal + r * 100000 AS c_acctbal,
                   c_mktsegment
            FROM '{SRC}/customer.parquet', reps
            """,
        )
        write(
            "supplier",
            f"""
            SELECT s_suppkey + r * 1000 AS s_suppkey,
                   CASE WHEN r = 0 THEN s_name ELSE s_name || '#' || r END AS s_name,
                   CAST(s_nationkey + r * 25 AS INTEGER) AS s_nationkey,
                   s_acctbal + r * 100000 AS s_acctbal
            FROM '{SRC}/supplier.parquet', reps
            """,
        )
        write(
            "part",
            f"""
            SELECT p_partkey + r * 20000 AS p_partkey,
                   CASE WHEN r = 0 THEN p_name ELSE p_name || '#' || r END AS p_name,
                   CASE WHEN r = 0 THEN p_brand ELSE p_brand || '#' || r END AS p_brand,
                   p_type, p_size, p_retailprice
            FROM '{SRC}/part.parquet', reps
            """,
        )
        if skew:
            # fact replicas 0-2 all attach to replica 0's dim keys — but
            # identical fact copies would vanish in the graph operators'
            # DISTINCT (part, supplier) reduction, so sub-replicas 1-2
            # ROTATE the part attachment within replica 0's part space
            # (coprime-ish stride 7001 over the 20000-key range): every
            # rotated row is a NEW distinct (part, supplier) pair, so
            # replica 0's per-part supplier lists genuinely triple
            # (wedge potential ~9x) while suppliers/customers carry 3x
            # fact density — the mega-part/mega-supplier regime.
            # Key-space note (ADVICE r9, investigated round 10 and the
            # premise FALSIFIED): this fixture's keys are 0-BASED —
            # part keys measure exactly 0..19999 (duckdb min/max/count
            # on /root/testdata/sf0.1/part.parquet), as do orderkeys
            # (0..149999).  A bare `% 20000` is therefore a bijection
            # of the real key space with r=0 the identity; the
            # suggested 1-based form ((k-1+7001r)%20000)+1 is what
            # would orphan rows (it emits key 20000, absent from the
            # dim — measured 29 orphaned facts when tried).  Verified
            # after regeneration: 0 facts outside the dim space and
            # replica 0 (orderkey <= 149999) set-identical to sf1d's.
            part_expr = (
                "(CASE WHEN r < 3 THEN (l_partkey + 7001 * r) % 20000"
                " ELSE l_partkey + r * 20000 END)"
            )
            supp_expr = "(CASE WHEN r < 3 THEN l_suppkey ELSE l_suppkey + r * 1000 END)"
            cust_expr = "(CASE WHEN r < 3 THEN o_custkey ELSE o_custkey + r * 15000 END)"
        else:
            part_expr = "l_partkey + r * 20000"
            supp_expr = "l_suppkey + r * 1000"
            cust_expr = "o_custkey + r * 15000"
        write(
            "orders",
            f"""
            SELECT o_orderkey + r * 150000 AS o_orderkey,
                   {cust_expr} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{SRC}/orders.parquet', reps
            """,
        )
        write(
            "lineitem",
            f"""
            SELECT l_orderkey + r * 150000 AS l_orderkey,
                   {part_expr} AS l_partkey,
                   {supp_expr} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{SRC}/lineitem.parquet', reps
            """,
        )
        print(f"wrote {out}")
        return

    for dim_table in ("region", "nation", "customer", "supplier", "part"):
        write(dim_table, f"SELECT * FROM '{SRC}/{dim_table}.parquet'")

    write(
        "orders",
        f"""
        SELECT o_orderkey + r * 150000 AS o_orderkey,
               o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM '{SRC}/orders.parquet', reps
        """,
    )
    write(
        "lineitem",
        f"""
        SELECT l_orderkey + r * 150000 AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet', reps
        """,
    )
    write(
        "events",
        f"""
        SELECT event_id + r * 100000 AS event_id,
               ts, user_id, event_type, value, props
        FROM '{SRC}/events.parquet', reps
        """,
    )
    # bijective per-replica token rename: every whitespace token gets a
    # '#r' suffix (replica 0 keeps the original text), so within-replica
    # Jaccard/shingle structure is preserved exactly and cross-replica
    # overlap is zero.  n_chars is recomputed to keep the fixture
    # invariant n_chars == length(text).
    write(
        "documents",
        f"""
        SELECT doc_id + r * 5000 AS doc_id,
               CASE WHEN r = 0 THEN text
                    ELSE regexp_replace(text, '(\\S+)', '\\1#' || r, 'g')
               END AS text,
               lang, source,
               length(CASE WHEN r = 0 THEN text
                           ELSE regexp_replace(text, '(\\S+)', '\\1#' || r, 'g')
                      END) AS n_chars
        FROM '{SRC}/documents.parquet', reps
        """,
    )
    # coordinate rotation by 6*r: within-replica dot products (hence
    # cosines, norms, and every ANN/cluster structure) are exactly
    # preserved; cross-replica pairs decorrelate.
    write(
        "embeddings",
        f"""
        SELECT vec_id + r * 2000 AS vec_id,
               CAST(embedding[(6 * r) % {DIM} + 1 :] ||
                    embedding[: (6 * r) % {DIM}] AS FLOAT[]) AS embedding,
               label
        FROM '{SRC}/embeddings.parquet', reps
        """,
    )
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
