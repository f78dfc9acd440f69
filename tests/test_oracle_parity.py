"""The correctness gate, locally: every registered query vs its DuckDB
oracle at the test scale factor — exact, order-insensitive."""

from __future__ import annotations

import pytest

from udacity_datalake_spark_spark.plans import ORACLE_SQL, QUERIES

from tests.oracle import assert_frames_match, run_oracle

# Queries whose scores are continuous floats get a tolerance; everything
# else must match bit-exactly (decimal-exact aggregation design).
RTOL_OVERRIDES: dict[str, float] = {}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    try:
        df = QUERIES[name](spark, sf_dir)
        spark_pdf = df.toPandas()
    finally:
        # operator-internal persist() frames are scoped to one query
        # (the documented clearCache contract driver_sim/bench follow);
        # clear so the module-level persist-leak gate stays meaningful
        spark.catalog.clearCache()
    if name not in ORACLE_SQL:
        # rows-only contract for non-SQL-expressible ops
        assert len(spark_pdf) >= 0
        return
    oracle_pdf = run_oracle(ORACLE_SQL[name], sf_dir)
    assert_frames_match(spark_pdf, oracle_pdf, rtol=RTOL_OVERRIDES.get(name, 0.0))
    # The driver's value-hash does NOT coerce numeric dtypes the way
    # assert_frames_match does: a DuckDB HUGEINT sum arriving as float64
    # against a Spark int64 hash-diverges (5 vs 5.0) even when every value
    # is equal.  Guard the whole registry against that drift class: no
    # oracle column may come back float where the Spark twin is integral
    # (or vice versa).  Fix is CAST(sum(...) AS BIGINT) in the oracle SQL.
    for c in oracle_pdf.columns:
        sk, ok = spark_pdf[c].dtype.kind, oracle_pdf[c].dtype.kind
        if sk != ok and {sk, ok} & {"i", "u", "f"} and not ({sk, ok} <= {"i", "u"}):
            raise AssertionError(
                f"driver-hash dtype drift in {name!r} column {c!r}: "
                f"spark {spark_pdf[c].dtype} vs oracle {oracle_pdf[c].dtype} "
                f"(wrap the oracle expression in CAST(... AS BIGINT) or align types)"
            )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(e.oracle_sql()) <= set(e.queries())
