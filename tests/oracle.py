"""Local replica of the driver's DuckDB-oracle comparison: row count +
column names + order-insensitive exact value equality."""

from __future__ import annotations

import numpy as np
import pandas as pd
import duckdb

from udacity_datalake_spark_spark.schemas import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    df = df[cols]
    if len(df) == 0:
        return df.reset_index(drop=True)
    order = np.lexsort([df[c].astype(str).to_numpy() for c in reversed(cols)])
    return df.iloc[order].reset_index(drop=True)


def assert_frames_match(
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    rtol: float = 0.0,
    atol: float = 0.0,
) -> None:
    """rtol/atol apply to float columns only; the default (0, 0) is the
    driver gate's EXACT equality.  The sf1 volume tier passes a bounded
    (rtol=1e-9, atol=2e-6) because double aggregation order differs
    between engines — at 6M rows Spark's and DuckDB's partial-sum trees
    diverge in the last ulp (q01 sum_charge: |diff| 3.8e-6 on 2.8e10,
    relative 1.4e-16), and columns rounded to 6 decimals can flip the
    final digit when the pre-round values straddle the boundary
    (q130/q224 avg_nll: |diff| exactly 1e-6).  Real defects stay
    visible: the q116 divergence this tolerance was tuned against was
    relative 1e-3, six orders above the bar."""
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"column mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"row count mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            avn = av.astype(float).to_numpy()
            bvn = bv.astype(float).to_numpy()
            both_nan = np.isnan(avn) & np.isnan(bvn)
            if rtol == 0.0 and atol == 0.0:
                ok = (avn == bvn) | both_nan
            else:
                ok = np.isclose(avn, bvn, rtol=rtol, atol=atol, equal_nan=True)
            if not ok.all():
                bad = int(np.argmin(ok))
                raise AssertionError(
                    f"column {c!r}: {int((~ok).sum())} mismatches; first at row {bad}: "
                    f"spark={avn[bad]!r} oracle={bvn[bad]!r} diff={avn[bad] - bvn[bad]!r}"
                )
        elif pd.api.types.is_datetime64_any_dtype(av) or pd.api.types.is_datetime64_any_dtype(bv):
            avn = pd.to_datetime(av).astype("datetime64[us]")
            bvn = pd.to_datetime(bv).astype("datetime64[us]")
            if not avn.equals(bvn):
                neq = avn != bvn
                bad = int(np.argmax(neq.to_numpy()))
                raise AssertionError(
                    f"column {c!r}: timestamp mismatch at row {bad}: "
                    f"spark={avn.iloc[bad]!r} oracle={bvn.iloc[bad]!r}"
                )
        else:
            avn = av.astype(object).where(pd.notna(av), None)
            bvn = bv.astype(object).where(pd.notna(bv), None)
            neq = [x != y for x, y in zip(avn, bvn)]
            if any(neq):
                bad = neq.index(True)
                raise AssertionError(
                    f"column {c!r}: {sum(neq)} mismatches; first at row {bad}: "
                    f"spark={avn.iloc[bad]!r} oracle={bvn.iloc[bad]!r}"
                )
