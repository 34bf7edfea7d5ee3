"""Local replica of the driver's Spark-vs-DuckDB compare.

Row-count + column-name + order-insensitive value compare, with tolerant
float matching (the driver hashes values; we additionally allow a tiny
relative tolerance so a genuine semantic mismatch is distinguishable from
last-ulp float noise when debugging). Also the Spark-job counter the
"runs no job" tests share.
"""

from __future__ import annotations

import math
import uuid
from datetime import date, datetime

import pandas as pd


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (datetime, date, pd.Timestamp)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0:  # numpy array cell
        return tuple(_norm_cell(x) for x in v.tolist())
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return v


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def _cells_equal(a, b, rtol=1e-9) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isclose(a, b, rel_tol=rtol, abs_tol=1e-9):
            return True
        return False
    return a == b


def compare(spark_df, oracle_pdf: pd.DataFrame, rtol: float = 1e-9) -> None:
    """Assert the Spark result matches the oracle result."""
    spark_pdf = spark_df.toPandas()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"column mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    a_rows = _normalize(spark_pdf)
    b_rows = _normalize(oracle_pdf)
    mismatches = []
    for i, (ra, rb) in enumerate(zip(a_rows, b_rows)):
        for ca, cb in zip(ra, rb):
            if not _cells_equal(ca, cb, rtol):
                mismatches.append((i, ra, rb))
                break
    assert not mismatches, f"{len(mismatches)} mismatched rows; first: {mismatches[0]}"


def exact_hash_compare(spark_df, oracle_pdf: pd.DataFrame) -> bool:
    """Strict bit-for-bit check (what a hash-based driver would see)."""
    spark_pdf = spark_df.toPandas()
    return _normalize(spark_pdf) == _normalize(oracle_pdf)


def jobs_in_group(spark, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` runs, read from the status
    tracker through a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "jobs_in_group")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))
