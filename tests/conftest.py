"""Shared fixtures: one SparkSession per test run, DuckDB oracle connection."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from gluettalax_spark.session import get_spark, tune_for_fixture

    spark = get_spark("gluettalax-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # Same scheduler-floor sizing the bench applies (session.py): the
    # sf0.001 test fixture is KB-scale, so 8 shuffle partitions per
    # exchange is pure dispatch — the suite is a few thousand tiny jobs,
    # and reduce-task setup is a measurable slice of its wall-clock
    # (VERDICT r12 #3: the suite outgrew the driver's verify window).
    tune_for_fixture(spark, SF_DIR)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    """DuckDB connection with the fixture tables registered as views,
    mirroring the driver's correctness harness."""
    from gluettalax_spark.tables import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    yield con
    con.close()
