"""Every registered query vs its DuckDB oracle — the driver's t2 gate, locally.

Parametrized over the registry so a newly-registered operator is
automatically under test. Queries without an oracle get a rows-only smoke.
"""

from __future__ import annotations

import pytest

from gluettalax_spark import registry, tables
from tests.harness import compare, exact_hash_compare

SPECS = registry.all_queries()


@pytest.mark.slow  # full-registry oracle sweep (~6 min): the gate tier —
# `make gate` runs it plus tools/validate_contract.py at two SFs; the
# default tier must fit the driver's verify window (VERDICT r12 #3).
@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = SPECS[name]
    spark_df = spec.builder(spark, sf_dir)
    oracle = spec.resolve_oracle(sf_dir)
    if oracle is None:
        n = spark_df.count()
        assert n >= 0
        return
    oracle_pdf = oracle_con.execute(oracle).df()
    compare(spark_df, oracle_pdf)
    # Also report (not assert) strict equality — what a hashing driver sees.
    assert exact_hash_compare(spec.builder(spark, sf_dir), oracle_pdf), (
        f"{name}: values match within tolerance but NOT bit-exact — driver hash may fail"
    )


def _inferred_read(spark, sf_dir, name):
    """The read without a cache: schema inferred from the footer on each
    call, events under the legacy nanos conf, then ts-normalized."""
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    with tables._events_legacy_nanos_conf(spark):
        df = spark.read.parquet(path)
    return tables._normalize_events_ts(df)


@pytest.mark.parametrize("name", tables.TABLES)
def test_fixture_load_matches_inferred_read(spark, sf_dir, name):
    """``tables.load`` reads with a cached schema; every fixture table must
    come back with the schema and rows of the inferred read."""
    got = tables.load(spark, sf_dir, name)
    ref = _inferred_read(spark, sf_dir, name)
    assert got.schema == ref.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, ref.collect()))


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs)


def test_queries_order_puts_tpch_then_window_first():
    """A driver that samples the first N keys of ``queries()`` sees the 22
    TPC-H queries in numeric order, then the ``window_`` tier."""
    import re

    names = list(registry.all_queries())
    tpch = sorted(
        (n for n in names if re.match(r"q\d+_", n)), key=lambda n: int(n[1 : n.index("_")])
    )
    assert len(tpch) == 22
    assert names[:22] == tpch
    assert names[22].startswith("window_")
