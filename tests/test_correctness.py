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


def test_sampling_rotation_names_are_registered():
    """Every _NEW_THIS_ROUND key must exist in the registry — a typo here
    silently demotes a query out of the driver's sampling priority."""
    from gluettalax_spark import registry, tables

    missing = [n for n in registry._NEW_THIS_ROUND if n not in registry.all_queries()]
    assert not missing, missing


def _stale_rotation_keys(root, rotation, rotation_round):
    """Keys in ``rotation`` already verdicted by a CORRECTNESS deposit from
    a round BEFORE ``rotation_round``.

    Deposits with N >= rotation_round are ignored: the current round's
    driver drop necessarily verdicts the current rotation, and flagging
    that shipped the suite red after every deposit (VERDICT r7 wrong #1).

    A row whose every match field is null and whose ``err`` is set is a
    harness failure, not a verdict — such keys SHOULD be re-surfaced."""
    import glob
    import json
    import os
    import re

    seen: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m and int(m.group(1)) >= rotation_round:
            continue
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for key, row in rows.items():
            verdicted = not (
                isinstance(row, dict)
                and row.get("err")
                and row.get("rows_match") is None
                and row.get("schema_match") is None
                and row.get("hash_match") is None
            )
            if verdicted:
                seen.add(key)
    return sorted(set(rotation) & seen)


def test_sampling_rotation_excludes_already_verdicted_keys():
    """_NEW_THIS_ROUND must be disjoint from keys that already carry a
    driver verdict from a PRIOR round — re-surfacing a green key wastes a
    sample slot that an unsigned key needs (VERDICT r5 nit 1)."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Keys whose contract changed this round carry a verdict for the OLD
    # semantics — re-surfacing them is required, not stale (registry
    # documents each in _RECONTRACTED_THIS_ROUND).
    rotation = [
        k for k in registry._NEW_THIS_ROUND
        if k not in registry._RECONTRACTED_THIS_ROUND
    ]
    stale = _stale_rotation_keys(root, rotation, registry._ROTATION_ROUND)
    assert not stale, f"rotation re-surfaces already-verdicted keys: {stale}"
    # The exemption list itself must be a subset of the rotation (a
    # recontracted key that isn't surfaced would never get re-verdicted).
    assert set(registry._RECONTRACTED_THIS_ROUND) <= set(registry._NEW_THIS_ROUND)


def test_rotation_guard_ignores_current_round_deposit(tmp_path):
    """Replay the failure mode that shipped the suite red in rounds 6–7:
    the driver deposits CORRECTNESS_r{N}.json for the CURRENT round,
    verdicting exactly the keys in the current rotation. The guard must
    ignore that deposit — but still fire on a prior-round one."""
    import json

    verdict_row = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}

    # Current-round deposit verdicting a rotated key → NOT stale.
    (tmp_path / "CORRECTNESS_r08.json").write_text(json.dumps({"new_op": verdict_row}))
    assert _stale_rotation_keys(str(tmp_path), ("new_op",), 8) == []

    # Prior-round deposit verdicting the same key → stale.
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({"new_op": verdict_row}))
    assert _stale_rotation_keys(str(tmp_path), ("new_op",), 8) == ["new_op"]

    # An err-only row (harness failure) is not a verdict → not stale.
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({"flaky_op": {"rows_match": None, "schema_match": None, "hash_match": None, "err": "boom"}})
    )
    assert _stale_rotation_keys(str(tmp_path), ("flaky_op",), 8) == []
