#!/usr/bin/env python
"""Replicate the grading driver's correctness gate locally.

Runs every `queries()` entry against its `oracle_sql()` via DuckDB at the
given scale factor (default sf0.01), value-comparing sorted columns the
way the driver's hash does; rows-only entries just execute.

Usage: python tools/validate_contract.py [sf_dir] [name_filter]
Exit code 0 iff everything matches.

Env knobs for scale sweeps:
* ``SPARK_GRAFT_SKIP_FIXTURE_ONLY=true`` — skip queries registered with
  ``fixture_scale_only=True`` (deliberately super-linear instrumentation
  twins, e.g. the O(N²) all-pairs near-dup recall oracle), reporting
  them as ``skipped (fixture-scale-only)``;
* ``SPARK_GRAFT_START_AFTER=<name>`` — resume an interrupted sweep from
  the key after ``<name>`` in sorted order.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    # Data-dependent oracle templates (centroid/codebook literals) must
    # resolve against the SAME fixture the Spark builders run on.
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    import duckdb

    import __spark_entry__ as e
    from gluettalax_spark.session import get_spark
    from gluettalax_spark.tables import TABLES

    spark = get_spark("contract-validate")
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    entry_rows = len(e.entry(spark).collect())
    print(f"entry rows: {entry_rows}")
    assert entry_rows > 0

    from gluettalax_spark import registry

    specs = registry.all_queries()
    skip_fixture_only = os.environ.get("SPARK_GRAFT_SKIP_FIXTURE_ONLY", "").lower() == "true"
    start_after = os.environ.get("SPARK_GRAFT_START_AFTER", "")

    bad: list[str] = []
    names = [n for n in sorted(qs) if name_filter in n]
    if start_after:
        names = [n for n in names if n > start_after]
    for name in names:
        if skip_fixture_only and specs[name].fixture_scale_only:
            print(f"  {name}: skipped (fixture-scale-only)")
            continue
        try:
            if name in osql:
                sp = qs[name](spark, sf_dir).toPandas()
                od = con.execute(osql[name]).df()
                cols = sorted(sp.columns)
                a = sorted(map(repr, sp[cols].values.tolist()))
                b = sorted(map(repr, od[cols].values.tolist()))
                ok = a == b
                status = "match" if ok else "MISMATCH"
            else:
                qs[name](spark, sf_dir).count()
                ok, status = True, "rows-only"
        except Exception as ex:  # noqa: BLE001 - report, don't abort the sweep
            ok, status = False, f"ERROR {type(ex).__name__}: {str(ex)[:120]}"
        if not ok:
            bad.append(name)
        print(f"  {name}: {status}")
    n_oracle = sum(1 for n in names if n in osql)
    print(f"{len(names)} queries ({n_oracle} oracle-checked) — mismatches: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
