"""CLI tests: the 14 reference parser cases (test/test_parse_args.py —
a behavioral spec, re-asserted against our implementation) plus
end-to-end command runs asserting exit codes AND output.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from gluettalax_spark.cli import gluettalax, parse_args, parse_usage
from gluettalax_spark.exceptions import InvalidOption

HELP_1 = "<crawler_name> [--async] [--timeout=seconds]"
DEF_1 = {"op_async": False, "timeout": 123}
HELP_2 = "[job_name] [--lines=num] [--noheaders]"
DEF_2 = {"lines": None, "op_noheaders": False}
HELP_3 = "<job_name> [--async] [--param=value...]"
DEF_3 = {"op_async": False}


# -- parse_usage ------------------------------------------------------------


def test_parse_usage_grammar():
    req, opt, options = parse_usage("<db> <table> [pattern] [--noheaders] [--key=value] extra\nsecond line ignored")
    assert req == ["<db>", "<table>", "extra"]
    assert opt == ["pattern"]
    assert options == {"noheaders": bool, "key": str}


# -- parse_args: the 14 reference cases ------------------------------------


def test_none_and_empty():
    name, kargs = parse_args(None, HELP_2)
    assert name is None and kargs == {}
    name, kargs = parse_args([], HELP_2)
    assert name is None and kargs == {}


def test_full_eq_form():
    name, kargs = parse_args(["run_crawler", "NAME", "--async", "--timeout=456"], HELP_1, dict(DEF_1))
    assert name == "NAME" and kargs["timeout"] == "456" and kargs["op_async"] is True


def test_space_form():
    name, kargs = parse_args(["run_crawler", "NAME", "--timeout", "456", "--async"], HELP_1, dict(DEF_1))
    assert name == "NAME" and kargs["timeout"] == "456" and kargs["op_async"] is True


def test_partial():
    name, kargs = parse_args(["run_crawler", "NAME", "--timeout=456"], HELP_1, dict(DEF_1))
    assert kargs["op_async"] is False and kargs["timeout"] == "456"


def test_defaults_kept():
    name, kargs = parse_args(["run_crawler", "NAME"], HELP_1, dict(DEF_1))
    assert kargs["timeout"] == 123 and kargs["op_async"] is False


def test_missing_required():
    with pytest.raises(InvalidOption):
        parse_args(["run_crawler"], HELP_1, dict(DEF_1))


def test_excess_positional():
    with pytest.raises(InvalidOption):
        parse_args(["run_crawler", "A", "B"], HELP_1, dict(DEF_1))


def test_optional_positional():
    name, kargs = parse_args(["list_runs", "NAME", "--lines=1"], HELP_2, dict(DEF_2))
    assert name == "NAME" and kargs["lines"] == "1"


def test_optional_positional_absent():
    name, kargs = parse_args(["list_runs"], HELP_2, dict(DEF_2))
    assert name is None and kargs["lines"] is None


def test_options_before_optional():
    name, kargs = parse_args(["list_runs", "--lines=123", "--noheaders"], HELP_2, dict(DEF_2))
    assert name is None and kargs["lines"] == "123" and kargs["op_noheaders"] is True


def test_options_any_order():
    name, kargs = parse_args(["list_runs", "--noheaders", "--lines=123"], HELP_2, dict(DEF_2))
    assert name is None and kargs["lines"] == "123" and kargs["op_noheaders"] is True


def test_passthrough_params():
    name, kargs = parse_args(["run_job", "NAME", "--a=1", "--b=2"], HELP_3, dict(DEF_3))
    assert name == "NAME" and kargs["a"] == "1" and kargs["b"] == "2"


def test_passthrough_defaults():
    name, kargs = parse_args(["run_job", "NAME"], HELP_3, dict(DEF_3))
    assert name == "NAME" and kargs == {"op_async": False}


def test_single_dash_invalid():
    with pytest.raises(InvalidOption):
        parse_args(["run_crawler", "NAME", "-x"], HELP_1, dict(DEF_1))
    with pytest.raises(InvalidOption):
        parse_args(["list_runs", "NAME", "-x=1"], HELP_2, dict(DEF_2))


def test_missing_option_value():
    with pytest.raises(InvalidOption):
        parse_args(["run_crawler", "NAME", "--timeout"], HELP_1, dict(DEF_1))


def test_values_are_strings():
    name, kargs = parse_args(["run_job", "NAME", "--n", "42"], HELP_3, dict(DEF_3))
    assert kargs["n"] == "42" and isinstance(kargs["n"], str)


# -- end-to-end commands ----------------------------------------------------


@pytest.fixture()
def cli_env(spark, tmp_path, sf_dir):
    """A database with a partitioned table + a registered job + crawler."""
    from gluettalax_spark.jobs import default_registry
    from gluettalax_spark.plans import catalog as cat
    from gluettalax_spark.tables import load

    db = f"clidb_{uuid.uuid4().hex[:8]}"
    cat.create_database(spark, db, location=str(tmp_path / db))
    base = tmp_path / "usage"
    events = (
        load(spark, sf_dir, "events")
        .withColumn("year", F.date_format("ts", "yyyy"))
        .withColumn("month", F.date_format("ts", "MM"))
    )
    events.write.partitionBy("year", "month").mode("overwrite").parquet(str(base))
    cat.create_external_table(
        spark, db, "usage", str(base),
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
        partition_keys=["year", "month"],
    )

    def nightly(spark, **kargs):
        from gluettalax_spark.operators.relational import q1_pricing_summary
        return q1_pricing_summary(spark, "/root/testdata/sf0.001")

    default_registry.register("nightly_etl", nightly)
    cat.Crawler.clear_registry()
    cat.Crawler(spark, "test", db, "crawled", str(base))
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    default_registry.clear()
    cat.Crawler.clear_registry()


def test_cli_no_command():
    assert gluettalax() == 2


def test_cli_unknown_command():
    assert gluettalax("frobnicate") == 1


def test_cli_help():
    assert gluettalax("help") == 0
    assert gluettalax("-h") == 0
    assert gluettalax("help", "run_job") == 0


def test_cli_partition_flow(cli_env, capsys):
    db = cli_env
    assert gluettalax("addp", db, "usage", "--year=2024", "--month=01") == 0
    assert "added" in capsys.readouterr().out
    # Duplicate → warning → exit 0 (the reference's signature semantics).
    assert gluettalax("add_partition", db, "usage", "--year=2024", "--month=01") == 0
    # Missing partition on delete → exit 1.
    assert gluettalax("rmp", db, "usage", "--year=1999", "--month=12") == 1
    # List with glob pattern (any-column match).
    assert gluettalax("lsp", db, "usage", "*2024*") == 0
    out = capsys.readouterr().out
    assert "year" in out and "2024" in out
    # noheaders drops the header row.
    assert gluettalax("lsp", db, "usage", "--noheaders") == 0
    assert "location" not in capsys.readouterr().out.splitlines()[0]
    assert gluettalax("rmp", db, "usage", "--year=2024", "--month=01") == 0
    # Bulk discovery.
    assert gluettalax("add_partitions", db, "usage") == 0
    assert "added" in capsys.readouterr().out


def test_cli_tables_and_queries(cli_env, capsys):
    db = cli_env
    assert gluettalax("lst", "usa*") == 0
    assert "usage" in capsys.readouterr().out
    assert gluettalax("lsq", "q1*") == 0
    assert "q1_pricing_summary" in capsys.readouterr().out
    assert gluettalax("runq", "q1_pricing_summary") == 0
    assert "sum_qty" in capsys.readouterr().out


def test_cli_jobs(cli_env, capsys):
    assert gluettalax("lsj") == 0
    assert "nightly_etl" in capsys.readouterr().out
    assert gluettalax("runj", "nightly_etl", "--THE_DATE=20191112") == 0
    assert gluettalax("lsr", "nightly_etl") == 0
    out = capsys.readouterr().out
    assert "SUCCEEDED" in out and "--THE_DATE=20191112" in out
    assert gluettalax("lsr") == 0  # all-jobs last-N report
    assert gluettalax("run_job", "ghost") == 1


def test_cli_keeps_running_session_conf(spark):
    """An in-process command reuses the running session as it is: the
    session builder would re-apply its shuffle-partition count."""
    from gluettalax_spark import cli

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert cli.main(["gluettalax", "lsr"]) == 0
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, before)


def test_cli_crawler(cli_env, capsys):
    db = cli_env
    assert gluettalax("lsc", "test*") == 0
    assert "READY" in capsys.readouterr().out
    assert gluettalax("runc", "test") == 0
    assert gluettalax("runc", "missing") == 1


def test_cli_add_partitions_b3_fallthrough_defect_not_replicated(cli_env, tmp_path, capsys, spark):
    """Replay of the reference's B3 defect scenario end-to-end through the
    CLI (SURVEY §2.B warning; gluettalax.py:417-426): a discovered dir
    with NO 'key=' anchor (reference: prints Skip, then falls through
    with `index` unbound -> NameError) and a dir whose segment parses but
    mismatches the partition keys (reference: prints Skip yet STILL
    creates the bogus partition). Our engine must skip both, keep going,
    and add the valid dir that sorts AFTER them."""
    db = cli_env
    base = tmp_path / "usage"
    # 1) no key= anchor anywhere in the relative path
    junk = base / "junkdir" / "nested"
    junk.mkdir(parents=True)
    (junk / "part-00000.parquet").write_bytes(b"x")
    # 2) has an '=' anchor but the key doesn't match the table's first
    #    partition key (reference would create partition year=<5>!)
    bogus = base / "notakey=5"
    bogus.mkdir()
    (bogus / "part-00000.parquet").write_bytes(b"x")
    # 3) a valid dir sorting after both — must still be reached and added
    valid = base / "year=2031" / "month=07"
    valid.mkdir(parents=True)
    (valid / "part-00000.parquet").write_bytes(b"x")

    assert gluettalax("add_partitions", db, "usage") == 0
    out = capsys.readouterr().out
    skips = [ln for ln in out.splitlines() if ln.startswith("Skip ")]
    assert any("junkdir" in ln for ln in skips), out
    assert any("notakey=5" in ln for ln in skips), out
    assert any("year=2031/month=07 added" in ln for ln in out.splitlines()), out

    # Catalog ground truth: the valid partition exists; no bogus partition
    # absorbed the mismatched or anchorless dirs.
    rows = [r[0] for r in spark.sql(f"SHOW PARTITIONS {db}.usage").collect()]
    assert "year=2031/month=07" in rows
    assert not any(p.split("/")[0].split("=")[1] == "5" for p in rows), rows
