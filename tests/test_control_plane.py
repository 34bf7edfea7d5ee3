"""Control-plane tests: catalog DDL, partition lifecycle, crawler, jobs.

Mirrors the reference's end-to-end test strategy (SURVEY.md §5) with the
moto-mocked Glue replaced by a local Spark warehouse — and asserts on
outputs, not just exit codes.
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from gluettalax_spark import jobs as jobs_mod
from gluettalax_spark.exceptions import (
    CrawlerNotFound,
    InvalidOption,
    JobConcurrentRunsExceeded,
    JobNotFound,
    JobTimeout,
    PartitionAlreadyExists,
    PartitionNotFound,
    TableNotFound,
)
from gluettalax_spark.plans import catalog as cat
from tests.harness import jobs_in_group


@pytest.fixture()
def db(spark, tmp_path):
    name = f"db_{uuid.uuid4().hex[:8]}"
    cat.create_database(spark, name, location=str(tmp_path / name))
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS `{name}` CASCADE")


@pytest.fixture()
def usage_table(spark, db, tmp_path, sf_dir):
    """Partitioned 'usage' table over events rewritten Hive-style
    (FIXTURES.md §B): .../usage/year=YYYY/month=MM/part-*.parquet."""
    from gluettalax_spark.tables import load

    base = tmp_path / "usage"
    events = load(spark, sf_dir, "events").withColumn(
        "year", F.date_format("ts", "yyyy")
    ).withColumn("month", F.date_format("ts", "MM"))
    events.write.partitionBy("year", "month").mode("overwrite").parquet(str(base))
    cat.create_external_table(
        spark,
        db,
        "usage",
        str(base),
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
        partition_keys=["year", "month"],
    )
    return str(base)


def test_partition_lifecycle(spark, db, usage_table):
    # Initially no partitions registered (external table, no recovery yet).
    parts = cat.list_partitions(spark, db, "usage")
    assert parts.partition_keys == ["year", "month"]
    assert parts.data == []

    loc = cat.add_partition(spark, db, "usage", {"year": "2024", "month": "01"})
    assert loc.rstrip("/").endswith("year=2024/month=01")

    # Duplicate → warning-class exception (CLI exit 0).
    with pytest.raises(PartitionAlreadyExists):
        cat.add_partition(spark, db, "usage", {"year": "2024", "month": "01"})

    # Data is readable through the registered partition.
    n = spark.sql(f"SELECT count(*) AS n FROM `{db}`.usage WHERE year='2024' AND month='01'").collect()[0].n
    assert n > 0

    parts = cat.list_partitions(spark, db, "usage")
    assert len(parts.data) == 1
    assert parts.data[0][:2] == ("2024", "01")
    assert parts.max_lengths[0] >= len("year")

    cat.delete_partition(spark, db, "usage", {"year": "2024", "month": "01"})
    with pytest.raises(PartitionNotFound):
        cat.delete_partition(spark, db, "usage", {"year": "2024", "month": "01"})


def test_partition_validation(spark, db, usage_table):
    with pytest.raises(InvalidOption):
        cat.add_partition(spark, db, "usage", {"year": "2024"})  # missing key
    with pytest.raises(InvalidOption):
        cat.add_partition(spark, db, "usage", {"year": "2024", "day": "01"})  # wrong key
    with pytest.raises(TableNotFound):
        cat.add_partition(spark, db, "nope", {"year": "2024"})
    assert cat.get_partition_values({"a": "1", "b": "2"}, ["b", "a"]) == ["2", "1"]


def test_add_partitions_by_location(spark, db, usage_table, tmp_path):
    result = cat.add_partitions_by_location(spark, db, "usage")
    assert len(result["added"]) > 0
    assert result["skipped"] == []
    # Re-run: everything already exists (idempotent, warning-not-error).
    again = cat.add_partitions_by_location(spark, db, "usage")
    assert again["added"] == []
    assert len(again["existed"]) == len(result["added"])
    # Full data readable through partitions.
    total = spark.table(f"`{db}`.usage").count()
    assert total > 0

    # A non-conforming dir is SKIPPED (reference bug fixed: it would
    # fall through and create a bogus partition).
    bogus = tmp_path / "usage" / "not_a_partition"
    bogus.mkdir(parents=True, exist_ok=True)
    (bogus / "data.txt").write_text("junk")
    res2 = cat.add_partitions_by_location(spark, db, "usage")
    assert any("not_a_partition" in d for d in res2["skipped"])


def test_positional_partition_layout(spark, db, tmp_path):
    """'not-Hive style': keys all named partition_* → location is the bare
    value path (gluettalax.py:463-465)."""
    base = tmp_path / "usage_pos"
    (base / "2024" / "01").mkdir(parents=True)
    cat.create_external_table(
        spark, db, "usage_pos", str(base), "event_id LONG",
        partition_keys=["partition_year", "partition_month"],
    )
    loc = cat.add_partition(
        spark, db, "usage_pos", {"partition_year": "2024", "partition_month": "01"}
    )
    assert loc.rstrip("/").endswith("usage_pos/2024/01")
    parts = cat.list_partitions(spark, db, "usage_pos")
    assert parts.data[0][:2] == ("2024", "01")


def test_list_partitions_returns_raw_values(spark, db, tmp_path, capsys):
    """A value that Hive path escaping changes (``10:00`` → ``10%3A00``
    in SHOW PARTITIONS) lists raw, as Glue's ``Values`` do."""
    from gluettalax_spark.cli import gluettalax

    base = tmp_path / "hourly"
    cat.create_external_table(
        spark, db, "hourly", str(base), "n LONG", partition_keys=["dt", "hr"]
    )
    cat.add_partition(spark, db, "hourly", {"dt": "2024-01-01", "hr": "10:00"})
    parts = cat.list_partitions(spark, db, "hourly")
    assert parts.data == [("2024-01-01", "10:00", f"file:{base}/dt=2024-01-01/hr=10:00")]
    assert gluettalax("lsp", db, "hourly", "--noheaders") == 0
    assert "10:00" in capsys.readouterr().out
    cat.delete_partition(spark, db, "hourly", {"dt": "2024-01-01", "hr": "10:00"})
    assert cat.list_partitions(spark, db, "hourly").data == []


def test_partition_locations_keep_describe_form(spark, db, usage_table, tmp_path):
    """Locations are DESCRIBE's ``file:/…`` form, whether given explicitly
    or derived from the table location."""
    elsewhere = tmp_path / "elsewhere" / "p"
    cat.add_partition(
        spark, db, "usage", {"year": "2030", "month": "02", "location": str(elsewhere)}
    )
    cat.add_partition(spark, db, "usage", {"year": "2031", "month": "03"})
    assert cat.list_partitions(spark, db, "usage").data == [
        ("2030", "02", f"file:{elsewhere}"),
        ("2031", "03", f"file:{usage_table}/year=2031/month=03"),
    ]


def test_add_partitions_by_location_splits_new_existing_skipped(spark, db, usage_table):
    """One repair over new, already-registered and non-conforming dirs
    returns the same split as adding them one at a time, and registers
    every new dir at its ``file:/…`` location."""
    import os

    leaves = sorted(
        root for root, _dirs, files in os.walk(usage_table)
        if any(not f.startswith(("_", ".")) for f in files)
    )
    existing = leaves[0]
    year, month = (seg.split("=", 1)[1] for seg in existing.split("/")[-2:])
    cat.add_partition(spark, db, "usage", {"year": year, "month": month})
    bogus = os.path.join(usage_table, "year=2099")
    os.makedirs(bogus)
    with open(os.path.join(bogus, "part-0.parquet"), "wb") as f:
        f.write(b"x")

    result = cat.add_partitions_by_location(spark, db, "usage")
    assert result == {"added": leaves[1:], "skipped": [bogus], "existed": [existing]}
    listed = cat.list_partitions(spark, db, "usage").data
    assert sorted(row[-1] for row in listed) == [f"file:{d}" for d in leaves]


def test_add_partitions_by_location_walks_hidden_dirs(spark, db, usage_table):
    """The listing descends into hidden and ``_`` directories, as a
    recursive ``listFiles`` does, so a half-written job's
    ``_temporary/0/`` lands in ``skipped``; only FILES named ``_*``/``.*``
    are ignored, so a dir holding nothing else is not a leaf."""
    import os

    leaves = sorted(
        root for root, _dirs, files in os.walk(usage_table)
        if any(not f.startswith(("_", ".")) for f in files)
    )
    temporary = os.path.join(usage_table, "_temporary", "0")
    staging = os.path.join(usage_table, ".staging")
    marker_only = os.path.join(usage_table, "year=2098", "month=01")
    for d, f in ((temporary, "part-0.parquet"), (staging, "part-1.parquet"),
                 (marker_only, "_SUCCESS"), (marker_only, ".part-2.crc")):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f), "wb") as fh:
            fh.write(b"x")

    result = cat.add_partitions_by_location(spark, db, "usage")
    assert result == {"added": leaves, "skipped": sorted([temporary, staging]), "existed": []}


def test_derive_partition_location():
    assert (
        cat.derive_partition_location("/w/t", ["year", "month"], ["2024", "01"])
        == "/w/t/year=2024/month=01/"
    )
    assert (
        cat.derive_partition_location("/w/t/", ["partition_a", "partition_b"], ["x", "y"])
        == "/w/t/x/y/"
    )


def test_list_tables_glob(spark, db, usage_table):
    tables = cat.list_tables(spark)
    assert any(t.table_name == "usage" and t.database_name == db for t in tables)
    assert all(t.table_name == "usage" for t in cat.list_tables(spark, "usa*"))


def test_crawler(spark, db, tmp_path, sf_dir):
    from gluettalax_spark.tables import load

    cat.Crawler.clear_registry()
    base = tmp_path / "crawl_me"
    docs = load(spark, sf_dir, "documents").withColumn("lang2", F.col("lang"))
    docs.write.partitionBy("lang2").mode("overwrite").parquet(str(base))

    crawler = cat.Crawler(spark, "test_crawler", db, "crawled_docs", str(base))
    assert crawler.is_ready and crawler.status == "READY"
    crawler.run()
    assert crawler.is_ready

    df = spark.table(f"`{db}`.crawled_docs")
    assert df.count() == load(spark, sf_dir, "documents").count()
    # Partition column declared STRING (reference: values are strings).
    assert dict(df.dtypes)["lang2"] == "string"

    # Rerun path + registry lookups.
    cat.run_crawler("test_crawler", rerun=True, timeout=120)
    with pytest.raises(CrawlerNotFound):
        cat.Crawler.get("missing")
    assert [c.name for c in cat.Crawler.registered()] == ["test_crawler"]


# --------------------------------------------------------------------------
# Jobs
# --------------------------------------------------------------------------


@pytest.fixture()
def registry():
    reg = jobs_mod.JobRegistry()
    yield reg
    reg.clear()


def _pricing(spark, sf_dir="/root/testdata/sf0.001", **kargs):
    from gluettalax_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, sf_dir)


def test_job_sync_success_and_history(spark, registry):
    registry.register("nightly_etl", _pricing)
    assert registry.run(spark, "nightly_etl", THE_DATE="20191112") is True
    runs = registry.list_runs(spark, "nightly_etl")
    assert len(runs) == 1
    assert runs[0].state == "SUCCEEDED"
    assert runs[0].arguments == {"THE_DATE": "20191112"}
    assert registry.get_run_state(runs[0].run_id) == "SUCCEEDED"


def test_job_failure(spark, registry):
    def boom(spark, **kargs):
        raise ValueError("bad input")

    registry.register("bad_job", boom)
    assert registry.run(spark, "bad_job") is False
    runs = registry.list_runs(spark, "bad_job")
    assert runs[0].state == "FAILED"
    assert "bad input" in runs[0].error


def test_job_not_found(spark, registry):
    with pytest.raises(JobNotFound):
        registry.run(spark, "ghost")


def test_job_timeout(spark, registry):
    def slow(spark, **kargs):
        time.sleep(5)

    registry.register("slow_job", slow)
    with pytest.raises(JobTimeout):
        registry.run(spark, "slow_job", timeout=0.5)
    runs = registry.list_runs(spark, "slow_job")
    assert runs[0].state == "TIMEOUT"


def test_job_concurrency_limit(spark, registry):
    def slow(spark, **kargs):
        time.sleep(3)

    registry.register("limited", slow, max_concurrent_runs=1)
    run_id = registry.run(spark, "limited", op_async=True)
    assert isinstance(run_id, str)
    try:
        with pytest.raises(JobConcurrentRunsExceeded):
            registry.run(spark, "limited")
    finally:
        # Let the async run drain so the registry fixture can clear.
        deadline = time.monotonic() + 10
        while registry.get_run_state(run_id) == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.1)


def test_job_async_and_window_report(spark, registry):
    registry.register("a_job", _pricing)
    registry.register("b_job", _pricing)
    assert registry.run(spark, "a_job") is True
    assert registry.run(spark, "a_job") is True
    assert registry.run(spark, "b_job") is True
    # D7: last-1 run per job.
    last = registry.last_runs_per_job(spark, lines=1)
    assert [r.job_name for r in last] == ["a_job", "b_job"]
    # D5: exclude SUCCEEDED → empty.
    assert registry.list_runs(spark, include_succeeded=False) == []
    # D6: limit.
    assert len(registry.list_runs(spark, "a_job", lines=1)) == 1
    assert registry.list_jobs() == ["a_job", "b_job"]


def _history_registry():
    """Two jobs, mixed states, and runs sharing a ``started_on`` both
    within a job and across jobs."""
    from datetime import datetime, timezone

    reg = jobs_mod.JobRegistry()
    reg.register("a_job", _pricing)
    reg.register("b_job", _pricing)
    t = [datetime(2024, 1, 1, 12, 0, s, tzinfo=timezone.utc) for s in range(3)]
    runs = [
        ("jr_04", "a_job", "SUCCEEDED", t[0]),
        ("jr_02", "a_job", "FAILED", t[1]),
        ("jr_05", "a_job", "TIMEOUT", t[1]),
        ("jr_01", "a_job", "SUCCEEDED", t[2]),
        ("jr_03", "b_job", "SUCCEEDED", t[1]),
        ("jr_06", "b_job", "RUNNING", t[2]),
        ("jr_00", "b_job", "FAILED", t[2]),
    ]
    reg.load_history(
        jobs_mod.JobRun(run_id=i, job_name=j, arguments={"RUN": i}, state=st, started_on=ts,
                        execution_time=float(len(i)), error=None if st == "SUCCEEDED" else st)
        for i, j, st, ts in runs
    )
    return reg


def _dataframe_list_runs(spark, reg, name, lines, include_succeeded):
    """The DataFrame plan ``list_runs`` used to run over ``runs_df``."""
    df = reg.runs_df(spark)
    if name is not None:
        df = df.filter(F.col("job_name") == name)
    if not include_succeeded:
        df = df.filter(F.col("state") != "SUCCEEDED")
    df = df.orderBy(F.col("started_on").desc(), F.col("run_id"))
    if lines is not None:
        df = df.limit(lines)
    return df.collect()


def _dataframe_last_runs_per_job(spark, reg, lines):
    """The window plan ``last_runs_per_job`` used to run over ``runs_df``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("job_name").orderBy(F.col("started_on").desc(), F.col("run_id"))
    return (
        reg.runs_df(spark)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= lines)
        .drop("rn")
        .orderBy("job_name", F.col("started_on").desc())
        .collect()
    )


@pytest.mark.parametrize("include_succeeded", [True, False])
@pytest.mark.parametrize("lines", [1, None])
@pytest.mark.parametrize("name", ["a_job", "b_job", None])
def test_list_runs_matches_dataframe_plan(spark, name, lines, include_succeeded):
    reg = _history_registry()
    got = reg.list_runs(spark, name, lines=lines, include_succeeded=include_succeeded)
    want = _dataframe_list_runs(spark, reg, name, lines, include_succeeded)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert got and isinstance(got[0]["arguments"], dict)
    assert got[0].started_on.tzinfo is None and isinstance(got[0].execution_time, float)


@pytest.mark.parametrize("lines", [1, 2])
def test_last_runs_per_job_matches_window_plan(spark, lines):
    reg = _history_registry()
    got = reg.last_runs_per_job(spark, lines=lines)
    want = _dataframe_last_runs_per_job(spark, reg, lines)

    assert sorted((r.asDict() for r in got), key=lambda d: d["run_id"]) == sorted(
        (r.asDict() for r in want), key=lambda d: d["run_id"]
    )
    order = [(r.job_name, -r.started_on.timestamp()) for r in got]
    assert order == sorted(order)
    assert [r.job_name for r in got] == ["a_job"] * lines + ["b_job"] * lines


def test_control_plane_reads_run_no_spark_job(spark, db, usage_table):
    """History and partition listing are served from the registry and the
    session catalog: no Spark job runs in their job group."""
    reg = _history_registry()
    cat.add_partitions_by_location(spark, db, "usage")

    assert jobs_in_group(spark, lambda: spark.range(3).count())  # the probe sees jobs
    assert jobs_in_group(spark, lambda: reg.list_runs(spark, "a_job", lines=2)) == []
    assert jobs_in_group(spark, lambda: reg.last_runs_per_job(spark, lines=2)) == []
    assert jobs_in_group(spark, lambda: cat.list_partitions(spark, db, "usage")) == []


def test_builtin_jobs_run_via_cli_registry(spark):
    """The shipped jobs are registered and runnable with reference-style
    string args (README: runj nightly_etl --THE_DATE=...)."""
    import gluettalax_spark.builtin_jobs as bj
    from gluettalax_spark.jobs import default_registry

    bj.register_builtin_jobs()
    assert {"nightly_etl", "dedup_report", "corpus_stats"} <= set(default_registry.list_jobs())
    df = bj.nightly_etl(spark, THE_DATE="19970101")
    rows = df.collect()
    assert rows and set(df.columns) == {
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "count_order",
    }
    assert default_registry.run(spark, "corpus_stats") is True


def test_csv_external_catalog_table(spark, db, sf_dir, tmp_path):
    """Non-parquet formats register as catalog tables too (SURVEY §2.F
    scans row: 'csv/json/orc via same API; registered as catalog
    tables') — schema-on-read, queryable via SQL."""
    from gluettalax_spark.plans.catalog import create_external_table
    from gluettalax_spark.sources.io import write_table
    from gluettalax_spark.tables import load

    nation = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    write_table(nation, path, fmt="csv")
    create_external_table(
        spark, db, "nation_csv", path, fmt="csv",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        options={"header": "true"},
    )
    got = spark.sql(f"SELECT count(*) AS n FROM `{db}`.nation_csv").collect()[0].n
    assert got == nation.count()
    top = spark.sql(
        f"SELECT n_name FROM `{db}`.nation_csv WHERE n_regionkey = 0 ORDER BY n_nationkey"
    ).collect()
    want = [r.n_name for r in nation.filter("n_regionkey = 0").orderBy("n_nationkey").collect()]
    assert [r.n_name for r in top] == want


def test_crawler_sync_waits_for_running_crawl(spark, db, tmp_path, sf_dir):
    """rerun=False + crawler RUNNING: sync run() must WAIT for READY
    (reference gluettalax.py:220-224) instead of returning early; it must
    not start a second crawl. Async returns immediately."""
    import time as _time

    from gluettalax_spark.tables import load

    cat.Crawler.clear_registry()
    base = tmp_path / "crawl_wait"
    load(spark, sf_dir, "documents").write.mode("overwrite").parquet(str(base))
    crawler = cat.Crawler(spark, "wait_crawler", db, "crawled_wait", str(base))

    crawls = []
    orig = crawler._crawl

    def slow_crawl():
        crawls.append(1)
        _time.sleep(0.4)
        orig()

    crawler._crawl = slow_crawl
    crawler.run(op_async=True)  # leaves the crawler RUNNING
    t0 = _time.monotonic()
    crawler.run(rerun=False, timeout=30)  # sync: must block until READY
    assert crawler.is_ready
    assert _time.monotonic() - t0 > 0.1  # actually waited
    assert len(crawls) == 1  # and did NOT start a second crawl
