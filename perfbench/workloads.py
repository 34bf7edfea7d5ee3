"""The benchmark's workloads.

Each workload has three phases, all driven by ``run.py``:

* ``prepare(ctx)`` — part of every set-up (it runs once per set-up, and
  ``setup_s`` is the median over the run's set-ups);
* ``check(ctx)`` — the untimed warm-up pass, which is also the run's
  correctness pass: every op runs once and its output is checked;
* ``run_pass(ctx, traced)`` — one closed-loop pass of timed ops in
  seed-shuffled order. ``ctx.op(...)`` times each op and applies the
  between-op memory release outside the timed region.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import tempfile
import time
import traceback

import numpy as np

# The eleven odd-numbered TPC-H keys: short scan/join/aggregate plans
# whose time is mostly the per-query floor. They persist nothing, so the
# release sweep and memory.py are bypassed.
TPCH_KEYS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q7_volume_shipping", "q9_profit_by_nation", "q11_important_parts",
    "q13_customer_distribution", "q15_top_supplier", "q17_small_quantity",
    "q19_disjunctive_revenue", "q21_sole_late_shipper",
)

# Loop- and lineage-cut-heavy keys: build time and Spark job count
# dominate, and they leave persisted RDDs behind for the release sweep.
# customer_rfm_segments is the one site still on memory.multi_cut.
ITERATIVE_KEYS = ("graph_pagerank", "customer_rfm_segments")


def _rows_match(spark_pdf, oracle_pdf) -> bool:
    """The contract comparison (tools/validate_contract.py): sorted row
    reprs over name-sorted columns."""
    cols = sorted(spark_pdf.columns)
    if sorted(oracle_pdf.columns) != cols:
        return False
    a = sorted(map(repr, spark_pdf[cols].values.tolist()))
    b = sorted(map(repr, oracle_pdf[cols].values.tolist()))
    return a == b


def _witness_ok(pdf, witness: tuple[str, ...]) -> bool:
    """Rows-only keys certify themselves through witness columns: each
    must be present and non-null, and a boolean witness must be all true."""
    if len(pdf) == 0:
        return False
    for col in witness:
        if col not in pdf.columns or pdf[col].isna().any():
            return False
        if pdf[col].dtype == bool and not pdf[col].all():
            return False
    return True


class DataPlane:
    """Registered query keys, each op = builder + ``count()``."""

    def __init__(self, name: str, keys: tuple[str, ...], min_passes: int, warm_passes: int) -> None:
        self.name = name
        self.keys = keys
        self.min_passes = min_passes
        self.warm_passes = warm_passes
        self.ops_per_pass = len(keys)
        self.expected_rows: dict[str, int] = {}

    def prepare(self, ctx) -> None:
        from gluettalax_spark.tables import TABLES, load

        with ctx.tracer.span("tables.load"):
            for t in TABLES:
                load(ctx.spark, ctx.fx_dir, t)

    def check(self, ctx) -> None:
        import duckdb

        from gluettalax_spark.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.fx_dir}/{t}.parquet')")
        for name in self.keys:
            spec = ctx.specs[name]
            try:
                t0 = time.perf_counter()
                pdf = spec.builder(ctx.spark, ctx.fx_dir).toPandas()
                t1 = time.perf_counter()
                sql = spec.resolve_oracle(ctx.fx_dir)
                ok = _rows_match(pdf, con.execute(sql).df()) if sql else _witness_ok(pdf, spec.witness)
                self.expected_rows[name] = len(pdf)
                ctx.log(f"check {name}: spark {t1 - t0:.2f} s, oracle {time.perf_counter() - t1:.2f} s")
            except Exception:  # noqa: BLE001 - a failing key is a failed check
                ctx.log(f"check {name} raised:\n{traceback.format_exc(limit=3)}")
                ok = False
            ctx.check(f"oracle:{name}", ok)
            ctx.release()
        con.close()

    def run_pass(self, ctx, traced: bool, timed: bool = True) -> None:
        run = ctx.op if timed else ctx.untimed_op
        for name in ctx.rng.sample(self.keys, len(self.keys)):
            spec = ctx.specs[name]

            def op(spec=spec):
                with ctx.tracer.span("operators.build"):
                    t0 = time.perf_counter()
                    df = spec.builder(ctx.spark, ctx.fx_dir)
                    t1 = time.perf_counter()
                with ctx.tracer.span("operators.action"):
                    n = df.count()
                ctx.sample("operators.build_s", t1 - t0)
                ctx.sample("operators.action_s", time.perf_counter() - t1)
                return n == self.expected_rows.get(spec.name)

            run(name, op, traced)


# -- Glue-style nightly ETL cycle -------------------------------------------

ETL_DB = "pb_etl"
ETL_TABLE = "lineitem_daily"
ETL_COLUMNS = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
ETL_SCHEMA = "l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_returnflag STRING"
SRCS = ("web", "app", "pos")
RETAIN_DAYS = 4
DRIFT = 2  # partitions dropped from the catalog per cycle, then repaired
FIRST_DAY = np.datetime64("1996-01-01")
CRAWLER = "pb_crawler"
# The streaming step drains one stateful twin (watermarked windows in the
# state store, two micro-batches) over the fixture's events; its output
# row count is pinned for the generated fixture (FIXTURE_SEED).
STREAM_TWIN = ("streaming_tumbling_counts", "append")
STREAM_EXPECTED_ROWS = 7995


class EtlControlPlane:
    """Catalog writes beside catalog reads over a Hive-partitioned parquet
    table (``dt`` × ``src``), with a synchronous Glue-style job run, a
    partition-pruned read and a streaming drain per cycle."""

    name = "etl_control_plane"
    min_passes = 2
    warm_passes = 0  # the check is itself a full cycle
    ops_per_pass = 16

    def __init__(self) -> None:
        self.day = 0
        self.rows: dict[tuple[str, str], int] = {}
        self.cycle = 0
        self.work = ""  # the run's ETL directory, set by prepare()
        self.lineitem = None  # fixture lineitem (pandas), the pool of ETL rows

    # seeded inputs
    def _dt(self, day: int) -> str:
        return str(FIRST_DAY + day).replace("-", "")

    def _day_frame(self, ctx, day: int):
        import pandas as pd

        if self.lineitem is None:
            import pyarrow.parquet as pq

            self.lineitem = pq.read_table(os.path.join(ctx.fx_dir, "lineitem.parquet")).to_pandas()
        rng = np.random.default_rng(ctx.seed * 100_003 + day)
        parts = []
        for src in SRCS:
            n = int(rng.integers(200, 400))
            pdf = self.lineitem.sample(n=n, random_state=rng)[ETL_COLUMNS]
            parts.append(pdf.assign(dt=self._dt(day), src=src))
            self.rows[(self._dt(day), src)] = n
        return pd.concat(parts, ignore_index=True)

    @property
    def location(self) -> str:
        return os.path.join(self.work, "lineitem_daily")

    def _partitions(self, ctx) -> int:
        return len(ctx.spark.sql(f"SHOW PARTITIONS {ETL_DB}.{ETL_TABLE}").collect())

    def _live(self) -> int:
        return RETAIN_DAYS * len(SRCS)

    def prepare(self, ctx) -> None:
        import pandas as pd

        from gluettalax_spark.plans import catalog
        from gluettalax_spark.sources.io import write_partitioned

        self.work = os.path.join(ctx.run_dir, "etl")
        spark = ctx.spark
        spark.sql(f"DROP DATABASE IF EXISTS {ETL_DB} CASCADE")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.rows.clear()
        frames = [self._day_frame(ctx, d) for d in range(RETAIN_DAYS)]
        self.day = RETAIN_DAYS
        with ctx.tracer.span("sources.write_partitioned"):
            write_partitioned(spark.createDataFrame(pd.concat(frames, ignore_index=True)),
                              self.location, ["dt", "src"])
        with ctx.tracer.span("catalog.create_table"):
            catalog.create_database(spark, ETL_DB, location=os.path.join(self.work, "db"))
            catalog.create_external_table(spark, ETL_DB, ETL_TABLE, self.location, ETL_SCHEMA,
                                          partition_keys=["dt", "src"])
            spark.catalog.recoverPartitions(f"{ETL_DB}.{ETL_TABLE}")
        catalog.Crawler(spark, CRAWLER, ETL_DB, ETL_TABLE, self.location)

    def check(self, ctx) -> None:
        """The warm-up cycle; every cycle checks its invariants anyway."""
        self.run_pass(ctx, traced=False, timed=False)

    @staticmethod
    def _cli(ctx, *argv: str):
        """An op running one ``gluettalax`` command in-process."""
        from gluettalax_spark import cli

        def op():
            with ctx.tracer.span("cli.main"), contextlib.redirect_stdout(io.StringIO()):
                return cli.main(["gluettalax", *argv]) == 0

        return op

    def run_pass(self, ctx, traced: bool, timed: bool = True) -> None:
        from gluettalax_spark.jobs import SUCCEEDED, default_registry
        import gluettalax_spark.builtin_jobs  # noqa: F401 - registers nightly_etl
        from gluettalax_spark.plans import catalog
        from gluettalax_spark.session import get_spark
        from gluettalax_spark.sources.io import write_partitioned

        spark, db, t = ctx.spark, ETL_DB, ETL_TABLE
        rng = random.Random(ctx.seed * 1_000_003 + self.cycle)
        self.cycle += 1
        day, oldest = self.day, self.day - RETAIN_DAYS
        dt, old_dt = self._dt(day), self._dt(oldest)
        run = ctx.op if timed else ctx.untimed_op
        frame = spark.createDataFrame(self._day_frame(ctx, day))
        self.day += 1

        def cli(name: str, *argv: str) -> None:
            run(name, self._cli(ctx, *argv), traced)
            # The CLI builds its session with the default core count, which
            # resets the shared session's shuffle partitions: re-pin them.
            get_spark("perfbench", cpus=str(ctx.cpus))

        def write():
            with ctx.tracer.span("sources.write_partitioned"):
                write_partitioned(frame, self.location, ["dt", "src"], mode="append")
            return True

        run("sources.write_partitioned", write, traced)
        for src in SRCS[:-1]:
            def add(src=src):
                with ctx.tracer.span("catalog.add_partition"):
                    catalog.add_partition(spark, db, t, {"dt": dt, "src": src})
                return True

            run("catalog.add_partition", add, traced)
        cli("cli.add_partition", "addp", db, t, f"--dt={dt}", f"--src={SRCS[-1]}")
        ctx.check("partitions_after_add", self._partitions(ctx) == self._live() + len(SRCS))

        before = {r.run_id for r in default_registry.runs_df(spark).collect()}
        wall: list[float] = []

        def job():
            with ctx.tracer.span("jobs.run"):
                t0 = time.perf_counter()
                ok = default_registry.run(spark, "nightly_etl", THE_DATE=dt, SF_DIR=ctx.fx_dir)
                wall.append(time.perf_counter() - t0)
            return bool(ok)

        run("jobs.run", job, traced)
        new = [r for r in default_registry.runs_df(spark).collect() if r.run_id not in before]
        ctx.check("job_run_succeeded", len(new) == 1 and new[0].state == SUCCEEDED)
        if traced and wall and len(new) == 1:
            ctx.sample("jobs.execution_s", new[0].execution_time)
            ctx.sample("jobs.runner_overhead_s", wall[0] - new[0].execution_time)

        def pruned():
            with ctx.tracer.span("catalog.pruned_read"):
                n = spark.table(f"{db}.{t}").where(f"dt = '{dt}'").count()
            return n == sum(self.rows[(dt, s)] for s in SRCS)

        run("catalog.pruned_read", pruned, traced)
        run("streaming.drain", lambda: self._drain(ctx, traced), traced)

        def listp():
            with ctx.tracer.span("catalog.list_partitions"):
                parts = catalog.list_partitions(spark, db, t)
            return len(parts.data) == self._live() + len(SRCS)

        run("catalog.list_partitions", listp, traced)
        cli("cli.list_partitions", "lsp", db, t)

        for src in SRCS[:-1]:
            def delete(src=src):
                with ctx.tracer.span("catalog.delete_partition"):
                    catalog.delete_partition(spark, db, t, {"dt": old_dt, "src": src})
                return True

            run("catalog.delete_partition", delete, traced)
        cli("cli.delete_partition", "rmp", db, t, f"--dt={old_dt}", f"--src={SRCS[-1]}")
        # Retention: the expired day's files go too (delete is metadata-only).
        shutil.rmtree(os.path.join(self.location, f"dt={old_dt}"))
        ctx.check("partitions_after_delete", self._partitions(ctx) == self._live())

        # Drift: a seeded set of live partitions loses its catalog entry;
        # discovery by location must add exactly those back.
        live = sorted((self._dt(d), s) for d in range(oldest + 1, day) for s in SRCS)
        dropped = rng.sample(live, DRIFT)
        for d, s in dropped:
            spark.sql(f"ALTER TABLE {db}.{t} DROP PARTITION (dt='{d}', src='{s}')")

        def repair():
            with ctx.tracer.span("catalog.add_partitions_by_location"):
                res = catalog.add_partitions_by_location(spark, db, t)
            added = sorted((p.split("dt=")[1].split("/")[0], p.split("src=")[1].strip("/")) for p in res["added"])
            return added == sorted(dropped)

        run("catalog.add_partitions_by_location", repair, traced)
        ctx.check("partitions_after_repair", self._partitions(ctx) == self._live())

        def crawl():
            with ctx.tracer.span("catalog.crawler_run"):
                catalog.Crawler.get(CRAWLER).run()
            return True

        run("catalog.crawler_run", crawl, traced)
        ctx.check("partitions_after_crawl", self._partitions(ctx) == self._live())

        n_runs = len(default_registry.runs_df(spark).collect())

        def list_runs():
            with ctx.tracer.span("jobs.list_runs"):
                runs = default_registry.list_runs(spark, "nightly_etl")
            return len(runs) == n_runs and all(r.state == SUCCEEDED for r in runs)

        run("jobs.list_runs", list_runs, traced)
        cli("cli.list_runs", "lsr", "nightly_etl", "--lines=5")

    def _drain(self, ctx, traced: bool) -> bool:
        import gluettalax_spark.streaming.stateful as st
        import gluettalax_spark.streaming.windows as sw

        name, mode = STREAM_TWIN
        builder = getattr(st, name, None) or getattr(sw, name)
        with ctx.tracer.span("streaming.drain"), tempfile.TemporaryDirectory(dir=ctx.run_dir) as ckpt:
            t0 = time.perf_counter()
            q = (
                builder(ctx.spark, ctx.fx_dir).writeStream.outputMode(mode).format("noop")
                .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            )
            try:
                q.processAllAvailable()
                progress = q.recentProgress
            finally:
                q.stop()
            wall = time.perf_counter() - t0
        out_rows = sum(p.sink.numOutputRows for p in progress)
        if traced:
            in_rows = sum(p.numInputRows for p in progress)
            ctx.sample("streaming.drain_s", wall)
            ctx.sample("streaming.rows_per_s", in_rows / wall)
            ctx.sample("streaming.batches", len(progress))
            ctx.sample("streaming.state_rows", sum(o.numRowsTotal for o in progress[-1].stateOperators) if progress else 0)
            ctx.sample("streaming.add_batch_ms", sum(p.durationMs.get("addBatch", 0) for p in progress))
            ctx.sample("streaming.commit_ms", sum(
                p.durationMs.get("commitOffsets", 0) + p.durationMs.get("walCommit", 0)
                + sum(o.commitTimeMs for o in p.stateOperators) for p in progress))
        if out_rows != STREAM_EXPECTED_ROWS:
            ctx.log(f"stream output rows {out_rows}, pinned {STREAM_EXPECTED_ROWS}")
        return out_rows == STREAM_EXPECTED_ROWS


WORKLOADS = {
    "tpch_floor": lambda: DataPlane("tpch_floor", TPCH_KEYS, min_passes=3, warm_passes=1),
    "iterative_cuts": lambda: DataPlane("iterative_cuts", ITERATIVE_KEYS, min_passes=3, warm_passes=0),
    "etl_control_plane": EtlControlPlane,
}
