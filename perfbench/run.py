#!/usr/bin/env python3
"""Benchmark for gluettalax_spark: one closed-loop client, one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine runs on ``local[N]`` with N the
number of usable cores, passed to ``session.get_spark(cpus=...)``. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A human-readable report goes
to stderr. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import NamedTuple  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
FIXTURE_SF = 0.01
# Variables that change the plans or the core count under test.
PINNED_ENV = ("SPARK_GRAFT_CUT_STYLE", "SPARK_GRAFT_PR_CKPT_EVERY", "SPARK_GRAFT_ANSI",
              "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")
TAIL_CHOICES = (99, 90, 75)  # the highest one leaving >= 10 samples beyond it
TAIL_FALLBACK = 90
# Printed in the report but left out of the result line. On a shared
# host, wall-clock op metrics of identical runs spread by 18-65 % (quartile
# distance over the median) and percentiles over a few heterogeneous ops
# fall into gaps between op types; the JVM's heap growth makes peak RSS
# unsteady (it is the per-layer process.peak_rss_mb); failed_ratio is the
# result's failed/attempted.
REPORT_ONLY = ("op_cpu_p50_s", "op_cpu_tail_s", "ops_per_s", "op_p50_s", "op_tail_s", "peak_rss_mb", "failed_ratio")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], pct: float) -> float:
    """Harrell–Davis estimate of the ``pct`` percentile: a Beta-weighted
    average of the order statistics. Unlike the nearest-rank value it does
    not jump when the percentile falls in a gap between op types."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    p = pct / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    grid = 20_000
    t = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1.0) * np.log(t) + (b - 1.0) * np.log1p(-t)
    w = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(w)]) / w.sum()
    edges = np.interp(np.arange(n + 1) / n, np.arange(grid + 1) / grid, cdf)
    return float(np.dot(np.diff(edges), x))


def tail_pct(n_ops: int) -> int:
    """The highest of p99/p90/p75 that leaves at least ten samples beyond
    it at the workload's fixed op count; p90 when none does."""
    for pct in TAIL_CHOICES:
        if n_ops - -(-n_ops * pct // 100) >= 10:
            return pct
    return TAIL_FALLBACK


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Op(NamedTuple):
    name: str
    wall_s: float
    cpu_s: float  # spans.CpuClock: driver, JVM and workers, JIT threads excluded
    traced: bool


class Context:
    """What a workload sees: the session, fixture, seeded RNG, the tracer
    and the op/check bookkeeping."""

    def __init__(self, args, run_dir: str, fx_dir: str, tracer, cpu) -> None:
        self.seed = args.seed
        self.rng = random.Random(args.seed)
        self.run_dir = run_dir
        self.fx_dir = fx_dir
        self.tracer = tracer
        self.cpu = cpu
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.specs = None
        self.counters = None
        self.ops: list[Op] = []
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.pass_counts: list[dict] = []
        self._seq = 0
        self.log = log

    def sample(self, layer: str, value: float) -> None:
        if self.tracer.enabled:
            self.samples.setdefault(layer, []).append(float(value))

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {name}")

    def release(self) -> None:
        import bench

        with self.tracer.span("memory.release"):
            t0 = time.perf_counter()
            bench._release_sweep_memory(self.spark)
            self.sample("memory.release_s", time.perf_counter() - t0)

    def _call(self, name: str, fn, traced: bool) -> tuple[bool, Op]:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.tracer.op_id = group
        if traced:
            self.counters.begin(group)
        ok = False
        with self.tracer.span(f"op:{name}"):
            c0 = self.cpu.sample()
            t0 = time.perf_counter()
            try:
                ok = bool(fn())
            except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
                log(f"op {name} raised:\n{traceback.format_exc(limit=3)}")
            wall = time.perf_counter() - t0
            cpu = self.cpu.seconds(c0, self.cpu.sample())
        if traced:
            counts = self.counters.end(group)
            persisted, storage_mb = self.counters.storage()
            counts["persisted_rdds"] = persisted
            self.pass_counts[-1]["ops"].append(counts)
            self.sample("memory.storage_mb", storage_mb)
            self.sample(f"{name}_s", wall)
        self.tracer.op_id = None
        self.release()
        return ok, Op(name, wall, cpu, traced)

    def op(self, name: str, fn, traced: bool) -> None:
        """A timed op: wall and CPU time cover ``fn`` only; counters and
        the memory release run after the clocks stop."""
        ok, op = self._call(name, fn, traced)
        self.attempted += 1
        if ok:
            self.ops.append(op)
        else:
            self.failed += 1
            log(f"op failed or wrong: {name}")

    def untimed_op(self, name: str, fn, traced: bool) -> None:
        ok, _ = self._call(name, fn, traced)
        self.check(f"warmup:{name}", ok)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> list[str]:
    """Keep every file the run writes inside the checkout and drop the
    environment knobs that would change the program under test."""
    ignored = [k for k in PINNED_ENV if k in os.environ]
    for k in ignored:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Every JVM, the Spark launcher's included: temp files in the run
    # directory and no hsperfdata file under the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(run_dir)  # spark-warehouse and friends land here
    return ignored


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if spark is not None:
        spark.stop()
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def setup(ctx, wl, gen_s: float, gen_cpu_s: float) -> tuple[list[float], list[float]]:
    """``SETUPS`` set-ups, each on a fresh SparkContext: session, registry
    and the workload's prepare step. The first one starts at process
    start (imports and JVM launch included, input generation excluded).
    Returns the wall and the CPU seconds of each set-up."""
    from gluettalax_spark import registry
    from gluettalax_spark.session import get_spark, tune_for_fixture

    times, cpu = [], []
    for i in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()  # teardown of the previous set-up, not timed
        t0 = T_PROCESS + gen_s if i == 0 else time.perf_counter()
        c0 = {} if i == 0 else ctx.cpu.sample()
        with ctx.tracer.span("setup"):
            with ctx.tracer.span("session.get_spark"):
                t1 = time.perf_counter()
                ctx.spark = get_spark("perfbench", cpus=str(ctx.cpus))
                tune_for_fixture(ctx.spark, ctx.fx_dir)
                ctx.sample("session.get_spark_s", time.perf_counter() - t1)
            with ctx.tracer.span("registry.all_queries"):
                t1 = time.perf_counter()
                ctx.specs = registry.all_queries()
                ctx.sample("registry.all_queries_s", time.perf_counter() - t1)
            wl.prepare(ctx)
        times.append(time.perf_counter() - t0)
        cpu.append(ctx.cpu.seconds(c0, ctx.cpu.sample()) - (gen_cpu_s if i == 0 else 0.0))
    return times, cpu


def host_ticks() -> list[int]:
    """The machine's CPU tick counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def summarize(ctx, setup_cpu: list[float], rss: float, overhead_pct: float | None, tail: int) -> tuple[dict, dict]:
    ops = [o for o in ctx.ops if not o.traced] or ctx.ops
    wall, cpu = [o.wall_s for o in ops], [o.cpu_s for o in ops]
    e2e = {
        "setup_s": (median(setup_cpu), "s"),
        "op_cpu_s": (sum(cpu) / len(cpu) if cpu else 0.0, "s"),
        "op_cpu_p50_s": (percentile(cpu, 50), "s"),
        "op_cpu_tail_s": (percentile(cpu, tail), "s"),
        "ops_per_s": (len(wall) / sum(wall) if wall else 0.0, "1/s"),
        "op_p50_s": (percentile(wall, 50), "s"),
        "op_tail_s": (percentile(wall, tail), "s"),
        "peak_rss_mb": (rss, "MB"),
        "failed_ratio": (ctx.failed / max(ctx.attempted, 1), "ratio"),
    }
    s = ctx.samples
    # Per-pass sums of the job-group counters, median over traced passes.
    passes = [p["ops"] for p in ctx.pass_counts if p["ops"]]

    def per_pass(key: str) -> float:
        return median(sum(c[key] for c in ops) for ops in passes)

    build, action = sum(s.get("operators.build_s", [])), sum(s.get("operators.action_s", []))
    layers = {
        "session.get_spark_s": (median(s.get("session.get_spark_s", [])), "s"),
        "registry.all_queries_s": (median(s.get("registry.all_queries_s", [])), "s"),
        "operators.build_s": (median(s.get("operators.build_s", [])), "s"),
        "operators.action_s": (median(s.get("operators.action_s", [])), "s"),
        "operators.build_share": (build / (build + action) if build + action else 0.0, "ratio"),
        "operators.jobs": (per_pass("jobs"), "count"),
        "operators.stages": (per_pass("stages"), "count"),
        "operators.tasks": (per_pass("tasks"), "count"),
        "operators.shuffle_read_mb": (per_pass("shuffle_read_mb"), "MB"),
        "operators.shuffle_write_mb": (per_pass("shuffle_write_mb"), "MB"),
        "operators.spill_mb": (per_pass("spill_mb"), "MB"),
        "operators.executor_run_s": (per_pass("executor_run_s"), "s"),
        "operators.gc_s": (per_pass("gc_s"), "s"),
        "operators.python_eval_s": (per_pass("python_eval_s"), "s"),
        "tables.input_mb": (per_pass("input_mb"), "MB"),
        "tables.input_rows": (per_pass("input_rows"), "count"),
        "memory.persisted_rdds": (per_pass("persisted_rdds"), "count"),
        "memory.storage_peak_mb": (max(s.get("memory.storage_mb", [0.0])), "MB"),
        "memory.release_s": (median(s.get("memory.release_s", [])), "s"),
        "process.peak_rss_mb": (rss, "MB"),
    }
    for name in ("catalog.add_partition", "catalog.delete_partition", "catalog.list_partitions",
                 "catalog.add_partitions_by_location", "catalog.crawler_run", "catalog.pruned_read",
                 "sources.write_partitioned", "jobs.run", "jobs.list_runs"):
        layers[f"{name}_s"] = (median(s.get(f"{name}_s", [])), "s")
    for name in ("jobs.execution_s", "jobs.runner_overhead_s", "streaming.drain_s"):
        layers[name] = (median(s.get(name, [])), "s")
    cli_pairs = {"cli.add_partition": "catalog.add_partition", "cli.delete_partition": "catalog.delete_partition",
                 "cli.list_partitions": "catalog.list_partitions", "cli.list_runs": "jobs.list_runs"}
    cli_s = [v for c in cli_pairs for v in s.get(f"{c}_s", [])]
    overheads = [v - median(s.get(f"{d}_s", [])) for c, d in cli_pairs.items() for v in s.get(f"{c}_s", [])]
    layers["cli.main_s"] = (median(cli_s), "s")
    layers["cli.overhead_s"] = (median(overheads), "s")
    layers["streaming.rows_per_s"] = (median(s.get("streaming.rows_per_s", [])), "1/s")
    for name in ("streaming.batches", "streaming.state_rows"):
        layers[name] = (median(s.get(name, [])), "count")
    for name in ("streaming.add_batch_ms", "streaming.commit_ms"):
        layers[name] = (median(s.get(name, [])), "ms")
    layers["trace.overhead_pct"] = (overhead_pct or 0.0, "%")
    return e2e, layers


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its JVM: SystemExit unwinds through the
    # finally block that stops Spark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "gluettalax_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        log(f"program under test not found next to {HERE}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import CpuClock, SparkCounters, Tracer, peak_rss_mb

    import fixture
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(workloads.WORKLOADS)}")
        return 2
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ignored = pin_environment(run_dir)
    if ignored:
        log(f"ignoring plan-changing environment: {', '.join(ignored)}")

    cpu = CpuClock()
    t_gen, c_gen = time.perf_counter(), cpu.sample()
    fx_dir = fixture.ensure(os.path.join(build_dir, "fixtures"), FIXTURE_SF)
    tracer = Tracer(bool(args.trace))
    ctx = Context(args, run_dir, fx_dir, tracer, cpu)
    wl = workloads.WORKLOADS[args.workload]()
    gen_s, gen_cpu_s = time.perf_counter() - t_gen, cpu.seconds(c_gen, cpu.sample())

    try:
        setups, setup_cpu = setup(ctx, wl, gen_s, gen_cpu_s)
        if args.trace:
            ctx.counters = SparkCounters(ctx.spark)
        t_check = time.perf_counter()
        wl.check(ctx)
        # Untimed warm passes of the exact timed ops (tpch_floor only; the
        # listed workloads spend that time on timed passes instead).
        for _ in range(wl.warm_passes):
            wl.run_pass(ctx, traced=False, timed=False)
        phases = {"setup_wall_s": setups, "setup_cpu_s": setup_cpu, "check_and_warm_s": time.perf_counter() - t_check}

        # Closed loop: whole passes until the time is up and the workload's
        # fixed op count is reached. A traced run alternates traced and
        # untraced passes, one pass more than the minimum, to measure the
        # tracing overhead inside one process.
        min_passes = wl.min_passes + args.trace
        ticks0 = host_ticks()
        t_start, n_pass = time.perf_counter(), 0
        while True:
            traced = bool(args.trace) and n_pass % 2 == 1
            ctx.pass_counts.append({"ops": []})
            wl.run_pass(ctx, traced)
            n_pass += 1
            if time.perf_counter() - t_start >= args.seconds and n_pass >= min_passes:
                break
        phases["timed_s"] = time.perf_counter() - t_start
        # How much of the machine the hypervisor gave to other guests
        # meanwhile: the context for the wall-clock figures in the report.
        ticks = [b - a for a, b in zip(ticks0, host_ticks())]
        phases["host_steal_pct"] = 100.0 * ticks[7] / max(sum(ticks), 1)
        rss = peak_rss_mb()
    finally:
        stop_spark(ctx.spark)
        ctx.spark = None
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    overhead = None
    if args.trace:
        tr = [o.cpu_s for o in ctx.ops if o.traced]
        un = [o.cpu_s for o in ctx.ops if not o.traced]
        if tr and un:
            overhead = ((sum(tr) / len(tr)) / (sum(un) / len(un)) - 1.0) * 100.0
    tail = tail_pct(wl.ops_per_pass * wl.min_passes)
    e2e, layers = summarize(ctx, setup_cpu, rss, overhead, tail)

    phases["total_s"] = time.perf_counter() - T_PROCESS
    log("phases " + json.dumps(phases))
    log("ops (name=wall/cpu s) " + " ".join(f"{o.name}={o.wall_s:.3f}/{o.cpu_s:.2f}" for o in ctx.ops))
    n_ops = len([o for o in ctx.ops if not o.traced]) or len(ctx.ops)
    log(f"workload={args.workload} seed={args.seed} passes={n_pass} ops={n_ops} "
        f"checks+ops attempted={ctx.attempted} failed={ctx.failed} tail=p{tail}")
    for name, (value, unit) in e2e.items():
        log(f"  {name:<34} {value:>14.6f} {unit}")
    if args.trace:
        for name, (value, unit) in layers.items():
            log(f"  {name:<34} {value:>14.6f} {unit}")
        self_times = tracer.self_times()
        for name in sorted(self_times, key=self_times.get, reverse=True)[:15]:
            log(f"  self {name:<29} {self_times[name]:>14.6f} s")
        trace_path = os.path.join(build_dir, f"trace-{args.workload}-seed{args.seed}.json")
        latencies = {k: {"p50": median(v), f"p{tail}": percentile(v, tail), "n": len(v)}
                     for k, v in ctx.samples.items()}
        tracer.write(trace_path, {"workload": args.workload, "seed": args.seed,
                                  "layers": {k: v for k, (v, _) in layers.items()},
                                  "samples": latencies})
        log(f"trace written to {trace_path}")
    metrics = layers if args.trace else {k: v for k, v in e2e.items() if k not in REPORT_ONLY}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
