"""Spans, Spark status-store counters and process memory.

Everything here is read from outside the engine: spans wrap the
benchmark's own calls into ``gluettalax_spark`` modules, and the Spark
counters come from the job group the benchmark sets around a call plus
Spark's status stores (``AppStatusStore`` for stages and storage,
``SQLAppStatusStore`` for Python-worker time).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

MB = float(1 << 20)


class Tracer:
    """In-memory span recorder. Spans nest on one thread: each records
    its name, start, end, parent span id and the op id it belongs to.
    Disabled tracers record nothing and cost one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        durations of its direct children (children run on the same thread
        inside the parent, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(), **extra}, fh)


_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_timing(text: str) -> float:
    """Seconds from a formatted SQL timing metric: either ``"1.2 s"`` or
    ``"total (min, med, max ...)\\n1.2 s (10 ms, ...)"`` — the total is
    the first value of the last line."""
    m = re.match(r"\s*([\d.,]+)\s*(ns|ms|s|m|h)\b", text.strip().split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _TIME_UNITS[m.group(2)] if m else 0.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Per-call counters from a job group. ``begin(group)`` tags every job
    the calling thread starts; ``end(group)`` waits for the listener bus
    to drain and sums the group's jobs, stages, tasks, shuffle, spill,
    executor and GC time, scan input and Python-worker time."""

    PY_TIME = "time to run Python workers"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1

    def _max_exec_id(self) -> int:
        ex = self._sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def begin(self, group: str) -> None:
        self._last_exec = self._max_exec_id()
        self.sc.setJobGroup(group, group)

    def end(self, group: str, extra_groups: tuple[str, ...] = ()) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        for g in extra_groups:
            job_ids.update(tracker.getJobIdsForGroup(g))
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for j in job_ids:
            with contextlib.suppress(Exception):
                stage_ids.update(_seq(store.job(j).stageIds()))
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
             "executor_run_s", "gc_s", "input_mb", "input_rows", "python_eval_s"), 0.0)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_mb"] += sd.inputBytes() / MB
            out["input_rows"] += sd.inputRecords()
        out["python_eval_s"] = self._python_time(job_ids)
        return out

    def _python_time(self, job_ids: set[int]) -> float:
        total = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self._last_exec:
                break
            if not any(e.jobs().contains(j) for j in job_ids):
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in _seq(self._sql.planGraph(e.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() == self.PY_TIME:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _parse_timing(v.get())
        return total

    def storage(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        rdds = _seq(self._jsc.statusStore().rddList(True))
        return (
            len(self.sc._jsc.getPersistentRDDs()),
            sum(r.memoryUsed() + r.diskUsed() for r in rdds) / MB,
        )


# The JVM's JIT compiler threads. Their work is the JVM compiling itself
# while it warms up, not the program's work; it starts and stops with the
# compiler's queue, so its share of an op varies from run to run, and it
# was more than half the JVM's CPU time in a run of etl_control_plane.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process or thread ended meanwhile
        return None


class CpuClock:
    """CPU time of the program under test: every thread of this process
    and of its descendants (the Spark JVM, its Python workers), minus the
    JVM's JIT compiler threads. Read per thread from ``schedstat``, whose
    run time excludes time the hypervisor steals from the guest, so this
    clock stretches far less with the host's load than wall time does
    (busy neighbours still slow each instruction)."""

    def __init__(self) -> None:
        self._jit: dict[tuple[int, int], bool] = {}

    def _tree(self) -> list[int]:
        parent = {}
        for name in os.listdir("/proc"):
            stat = _read(f"/proc/{name}/stat") if name.isdigit() else None
            if stat:
                parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def sample(self) -> dict[tuple[int, int], int]:
        """Run nanoseconds so far per (pid, tid)."""
        out = {}
        for pid in self._tree():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, int(tid))
                if key not in self._jit:
                    comm = _read(f"/proc/{pid}/task/{tid}/comm") or ""
                    self._jit[key] = comm.startswith(JIT_THREADS)
                if self._jit[key]:
                    continue
                stat = _read(f"/proc/{pid}/task/{tid}/schedstat")
                if stat:
                    out[key] = int(stat.split()[0])
        return out

    @staticmethod
    def seconds(before: dict, after: dict) -> float:
        """CPU seconds between two samples. A thread that ended in between
        drops out; it was running for at most that interval."""
        return sum(max(ns - before.get(k, 0), 0) for k, ns in after.items()) / 1e9


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    from pyspark import SparkContext

    total = _vm_hwm_mb("self")
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        with contextlib.suppress(OSError):
            total += _vm_hwm_mb(proc.pid)
    return total
