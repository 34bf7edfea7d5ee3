"""Job registry + runner — the engine analog of AWS Glue jobs
(reference Job class, gluettalax.py:227-271; SURVEY.md §2.C).

A "job" here is a named PySpark pipeline ``(spark, **args) -> DataFrame``
registered in-process:

* **sync** run = direct invocation with a watchdog thread enforcing the
  timeout via ``cancelJobGroup`` (kills the Spark jobs, not the session);
* **async** run = worker thread; callers poll ``get_run_state`` exactly
  like the reference polls Glue (gluettalax.py:266-270);
* **concurrency** = per-job semaphore sized by ``max_concurrent_runs``
  (Glue's MaxConcurrentRuns, gluettalax.py:679) →
  :class:`JobConcurrentRunsExceeded` when exhausted (:259-260);
* **history** = the registry's run records. A3/C5/D5-D7 (filter, status
  exclusion, per-job last-N window) read them directly, with no Spark
  job, as the reference filters ``get_job_runs`` on the client;
  ``runs_df`` is the DataFrame view for the run-history operators.

Args are strings end-to-end, like Glue job arguments (gluettalax.py:254).
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession

from gluettalax_spark.exceptions import (
    JobConcurrentRunsExceeded,
    JobNotFound,
    JobTimeout,
)

DEFAULT_JOB_DELAY = 10  # seconds (gluettalax.py:83)

# Terminal states (gluettalax.py:85-86)
SUCCEEDED = "SUCCEEDED"
FAILED = "FAILED"
RUNNING = "RUNNING"
TIMEOUT = "TIMEOUT"


@dataclass
class JobRun:
    run_id: str
    job_name: str
    arguments: dict[str, str]
    state: str = RUNNING
    started_on: datetime = field(default_factory=lambda: datetime.now(timezone.utc))
    execution_time: float = 0.0
    error: str | None = None


@dataclass
class JobDef:
    name: str
    fn: Callable[..., DataFrame | None]
    default_timeout: float = 2880 * 60.0  # Glue's default Timeout: 2880 min
    max_concurrent_runs: int = 1


class JobRegistry:
    """Named-pipeline registry + runner + run history."""

    def __init__(self) -> None:
        self._jobs: dict[str, JobDef] = {}
        self._runs: dict[str, JobRun] = {}
        self._semaphores: dict[str, threading.Semaphore] = {}
        self._lock = threading.Lock()

    # -- registry ----------------------------------------------------------

    def register(
        self,
        name: str,
        fn: Callable[..., DataFrame | None],
        timeout: float | None = None,
        max_concurrent_runs: int = 1,
    ) -> None:
        with self._lock:
            self._jobs[name] = JobDef(
                name=name,
                fn=fn,
                default_timeout=timeout if timeout is not None else 2880 * 60.0,
                max_concurrent_runs=max_concurrent_runs,
            )
            self._semaphores[name] = threading.Semaphore(max_concurrent_runs)

    def get(self, name: str) -> JobDef:
        with self._lock:
            if name not in self._jobs:
                raise JobNotFound(f"Job not found {name}")  # gluettalax.py:236-237
            return self._jobs[name]

    def list_jobs(self, full: bool = False) -> list:
        """A2 (gluettalax.py:294-302): names, or full definitions."""
        with self._lock:
            jobs = sorted(self._jobs.values(), key=lambda j: j.name)
        return jobs if full else [j.name for j in jobs]

    # -- execution ---------------------------------------------------------

    def get_run_state(self, run_id: str) -> str:
        """A7 (gluettalax.py:247-251)."""
        with self._lock:
            if run_id not in self._runs:
                raise JobNotFound(f"Run not found {run_id}")
            return self._runs[run_id].state

    def run(
        self,
        spark: SparkSession,
        name: str,
        delay: float = DEFAULT_JOB_DELAY,
        timeout: float | None = None,
        op_async: bool = False,
        **kargs: str,
    ) -> bool | str:
        """C2 (gluettalax.py:253-271). Sync → returns success bool;
        async → returns the run_id immediately (:264-265).

        The watchdog cancels the run's Spark job group on timeout —
        executors stop promptly; the session survives (SURVEY.md §7
        hard-parts note)."""
        job = self.get(name)
        effective_timeout = timeout if timeout is not None else job.default_timeout
        sem = self._semaphores[name]
        if not sem.acquire(blocking=False):
            raise JobConcurrentRunsExceeded(
                f"Job {name}: max {job.max_concurrent_runs} concurrent runs"
            )  # gluettalax.py:259-260

        run = JobRun(
            run_id=f"jr_{uuid.uuid4().hex}",
            job_name=name,
            arguments={str(k): str(v) for k, v in kargs.items()},
        )
        with self._lock:
            self._runs[run.run_id] = run

        def work() -> None:
            t0 = time.monotonic()
            spark.sparkContext.setJobGroup(run.run_id, f"job {name}", interruptOnCancel=True)
            # Each job runs in its own fair-scheduler pool so one heavy job
            # can't starve concurrent ones (the in-process analog of Glue
            # jobs getting separate capacity). Thread-local, like JobGroup.
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"job_{name}")
            try:
                result = job.fn(spark, **run.arguments)
                if isinstance(result, DataFrame):
                    result.count()  # materialize, like a Glue job writing output
                with self._lock:
                    if run.state == RUNNING:
                        run.state = SUCCEEDED
            except Exception as exc:  # noqa: BLE001 - job code is arbitrary
                with self._lock:
                    if run.state == RUNNING:
                        run.state = FAILED
                        run.error = f"{type(exc).__name__}: {exc}"
            finally:
                spark.sparkContext.setJobGroup("", "")
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
                with self._lock:
                    run.execution_time = time.monotonic() - t0
                sem.release()

        worker = threading.Thread(target=work, name=f"job-{run.run_id}", daemon=True)

        def watchdog() -> None:
            worker.join(effective_timeout)
            if worker.is_alive():
                with self._lock:
                    if run.state == RUNNING:
                        run.state = TIMEOUT
                spark.sparkContext.cancelJobGroup(run.run_id)

        watcher = threading.Thread(target=watchdog, name=f"watch-{run.run_id}", daemon=True)
        worker.start()
        watcher.start()

        if op_async:
            return run.run_id

        # Sync wait (reference polls every `delay`; locally we join but
        # preserve the timeout contract, gluettalax.py:266-270).
        worker.join(effective_timeout + 1.0)
        state = self.get_run_state(run.run_id)
        if state == TIMEOUT or worker.is_alive():
            raise JobTimeout(f"Job {name} timeout after {effective_timeout}s")
        return state == SUCCEEDED

    # -- history (A3/C5) ---------------------------------------------------

    def _rows(self) -> list[Row]:
        """A snapshot of the run history, one ``Row`` per run with the
        fields of ``runs_df`` (``started_on`` naive UTC)."""
        with self._lock:
            return [
                Row(
                    run_id=r.run_id,
                    job_name=r.job_name,
                    state=r.state,
                    started_on=r.started_on.replace(tzinfo=None),
                    execution_time=float(r.execution_time),
                    arguments=dict(r.arguments),
                    error=r.error,
                )
                for r in self._runs.values()
            ]

    def runs_df(self, spark: SparkSession) -> DataFrame:
        """Run history as a DataFrame (the reference's JobRun records,
        gluettalax.py:305-330) — the view the ``runhistory`` operators
        query; ``list_runs`` and ``last_runs_per_job`` read the registry
        directly."""
        schema = (
            "run_id string, job_name string, state string, started_on timestamp, "
            "execution_time double, arguments map<string,string>, error string"
        )
        return spark.createDataFrame(self._rows(), schema=schema)

    def _newest_first(self) -> list[Row]:
        """History ordered by ``started_on`` descending, ties by ``run_id``
        ascending (two stable sorts)."""
        rows = sorted(self._rows(), key=lambda r: r.run_id)
        return sorted(rows, key=lambda r: r.started_on, reverse=True)

    def list_runs(
        self,
        spark: SparkSession,
        name: str | None = None,
        lines: int | None = None,
        include_succeeded: bool = True,
    ) -> list[Row]:
        """A3 (gluettalax.py:305-326): filter by job, optional SUCCEEDED
        exclusion (D5), newest-first limit (D6) — client-side over the
        registry, like the reference filters ``get_job_runs``; no Spark
        job. ``spark`` is kept for API compatibility."""
        if name is not None:
            self.get(name)  # raise JobNotFound like the reference
        rows = [
            r
            for r in self._newest_first()
            if (name is None or r.job_name == name)
            and (include_succeeded or r.state != SUCCEEDED)  # D5
        ]
        return rows if lines is None else rows[: max(int(lines), 0)]  # D6

    def last_runs_per_job(self, spark: SparkSession, lines: int = 1) -> list[Row]:
        """C5's all-jobs report (gluettalax.py:343-345): the last N runs
        per job (D7), ordered by job name, newest first within a job."""
        per_job: dict[str, list[Row]] = {}
        for r in self._newest_first():
            kept = per_job.setdefault(r.job_name, [])
            if len(kept) < lines:
                kept.append(r)
        return [r for job in sorted(per_job) for r in per_job[job]]

    def load_history(self, runs) -> None:
        """Restore run history (e.g. from a persisted runs table) into
        this registry. Replayed records are indistinguishable from live
        ones to A3/C5/D5–D7 and to ``runs_df``."""
        with self._lock:
            for r in runs:
                self._runs[r.run_id] = r

    def clear(self) -> None:
        with self._lock:
            self._jobs.clear()
            self._runs.clear()
            self._semaphores.clear()


# Process-global default registry (the reference's Glue service analog).
default_registry = JobRegistry()


def run_job(
    spark: SparkSession,
    name: str,
    delay: float = DEFAULT_JOB_DELAY,
    timeout: float | None = None,
    op_async: bool = False,
    **kargs: str,
) -> bool | str:
    """C4 functional wrapper (gluettalax.py:290-291)."""
    return default_registry.run(
        spark, name, delay=delay, timeout=timeout, op_async=op_async, **kargs
    )
