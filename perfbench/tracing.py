"""Outside-in tracing: spans around calls into the package's layers, plus
Spark counters read from the application status store.

Nothing here edits package code. ``install`` rebinds a few public functions
(``tables.load_table``, ``schema.unify_schemas``, the ``PqDB`` public
methods, ``BaseLoader.run``) to span-recording wrappers in every package
module that holds them; the benchmark opens the remaining spans
(construction, planning, execution, release) around its own calls.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

PACKAGE = "crystal_parquet_database_spark"


class Tracer:
    """Spans kept in memory: ``{"id", "name", "parent", "op", "start", "end",
    "jobs"}``, plus what the caller adds to the yielded record. ``jobs`` is
    the number of Spark jobs submitted while the span was open. A disabled
    tracer records nothing and costs one attribute check per span."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._dag = spark.sparkContext._jsc.sc().dagScheduler() if enabled else None

    def _jobs(self) -> int:
        # DAGScheduler.nextJobId is bumped synchronously by submitJob in the
        # submitting thread, so it is exact at span boundaries without a
        # listener-bus drain.
        return self._dag.numTotalJobs()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        jobs0 = self._jobs()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self._jobs() - jobs0
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _rebind(orig, wrapped) -> None:
    """Replace ``orig`` by ``wrapped`` in every loaded package module."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapped)


def install(tracer: Tracer) -> None:
    from crystal_parquet_database_spark import schema, tables
    from crystal_parquet_database_spark.db import PqDB
    from crystal_parquet_database_spark.sources.base import BaseLoader

    for fn, name in ((tables.load_table, "tables.load_table"), (schema.unify_schemas, "schema.unify_schemas")):
        _rebind(fn, tracer.wrap(fn, name))
    for method in ("create", "read", "update", "delete", "normalize"):
        setattr(PqDB, method, tracer.wrap(getattr(PqDB, method), f"db.{method}"))
    BaseLoader.run = tracer.wrap(BaseLoader.run, "sources.run")


# ------------------------------------------------------------ Spark counters

STAGE_COUNTERS = ("tasks", "failed_tasks", "task_ms", "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


def max_job_id(spark) -> int:
    """The newest job id the status store knows, once every event queued so
    far is processed.

    The listener bus is drained first: the store is fed asynchronously, and
    an undrained read lags by whatever events are still queued. Jobs are
    counted by the maximum id (``jobsList`` is sorted newest first), not by
    list length, because the store keeps only the last
    ``spark.ui.retainedJobs`` jobs."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def job_counters(spark, job_ids, group: str) -> dict:
    """Counters over the given finished jobs: job count, jobs outside
    ``group`` (submitted from threads that did not inherit the op's job
    group), and the task metrics of their stages, each stage counted once.

    Task time comes from the stages' ``executorRunTime``: in local mode the
    executor summary's ``totalDuration`` advances with wall time even when
    no task runs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(("jobs", "jobs_outside_group", *STAGE_COUNTERS), 0)
    stages: set[int] = set()
    for job_id in job_ids:
        job = store.job(job_id)
        out["jobs"] += 1
        g = job.jobGroup()
        if not (g.isDefined() and g.get() == group):
            out["jobs_outside_group"] += 1
        ids = job.stageIds().mkString(",")
        stages.update(int(i) for i in ids.split(",") if i)
    for stage_id in sorted(stages):
        sd = store.lastStageAttempt(stage_id)
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_ms"] += sd.executorRunTime()
        out["gc_ms"] += sd.jvmGcTime()
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out
