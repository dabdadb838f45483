"""Traced mode: spans around the calls into each package layer, and the
Spark counters of every op.

Spans are recorded from the benchmark's side of each layer boundary: the
runner opens the op and phase spans itself, and :meth:`Tracer.wrap`
replaces a few package functions, in every package module that binds
them, with pass-through wrappers that open a span. No package source is
changed. Spans stay in memory and are written once, at exit.

Spark counters come from public status surfaces: ``statusTracker()`` for
jobs, stages and tasks, ``getPersistentRDDs()`` for checkpoint storage,
and the JVM's ``GarbageCollectorMXBean`` for GC time. The one internal
call waits for the listener bus to drain before the status store is read.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator, Optional

PACKAGE = "data_pipeline_etl_spark"

# Package functions that get a span of their own when called from inside
# an op: (module, attribute) -> span name.
NESTED_SPANS = {
    (f"{PACKAGE}.session", "configure"): "session.configure",
    (f"{PACKAGE}.sources.tables", "table"): "sources.table",
    (f"{PACKAGE}.sources.tables", "fanout"): "sources.fanout",
    (f"{PACKAGE}.operators.materialized", "materialize_once"): "materialized.materialize_once",
    (f"{PACKAGE}.checkpoints", "free_local_checkpoint"): "checkpoints.free_local_checkpoint",
    (f"{PACKAGE}.streaming.jobs", "run_to_memory_sink"): "streaming.run_to_memory_sink",
}


class Tracer:
    """In-memory span recorder. While ``on`` is false every span is a
    no-op, so a traced run can time some passes untraced."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.on = False
        self.op_id: Optional[int] = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Optional[dict[str, Any]]]:
        if not self.on:
            yield None
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
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self) -> None:
        """Open a span around every call of each NESTED_SPANS function, by
        rebinding it in every loaded package module that holds it."""
        for (module_name, attr), span_name in NESTED_SPANS.items():
            fn = getattr(importlib.import_module(module_name), attr)
            wrapped = self._wrapper(fn, span_name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE) and (
                    getattr(mod, attr, None) is fn
                ):
                    setattr(mod, attr, wrapped)

    def _wrapper(self, fn: Callable, span_name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            if span_name == "materialized.materialize_once":
                # materialize_once(spark, key, build) calls build() only on
                # the session's first touch of the artifact.
                spark, key, build = args
                args = (spark, key, self._wrapper(build, "materialized.build"))
            with self.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def self_time(self, rec: dict[str, Any]) -> float:
        """A span's duration minus the part its direct children cover."""
        children = sum(
            s["end"] - s["start"]
            for s in self.spans[rec["id"] + 1 :]
            if s["parent"] == rec["id"]
        )
        return (rec["end"] - rec["start"]) - children

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class SparkCounters:
    """Jobs, stages and tasks of one op, read after the op returns.

    Job ids are sequential per SparkContext and the benchmark runs one
    client thread, so the op's jobs are exactly the ids allocated since
    the previous op. That also catches jobs that run under another job
    group, such as the micro-batches of a streaming drain. The op's
    execution phase runs under its own job group; every other job of the
    op was launched inside the query-function call.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.next_job = 0
        self.take()

    def set_group(self, group: Optional[str]) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _drain(self) -> None:
        # Job and stage events reach the status store asynchronously.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def take(self, exec_group: Optional[str] = None) -> dict[str, int]:
        """Counters of the jobs launched since the last call."""
        self._drain()
        # Stop after a run of unknown ids rather than at the first, in case
        # an allocated id never reached the status store.
        jobs, misses, probe = [], 0, self.next_job
        while misses < 16:
            info = self.tracker.getJobInfo(probe)
            if info is None:
                misses += 1
            else:
                jobs.append(info)
                misses = 0
                self.next_job = probe + 1
            probe += 1
        exec_ids = set(self.tracker.getJobIdsForGroup(exec_group)) if exec_group else set()
        stage_ids = {s for info in jobs for s in info.stageIds}
        stages = tasks = failed = serial = 0
        for sid in stage_ids:
            stage = self.tracker.getStageInfo(sid)
            if stage is None:
                continue
            ran = stage.numCompletedTasks + stage.numFailedTasks
            if ran == 0:  # skipped: its shuffle output was reused
                continue
            stages += 1
            tasks += ran
            failed += stage.numFailedTasks
            serial += stage.numTasks == 1
        return {
            "jobs": len(jobs),
            "build_jobs": sum(info.jobId not in exec_ids for info in jobs),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "serial_stages": serial,
        }

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def gc_seconds(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0
