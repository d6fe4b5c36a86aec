"""Spans and per-job-group Spark counters.

Every workload routes its layer calls through :class:`Recorder`. A span has
a name, start, end, parent, request id and optional attributes, and lives
in memory until the run ends. With tracing on, each span also gets its own
Spark job group, and :func:`harvest` reads every group's jobs and stages
from the application status store once, after the measured window.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Recorder:
    def __init__(self, spark, tracing: bool):
        self.sc = spark.sparkContext
        self.tracing = tracing
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.jobgroup_s = 0.0  # time spent setting job groups
        self.t0 = time.perf_counter()

    def _set_group(self, span: dict | None) -> None:
        t = time.perf_counter()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span['id']}", span["name"], interruptOnCancel=False)
        self.jobgroup_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            **attrs,
        }
        if self.tracing:
            self._set_group(s)
        self._stack.append(s)
        s["start"] = time.perf_counter() - self.t0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.spans.append(s)
            if self.tracing:
                self._set_group(parent)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``; returns its result."""
        with self.span(name):
            return fn(*args, **kwargs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's children subtracted."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def harvest(spark) -> dict[str, dict]:
    """Counters per job group from the status store:
    ``{group: {jobs, stages, tasks, executor_run_ms, input_records,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes}}``. Skipped
    stages are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = {}
    for st in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        if st.status().toString() == "SKIPPED":
            continue
        stages[st.stageId()] = st
    out: dict[str, dict] = {}
    for job in _seq(store.jobsList(None)):
        grp = job.jobGroup()
        key = grp.get() if grp.isDefined() else ""
        c = out.setdefault(key, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
            "input_records": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        })
        c["jobs"] += 1
        for sid in _seq(job.stageIds()):
            st = stages.pop(sid, None)  # a stage shared by two jobs counts once
            if st is None:
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["input_records"] += st.inputRecords()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
