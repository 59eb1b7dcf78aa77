"""Spans and Spark status counts for the traced run.

A span records name, start, end, parent span and the operation id that
all spans of one benchmark operation share. Spans stay in memory and
are written as JSONL when the run ends. Layer entry points are wrapped
from here (``wrap``), so the package itself carries no tracing code.

Spark counts come from the status tracker and status store over py4j,
read per job group; both work with the UI disabled.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

COUNT_KEYS = ("jobs", "stages", "tasks", "executor.run_s", "executor.cpu_s",
              "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_op(self) -> int:
        return next(self._ids)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Record one span; the yielded dict takes extra attributes."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               **attrs}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


class NullTracer(Tracer):
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        yield {}


def children(spans: list[dict]) -> dict:
    """Spans by parent id."""
    out: dict = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def preparse_ms(engine_sql: dict, kids: dict) -> float:
    """The pre-parse chain's share of one ``engine.sql`` span: its
    duration minus the ``spark.sql`` calls made under it."""
    inner = sum(c["end"] - c["start"] for c in kids.get(engine_sql["id"], [])
                if c["name"] == "spark.sql")
    return (engine_sql["end"] - engine_sql["start"] - inner) * 1e3


def plan_shape(df) -> dict[str, int]:
    """Shuffle exchanges and Python-evaluation operators in the
    executed plan of a DataFrame that has already run."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    exchanges = (plan.count("Exchange") - plan.count("BroadcastExchange")
                 - plan.count("ReusedExchange"))
    python_eval = sum(plan.count(op) for op in (
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "FlatMapGroupsInPandas"))
    return {"plan.exchanges": exchanges, "plan.python_eval": python_eval}


class SparkCounts:
    """Jobs, stages, tasks, executor time, shuffle bytes and spill of
    the Spark work run under one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._ids = itertools.count(1)

    @contextmanager
    def group(self, group_id: str | None = None):
        """Run the body under a fresh job group (thread-local in the
        JVM); the yielded dict is filled with its counts on exit."""
        gid = group_id or f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(gid, gid, False)
        out: dict = {}
        try:
            yield out
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(prop, None)
            out.update(self.read(gid))

    def read(self, gid: str, seen_jobs: set | None = None) -> dict:
        """Counts of the group's jobs, skipping those in ``seen_jobs``
        (which is then updated)."""
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(gid)
                if seen_jobs is None or j not in seen_jobs]
        if seen_jobs is not None:
            seen_jobs.update(jobs)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(COUNT_KEYS, 0)
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                data = self.store.stageData(sid, False, None, False, None)
            except Exception:  # noqa: BLE001 - evicted or never started
                continue
            for i in range(data.size()):
                st = data.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor.run_s"] += st.executorRunTime() / 1e3
                out["executor.cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle.read_bytes"] += st.shuffleReadBytes()
                out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                out["spill.bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        return out
