"""Traced-run instrumentation, kept entirely in the benchmark's own files.

Three sources feed the per-layer metrics:

- ``Tracer`` records spans in memory (name, start, end, parent, request
  id) around the calls the benchmark makes into each layer, and writes
  them out once the run ends.
- ``JobGroupProbe`` tags each request's Spark jobs with a job group and
  reads jobs, stages, tasks, executor time, shuffle and spill bytes back
  from the status store.
- ``catalyst_phases`` reads the analysis / optimization / planning
  durations that Spark's ``QueryPlanningTracker`` recorded for a frame.

``LayerStats`` collects the per-request samples and reduces them to the
per-layer metrics both workloads share.

With tracing off every helper here is a no-op, so the untraced run pays
nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; nested calls on the same thread become its
        children and share its request id. Yields the span dict (or None
        when tracing is off) so callers can attach counts."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else f"r{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: dict):
        """Record a span measured elsewhere (e.g. a ``trace=1`` child)."""
        if not self.enabled or parent is None:
            return
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent["id"],
                    "request": parent["request"],
                    "start": start,
                    "end": end,
                }
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def span_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def uncovered_ms(tracer: Tracer, top: dict) -> float:
    """A request's self time: its duration minus its direct children's.
    The children of one request run one after another on its thread."""
    kids = sum(span_ms(s) for s in tracer.spans if s["parent"] == top["id"])
    return max(0.0, span_ms(top) - kids)


class JobGroupProbe:
    """Per-request Spark work, read back from the status store.

    The benchmark sets a job group on the calling thread before a
    request and reads the group's jobs afterwards. Listener events are
    processed asynchronously, so ``collect`` drains the listener bus
    first."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._n = itertools.count(1)

    @contextlib.contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        gid = f"perfbench-{label}-{next(self._n)}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, gid: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "skipped_stages": 0,
            "executor_run_ms": 0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "job_wall_ms": 0.0,
        }
        intervals = []
        seen_stages = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = store.job(jid)
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["job_wall_ms"] = float(_union_ms(intervals))
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def catalyst_phases(df) -> dict:
    """Analysis / optimization / planning milliseconds that Spark
    recorded for this frame's query execution (0 for a phase not run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class LayerStats(dict):
    """Per-layer samples, one list per key, one entry per traced request."""

    def add(self, key: str, value: float) -> None:
        self.setdefault(key, []).append(value)

    def median(self, key: str) -> float:
        return statistics.median(self[key]) if self.get(key) else 0.0

    def mean(self, key: str) -> float:
        return statistics.fmean(self[key]) if self.get(key) else 0.0

    def add_execution(self, spark: dict, phases: dict, exec_ms: float, rows: int) -> None:
        """One request's Spark work and Catalyst phases. What its
        execute-and-collect time holds beyond Spark jobs and Catalyst
        optimization and planning is collect in the Python process."""
        for k, v in phases.items():
            self.add(k + "_ms", v)
        for k, v in spark.items():
            self.add("spark_" + k, v)
        self.add(
            "collect_ms",
            max(
                0.0,
                exec_ms
                - spark["job_wall_ms"]
                - phases["optimization"]
                - phases["planning"],
            ),
        )
        self.add("collect_rows", rows)

    def common(self) -> dict:
        return {
            "catalyst.analysis_ms": self.median("analysis_ms"),
            "catalyst.optimization_ms": self.median("optimization_ms"),
            "catalyst.planning_ms": self.median("planning_ms"),
            "spark.jobs_per_query": self.mean("spark_jobs"),
            "spark.stages_per_query": self.mean("spark_stages"),
            "spark.tasks_per_query": self.mean("spark_tasks"),
            "spark.skipped_stages": self.mean("spark_skipped_stages"),
            "spark.executor_run_ms": self.median("spark_executor_run_ms"),
            "spark.shuffle_write_bytes": self.mean("spark_shuffle_write_bytes"),
            "spark.shuffle_read_bytes": self.mean("spark_shuffle_read_bytes"),
            "spark.spill_bytes": self.mean("spark_spill_bytes"),
            "collect.ms": self.median("collect_ms"),
            "collect.rows": self.mean("collect_rows"),
            "trace.uncovered_ms": self.median("uncovered_ms"),
        }
