"""Spans and Spark counters, read from outside the program's layers.

Spans wrap the benchmark's own calls into each layer.  Counters come
from Spark's public surfaces after the fact:

- Catalyst phase times: ``queryExecution().tracker().phases()``;
- jobs per job group: the status tracker;
- stage and task metrics: the status store's stage list, serialized
  once per read with Spark's own Jackson mapper (one py4j round trip
  instead of one per field);
- micro-batch phases and state-store metrics: ``recentProgress``.

Nothing here changes how the program runs.  With tracing off a
``Tracer`` records nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles of ``statistics.quantiles(values, n=4)``: the rule a
    metric's bound is checked against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


class Tracer:
    """In-memory spans (name, trace id, parent, start, end), written at exit."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.self_s = 0.0  # time spent inside the tracer's own bookkeeping

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield
            return
        span = {
            "id": len(self.spans),
            "name": name,
            "trace_id": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": self.now(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = self.now()

    def add(self, name: str, trace_id: str, start: float, end: float, parent=None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a micro-batch phase)."""
        if not self.enabled:
            return -1
        self.spans.append(
            {"id": len(self.spans), "name": name, "trace_id": trace_id,
             "parent": parent, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of a DataFrame's last execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_data(spark, job_ids: list[int]) -> list[dict]:
    """Status-store stage data (with per-task metrics) of the given jobs."""
    tracker = spark.sparkContext.statusTracker()
    wanted: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            wanted.update(info.stageIds)
    if not wanted:
        return []
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        None, True, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return [s for s in json.loads(mapper.writeValueAsString(stages)) if s["stageId"] in wanted]


def exec_sched(stages: list[dict], n_jobs: int) -> dict[str, float]:
    """Executor and scheduler totals over the given stages."""
    run = [s for s in stages if s["numCompleteTasks"] > 0]
    tasks = [t for s in run for t in (s.get("tasks") or {}).values()]

    def read_nothing(t) -> bool:
        m = t.get("taskMetrics") or {}
        return (
            m.get("inputMetrics", {}).get("recordsRead", 0) == 0
            and m.get("shuffleReadMetrics", {}).get("recordsRead", 0) == 0
        )

    return {
        "exec.executor_run_s": sum(s["executorRunTime"] for s in run) / 1e3,
        "exec.executor_cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
        "exec.gc_s": sum(s["jvmGcTime"] for s in run) / 1e3,
        "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in run),
        "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
        "exec.spill_bytes": sum(s["diskBytesSpilled"] for s in run),
        "sched.jobs": n_jobs,
        "sched.stages": len(run),
        "sched.tasks": len(tasks),
        "sched.empty_task_ratio": (
            sum(read_nothing(t) for t in tasks) / len(tasks) if tasks else 0.0
        ),
    }


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
