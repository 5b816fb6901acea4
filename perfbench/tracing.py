"""Spans around layer calls, plus Spark's own telemetry.

A span records (name, start, end, parent, op id) in memory; spans are
written out when the run ends. While a span is open the Spark job group
is the span name, so jobs it starts can be counted through the status
tracker and, in the event log, attributed back to the span.

With tracing off (or paused) every span is a no-op context manager, so
traced and untraced ops run the same code.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._paused = 0
        self.op_id = -1  # the op (or -1 for set-up) spans are attributed to
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []

    @property
    def active(self) -> bool:
        return self.enabled and not self._paused

    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {"name": name, "parent": self._stack[-1] if self._stack else -1, "op": self.op_id}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        before = set(sc.statusTracker().getJobIdsForGroup(name))
        sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(set(sc.statusTracker().getJobIdsForGroup(name)) - before)
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]["name"]
                sc.setJobGroup(outer, outer)
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)

    def add_sample(self, name: str, value: float) -> None:
        if self.active:
            self.samples[name].append(value)

    # -- span arithmetic --

    def per_op(self, name: str, field: str = "s") -> list[float]:
        """Per op that opened span ``name``: its total seconds (or job
        count) in that span."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["op"]] += s["end"] - s["start"] if field == "s" else s["jobs"]
        return list(out.values())

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part covered by child spans, summed
        per layer (the first dotted component of the span name)."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] >= 0:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: the only JVM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def planning_ms(df) -> float:
    """Analysis + optimization + planning time of the QueryExecution
    that ran (for collect(), the DataFrame's own)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


PY_WORKER_METRIC = "time to run Python workers"


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _plan_metric_ids(c, name, out)


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate an uncompressed JSON event log per job group:
    task CPU s, GC s, spill MB, shuffle-write MB and Python-worker s."""
    # Spark 4 writes a directory of rolled files per application
    files = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
                   if not n.startswith("."))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    py_ids: set = set()
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}), PY_WORKER_METRIC, py_ids)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in tasks:
        g = stage_group.get(ev["Stage ID"], "")
        m = ev.get("Task Metrics") or {}
        o = out[g]
        o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        o["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
        o["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in py_ids:
                o["py_worker_s"] += float(acc.get("Update", 0)) / 1e3
    return out
