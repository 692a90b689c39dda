"""Tracing for the per-layer run: spans around the calls into each layer,
a job group per operation, Catalyst phase times, and a reader for the
Spark event log that attributes jobs, stages and tasks to the spans.

Layers follow the modules: ``construct`` (the Python call that returns the
DataFrame, eager checkpoints included), ``plan`` (Catalyst analysis,
optimization and planning), ``exec`` (jobs, stages, tasks), ``python``
(time inside Python workers), ``stream`` (micro-batch bookkeeping around
the jobs) and ``kernel`` (the numpy codecs, timed directly).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Spans are kept in memory as (name, start, end, parent, op id) and
    written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.phases: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        rec = {"name": name, "op": op_id, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def job_group(self, spark, group: str | None):
        sc = spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def plan(self, df, op_id: str):
        """Force the physical plan and read the QueryPlanningTracker."""
        with self.span("plan", op_id):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            self.phases[op_id] = {
                k: float(phases.apply(k).durationMs())
                for k in ("analysis", "optimization", "planning")
                if phases.contains(k)
            }

    def write(self, path: str):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "phases": self.phases}, f)


# SQL metrics of the Python boundary (PythonSQLMetrics): the bytes and
# times have their own names, the rows metric is the Python node's
# "number of output rows", so metrics are matched by accumulator id
_PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "number of output rows": "py_returned_rows",
    "time to run Python workers": "py_run_ms",
}
_PY_NODES = ("Python", "Pandas", "Arrow")


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Map the accumulator ids of every Python node's metrics in a SQL
    plan tree to the metric keys above."""
    if any(k in plan.get("nodeName", "") for k in _PY_NODES):
        for m in plan.get("metrics", []):
            if m["name"] in _PY_METRICS:
                out[m["accumulatorId"]] = _PY_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate the newest event log of ``log_dir`` by job group: jobs,
    stages, tasks and their metrics."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    py_accs: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:  # SQL execution start or adaptive re-plan
                _python_accumulators(ev["sparkPlanInfo"], py_accs)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                group_of_job[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    group_of_stage[sid] = group
                agg[group]["jobs"] += 1
                agg[group]["stages"] += len(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                a = agg[group_of_stage.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                a["tasks"] += 1
                a["tasks_ok"] += ev.get("Task End Reason", {}).get("Reason") == "Success"
                a["run_ms"] += m.get("Executor Run Time", 0)
                a["cpu_ns"] += m.get("Executor CPU Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                a["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                a["input_bytes"] += im.get("Bytes Read", 0)
                a["input_records"] += im.get("Records Read", 0)
                a["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = py_accs.get(acc.get("ID"))
                    if key:
                        a[key] += float(acc["Update"])
    return {g: dict(v) for g, v in agg.items()}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {i: (s["end"] - s["start"]) - child[i] for i, s in enumerate(spans)}
