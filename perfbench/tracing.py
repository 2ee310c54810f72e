"""Spans around the benchmark's calls into each engine module, plus the
per-job-group Spark counters read back from the event log.

A span records its layer, name, start, end, parent and the id of the
client operation it belongs to. Spans stay in memory and are written out
when the run ends. While a span is open, the Spark job group is set to
``<layer>#<span id>``, so every job the call triggers is attributed to that
span; the event log (enabled only in the traced run) then gives each job
group's task time, shuffle, spill, failed tasks and bytes scanned per
table directory.

The untraced run uses :class:`NullTracer`, whose spans cost nothing and
set no job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import re
import time
from collections import defaultdict

LAYERS = [
    "sources", "model", "extract", "kg.construct", "kg.refactor",
    "kg.materialize", "pipeline", "provider",
]


class NullTracer:
    on = False

    @contextlib.contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        yield {}

    def operation(self, op_id):
        return contextlib.nullcontext()


class Tracer:
    on = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = None

    @contextlib.contextmanager
    def operation(self, op_id):
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        assert layer in LAYERS, layer
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "layer": layer, "name": name or layer,
            "parent": parent["id"] if parent else None, "op": self._op,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"{layer}#{sp['id']}", sp["name"], True)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{parent['layer']}#{parent['id']}", parent["name"], True)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time inside client operations: each span's
        duration minus the part of it its child spans cover (children
        never overlap: there is one client thread)."""
        child_s: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_s[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp["op"] is not None:
                out[sp["layer"]] += (sp["end"] - sp["start"]) - child_s[sp["id"]]
        return dict(out)


# -- event log ----------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_LOCATION = re.compile(r"\[(?:file:)?([^,\]]+)")


def _scan_nodes(info: dict, out: dict[int, str]) -> None:
    """accumulator id of 'size of files read' -> scanned directory, for every
    file scan in a (possibly adaptive) plan tree."""
    loc = (info.get("metadata") or {}).get("Location", "")
    if loc:
        m = _LOCATION.search(loc)
        for metric in info.get("metrics", []):
            if metric["name"] == "size of files read" and m:
                out[metric["accumulatorId"]] = m.group(1)
    for child in info.get("children", []):
        _scan_nodes(child, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Counters per job group from the Spark event log(s) in ``log_dir``:
    jobs, job time, task run time, shuffle bytes written, spill bytes,
    failed tasks, and bytes of files scanned per directory."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_dir: dict[int, str] = {}
    accum_exec: dict[int, int] = {}
    accum_val: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "job_s": 0.0, "task_s": 0.0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "failed_tasks": 0, "scanned": defaultdict(int)}
    )
    tasks = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"]}
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        g = groups[job["group"]]
                        g["jobs"] += 1
                        g["job_s"] += (ev["Completion Time"] - job["start"]) / 1000
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    found: dict[int, str] = {}
                    _scan_nodes(ev["sparkPlanInfo"], found)
                    for acc, d in found.items():
                        accum_dir[acc] = d
                        accum_exec[acc] = ev["executionId"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc, val in ev["accumUpdates"]:
                        accum_val[acc] = val
    for ev in tasks:
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        g = groups[group]
        m = ev.get("Task Metrics") or {}
        g["task_s"] += m.get("Executor Run Time", 0) / 1000
        g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
            g["failed_tasks"] += 1
    for acc, val in accum_val.items():
        group = exec_group.get(accum_exec.get(acc, -1))
        if group is not None and acc in accum_dir:
            groups[group]["scanned"][accum_dir[acc]] += int(val)
    return dict(groups)


def span_counters(groups: dict[str, dict]) -> dict[int, dict]:
    """Event-log counters keyed by span id (a span's own job group only)."""
    out = {}
    for key, g in groups.items():
        layer, _, sid = key.rpartition("#")
        if sid.isdigit() and layer in LAYERS:
            out[int(sid)] = g
    return out
