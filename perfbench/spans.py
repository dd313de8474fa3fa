"""Spans recorded from outside the library, and the Spark event-log parse.

A span is (name, start, end, parent, run id); spans live in memory and
are written out once, when the run ends.  With tracing off the recorder
does nothing but call through, so end-to-end numbers never pay for it.

The event log is the one Spark writes with ``spark.eventLog.enabled``.
Jobs carry the local property ``perfbench.phase`` set by
:meth:`Tracer.phase`, so stage, task and SQL-metric totals can be
summed per phase of the traced run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid

PHASE_PROP = "perfbench.phase"


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def phase(self, name: str):
        """A span whose Spark jobs are tagged with ``name`` in the event log."""
        with self.span(name) as rec:
            if self.enabled and self.sc is not None:
                self.sc.setLocalProperty(PHASE_PROP, name)
            try:
                yield rec
            finally:
                if self.enabled and self.sc is not None:
                    self.sc.setLocalProperty(PHASE_PROP, None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def nesting_violations(spans: list[dict]) -> list[str]:
    """Names of spans that do not lie inside their parent's interval."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(s["name"])
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is not None and not (p["start"] <= s["start"]
                                  and s["end"] <= p["end"]):
            bad.append(s["name"])
    return bad


# ------------------------------------------------------------ event log

def _plan_metric_ids(plan: dict, acc: dict) -> None:
    """Collect accumulator ids of every BroadcastExchange 'data size'."""
    if plan.get("nodeName", "").endswith("BroadcastExchange"):
        for m in plan.get("metrics", []):
            if m.get("name") == "data size":
                acc[m["accumulatorId"]] = True
    for c in plan.get("children", []):
        _plan_metric_ids(c, acc)


class PhaseStats:
    __slots__ = ("jobs", "stages", "input_b", "shuffle_write_b", "spill_b",
                 "gc_ms", "cpu_ns", "run_ms", "broadcast_b", "stage_tasks",
                 "stage_wall")

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.input_b = 0
        self.shuffle_write_b = 0
        self.spill_b = 0
        self.gc_ms = 0
        self.cpu_ns = 0
        self.run_ms = 0
        self.broadcast_b = 0
        self.stage_tasks: dict[int, list[float]] = {}
        self.stage_wall: dict[int, float] = {}

    def task_skew(self) -> float:
        """max / median task time in the stage with the longest wall."""
        if not self.stage_wall:
            return 0.0
        sid = max(self.stage_wall, key=self.stage_wall.get)
        ds = self.stage_tasks.get(sid) or [0.0]
        med = statistics.median(ds)
        return max(ds) / med if med > 0 else 1.0


def parse_event_log(log_dir: str) -> dict[str, PhaseStats]:
    """Sum the event log of the (single) application in ``log_dir`` per
    phase.  Jobs without a phase land under ``""``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    paths += glob.glob(os.path.join(log_dir, "*", "events_*"))
    stage_phase: dict[int, str] = {}
    exec_phase: dict[int, str] = {}
    bcast_ids: dict[int, dict] = {}
    accum_updates: list[tuple[int, int, int]] = []
    out: dict[str, PhaseStats] = {}

    def ph(name: str) -> PhaseStats:
        return out.setdefault(name, PhaseStats())

    for path in sorted(paths):
        with open(path, errors="ignore") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get(PHASE_PROP) or ""
                    ph(name).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = name
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_phase.setdefault(int(eid), name)
                elif kind == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info", {})
                    sid = si.get("Stage ID")
                    p = ph(stage_phase.get(sid, ""))
                    p.stages += 1
                    if si.get("Submission Time") and si.get("Completion Time"):
                        p.stage_wall[sid] = (si["Completion Time"]
                                             - si["Submission Time"]) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    p = ph(stage_phase.get(sid, ""))
                    ti = ev.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0)
                           - ti.get("Launch Time", 0)) / 1e3
                    p.stage_tasks.setdefault(sid, []).append(dur)
                    tm = ev.get("Task Metrics") or {}
                    p.gc_ms += tm.get("JVM GC Time", 0)
                    p.cpu_ns += tm.get("Executor CPU Time", 0)
                    p.run_ms += tm.get("Executor Run Time", 0)
                    p.spill_b += tm.get("Disk Bytes Spilled", 0)
                    p.input_b += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    p.shuffle_write_b += (tm.get("Shuffle Write Metrics")
                                          or {}).get("Shuffle Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = int(ev.get("executionId", -1))
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}),
                                     bcast_ids.setdefault(eid, {}))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    eid = int(ev.get("executionId", -1))
                    for acc_id, val in ev.get("accumUpdates", []):
                        accum_updates.append((eid, int(acc_id), int(val)))
    for eid, acc_id, val in accum_updates:
        if acc_id in bcast_ids.get(eid, {}):
            ph(exec_phase.get(eid, "")).broadcast_b += val
    return out


def merge(stats: list[PhaseStats]) -> PhaseStats:
    m = PhaseStats()
    for s in stats:
        for k in ("jobs", "stages", "input_b", "shuffle_write_b", "spill_b",
                  "gc_ms", "cpu_ns", "run_ms", "broadcast_b"):
            setattr(m, k, getattr(m, k) + getattr(s, k))
        m.stage_tasks.update(s.stage_tasks)
        m.stage_wall.update(s.stage_wall)
    return m
