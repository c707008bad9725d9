"""Spans recorded around the benchmark's own calls, and Spark's event log
attributed to them.

A span is {id, parent, name, kind, t0, t1, ...}; kinds nest as
run -> workload -> op -> phase.  Every phase sets its own Spark job group,
so each job, and through it each stage, task and SQL node metric in the
event log, belongs to exactly one phase.  The job group is set with tracing
on and off alike: the two runs execute the same Spark calls and launch the
same jobs, and only the event log and its parsing are extra.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
            "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
            "PythonMapInArrow")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
WRITE_MARKERS = ("InsertIntoHadoopFsRelationCommand", "WriteFiles")


class Recorder:
    """In-memory span recorder; written out when the run ends."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "kind": kind, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if kind == "phase" and self.sc is not None:
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.time()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            raise
        finally:
            rec["t1"] = time.time()
            rec["wall_s"] = rec["t1"] - rec["t0"]
            self._stack.pop()
            if "group" in rec:
                rec["jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def spark_conf(event_dir: str) -> dict[str, str]:
    """Session settings for the traced run: a plain, non-rolling,
    uncompressed event log."""
    os.makedirs(event_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for c in node.get("children", []):
        _plan_metrics(c, out)


def parse_eventlog(path: str) -> dict:
    """Jobs, per-stage task totals and per-execution SQL node metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "run_ms": [], "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
        "shuffle_read": 0, "spill": 0, "input_bytes": 0, "output_bytes": 0})
    sql_nodes: dict[int, tuple] = {}
    sql_plan: dict[int, str] = {}
    acc_values: dict[int, float] = defaultdict(float)
    acc_exec: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": e["Submission Time"] / 1000.0, "t1": None,
                    "stages": list(e["Stage IDs"]),
                    "sql": int(sql_id) if sql_id not in (None, "") else None}
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = stages[e["Stage ID"]]
                st["tasks"] += 1
                st["run_ms"].append(m.get("Executor Run Time", 0))
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                st["input_bytes"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                st["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    if a["ID"] in sql_nodes and "Update" in a:
                        acc_values[a["ID"]] += float(a["Update"])
            elif ev.endswith("SQLExecutionStart") or \
                    ev.endswith("SQLAdaptiveExecutionUpdate"):
                found: dict = {}
                _plan_metrics(e["sparkPlanInfo"], found)
                sql_nodes.update(found)
                for acc in found:
                    acc_exec[acc] = e["executionId"]
                sql_plan[e["executionId"]] = (
                    sql_plan.get(e["executionId"], "")
                    + e.get("physicalPlanDescription", ""))
            elif ev.endswith("SQLDriverAccumUpdates") or \
                    ev.endswith("DriverAccumUpdates"):
                for acc, v in e["accumUpdates"]:
                    if acc in sql_nodes:
                        acc_values[acc] += float(v)
    sql_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for acc, v in acc_values.items():
        node, name, mtype = sql_nodes[acc]
        scale = 1e-9 if mtype == "nsTiming" else (
            1e-3 if mtype == "timing" else 1.0)
        sql_metrics[acc_exec[acc]][(node, name)] += v * scale
    return {"jobs": jobs, "stages": dict(stages),
            "sql_metrics": sql_metrics, "sql_plan": sql_plan}


def find_eventlog(event_dir: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress"):
        p = os.path.join(event_dir, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {event_dir}")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def attribute(spans: list[dict], log: dict) -> None:
    """Add the event-log counters of each phase span's jobs to the span."""
    by_group: dict[str, list[int]] = defaultdict(list)
    for jid, j in log["jobs"].items():
        if j["group"]:
            by_group[j["group"]].append(jid)
    for s in spans:
        if "group" not in s:
            continue
        jids = by_group.get(s["group"], [])
        c = {"log_jobs": len(jids), "stages": 0, "tasks": 0, "cpu_s": 0.0,
             "run_s": 0.0, "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
             "spill": 0, "input_bytes": 0, "output_bytes": 0,
             "py_sent": 0.0, "py_returned": 0.0, "py_run_s": 0.0,
             "py_boot_s": 0.0, "write_jobs": 0, "write_s": 0.0,
             "nonwrite_input_bytes": 0,
             "task_run_ms": []}
        intervals, execs = [], set()
        for jid in jids:
            j = log["jobs"][jid]
            t1 = j["t1"] if j["t1"] is not None else s["t1"]
            intervals.append((j["t0"], t1))
            is_write = j["sql"] is not None and any(
                m in log["sql_plan"].get(j["sql"], "") for m in WRITE_MARKERS)
            if j["sql"] is not None:
                execs.add(j["sql"])
            if is_write:
                c["write_jobs"] += 1
                c["write_s"] += t1 - j["t0"]
            for sid in j["stages"]:
                st = log["stages"].get(sid)
                if st is None:        # skipped stage: its output was reused
                    continue
                c["stages"] += 1
                c["tasks"] += st["tasks"]
                c["task_run_ms"] += st["run_ms"]
                c["run_s"] += sum(st["run_ms"]) / 1000.0
                c["cpu_s"] += st["cpu_ns"] / 1e9
                c["gc_s"] += st["gc_ms"] / 1000.0
                for k in ("shuffle_write", "shuffle_read", "spill",
                          "input_bytes", "output_bytes"):
                    c[k] += st[k]
                if not is_write:
                    c["nonwrite_input_bytes"] += st["input_bytes"]
        for ex in execs:
            for (node, name), v in log["sql_metrics"].get(ex, {}).items():
                if not node.startswith(PY_NODES):
                    continue
                if name == PY_SENT:
                    c["py_sent"] += v
                elif name == PY_RETURNED:
                    c["py_returned"] += v
                elif name == PY_RUN:
                    c["py_run_s"] += v
                elif name in PY_BOOT:
                    c["py_boot_s"] += v
        c["job_intervals"] = intervals
        c["job_s"] = _covered(intervals, s["t0"], s["t1"])
        c["driver_gap_s"] = s["wall_s"] - c["job_s"]
        s.update(c)
