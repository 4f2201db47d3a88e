"""Spans around operator calls, Spark event-log attribution and process
memory readings for the benchmark.

Spans are kept in memory and written out when the run ends.  Each
operator call runs under its own Spark job group, one per phase
(``construct`` or ``execute``), so every job, task and SQL metric in the
event log can be attributed to the call that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans and sets Spark job groups; a disabled tracer does
    neither, so untraced passes run the same code path without either."""

    def __init__(self, sc, workload: str, enabled: bool, t0: float):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.t0 = t0
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, op: str, phase: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        if group is not None:
            self.sc.setJobGroup(group, f"{self.workload} {op} {phase}")
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "op": op, "phase": phase, "group": group,
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def with_self_time(self) -> list:
        """Spans with ``self_s``: duration minus the time its children
        cover (children of one span never overlap: calls are serial)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [dict(s, self_s=(s["end"] - s["start"]) - child[s["id"]])
                for s in self.spans]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}
# nodes that evaluate a Python UDF once per input row (output rows == rows in)
_ROW_UDF_NODES = {"ArrowEvalPython", "BatchEvalPython"}


def _event_files(log_dir: str) -> list:
    """The rolling event-log files of the one application, in order."""
    def index(path):
        return int(re.search(r"events_(\d+)_", os.path.basename(path)).group(1))

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=index)


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m.get("metricType"))
    for c in plan.get("children", []):
        _plan_metrics(c, out)


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, tasks, executor CPU, GC, spill, shuffle
    write and Python-worker SQL metrics, summed over its tasks."""
    acc = {}
    stage_group = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e["sparkPlanInfo"], acc)
                elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in e.get("sqlPlanMetrics", []):
                        acc[m["accumulatorId"]] = ("", m["name"], m.get("metricType"))
                elif ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    groups[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[e["Stage Info"]["Stage ID"]] = g
                elif ev == "SparkListenerTaskEnd":
                    _add_task(groups[stage_group.get(e["Stage ID"])], e, acc)
    return {g: dict(v) for g, v in groups.items()}


def _add_task(g: dict, e: dict, acc: dict) -> None:
    tm = e.get("Task Metrics") or {}
    g["tasks"] += 1
    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        node, name, mtype = acc.get(a.get("ID"), (None, a.get("Name"), None))
        try:
            upd = float(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
        key = _PY_METRICS.get(name)
        if key == "python_run_s":
            upd /= 1e9 if mtype == "nsTiming" else 1e3
        if key is not None:
            g[key] += upd
        elif name == "number of output rows" and node in _ROW_UDF_NODES:
            g["python_rows_in"] += upd


# ---------------------------------------------------------------------------
# plans
# ---------------------------------------------------------------------------
_PY_NODE = re.compile(r"(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
                      r"PythonMapInArrow|FlatMapGroupsInPandas)")


def plan_summary(df) -> dict:
    """Python-UDF calls and Exchanges of a DataFrame's executed plan."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    udfs = []
    for line in lines:
        node = _PY_NODE.search(line)
        if node:
            udfs += re.findall(r"\b([A-Za-z_]\w*)\(", line[node.end():])
    return {"python_calls": udfs, "exchanges": sum("Exchange" in line for line in lines)}


def missing_udfs(summary: dict, expected: tuple) -> list:
    """Expected Python functions that the plan does not call (with
    multiplicity: a function expected twice must appear twice)."""
    have = list(summary["python_calls"])
    missing = []
    for name in expected:
        if name in have:
            have.remove(name)
        else:
            missing.append(name)
    return missing


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children(pid: int) -> list:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def tree_cpu_s(pid: int) -> float:
    """CPU seconds, user plus system, of ``pid`` and its live
    descendants, each with the CPU of the children it has reaped."""
    kids, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo += kids.get(p, [])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> tuple:
    """Peak resident memory (VmHWM) of the Spark JVM and of the largest
    of its Python worker descendants, in MiB."""
    worker_kb = 0
    todo = children(jvm_pid)
    while todo:
        pid = todo.pop()
        worker_kb = max(worker_kb, _status_kb(pid, "VmHWM"))
        todo += children(pid)
    return _status_kb(jvm_pid, "VmHWM") / 1024.0, worker_kb / 1024.0
