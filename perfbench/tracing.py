"""Per-layer tracing for the benchmark, from public Spark surfaces only.

- Each op phase (build / exec / collect) runs under its own job group, and
  the jobs it fired are counted through ``SparkContext.statusTracker()``.
- Job, stage and task metrics and the executed SQL plans come from Spark's
  event log, which the launcher turns on from outside the program
  (``spark.eventLog.enabled``, uncompressed) and which is read after the
  session stops.
- A counter wrapped around py4j's ``send_command`` counts driver -> JVM calls.

Spans (op -> phase -> job -> stage) are kept in memory and written out once
at the end. An untraced run creates no ``Tracer`` and pays none of this.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_SCAN = re.compile(r"Scan")
_PYTHON = re.compile(r"Python|Pandas|InArrow")
# SQL metrics of the Python-boundary operators (PythonSQLMetrics)
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


class Py4jCounter:
    """Counts driver -> JVM commands by wrapping py4j's connection classes.
    Memory commands are left out: py4j sends one whenever Python's garbage
    collector frees a JVM object reference, at no fixed point of the op, so
    counting them would make the figure differ between identical runs."""

    def __init__(self) -> None:
        self.calls = 0
        self._saved: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway
        from py4j.protocol import MEMORY_COMMAND_NAME

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                if not command.startswith(MEMORY_COMMAND_NAME):
                    self.calls += 1
                return _orig(conn, command, *a, **kw)

            self._saved.append((cls, orig))
            cls.send_command = counted

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class Tracer:
    """Spans and job groups around each op phase of a traced run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter()
        self.py4j.install()
        self.spans: list[dict] = []
        self._seq = 0

    def op(self, pass_idx: int, name: str) -> dict:
        span = {"id": len(self.spans), "kind": "op", "name": name, "pass": pass_idx,
                "start": time.monotonic(), "end": None, "parent": None}
        self.spans.append(span)
        return span

    @contextmanager
    def phase(self, op_span: dict, name: str):
        self._seq += 1
        group = f"pb{self._seq}-{name}"
        self.sc.setJobGroup(group, f"{op_span['name']} {name}")
        span = {"id": len(self.spans), "kind": "phase", "name": name, "group": group,
                "op": op_span["name"], "pass": op_span["pass"], "parent": op_span["id"]}
        calls0 = self.py4j.calls
        span["start"] = time.monotonic()
        try:
            yield span
        finally:
            span["end"] = time.monotonic()
            span["py4j_calls"] = self.py4j.calls - calls0
            self.sc.setJobGroup("pb-idle", "between ops")
            span["jobs_tracked"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(span)

    def end_op(self, op_span: dict) -> None:
        op_span["end"] = time.monotonic()

    def close(self) -> None:
        self.py4j.uninstall()


# ------------------------------------------------------------- event log
def _plan_counts(info: dict, acc: dict) -> None:
    name = info.get("nodeName", "")
    if _SCAN.search(name) and "QueryStage" not in name:
        acc["scan_nodes"] += 1
    if name == "Exchange":
        acc["exchange_nodes"] += 1
    if name == "BroadcastExchange":
        acc["broadcast_nodes"] += 1
    if _PYTHON.search(name):
        acc["pyudf_nodes"] += 1
    for child in info.get("children", ()):
        _plan_counts(child, acc)


def read_event_log(log_dir: str) -> dict:
    """Fold the event log into per-job-group records: jobs with their
    intervals, the stages and tasks they ran with summed task metrics, and
    the final physical plans of the SQL executions they belong to."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    stage_jobs: dict[int, int] = {}
    stages: dict[int, dict] = {}
    plans: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    ex = props.get("spark.sql.execution.id")
                    jobs[jid] = {"job": jid, "group": props.get("spark.jobGroup.id"),
                                 "start": ev.get("Submission Time"), "end": None,
                                 "execution": int(ex) if ex is not None else None,
                                 "stages": []}
                    for sid in ev.get("Stage IDs", ()):
                        stage_jobs[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    owner = stage_jobs.get(sid)
                    if owner is not None:
                        stage_owner[sid] = owner
                        jobs[owner]["stages"].append(sid)
                    stages[sid] = {"stage": sid, "job": owner, "tasks": 0, "cpu_ns": 0,
                                   "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
                                   "spill": 0, "py_ms": 0, "py_sent": 0, "py_returned": 0,
                                   "start": ev["Stage Info"].get("Submission Time"),
                                   "end": None}
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stages:
                        stages[sid]["end"] = ev["Stage Info"].get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev.get("Stage ID"))
                    if st is None:
                        continue
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == _PY_TIME:
                            st["py_ms"] += int(upd)
                        elif name == _PY_SENT:
                            st["py_sent"] += int(upd)
                        elif name == _PY_RETURNED:
                            st["py_returned"] += int(upd)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    # the last plan of an execution is the one that ran
                    plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": [], "executions": set()})
    for job in jobs.values():
        g = groups[job["group"]]
        g["jobs"].append(job)
        if job["execution"] is not None:
            g["executions"].add(job["execution"])
    out = {}
    for gid, g in groups.items():
        plan = {"scan_nodes": 0, "exchange_nodes": 0, "broadcast_nodes": 0, "pyudf_nodes": 0}
        for ex in sorted(g["executions"]):
            _plan_counts(plans.get(ex, {}), plan)
        out[gid] = {"jobs": sorted(g["jobs"], key=lambda j: j["job"]),
                    "stages": [stages[s] for j in g["jobs"] for s in j["stages"] if s in stages],
                    "plan": plan}
    return out


def _union_ms(intervals) -> float:
    """Length of the union of [start, end] intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if s is not None and e is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def phase_metrics(span: dict, group: dict | None) -> dict:
    """Per-phase layer figures from a phase span and its event-log group."""
    group = group or {"jobs": [], "stages": [], "plan": {}}
    stages = group["stages"]
    m = {
        "scan_nodes": 0, "exchange_nodes": 0, "broadcast_nodes": 0, "pyudf_nodes": 0,
        "ms": (span["end"] - span["start"]) * 1000.0,
        "py4j_calls": span["py4j_calls"],
        # jobs as the status tracker counted them; the event log lists the same
        "jobs": span["jobs_tracked"],
        "job_ms": _union_ms((j["start"], j["end"]) for j in group["jobs"]),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_cpu_ms": sum(s["cpu_ns"] for s in stages) / 1e6,
        "gc_ms": sum(s["gc_ms"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spill_bytes": sum(s["spill"] for s in stages),
        "pyudf_worker_ms": sum(s["py_ms"] for s in stages),
        "pyudf_bytes_sent": sum(s["py_sent"] for s in stages),
        "pyudf_bytes_returned": sum(s["py_returned"] for s in stages),
    }
    m.update(group["plan"])
    return m


def child_spans(span: dict, group: dict | None, next_id: int) -> list[dict]:
    """Job and stage spans under one phase span (event-log times, ms since
    the epoch, so they are kept apart from the monotonic phase times)."""
    out = []
    for job in (group or {}).get("jobs", ()):
        jspan = {"id": next_id + len(out), "kind": "job", "name": f"job {job['job']}",
                 "parent": span["id"], "wall_start_ms": job["start"], "wall_end_ms": job["end"]}
        out.append(jspan)
        for sid in job["stages"]:
            st = next((s for s in group["stages"] if s["stage"] == sid), None)
            if st is not None:
                out.append({"id": next_id + len(out), "kind": "stage", "name": f"stage {sid}",
                            "parent": jspan["id"], "wall_start_ms": st["start"],
                            "wall_end_ms": st["end"], "tasks": st["tasks"]})
    return out
