"""Spark event-log reader for the traced run.

The event log is enabled from outside the program (PYSPARK_SUBMIT_ARGS),
so the numbers below come from Spark's own listener bus, not from the
code under test. Jobs are attributed to an op by the op's wall-clock
window: the benchmark is a single-threaded client, so every job that
starts inside an op's window belongs to that op, including jobs launched
from the program's own pool threads, which drop thread-local job groups.
"""

from __future__ import annotations

import glob
import json
import os

# Physical operators that cross the Arrow/pandas worker boundary.
_PY_NODES = ("Python", "Pandas", "Arrow")
_MB = 1e6


def _walk(plan, out):
    if any(k in plan.get("nodeName", "") for k in _PY_NODES):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _walk(child, out)


class EventLog:
    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not os.path.basename(f).startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: list[dict] = []       # submit/end seconds, stage ids
        self.stages: dict[int, tuple[float, float]] = {}
        self.tasks: list[dict] = []      # stage id + metric totals
        py_acc: dict[int, str] = {}
        job_by_id: dict[int, dict] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = {"submit": ev["Submission Time"] / 1e3,
                           "stages": [s["Stage ID"] for s in ev["Stage Infos"]]}
                    job_by_id[ev["Job ID"]] = job
                    self.jobs.append(job)
                elif kind == "SparkListenerJobEnd":
                    job_by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    s = ev["Stage Info"]
                    if "Submission Time" in s:
                        self.stages[s["Stage ID"]] = (
                            s["Submission Time"] / 1e3, s["Completion Time"] / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(self._task(ev, py_acc))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk(ev["sparkPlanInfo"], py_acc)

    @staticmethod
    def _task(ev, py_acc):
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        t = {"stage": ev["Stage ID"],
             "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
             "run_s": m.get("Executor Run Time", 0) / 1e3,
             "gc_s": m.get("JVM GC Time", 0) / 1e3,
             "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / _MB,
             "shuffle_records": sw.get("Shuffle Records Written", 0),
             "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) / _MB,
             "spill_mb": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)) / _MB,
             "py_rows": 0, "py_sent_mb": 0.0, "py_received_mb": 0.0}
        for acc in ev["Task Info"].get("Accumulables", []):
            name = py_acc.get(acc.get("ID"))
            if name is None or "Update" not in acc:
                continue
            val = float(acc["Update"])
            if name == "number of output rows":
                t["py_rows"] += val
            elif name == "data sent to Python workers":
                t["py_sent_mb"] += val / _MB
            elif name == "data returned from Python workers":
                t["py_received_mb"] += val / _MB
        return t

    def window(self, start: float, end: float) -> dict:
        """Totals for the jobs submitted in [start, end] (epoch seconds)."""
        jobs = [j for j in self.jobs if start <= j["submit"] <= end]
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        tasks = [t for t in self.tasks if t["stage"] in stage_ids]
        out = {"jobs": len(jobs), "stages": len(stage_ids), "tasks": len(tasks)}
        for key in ("cpu_s", "run_s", "gc_s", "shuffle_write_mb",
                    "shuffle_records", "shuffle_read_mb", "spill_mb",
                    "py_rows", "py_sent_mb", "py_received_mb"):
            out[key] = sum(t[key] for t in tasks)
        out["busy_s"] = _covered(
            [self.stages[s] for s in stage_ids], start, end)
        return out


def _covered(intervals, start, end) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
