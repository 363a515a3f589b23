"""Spark event log -> per-window layer numbers, in pure Python.

The traced run points `spark.eventLog.dir` at its own directory with
compression and rolling off, so the log is one JSON-lines file. A
*window* is a wall-clock interval (epoch ms) in which the benchmark ran
one pass or one query; jobs are assigned to it by submission time and
SQL executions by start time, which is exact because the benchmark runs
one action at a time.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

# Python plan nodes, incl. MapInArrow and FlatMapGroupsInPandas, which
# plans.inspect.plan_report's regex does not count
PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDTF|PythonMapIn")
SENT = "data sent to Python workers"
RECEIVED = "data returned from Python workers"


class EventLog:
    def __init__(self, directory: str):
        files = glob.glob(os.path.join(directory, "*"))
        if len(files) != 1:
            raise ValueError(f"expected one event log file in {directory}: {files}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.plans: dict[int, dict] = {}
        self.exec_time: dict[int, int] = {}
        self.accum: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "name": info["Stage Name"],
                "submit": info.get("Submission Time", 0),
                "end": info.get("Completion Time", 0),
            }
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                return
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            accums = {}
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    accums[a["ID"]] = int(a["Update"])
                    self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + int(a["Update"])
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sw_records": sw.get("Shuffle Records Written", 0),
                    "sr_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "accums": accums,
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.exec_time[e["executionId"]] = e["time"]
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]  # last = final
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] = self.accum.get(acc_id, 0) + int(value)

    # --- windows -------------------------------------------------------------
    def window(self, t0_ms: float, t1_ms: float) -> dict:
        """Layer numbers for the jobs and SQL executions started in
        [t0_ms, t1_ms]."""
        jobs = [j for j in self.jobs.values() if t0_ms <= j["submit"] <= t1_ms]
        stage_ids = sorted(
            {s for j in jobs for s in j["stages"] if s in self.tasks}
        )
        tasks = [t for s in stage_ids for t in self.tasks[s]]
        nodes = [
            n
            for x, t in self.exec_time.items()
            if t0_ms <= t <= t1_ms
            for n in _walk(self.plans[x])
        ]
        py_ids = {
            m["accumulatorId"]
            for n in nodes
            if PYTHON_NODE.search(n["nodeName"])
            for m in n["metrics"]
        }
        out = {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "jvm_gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["sw_bytes"] for t in tasks) / 1e6,
            "shuffle_read_mb": sum(t["sr_bytes"] for t in tasks) / 1e6,
            "shuffle_records": sum(t["sw_records"] for t in tasks),
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "python_sent_mb": self._node_metric(nodes, PYTHON_NODE, SENT) / 1e6,
            "python_received_mb": self._node_metric(nodes, PYTHON_NODE, RECEIVED) / 1e6,
            "join_output_rows": self._node_metric(
                nodes, re.compile("Join"), "number of output rows"
            ),
            "plan.exchanges": sum(n["nodeName"] == "Exchange" for n in nodes),
            "plan.python_nodes": sum(bool(PYTHON_NODE.search(n["nodeName"])) for n in nodes),
            "plan.broadcast_joins": sum(
                n["nodeName"].startswith("Broadcast") and "Join" in n["nodeName"]
                for n in nodes
            ),
        }
        out["task_max_over_median"], out["python_stage"] = self._python_stage_skew(
            stage_ids, py_ids
        )
        out["per_stage"] = [self._stage_row(s) for s in stage_ids]
        return out

    def _node_metric(self, nodes, name_re, metric: str) -> int:
        ids = {
            m["accumulatorId"]
            for n in nodes
            if name_re.search(n["nodeName"])
            for m in n["metrics"]
            if m["name"] == metric
        }
        return sum(self.accum.get(i, 0) for i in ids)

    def _python_stage_skew(self, stage_ids, py_ids):
        """max/median task time of the costliest stage that runs a
        Python plan node (the skew signal); (0, None) without one."""
        best, best_cost = None, -1
        for s in stage_ids:
            ts = self.tasks[s]
            if any(py_ids.intersection(t["accums"]) for t in ts):
                cost = sum(t["ms"] for t in ts)
                if cost > best_cost:
                    best, best_cost = s, cost
        if best is None:
            return 0.0, None
        times = [t["ms"] for t in self.tasks[best]]
        return max(times) / max(statistics.median(times), 1), best

    def _stage_row(self, s: int) -> dict:
        ts = self.tasks[s]
        times = [t["ms"] for t in ts]
        return {
            "stage": s,
            "name": self.stages.get(s, {}).get("name", ""),
            "tasks": len(ts),
            "executor_run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "shuffle_write_mb": sum(t["sw_bytes"] for t in ts) / 1e6,
            "shuffle_read_mb": sum(t["sr_bytes"] for t in ts) / 1e6,
            "shuffle_records": sum(t["sw_records"] for t in ts),
            "spill_mb": sum(t["spill"] for t in ts) / 1e6,
            "task_max_ms": max(times),
            "task_median_ms": statistics.median(times),
        }

    def job_spans(self, t0_ms: float, t1_ms: float):
        """(job id, start s, end s) of the jobs submitted in the window."""
        out = []
        for jid, j in sorted(self.jobs.items()):
            if t0_ms <= j["submit"] <= t1_ms:
                ends = [self.stages[s]["end"] for s in j["stages"] if s in self.stages]
                out.append((jid, j["submit"] / 1e3, max(ends or [j["submit"]]) / 1e3))
        return out


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)
