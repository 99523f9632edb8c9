"""Spark event-log reader: per-window job, task, shuffle and idle figures.

A window is a named wall-clock interval `[start, end)` in epoch seconds.  A
job belongs to the window in which it was submitted; its stages and tasks
go with it.  `driver_only_s` is the part of a window in which no task of
any job was running.
"""

from __future__ import annotations

import glob
import json
import os
import re

MB = 2 ** 20
FIELDS = ["jobs", "stages", "tasks", "task_core_s", "deserialize_core_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "driver_only_s"]


def read_events(log_dir: str) -> list[dict]:
    """Every event of the one application log in `log_dir`."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress") and os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {len(files)}")
    with open(files[0]) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals
                       if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def window_metrics(events: list[dict],
                   windows: dict[str, tuple[float, float]]) -> dict:
    """-> {window: {field: value}} for every window in `windows`."""
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    job_desc: dict[int, str] = {}
    tasks = []
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            j = e["Job ID"]
            job_time[j] = e["Submission Time"] / 1000
            infos = e.get("Stage Infos") or [{}]
            result = max(infos, key=lambda i: i.get("Stage ID", -1))
            job_desc[j] = result.get("Stage Name", "")
            for s in e.get("Stage IDs", []):
                stage_job[s] = min(j, stage_job.get(s, j))
        elif ev == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": e["Stage ID"],
                "t0": ti["Launch Time"] / 1000, "t1": ti["Finish Time"] / 1000,
                "deser": tm.get("Executor Deserialize Time", 0) / 1000,
                "read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "write": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
            })
    intervals = [(t["t0"], t["t1"]) for t in tasks]
    out = {}
    for name, (lo, hi) in windows.items():
        jobs = {j for j, t in job_time.items() if lo <= t < hi}
        mine = [t for t in tasks if stage_job.get(t["stage"]) in jobs]
        out[name] = {
            "jobs": len(jobs),
            "stages": len({t["stage"] for t in mine}),
            "tasks": len(mine),
            "task_core_s": sum(t["t1"] - t["t0"] for t in mine),
            "deserialize_core_s": sum(t["deser"] for t in mine),
            "shuffle_read_mb": sum(t["read"] for t in mine) / MB,
            "shuffle_write_mb": sum(t["write"] for t in mine) / MB,
            "spill_mb": sum(t["spill"] for t in mine) / MB,
            "driver_only_s": (hi - lo) - _covered(intervals, lo, hi),
            # a job whose result stage is a (local)checkpoint materializes
            # one checkpoint
            "checkpoint_jobs": sum(job_desc[j].lower().startswith(
                ("localcheckpoint", "checkpoint")) for j in jobs),
        }
    return out


_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQL"
_JOIN = re.compile(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                   r"BroadcastNestedLoopJoin)\b")


def join_counts(events: list[dict], lo: float, hi: float) -> dict[str, int]:
    """Join operators of the final plans of the SQL executions that started
    in [lo, hi): shows which joins the broadcast threshold let through."""
    start, plan = {}, {}
    for e in events:
        ev = e.get("Event", "")
        if ev == _SQL + "ExecutionStart":
            start[e["executionId"]] = e["time"] / 1000
            plan[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif ev == _SQL + "AdaptiveExecutionUpdate":
            plan[e["executionId"]] = e.get("physicalPlanDescription", "")
    out = {"BroadcastHashJoin": 0, "SortMergeJoin": 0, "ShuffledHashJoin": 0,
           "BroadcastNestedLoopJoin": 0}
    for x, t in start.items():
        if lo <= t < hi:
            tree = plan[x]
            if "== Final Plan ==" in tree:   # adaptive: the plan it ran
                tree = tree.split("== Final Plan ==", 1)[1]
                tree = tree.split("== Initial Plan ==", 1)[0]
            else:                            # the tree, not the details
                tree = tree.split("\n\n", 1)[0]
            for m in _JOIN.findall(tree):
                out[m] += 1
    return out
