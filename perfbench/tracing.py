"""Spans around calls into the package, attributed to Spark jobs.

A span is one timed call: name, op id, parent, start and end. While a
span is open its Spark jobs carry a job group named after it, so the
event log (the only thing the traced run adds to the session, through
``extra_conf``) attributes jobs, stages and tasks to the span. Spans are
kept in memory; :func:`attribute` joins them with the event log after
the session stops, and the caller writes them out at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

#: counters each span gets from the event log, in output order
COUNTERS = (
    "plan_ms", "exec_ms", "driver_gap_ms", "jobs", "tasks",
    "executor_run_ms", "sched_wait_ms", "input_records", "shuffle_bytes",
    "spill_bytes",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records spans and labels their Spark jobs. ``enabled=False`` makes
    every call a no-op, which is how the untraced runs measure."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._op = 0

    @contextmanager
    def span(self, name: str, role: str, parent: str | None = None):
        """Yields a dict the caller may stamp with ``action_ms``: the wall
        clock when the layer call returned and the action began."""
        rec = {"name": name, "role": role, "parent": parent}
        if not self.enabled:
            yield rec
            return
        self._op += 1
        rec["op_id"] = f"op{self._op}"
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["op_id"], name)
        rec["start_ms"] = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def _read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def attribute(spans: list[dict], log_dir: str) -> None:
    """Fill every span's counters from the event log (the session must
    have stopped, so the log is complete)."""
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple[int, int], str] = {}
    tasks: list[dict] = []
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"], "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    by_group: dict[str, dict] = {}
    for j in jobs.values():
        if j["group"] is not None:
            by_group.setdefault(j["group"], {"jobs": [], "tasks": []})["jobs"].append(j)
    for ev in tasks:
        group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
        if group is not None:
            by_group.setdefault(group, {"jobs": [], "tasks": []})["tasks"].append(ev)

    for s in spans:
        g = by_group.get(s["op_id"], {"jobs": [], "tasks": []})
        start, end = s["start_ms"], s["end_ms"]
        intervals = sorted(
            (max(j["start"], start), min(j["end"] or end, end)) for j in g["jobs"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in intervals:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        # plan ends where the action starts: the stamp a lazy call's caller
        # sets, else (an eager call) the first job's submission
        action = s.get("action_ms")
        if action is None:
            action = min((j["start"] for j in g["jobs"]), default=end)
        action = min(max(action, start), end)
        run = wait = records = shuffle = spill = 0
        for ev in g["tasks"]:
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            r = m.get("Executor Run Time", 0)
            run += r
            wait += max(info["Finish Time"] - info["Launch Time"] - r, 0)
            records += (m.get("Input Metrics") or {}).get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            shuffle += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0))
            spill += m.get("Disk Bytes Spilled", 0)
        s.update({
            "plan_ms": action - start,
            "exec_ms": end - action,
            "driver_gap_ms": max(end - start - covered, 0.0),
            "jobs": len(g["jobs"]),
            "tasks": len(g["tasks"]),
            "executor_run_ms": run,
            "sched_wait_ms": wait,
            "input_records": records,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
        })


def per_op_means(spans: list[dict], key: str) -> dict[str, dict[str, float]]:
    """Mean of every counter per op, grouped by ``key`` ("role" or "name")."""
    out: dict[str, dict[str, float]] = {}
    groups: dict[str, list[dict]] = {}
    for s in spans:
        groups.setdefault(s[key], []).append(s)
    for name, ss in groups.items():
        out[name] = {c: sum(s[c] for s in ss) / len(ss) for c in COUNTERS}
        out[name]["ops"] = len(ss)
    return out
