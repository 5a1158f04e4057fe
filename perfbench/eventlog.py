"""Spark event-log counters per benchmark op.

The traced run launches Spark with an uncompressed event log. Every job
carries the local properties ``perfbench.op`` and ``perfbench.span``
(set by ``harness.Tracer``), so JobStart events name the op and span
that started them; TaskEnd events name their stage, and the stage →
job map attributes every task. Python bytes come from the SQL metrics
of the Arrow Python exec nodes, which the event log carries as task
accumulables.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "input_bytes", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "python_bytes_sent",
            "python_bytes_received")
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def read_events(log_dir: str) -> list:
    """All events of the (single) application log under ``log_dir``;
    call after the session stopped, when the log is complete."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {paths}")
    with open(paths[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def jobs_and_counters(events: list):
    """(jobs, per-op counters). ``jobs`` maps job id → {op, span, start,
    end} in epoch seconds; the counters dict maps op id → COUNTERS."""
    jobs, stage_job = {}, {}
    per_op = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stages_seen = defaultdict(set)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"op": props.get("perfbench.op"),
                         "span": props.get("perfbench.span"),
                         "start": ev["Submission Time"] / 1000.0,
                         "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None or job["op"] is None:
                continue
            c = per_op[job["op"]]
            stages_seen[job["op"]].add((ev["Stage ID"],
                                        ev.get("Stage Attempt ID", 0)))
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                         or {}).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == _PY_SENT:
                    c["python_bytes_sent"] += int(acc.get("Update") or 0)
                elif name == _PY_RECEIVED:
                    c["python_bytes_received"] += int(acc.get("Update") or 0)
    for jid, job in jobs.items():
        if job["op"] is not None:
            per_op[job["op"]]["jobs"] += 1
    for op, seen in stages_seen.items():
        per_op[op]["stages"] = len(seen)
    return jobs, dict(per_op)


def busy_s(jobs: list, start: float, end: float) -> float:
    """Seconds of [start, end] covered by at least one running job."""
    spans = sorted((max(j["start"], start), min(j["end"] or end, end))
                   for j in jobs)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
