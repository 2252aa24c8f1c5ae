"""Spark engine counters from the run's own event log.

Each job is attributed to the benchmark op whose wall-clock window
contains the job's submission time. Job groups are not used: compaction
submits its bins from a thread pool, and those jobs do not inherit a job
group set on the driver thread.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms",
    "input_mb", "shuffle_write_mb", "shuffle_read_mb", "output_mb",
    "spill_mb", "driver_gap_ms",
)

_MB = 1e6


def read_events(event_dir: str) -> list[dict]:
    events: list[dict] = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_counters(events: list[dict], ops: list[dict]) -> dict[int, dict]:
    """``ops``: [{"id", "start_ms", "end_ms"}] in epoch milliseconds.
    Returns op id → counter dict (every name in COUNTERS)."""
    windows = sorted((o["start_ms"], o["end_ms"], o["id"]) for o in ops)
    out = {o["id"]: defaultdict(float) for o in ops}
    job_op: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}

    def find_op(t_ms: float):
        for s, e, oid in windows:
            if s <= t_ms <= e:
                return oid
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            oid = find_op(ev["Submission Time"])
            if oid is None:
                continue
            jid = ev["Job ID"]
            job_op[jid] = oid
            job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
            out[oid]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                job_span[jid][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            c = out[job_op[jid]]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["jvm_gc_ms"] += m.get("JVM GC Time", 0)
            c["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
            c["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            c["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB

    by_op: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for jid, (s, e) in job_span.items():
        by_op[job_op[jid]].append((s, e))
    for o in ops:
        c = out[o["id"]]
        clipped = [
            (max(s, o["start_ms"]), min(e, o["end_ms"]))
            for s, e in by_op.get(o["id"], [])
            if min(e, o["end_ms"]) > max(s, o["start_ms"])
        ]
        c["driver_gap_ms"] = (o["end_ms"] - o["start_ms"]) - _union_ms(clipped)
        for name in COUNTERS:
            c.setdefault(name, 0.0)
    return {k: dict(v) for k, v in out.items()}
