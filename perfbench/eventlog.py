"""Spark event-log parser: turns one traced run into per-span counters.

A span is ``(name, start_ms, end_ms)`` in wall-clock epoch milliseconds,
recorded by the benchmark around a call into the engine. Every job in the
log is attributed to the innermost span open at its submission time, not
to its job group: the graph stage submits jobs from plain worker threads,
which do not inherit the caller's local properties. Jobs submitted outside
every span go to the span named ``other``, so the attributed jobs always
sum to all jobs in the log.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

OTHER = "other"


def read_events(log_dir: str) -> list[dict]:
    """All events of every (finished) event-log file under ``log_dir``."""
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _innermost(spans: list[tuple[str, float, float]], t: float) -> str:
    best, width = OTHER, float("inf")
    for name, s, e in spans:
        if s <= t <= e and e - s < width:
            best, width = name, e - s
    return best


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def span_counters(events: list[dict], spans: list[tuple[str, float, float]],
                  cores: int):
    """→ ({span: {counter: value}} for every span name plus ``other``,
    [(submission ms, first stage name)] of the jobs in ``other``).

    Counters: wall_ms, jobs, tasks, failed_tasks, task_ms, sched_delay_ms,
    idle_ms (span time with no job running), slot_util (task_ms over
    wall × cores), shuffle_write_bytes, spill_bytes, output_bytes,
    input_bytes."""
    job_submit: dict[int, float] = {}
    job_end: dict[int, float] = {}
    job_name: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_submit[jid] = ev["Submission Time"]
            job_name[jid] = next((s.get("Stage Name", "") for s in
                                  ev.get("Stage Infos", [])), "")
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]

    job_span = {j: _innermost(spans, t) for j, t in job_submit.items()}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name, s, e in spans:
        out[name]["wall_ms"] += e - s
    out[OTHER]  # always present, even when empty
    for j, span in job_span.items():
        out[span]["jobs"] += 1
    unattributed = sorted((job_submit[j], job_name[j])
                          for j, span in job_span.items() if span == OTHER)

    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        c = out[job_span[jid]]
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        c["tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            c["failed_tasks"] += 1
        run = m.get("Executor Run Time", 0)
        c["task_ms"] += run
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        c["sched_delay_ms"] += max(
            0, duration - run - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0))
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        c["output_bytes"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)

    by_span: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for j, span in job_span.items():
        by_span[span].append((job_submit[j], job_end.get(j, job_submit[j])))
    for name, s, e in spans:
        c = out[name]
        busy = _union_ms(by_span[name], s, e)
        c["idle_ms"] += (e - s) - busy
    for name, c in out.items():
        wall = c.get("wall_ms", 0.0)
        c["slot_util"] = c["task_ms"] / (wall * cores) if wall else 0.0
    return {k: dict(v) for k, v in out.items()}, unattributed
