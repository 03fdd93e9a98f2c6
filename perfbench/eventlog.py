"""Spark event-log parser: per-operation stage, task and wait figures
for the jobs submitted inside a time window."""

from __future__ import annotations

import json
import os
import statistics


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: plain application logs and the
    rolling layout (a directory of ``events_<n>_<app>`` files)."""
    paths = []
    for d, _subdirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith((".", "appstatus_")):  # checksums, status
                continue
            part = name.split("_")
            order = int(part[1]) if part[0] == "events" else 0
            paths.append((d, order, name))
    events = []
    for d, _order, name in sorted(paths):
        with open(os.path.join(d, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def summarize(events: list[dict],
              windows: list[tuple[float, float]]) -> dict[str, float]:
    """Spark-side figures of the jobs submitted inside one of the
    operations' ``windows`` (epoch seconds), per operation.

    ``wait_ms`` is each job's wall minus the time at least one of its
    tasks was running: scheduling, driver-side gaps between stages and
    result fetch. ``task_skew`` is max/median task duration in the stage
    with the most tasks (median over such stages)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            if any(a * 1000.0 <= t <= b * 1000.0 for a, b in windows):
                jobs[ev["Job ID"]] = {"start": t, "end": t}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]

    stages: dict[int, list[tuple[int, int]]] = {}
    job_tasks: dict[int, list[tuple[int, int]]] = {j: [] for j in jobs}
    tot = dict(cpu=0.0, gc=0.0, inp=0.0, shuf=0.0, spill=0.0, tasks=0)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev["Stage ID"]
        if sid not in stage_job:
            continue
        info = ev["Task Info"]
        span = (info["Launch Time"], info["Finish Time"])
        stages.setdefault(sid, []).append(span)
        job_tasks[stage_job[sid]].append(span)
        m = ev.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics", {})
        wr = m.get("Shuffle Write Metrics", {})
        tot["tasks"] += 1
        tot["cpu"] += m.get("Executor CPU Time", 0) / 1e6
        tot["gc"] += m.get("JVM GC Time", 0)
        tot["inp"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        tot["shuf"] += (rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0))
        tot["spill"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))

    wait = sum(max(0, (j["end"] - j["start"]) - _union_ms(job_tasks[jid]))
               for jid, j in jobs.items())
    skew = 0.0
    if stages:
        width = max(len(v) for v in stages.values())
        ratios = []
        for spans in stages.values():
            if len(spans) == width:
                d = [e - s for s, e in spans]
                med = statistics.median(d)
                ratios.append(max(d) / med if med > 0 else 1.0)
        skew = statistics.median(ratios)
    n = max(len(windows), 1)
    return {
        "spark.stages_per_op": len(stages) / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.task_cpu_ms": tot["cpu"] / n,
        "spark.gc_ms": tot["gc"] / n,
        "spark.input_bytes": tot["inp"] / n,
        "spark.shuffle_bytes": tot["shuf"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.task_skew": skew,
        "spark.wait_ms": wait / n,
    }
