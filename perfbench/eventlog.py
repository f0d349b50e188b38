"""Engine counters read from a Spark event log, attributed by wall-clock span.

The benchmark runs one Spark action at a time, so a task belongs to the span
during which it was launched; that also catches broadcast jobs, which Spark
runs under a job group of its own.
"""

from __future__ import annotations

import json
import os
import statistics


def read(log_dir: str) -> tuple[list[int], list[dict]]:
    """(job submission times in ms, one dict per finished task)."""
    jobs, tasks = [], []
    for root, _, names in os.walk(log_dir):
        for name in names:
            with open(os.path.join(root, name), errors="ignore") as f:
                for line in f:
                    if '"SparkListenerJobStart"' in line:
                        jobs.append(json.loads(line)["Submission Time"])
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        info = ev["Task Info"]
                        tm = ev.get("Task Metrics") or {}
                        sr = tm.get("Shuffle Read Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        tasks.append({
                            "launch": info["Launch Time"],
                            "seconds": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                            "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        })
    return jobs, tasks


def within(times: list[int], windows: list[tuple[float, float]]) -> list[int]:
    """Indices of ``times`` (ms) inside any of ``windows`` (seconds)."""
    return [i for i, t in enumerate(times)
            if any(a * 1e3 <= t <= b * 1e3 for a, b in windows)]


def counters(jobs: list[int], tasks: list[dict],
             windows: list[tuple[float, float]]) -> dict:
    """Per-window means of the engine counters over ``windows``, plus the
    median and largest task time over all their tasks."""
    n = len(windows)
    sel = [tasks[i] for i in within([t["launch"] for t in tasks], windows)]
    secs = [t["seconds"] for t in sel] or [0.0]
    return {
        "spark.jobs": len(within(jobs, windows)) / n,
        "spark.tasks": len(sel) / n,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in sel) / n,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in sel) / n,
        "spark.spill_bytes": sum(t["spill"] for t in sel) / n,
        "spark.gc_s": sum(t["gc_s"] for t in sel) / n,
        "spark.task_p50_s": statistics.median(secs),
        "spark.task_max_s": max(secs),
    }
