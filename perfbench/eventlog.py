"""Stdlib reader for an uncompressed, non-rolling Spark JSON event log.

Attributes jobs, stages and tasks to benchmark operations by the
``spark.jobGroup.id`` property the benchmark sets around each operation,
and sums per group:

* ``jobs``, ``stages``, ``tasks`` (counts of executed work),
* executor run / CPU / GC seconds, shuffle read / write and spill MB,
* Python-worker run / start+initialize seconds and MB sent / returned
  (the SQL accumulables of the Arrow UDF operators),
* the job spans (submission, completion) in epoch milliseconds, so a
  caller can subtract them from an operation's wall time.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1024.0 * 1024.0

# SQL accumulable name -> (counter key, scale to seconds / MB)
_PYWORKER_ACCUMS = {
    "time to run Python workers": ("pyworker.run_s", 1e-3),
    "time to start Python workers": ("pyworker.boot_s", 1e-3),
    "time to initialize Python workers": ("pyworker.boot_s", 1e-3),
    "data sent to Python workers": ("pyworker.sent_mb", 1.0 / MB),
    "data returned from Python workers": ("pyworker.recv_mb", 1.0 / MB),
}


def find_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


class GroupStats:
    """Counters and job spans of one job group."""

    def __init__(self) -> None:
        self.counts: dict[str, float] = defaultdict(float)
        self.spans: list[tuple[int, int]] = []


def parse(path: str) -> dict[str, GroupStats]:
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[tuple[int, int], str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                job_group[ev["Job ID"]] = gid
                job_start[ev["Job ID"]] = ev["Submission Time"]
                groups[gid].counts["spark.jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                gid = job_group.get(ev["Job ID"])
                if gid is not None:
                    groups[gid].spans.append(
                        (job_start[ev["Job ID"]], ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                info = ev["Stage Info"]
                if gid is not None:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = gid
                    groups[gid].counts["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if gid is None:
                    continue
                _add_task(groups[gid].counts, ev)
    return dict(groups)


def _add_task(c: dict[str, float], ev: dict) -> None:
    c["spark.tasks"] += 1
    m = ev.get("Task Metrics") or {}
    c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    c["shuffle.read_mb"] += (rd.get("Remote Bytes Read", 0)
                             + rd.get("Local Bytes Read", 0)) / MB
    wr = m.get("Shuffle Write Metrics") or {}
    c["shuffle.write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
    c["shuffle.spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = _PYWORKER_ACCUMS.get(acc.get("Name"))
        if hit is not None and acc.get("Update") is not None:
            key, scale = hit
            c[key] += float(acc["Update"]) * scale


def covered_ms(spans: list[tuple[int, int]], windows: list[tuple[int, int]]) -> int:
    """Milliseconds of ``windows`` covered by the union of ``spans``."""
    merged: list[list[int]] = []
    for s, e in sorted(spans):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    total = 0
    for ws, we in windows:
        for s, e in merged:
            total += max(0, min(e, we) - max(s, ws))
    return total
