"""Per-span engine counters from Spark event logs, and span self times.

The driver tags the Spark work of every span with ``setJobGroup(span)``;
the uncompressed event log then attributes each job, stage and task to the
span that started it. A log cut short by the planned crash is read up to its
last complete line.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
            "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb")
MB = 1 << 20


def _events(path: str):
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                return


def engine_counters(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {counter: value}} summed over every log in the dir."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        stage_group: dict[int, str] = {}
        for ev in _events(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                out[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
                out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(
                    (ev["Stage ID"], ev["Stage Attempt ID"]), "none")
                c = out[group]
                c["tasks"] += 1
                if ev["Task End Reason"].get("Reason") != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
                c["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / MB
    return dict(out)


def self_times(spans: list[dict]) -> dict[str, float]:
    """{span name: duration minus the part its child spans cover}, summed
    over spans of the same name. Children are matched by parent name within
    one driver run."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = sorted((c["start"], c["end"]) for c in spans
                      if c["parent"] == s["name"] and c["run_id"] == s["run_id"]
                      and s["start"] <= c["start"] and c["end"] <= s["end"])
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)
