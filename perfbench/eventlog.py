"""Fold a Spark event log into per-job-group task metrics.

Spark writes one JSON event per line. ``SparkListenerJobStart`` carries the
job's ``spark.jobGroup.id`` property and the ids of its stages;
``SparkListenerTaskEnd`` carries the metrics of one finished task and the id
of its stage. The fold maps every task to the group of the first job that
listed its stage and sums the metrics per group. Tasks of stages that no
grouped job listed go to ``None`` (unattributed).

Spark 4 writes a rolling log: a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>`` files. Both that layout and a single plain file are read.
Compressed logs are not: the benchmark turns compression off.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1024 * 1024

# per-group keys, in the order they are reported
KEYS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def log_files(path: str) -> list[str]:
    """The event files under `path` (a file, a rolling-log directory, or a
    directory holding either), in write order."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            out.extend(log_files(full))
        elif not name.startswith(("appstatus_", ".")) and not name.endswith(".crc"):
            out.append(full)
    # rolling files are events_<index>_<app>: order by the numeric index
    def order(p: str) -> tuple:
        base = os.path.basename(p)
        parts = base.split("_")
        if base.startswith("events_") and len(parts) > 1 and parts[1].isdigit():
            return (os.path.dirname(p), int(parts[1]))
        return (os.path.dirname(p), -1)

    return sorted(out, key=order)


def iter_events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    # the last line of a log still being written can be cut
                    continue


def fold(path: str) -> dict:
    """{group or None: {key: value}} over every task in the log at `path`."""
    stage_group: dict[int, str | None] = {}
    per: dict = defaultdict(lambda: dict.fromkeys(KEYS, 0.0))
    for ev in iter_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            per[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = per[stage_group.get(ev.get("Stage ID"))]
            g["tasks"] += 1
            g["task_s"] += m.get("Executor Run Time", 0) / 1e3
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    return {k: dict(v) for k, v in per.items()}


def total(folded: dict, key: str = "task_s") -> float:
    return sum(v[key] for v in folded.values())
