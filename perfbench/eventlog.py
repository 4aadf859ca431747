"""Spark event-log parser with job-group attribution.

The traced run enables Spark's event log (uncompressed JSON lines) and
tags every call it makes with a job group. This module reads the log
after the application stopped and sums, per job group:

- jobs (``SparkListenerJobStart``), completed stages and tasks;
- task run time, CPU time and GC time;
- shuffle bytes written and read, bytes spilled (memory + disk);
- input bytes and records (the scans);
- bytes crossing the Python-worker boundary (the "data sent to / returned
  from Python workers" SQL metrics);
- tasks of stages that read a DataSource V2 RDD (the Python data source).

A stage belongs to the group in the local properties it was submitted
with, so a shuffle-map stage reused by a later job is not counted twice.
Jobs are counted from the log itself, not from ``statusTracker`` lists,
which drop old jobs once ``spark.ui.retainedJobs`` is exceeded.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, fields

GROUP = "spark.jobGroup.id"
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    python_bytes: int = 0
    source_tasks: int = 0

    def add(self, other: "Totals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def log_files(path: str) -> list[str]:
    """The event-log file at ``path``, or the files in directory ``path``
    (Spark writes one per application when rolling is off)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, name)
        for name in os.listdir(path)
        if not name.startswith(".")
    )


def read_events(path: str):
    for name in log_files(path):
        if name.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {name}: set spark.eventLog.compress=false")
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _group(event: dict):
    return (event.get("Properties") or {}).get(GROUP)


def _reads_datasource(stage_info: dict) -> bool:
    return any(r.get("Name") == "DataSourceRDD" for r in stage_info.get("RDD Info", []))


def totals_by_group(events) -> dict:
    """Sum the log's work per job group (``None`` for untagged jobs)."""
    out: dict = defaultdict(Totals)
    stage_group: dict[int, object] = {}
    stage_source: dict[int, bool] = {}
    # SQL metrics: the final (largest) running value of each accumulator.
    python: dict = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[_group(ev)].jobs += 1
            for info in ev.get("Stage Infos", []):
                stage_group.setdefault(info["Stage ID"], _group(ev))
                stage_source[info["Stage ID"]] = _reads_datasource(info)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_group[info["Stage ID"]] = _group(ev)
            stage_source[info["Stage ID"]] = _reads_datasource(info)
        elif kind == "SparkListenerStageCompleted":
            out[stage_group.get(ev["Stage Info"]["Stage ID"])].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            t = out[stage_group.get(sid)]
            t.tasks += 1
            if stage_source.get(sid):
                t.source_tasks += 1
            m = ev.get("Task Metrics") or {}
            t.task_s += m.get("Executor Run Time", 0) / 1e3
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            t.input_bytes += inp.get("Bytes Read", 0)
            t.input_rows += inp.get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_METRICS:
                    key = (stage_group.get(sid), acc["ID"])
                    python[key] = max(python.get(key, 0), int(acc.get("Value") or 0))
    for (group, _), value in python.items():
        out[group].python_bytes += value
    return dict(out)


def sum_groups(by_group: dict, groups) -> Totals:
    total = Totals()
    for g in groups:
        if g in by_group:
            total.add(by_group[g])
    return total
