"""Offline parser for Spark event logs: per-job-group layer records.

Spark 4.1 writes a rolling log by default: a directory
``eventlog_v2_<app>`` holding ``events_<n>_<app>[.zstd]`` parts, one JSON
event per line, zstd-compressed unless compression is off (other codecs
are not read). A single non-rolling log file is read the same way.
Decompression goes through ``pyarrow.CompressedInputStream``, so no
extra package is needed.

Every stage carries the ``spark.jobGroup.id`` local property that was set
when its job was submitted; the harness sets one group per measured call,
so grouping stages, tasks and jobs by that property attributes cluster
work to the call that caused it.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa

#: Spark 4's default event-log codec; a part without the suffix is plain JSON
_CODECS = {".zstd": "zstd"}
_PART = re.compile(r"^events_(\d+)_")
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupRecord:
    """Cluster work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    #: summed executor run time of the group's tasks
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    #: (submission, completion) of each job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def busy_s(self, start: float | None = None, end: float | None = None) -> float:
        """Length of the union of the group's job intervals, optionally
        clipped to ``[start, end]``."""
        spans = sorted(
            (max(a, start) if start is not None else a, min(b, end) if end is not None else b)
            for a, b in self.job_intervals
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


def _log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if _PART.match(f)]
    if not parts:
        raise FileNotFoundError(f"no events_* parts under {path}")
    parts.sort(key=lambda f: int(_PART.match(f).group(1)))
    return [os.path.join(path, f) for f in parts]


def find_logs(log_dir: str) -> list[str]:
    """Every application log (rolling directory or single file) in a
    ``spark.eventLog.dir``, skipping in-progress ones."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith(".") or name.endswith(".inprogress"):
            continue
        out.append(os.path.join(log_dir, name))
    return out


def read_events(path: str):
    """Yield the JSON events of one application log, in order."""
    for part in _log_files(path):
        codec = _CODECS.get(os.path.splitext(part)[1])
        with pa.OSFile(part) as raw:
            stream = pa.CompressedInputStream(raw, codec) if codec else raw
            data = stream.read()
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


def group_records(events) -> dict[str, GroupRecord]:
    """Aggregate jobs, stages and tasks per job group. Work submitted
    without a group is filed under ``""``."""
    out: dict[str, GroupRecord] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def rec(group: str) -> GroupRecord:
        return out.setdefault(group, GroupRecord())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            job_group[e["Job ID"]] = group
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            rec(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                rec(job_group[jid]).job_intervals.append((job_start[jid], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            rec(stage_group.get(sid, "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            r = rec(stage_group.get(e["Stage ID"], ""))
            r.tasks += 1
            m = e.get("Task Metrics") or {}
            r.task_s += m.get("Executor Run Time", 0) / 1000.0
            r.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            r.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return out
