"""Tests of the event-log parser on a small checked-in Spark 4.1 log.

    python3 -m pytest perfbench/test_eventlog.py -q

The log under ``testdata/`` is a real rolling zstd event log of four
jobs: group ``agg`` ran a two-stage ``groupBy().count()`` over 100000
rows, group ``noop`` a one-stage noop write of 1000 rows, and two jobs
ran without a group. It was reduced to the events and keys the parser
reads (``python3 perfbench/test_eventlog.py <spark-event-log-dir>``
rewrites it from a fresh log), which also drops the host environment.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

LOG_DIR = os.path.join(HERE, "testdata", "eventlog")


@pytest.fixture(scope="module")
def records():
    (log,) = eventlog.find_logs(LOG_DIR)
    return eventlog.group_records(eventlog.read_events(log))


def test_groups_found(records):
    assert set(records) == {"agg", "noop", ""}


def test_job_stage_task_counts(records):
    agg, noop, free = records["agg"], records["noop"], records[""]
    assert (agg.jobs, agg.stages, agg.tasks) == (2, 2, 5)
    assert (noop.jobs, noop.stages, noop.tasks) == (1, 1, 4)
    assert (free.jobs, free.stages, free.tasks) == (1, 1, 4)


def test_task_metrics(records):
    agg, noop = records["agg"], records["noop"]
    assert agg.shuffle_write_bytes > 0
    assert noop.shuffle_write_bytes == 0
    assert agg.input_records == 100000
    assert noop.input_records == 1000
    assert agg.task_s > noop.task_s > 0
    assert agg.spill_bytes == noop.spill_bytes == 0


def test_busy_time_is_inside_the_jobs(records):
    agg = records["agg"]
    first, last = min(a for a, _ in agg.job_intervals), max(b for _, b in agg.job_intervals)
    assert 0 < agg.busy_s() <= last - first
    assert agg.busy_s(first, first) == 0
    assert agg.busy_s(last + 1, last + 2) == 0


def test_busy_time_merges_overlaps():
    r = eventlog.GroupRecord(job_intervals=[(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)])
    assert r.busy_s() == pytest.approx(4.0)
    assert r.busy_s(1.5, 5.5) == pytest.approx(2.0)


def test_uncompressed_single_file(tmp_path, records):
    (log,) = eventlog.find_logs(LOG_DIR)
    path = tmp_path / "local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in eventlog.read_events(log)))
    assert eventlog.group_records(eventlog.read_events(str(path))) == records


# keys of each event kind the parser reads; everything else is dropped
_KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Task Metrics"),
}
_METRICS = ("Executor Run Time", "Memory Bytes Spilled", "Disk Bytes Spilled", "Shuffle Write Metrics", "Input Metrics")


def _reduce(event: dict) -> dict | None:
    kind = event.get("Event")
    if kind not in _KEEP:
        return None
    out = {"Event": kind}
    for key in _KEEP[kind]:
        value = event.get(key)
        if key == "Properties":
            value = {k: v for k, v in (value or {}).items() if k == eventlog.GROUP_KEY}
        elif key == "Stage Info":
            value = {"Stage ID": value["Stage ID"]}
        elif key == "Task Metrics":
            value = {k: v for k, v in (value or {}).items() if k in _METRICS}
        out[key] = value
    return out


def rewrite_fixture(src_log_dir: str) -> None:
    import pyarrow as pa

    (log,) = eventlog.find_logs(src_log_dir)
    events = [e for e in map(_reduce, eventlog.read_events(log)) if e is not None]
    os.makedirs(os.path.join(LOG_DIR, "eventlog_v2_local-test"), exist_ok=True)
    dest = os.path.join(LOG_DIR, "eventlog_v2_local-test", "events_1_local-test.zstd")
    with pa.CompressedOutputStream(dest, "zstd") as out:
        out.write("".join(json.dumps(e) + "\n" for e in events).encode())


if __name__ == "__main__":
    rewrite_fixture(sys.argv[1])
