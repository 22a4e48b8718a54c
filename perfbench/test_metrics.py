"""The metric names a run prints agree with ``BENCHMARK.json``.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import spans  # noqa: E402


class _Context:
    def setJobGroup(self, *_):
        pass

    def setLocalProperty(self, *_):
        pass


class _Spark:
    sparkContext = _Context()


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_list_matches_the_harness():
    declared = {m["name"]: (m["unit"], m["better"]) for m in _benchmark()["per_layer"]}
    assert declared == spans.PER_LAYER


def test_traced_run_reports_every_per_layer_metric():
    tracer = spans.Tracer(_Spark(), traced=True)
    with tracer.span("sources", "read") as s:
        s.counts["cache_hits"] = 1
    with tracer.span("geo", "clip_exec", probe=True) as s:
        s.counts["rows"] = 10
    groups = {
        tracer.spans[0].group: eventlog.GroupRecord(jobs=2, task_s=1.5, job_intervals=[(tracer.spans[0].start, tracer.spans[0].end)]),
        tracer.spans[1].group: eventlog.GroupRecord(jobs=1, input_records=40),
    }
    metrics = spans.layer_metrics(tracer, groups, iterations=1)
    metrics.update(spans.session_metrics([3.0, 1.0, 1.2], [2.0, 0.5, 0.6], 4.0, [10.0], [11.0]))
    assert set(metrics) == set(spans.PER_LAYER)
    assert metrics["sources.read_jobs"] == 2
    assert metrics["sources.cache_hit_ratio"] == 1
    assert metrics["geo.rows_scanned_per_row_kept"] == 4
    assert metrics["session.start_s"] == 1.2
    assert metrics["trace.overhead_ratio"] == 1.1
    assert tracer.probe_s() == tracer.spans[1].dur


def test_plain_run_reports_the_declared_end_to_end_metrics():
    import run

    declared = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert declared == run.END_TO_END_UNITS
