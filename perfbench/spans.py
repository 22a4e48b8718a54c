"""Spans around calls into the package's layers, and the per-layer
metrics derived from them and from the Spark event log.

A span is always timed. Only in a traced run does it also tag the Spark
work it submits with its own job group, so the offline event log can
attribute jobs, stages, tasks, shuffle and spill to the call.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "geo", "transform", "sinks", "operators")
_GROUP_PROP = "spark.jobGroup.id"

#: Every per-layer metric of a traced run: name -> (unit, better).
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "session.jvm_start_s": ("s", "lower"),
    "session.prime_s": ("s", "lower"),
    "sources.read_s": ("s", "lower"),
    "sources.read_jobs": ("count", "lower"),
    "sources.cache_hit_ratio": ("ratio", "higher"),
    "sources.cache_bytes_per_feature": ("bytes", "lower"),
    "sources.cache_write_s": ("s", "lower"),
    "sources.cache_read_s": ("s", "lower"),
    "geo.clip_exec_s": ("s", "lower"),
    "geo.clip_task_s": ("s", "lower"),
    "geo.rows_scanned_per_row_kept": ("ratio", "lower"),
    "transform.normalize_s": ("s", "lower"),
    "transform.exec_s": ("s", "lower"),
    "sinks.geoparquet_s": ("s", "lower"),
    "sinks.gpkg_s": ("s", "lower"),
    "sinks.geojsonseq_s": ("s", "lower"),
    "sinks.jobs_per_call": ("count", "lower"),
    "sinks.bytes_per_feature": ("bytes", "lower"),
    "sinks.driver_rows_per_s": ("1/s", "higher"),
    "sinks.publish_s": ("s", "lower"),
    "sinks.publish_driver_rows_per_s": ("1/s", "higher"),
    "operators.build_s": ("s", "lower"),
    "operators.exec_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.build_stages": ("count", "lower"),
    "operators.build_tasks": ("count", "lower"),
    "operators.exec_jobs": ("count", "lower"),
    "operators.lifecycle_rebuild_s": ("s", "lower"),
    "operators.lifecycle_probe_s": ("s", "lower"),
    "operators.dedup_batch_s": ("s", "lower"),
    **{
        f"{layer}.{name}": (unit, "lower")
        for layer in LAYERS
        for name, unit in (("task_s", "s"), ("driver_only_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))
    },
    "trace.overhead_ratio": ("ratio", "lower"),
}


@dataclass
class Span:
    layer: str
    name: str
    group: str
    start: float
    end: float = 0.0
    dur: float = 0.0
    #: the span is extra work that only a traced run does
    probe: bool = False
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str, name: str, probe: bool = False):
        s = Span(layer, name, f"{layer}:{name}:{next(self._ids)}", time.time(), probe=probe)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(s.group, f"{layer}.{name}")
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dur = time.perf_counter() - t0
            s.end = time.time()
            if self.traced:
                sc.setLocalProperty(_GROUP_PROP, None)
            self.spans.append(s)

    def total(self, layer: str, *names: str) -> float:
        return sum(s.dur for s in self.select(layer, *names))

    def select(self, layer: str, *names: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and (not names or s.name in names)]

    def count(self, layer: str, name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in self.select(layer, name))

    def probe_s(self) -> float:
        return sum(s.dur for s in self.spans if s.probe)


def _sum(groups, spans, attr: str) -> float:
    return sum(getattr(groups[s.group], attr) for s in spans if s.group in groups)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


#: Layer of each workload-level phase total (see phase_totals).
LAYER_OF = {
    "cache_write_s": "sources",
    "cache_read_s": "sources",
    "publish_s": "sinks",
    "lifecycle_rebuild_s": "operators",
    "lifecycle_probe_s": "operators",
    "dedup_batch_s": "operators",
}


def phase_totals(t: Tracer, iterations: int) -> dict[str, float]:
    """Seconds per sequence spent in the phases the report line
    names: cache writes, tier-1 reads (read + materialize), publishes,
    and the lifecycle and batch dedup queries (build + final action)."""
    it = max(1, iterations)
    hit_reads = [s for s in t.select("sources", "read") if s.counts.get("cache_hits")]
    out = {
        "cache_write_s": t.total("sources", "cache_write"),
        "cache_read_s": sum(s.dur for s in hit_reads) + t.total("sources", "materialize"),
        "publish_s": t.total("sinks", "publish"),
    }
    for key in ("lifecycle_rebuild_s", "lifecycle_probe_s", "dedup_batch_s"):
        out[key] = sum(s.counts.get(key, 0.0) for s in t.select("operators"))
    return {k: v / it for k, v in out.items()}


def session_metrics(
    starts: list[float], warms: list[float], prime_s: float, plain_walls: list[float], traced_walls: list[float]
) -> dict[str, float]:
    """Set-up times of the plain phase (session starts, warm-ups, the
    priming sequence), and the cost of tracing: traced sequence wall
    (probe jobs excluded) over plain."""
    import statistics

    return {
        "session.start_s": statistics.median(starts),
        "session.warmup_s": statistics.median(warms),
        "session.jvm_start_s": starts[0],
        "session.prime_s": prime_s,
        "trace.overhead_ratio": statistics.median(traced_walls) / statistics.median(plain_walls),
    }


def layer_metrics(tracer: Tracer, groups: dict, iterations: int) -> dict[str, float]:
    """Per-layer metrics of a traced phase. Times and counts are per
    iteration of the workload's op sequence; ratios are over the phase."""
    t = tracer
    it = max(1, iterations)
    m: dict[str, float] = {}

    reads = t.select("sources", "read")
    m["sources.read_s"] = t.total("sources", "read") / it
    m["sources.read_jobs"] = _ratio(_sum(groups, reads, "jobs"), len(reads))
    m["sources.cache_hit_ratio"] = _ratio(t.count("sources", "read", "cache_hits"), len(reads))
    m["sources.cache_bytes_per_feature"] = _ratio(
        t.count("sources", "cache_write", "bytes"), t.count("sources", "cache_write", "features")
    )

    clip = t.select("geo", "clip_exec")
    m["geo.clip_exec_s"] = t.total("geo", "clip_exec") / it
    m["geo.clip_task_s"] = _sum(groups, clip, "task_s") / it
    m["geo.rows_scanned_per_row_kept"] = _ratio(_sum(groups, clip, "input_records"), t.count("geo", "clip_exec", "rows"))

    m["transform.normalize_s"] = t.total("transform", "normalize") / it
    m["transform.exec_s"] = (t.total("transform", "exec") - t.total("geo", "clip_exec")) / it

    for sink in ("geoparquet", "gpkg", "geojsonseq"):
        m[f"sinks.{sink}_s"] = t.total("sinks", sink) / it
    writes = t.select("sinks", "geoparquet", "gpkg", "geojsonseq")
    m["sinks.jobs_per_call"] = _ratio(_sum(groups, writes, "jobs"), len(writes))
    m["sinks.bytes_per_feature"] = _ratio(
        sum(s.counts.get("bytes", 0) for s in writes), sum(s.counts.get("features", 0) for s in writes)
    )
    m["sinks.driver_rows_per_s"] = _ratio(t.count("sinks", "gpkg", "features"), t.total("sinks", "gpkg"))
    m["sinks.publish_driver_rows_per_s"] = _ratio(t.count("sinks", "publish", "features"), t.total("sinks", "publish"))

    build, run = t.select("operators", "build"), t.select("operators", "exec")
    m["operators.build_s"] = t.total("operators", "build") / it
    m["operators.exec_s"] = t.total("operators", "exec") / it
    for attr in ("jobs", "stages", "tasks"):
        m[f"operators.build_{attr}"] = _sum(groups, build, attr) / it
    m["operators.exec_jobs"] = _sum(groups, run, "jobs") / it

    m.update({f"{LAYER_OF[k]}.{k}": v for k, v in phase_totals(t, it).items()})
    for layer in LAYERS:
        spans = [s for s in t.spans if s.layer == layer]
        per = 1 if layer == "session" else it  # the session starts once per phase
        m[f"{layer}.task_s"] = _sum(groups, spans, "task_s") / per
        m[f"{layer}.driver_only_s"] = (
            sum(s.dur - (groups[s.group].busy_s(s.start, s.end) if s.group in groups else 0.0) for s in spans) / per
        )
        m[f"{layer}.shuffle_write_bytes"] = _sum(groups, spans, "shuffle_write_bytes") / per
        m[f"{layer}.spill_bytes"] = _sum(groups, spans, "spill_bytes") / per
    return m
