"""The workloads: fixed op sequences and the checks of their outputs.

Each op returns the number of features (or result rows) it produced and
a check to run after the sequence, outside every timed region. A check
returns an error string, or None when the output matches the
expectation computed at generation time.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import sqlite3
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow.parquet as pq

from release import PRIME_ISO, id_digest

RELEASE = "bench"

#: country_export — (builtin query, country, clip, sink)
EXPORT_OPS = (
    ("roads", "XA", "divisions", "geoparquet"),
    ("education", "XC", "divisions", "gpkg"),
    ("power", "XD", "bbox", "gpkg"),
    ("roads", "XE", "bbox", "geojsonseq"),
)
#: country_export, second part — countries whose roads are cached, read
#: back from tier 1 (query, attribute filter, limit) and published
CACHE_COUNTRIES = ("XE",)
CACHE_READS = (
    ("roads", "class = 'primary'", None),
    ("roads", None, 2000),
)


def release_needs() -> set[tuple[str, str, str]]:
    """(type, country, clip) triples the release workload reads."""
    from overturelink_data_pipeline_spark.plans.config import builtin_queries

    queries = builtin_queries()
    needs = set()
    for name, iso, clip, _ in EXPORT_OPS:
        q = queries[name]
        types = ("place", "building") if q.is_multilayer else (q.type,)
        needs |= {(t, iso, clip) for t in types}
    for iso in CACHE_COUNTRIES:
        needs.add(("segment", iso, "divisions"))
    return needs


def release_expectations(ex) -> dict:
    """Expected ids per op output, keyed as the ops look them up."""
    from overturelink_data_pipeline_spark.plans.config import builtin_queries

    queries = builtin_queries()
    out = {}
    for name, iso, clip, _ in EXPORT_OPS:
        out[("export", name, iso, clip)] = ex.export_layers(queries[name], iso, clip)
    for iso in CACHE_COUNTRIES:
        out[("cache", "roads", iso)] = ex.ids("segment", iso, "divisions")
        for name, flt, _ in CACHE_READS:
            out[("read", name, iso, flt)] = ex.ids(queries[name].type, iso, "divisions", flt)
        out[("publish", "roads", iso)] = ex.ids("segment", iso, "divisions", None, "f.keep")
    return out


def _check_ids(what: str, got: list, expected: list) -> str | None:
    if len(got) != len(expected) or id_digest(got) != id_digest(expected):
        return f"{what}: {len(got)} ids (digest {id_digest(got)}), expected {len(expected)} ({id_digest(expected)})"
    return None


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class CacheHits(logging.Handler):
    """Counts the reader's tier-1 "cache hit" log records."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.hits = 0

    def emit(self, record):
        if record.getMessage().startswith("cache hit"):
            self.hits += 1


@dataclass
class Context:
    spark: object
    tracer: object
    data: dict
    out_dir: str
    cache_root: str
    hits: CacheHits

    @property
    def traced(self) -> bool:
        return self.tracer.traced

    def country(self, iso: str):
        from overturelink_data_pipeline_spark.plans.models import Country

        c = next(c for c in self.data["countries"] if c["iso2"] == iso)
        return Country.from_dict(c)

    def reader(self, cache: bool):
        from overturelink_data_pipeline_spark.sources.fallback import OvertureReader

        return OvertureReader(
            self.spark,
            base_dir=self.data["release"],
            release=RELEASE,
            cache_root=self.cache_root if cache else None,
            backoff_base_s=0.0,
        )

    def read(self, reader, query, country, options):
        """``reader.read`` under a sources span that counts cache hits."""
        before = self.hits.hits
        with self.tracer.span("sources", "read") as s:
            layers = reader.read(query, country, options)
        s.counts["cache_hits"] = self.hits.hits - before
        return layers


# -- shared steps -------------------------------------------------------------

_NORMALIZER_BY_THEME = {"transportation": "normalize_roads", "buildings": "normalize_buildings", "places": "normalize_places"}


def normalize(ctx: Context, layers: dict, query, country) -> dict:
    """The export path's transform stage: per-theme normalizer, metadata
    columns, and the sector-combined layer of multilayer queries."""
    from overturelink_data_pipeline_spark import transform

    processed = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    with ctx.tracer.span("transform", "normalize"):
        out = {}
        for name, df in layers.items():
            theme = name if name in ("places", "buildings") else query.theme
            norm = _NORMALIZER_BY_THEME.get(theme)
            if norm is not None and not query.geometry_split:
                df = getattr(transform, norm)(df)
            out[name] = transform.add_metadata(df, country.iso3, country.name, query.name, processed_date=processed)
        if query.sector_title:
            out = transform.add_sector_layers(out)
    return out


def probe_exec(ctx: Context, layer: str, name: str, layers: dict, count: bool) -> None:
    """Traced runs only: execute lazy plans on their own, so the work of a
    lazy layer shows as its own job group."""
    if not ctx.traced:
        return
    with ctx.tracer.span(layer, name, probe=True) as s:
        if count:
            s.counts["rows"] = sum(df.count() for df in layers.values())
        else:
            for df in layers.values():
                df.write.format("noop").mode("overwrite").save()


# -- country_export -------------------------------------------------------------

def _export_op(ctx: Context, expected: dict, name: str, iso: str, clip: str, sink: str):
    from overturelink_data_pipeline_spark.plans.config import builtin_queries
    from overturelink_data_pipeline_spark.plans.models import ClipStrategy, RunOptions
    from overturelink_data_pipeline_spark.sinks import geojson, geoparquet, gpkg

    query = builtin_queries()[name]
    country = ctx.country(iso)
    layers = ctx.read(ctx.reader(cache=False), query, country, RunOptions(clip=ClipStrategy(clip)))
    probe_exec(ctx, "geo", "clip_exec", layers, count=True)
    split = layers if query.geometry_split else None
    layers = normalize(ctx, layers, query, country)
    probe_exec(ctx, "transform", "exec", layers, count=False)
    out = os.path.join(ctx.out_dir, f"{name}_{iso}_{clip}.{sink}")
    with ctx.tracer.span("sinks", sink) as s:
        written = {}
        if sink == "geoparquet":
            for layer, df in layers.items():
                written[layer] = geoparquet.write_geoparquet(df, os.path.join(out, f"layer={layer}"))["feature_count"]
        elif sink == "gpkg":
            for i, (layer, df) in enumerate(layers.items()):
                written[layer] = gpkg.write_gpkg(df, out, layer=layer, mode="w" if i == 0 else "a")
        else:
            (layer, df), = layers.items()
            geojson.write_geojsonseq(df, out)
            written[layer] = None
    if split is not None:
        split.unpersist()
    exp = expected.get(("export", name, iso, clip))
    # geojsonseq reports no count: a checked op counts the features its
    # check confirms, a priming op what the sinks reported
    n = sum(len(ids) for ids in exp.values()) if exp else sum(v for v in written.values() if v is not None)
    s.counts.update(bytes=_dir_bytes(out), features=n)
    if exp is None:
        return n, None

    def check():
        errors = []
        if sorted(written) != sorted(exp):
            return f"layers {sorted(written)} != {sorted(exp)}"
        for layer, ids in exp.items():
            got = _read_ids(sink, out, layer)
            if written[layer] is not None and written[layer] != len(ids):
                errors.append(f"{layer}: sink reported {written[layer]} features, expected {len(ids)}")
            errors.append(_check_ids(f"{name}/{iso}/{clip}/{layer}", got, ids))
        return "; ".join(e for e in errors if e) or None

    return n, check


def _read_ids(sink: str, out: str, layer: str) -> list:
    if sink == "geoparquet":
        return pq.read_table(os.path.join(out, f"layer={layer}"), columns=["id"]).column("id").to_pylist()
    if sink == "gpkg":
        con = sqlite3.connect(out)
        try:
            return [r[0] for r in con.execute(f'SELECT id FROM "{layer}"')]
        finally:
            con.close()
    ids = []
    for f in sorted(os.listdir(out)):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                ids += [json.loads(line)["properties"]["id"] for line in fh if line.strip()]
    return ids


# -- cache refresh, tier-1 reads, publish ---------------------------------------------

def _cache_op(ctx: Context, expected: dict, name: str, iso: str):
    from overturelink_data_pipeline_spark.plans.config import builtin_queries
    from overturelink_data_pipeline_spark.sources import cache

    query = builtin_queries()[name]
    with ctx.tracer.span("sources", "cache_write") as s:
        meta = ctx.reader(cache=True).cache_country(query, ctx.country(iso))
    path = cache.cache_path(ctx.cache_root, RELEASE, iso, query.theme, query.type)
    s.counts.update(bytes=_dir_bytes(path), features=meta.feature_count)
    exp = expected.get(("cache", name, iso))
    if exp is None:
        return meta.feature_count, None

    def check():
        if meta.feature_count != len(exp):
            return f"cache {name}/{iso}: sidecar says {meta.feature_count} features, expected {len(exp)}"
        return _check_ids(f"cache {name}/{iso}", pq.read_table(path, columns=["id"]).column("id").to_pylist(), exp)

    return meta.feature_count, check


def _cached_layers(ctx: Context, name: str, iso: str, flt: str | None, limit: int | None):
    from overturelink_data_pipeline_spark.plans.config import builtin_queries
    from overturelink_data_pipeline_spark.plans.models import Query, RunOptions

    base = builtin_queries()[name]
    query = Query(name=base.name, theme=base.theme, type=base.type, filter=flt)
    before = ctx.hits.hits
    layers = ctx.read(ctx.reader(cache=True), query, ctx.country(iso), RunOptions(limit=limit))
    return layers, ctx.hits.hits > before


def _read_op(ctx: Context, expected: dict, name: str, iso: str, flt: str | None, limit: int | None):
    layers, hit = _cached_layers(ctx, name, iso, flt, limit)
    with ctx.tracer.span("sources", "materialize"):
        ids = layers[name].toArrow().column("id").to_pylist()
    exp = expected.get(("read", name, iso, flt))
    if exp is None:
        return len(ids), None

    def check():
        if not hit:
            return f"read {name}/{iso}: not served from the cache tier"
        if limit is None:
            return _check_ids(f"read {name}/{iso}/{flt}", ids, exp)
        if len(ids) != min(limit, len(exp)) or not set(ids) <= set(exp):
            return f"read {name}/{iso} limit {limit}: {len(ids)} ids, not a subset of the {len(exp)} expected"
        return None

    return len(ids), check


def _publish_op(ctx: Context, expected: dict, services: dict, name: str, iso: str, mode: str):
    from overturelink_data_pipeline_spark.plans.config import builtin_queries
    from overturelink_data_pipeline_spark.sinks.publish import MockFeatureService, publish_multi_layer

    layers, hit = _cached_layers(ctx, name, iso, None, None)
    layers = normalize(ctx, layers, builtin_queries()[name], ctx.country(iso))

    def factory(layer):
        key = (iso, layer)
        if mode == "initial" or key not in services:
            services[key] = MockFeatureService()
        return services[key]

    with ctx.tracer.span("sinks", "publish") as s:
        counts = publish_multi_layer(layers, factory, mode=mode)
    n = sum(counts.values())
    s.counts["features"] = n
    exp = expected.get(("publish", name, iso))
    if exp is None:
        return n, None

    def check():
        if not hit:
            return f"publish {name}/{iso}: source read not served from the cache tier"
        svc = services[(iso, name)]
        if counts[name] != len(exp) or svc.count() != len(exp):
            return f"publish {name}/{iso}/{mode}: uploaded {counts[name]}, service holds {svc.count()}, expected {len(exp)}"
        return _check_ids(f"publish {name}/{iso}/{mode}", [r["id"] for r in svc.rows], exp)

    return n, check


def _cache_publish_ops(ctx: Context, expected: dict, prime: bool):
    shutil.rmtree(ctx.cache_root, ignore_errors=True)
    services: dict = {}
    ops = []
    for iso in (PRIME_ISO,) if prime else CACHE_COUNTRIES:
        ops.append((f"cache:roads:{iso}", lambda a=("roads", iso): _cache_op(ctx, expected, *a)))
        for name, flt, limit in CACHE_READS:
            kind = "limit" if limit else "filter"
            ops.append((f"read:{name}:{iso}:{kind}", lambda a=(name, iso, flt, limit): _read_op(ctx, expected, *a)))
        for mode in ("initial", "overwrite"):
            ops.append((f"publish:roads:{iso}:{mode}", lambda a=("roads", iso, mode): _publish_op(ctx, expected, services, *a)))
    return ops


def country_export(ctx: Context, expected: dict, prime: bool = False):
    """Direct-tier exports to each sink, then a cache refresh, tier-1
    reads and a publish in initial and overwrite mode."""
    ops = [(name, PRIME_ISO if prime else iso, clip, sink) for name, iso, clip, sink in EXPORT_OPS]
    return [
        (f"export:{name}:{iso}:{clip}:{sink}", lambda a=(name, iso, clip, sink): _export_op(ctx, expected, *a))
        for name, iso, clip, sink in ops
    ] + _cache_publish_ops(ctx, expected, prime)


# -- dedup_lifecycle -----------------------------------------------------------------

class _Collected:
    """A result already collected inside the timed region, handed to
    ``testing.compare`` so the comparison does not run the query again."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def reset_lifecycle_index(spark) -> None:
    """Drop this process's lifecycle index and its release stamp, so the
    next ``dedup_lifecycle_probe`` takes the cold rebuild path."""
    from overturelink_data_pipeline_spark.operators.lifecycle import PostingIndex, process_index_name

    name = process_index_name("dlp_index")
    PostingIndex(spark, name).drop()
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for f in (f"{name.lower()}_stamp", f".{name.lower()}_stamp.crc"):
        if os.path.exists(os.path.join(wh, f)):
            os.remove(os.path.join(wh, f))


def _dedup_op(ctx: Context, oracle: dict | None, query: str, want_path: str | None, tag: str):
    from overturelink_data_pipeline_spark import registry, testing
    from overturelink_data_pipeline_spark.operators import dedup

    with ctx.tracer.span("operators", "build") as b:
        df = registry.QUERIES[query](ctx.spark, ctx.data["sf_dir"] if oracle is not None else ctx.data["prime_sf_dir"])
    path = dedup.LAST_LIFECYCLE_PATH
    with ctx.tracer.span("operators", "exec") as x:
        pdf = df.toPandas()
    b.counts[tag] = b.dur
    x.counts[tag] = x.dur
    if oracle is None:
        return len(pdf), None

    def check():
        if want_path is not None and path != want_path:
            return f"{query}: lifecycle path {path!r}, expected {want_path!r}"
        r = testing.compare(query, _Collected(pdf), oracle[query])
        if not r.ok:
            return f"{query}: {r.spark_rows} rows vs oracle {r.oracle_rows}, schema {r.schema_match}, hash {r.hash_match}"
        return None

    return len(pdf), check


def dedup_lifecycle(ctx: Context, oracle: dict, prime: bool = False):
    reset_lifecycle_index(ctx.spark)
    oracle = None if prime else oracle
    ops = [
        ("dedup_lifecycle_probe:rebuild", lambda: _dedup_op(ctx, oracle, "dedup_lifecycle_probe", "rebuild", "lifecycle_rebuild_s")),
        ("dedup_lifecycle_probe:probe", lambda: _dedup_op(ctx, oracle, "dedup_lifecycle_probe", "probe", "lifecycle_probe_s")),
    ]
    for q in ("dedup_clusters", "graph_pagerank_dupes"):
        ops.append((q, lambda q=q: _dedup_op(ctx, oracle, q, None, "dedup_batch_s")))
    return ops
