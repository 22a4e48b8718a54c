"""Country-cache layer (reference source.py:155-248, 907-928,
1348-1483, 1546-1695).

Layout (S6): ``{root}/{release}/{ISO2}/{ISO2}_{sector}.parquet`` with
a JSON sidecar ``*.meta.json`` holding {country, theme, type, release,
feature_count, bbox, cached_at}.

Semantics to preserve exactly (SURVEY.md §7.3 "cache-completeness"):
the cache stores COMPLETE clipped country data — no attribute filter,
no limit (reference source.py:1426-1434); both are re-applied on every
read (source.py:1464-1481). Getting this wrong silently truncates
results for any query whose filter differs from the cached one.

Scale notes: the cache write is a plain distributed parquet write
(zstd); the sidecar's count/bbox are observed on the frame inside that
write job (per-row bbox struct, or the geometry envelope for projected
frames) — never a read-back job or a driver-side collect of the data.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from overturelink_data_pipeline_spark.geo.functions import observe_extent
from overturelink_data_pipeline_spark.plans.overture import (
    SECTOR_NAMES,
    expected_columns,
)


@dataclass
class CacheMetadata:
    """Sidecar model (reference CacheMetadata, source.py:155-248)."""

    country: str
    theme: str
    type: str
    release: str
    feature_count: int
    bbox: list[float] | None
    cached_at: str

    @classmethod
    def from_json(cls, path: str) -> CacheMetadata | None:
        """Parse a sidecar; None when it is unreadable. Tolerant by
        design (review r10): a truncated sidecar or one written by a
        newer version with extra keys must degrade to a skipped entry —
        a strict ``cls(**json.load(f))`` made ONE corrupt file crash
        list/stats AND clear-cache, disabling exactly the tool that
        recovers from corruption. Unknown keys are dropped; missing
        keys (or non-dict JSON) read as unreadable."""
        import dataclasses

        try:
            with open(path) as f:
                raw = json.load(f)
            known = {fl.name for fl in dataclasses.fields(cls)}
            return cls(**{k: v for k, v in raw.items() if k in known})
        except (OSError, ValueError, TypeError, AttributeError):
            return None


def sector_name(theme: str, type_: str) -> str:
    """(transportation, segment) → roads, etc. (reference
    source.py:1546-1567); unknown pairs use the type name."""
    return SECTOR_NAMES.get((theme, type_), type_)


def cache_path(root: str, release: str, iso2: str, theme: str, type_: str) -> str:
    """S6 layout — ``{root}/{release}/{ISO2}/{ISO2}_{sector}.parquet``."""
    return os.path.join(root, release, iso2, f"{iso2}_{sector_name(theme, type_)}.parquet")


def _meta_path(parquet_path: str) -> str:
    return parquet_path + ".meta.json"


def write_cache(
    df: DataFrame,
    parquet_path: str,
    *,
    country: str,
    theme: str,
    type_: str,
    release: str,
    partitions: int | None = 1,
) -> CacheMetadata:
    """S5 — zstd parquet + metadata sidecar. ``df`` must be the
    UNFILTERED clipped country frame (complete-data semantics).

    ``partitions=1`` mirrors the reference's one-file-per-country
    layout (country caches are bounded by construction); pass None to
    keep the plan's partitioning for unusually large extracts."""
    if partitions is not None:
        # repartition, NOT coalesce: coalesce(1) would collapse the whole
        # upstream clip pipeline (bbox filter + spatial-intersect UDF)
        # into a single task; the round-robin shuffle keeps the expensive
        # upstream parallel and only funnels the bounded country output
        df = df.repartition(partitions)
    # count + bbox are observed on the exact frame written, after the
    # repartition: observed below the shuffle, they cost about 1 s more
    # task time per perfbench country_export sequence (4-core local[4]).
    # Projected frames drop the bbox struct; their envelope comes from
    # geometry.
    df, extent = observe_extent(
        df, bbox_col="bbox" if "bbox" in df.columns else None
    )
    df.write.mode("overwrite").option("compression", "zstd").parquet(parquet_path)
    count, bbox = extent()
    meta = CacheMetadata(
        country=country,
        theme=theme,
        type=type_,
        release=release,
        feature_count=count,
        bbox=None if bbox is None else [float(v) for v in bbox],
        cached_at=datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
    )
    with open(_meta_path(parquet_path), "w") as f:
        json.dump(asdict(meta), f)
    return meta


def cached_columns(spark: SparkSession, parquet_path: str) -> list[str] | None:
    """Root columns of a cache entry (footer-only read), or None on
    miss — lets callers decide whether a filter can even resolve here
    before committing to the cache tier."""
    schema = cached_schema(spark, parquet_path)
    return None if schema is None else schema.names


def cached_schema(spark: SparkSession, parquet_path: str):
    """Full root schema of a cache entry (same footer-only read as
    cached_columns), or None on miss. Callers that gate on TYPE — not
    just presence — need this: a cache written from a transformed frame
    can carry a same-named column with a different type than the raw
    tier (ADVICE r11), and a name-only check would wave such a filter
    through the footer fast path."""
    if not os.path.exists(parquet_path) or not os.path.exists(_meta_path(parquet_path)):
        return None
    return spark.read.parquet(parquet_path).schema


def read_cache(
    spark: SparkSession,
    parquet_path: str,
    *,
    type_: str,
    filter_expr: str | None = None,
    limit: int | None = None,
) -> DataFrame | None:
    """S4 — cache read with schema validation + filter/limit REAPPLIED
    (reference source.py:1348-1392, 1464-1481).

    Returns None on miss or schema drift (missing expected columns →
    caller refreshes, reference source.py:828-852).
    """
    if not os.path.exists(parquet_path) or not os.path.exists(_meta_path(parquet_path)):
        return None
    df = spark.read.parquet(parquet_path)
    missing = expected_columns(type_) - set(df.columns)
    if missing:
        return None  # schema drift → treat as miss, caller refreshes
    if filter_expr:
        # F5 semantics on the cache path: unknown column → empty,
        # unparseable → passthrough (dialect.apply_sql_filter).
        from overturelink_data_pipeline_spark.functions.dialect import apply_sql_filter

        df = apply_sql_filter(df, filter_expr)
    if limit is not None:
        df = df.limit(limit)
    return df


# -- S7: list / stats / clear ------------------------------------------------

def list_cache(root: str) -> list[CacheMetadata]:
    """Walk metadata sidecars (reference source.py:1569-1641);
    unreadable sidecars are skipped (from_json's tolerance contract)."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".meta.json"):
                meta = CacheMetadata.from_json(os.path.join(dirpath, name))
                if meta is not None:
                    out.append(meta)
    return out


def cache_stats(root: str) -> dict:
    """Rollup: files / features / distinct countries / releases / bytes
    (reference source.py:1642-1672)."""
    entries = list_cache(root)
    total_bytes = 0
    for dirpath, _dirs, files in os.walk(root):
        total_bytes += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if not f.endswith(".meta.json")
        )
    return {
        "files": len(entries),
        "features": sum(e.feature_count for e in entries),
        "countries": len({e.country for e in entries}),
        "releases": len({e.release for e in entries}),
        "size_mb": round(total_bytes / 1e6, 3),
    }


def clear_cache(root: str, release: str | None = None) -> int:
    """Remove cache trees; returns removed entry count (reference
    source.py:1674-1695). Clearing everything removes the root's
    CHILDREN, not the root itself (review r10): the configured cache
    root may be a standing directory holding unrelated artifacts, and
    callers expect it to exist afterward."""
    n = len([e for e in list_cache(root) if release is None or e.release == release])
    if release:
        target = os.path.join(root, release)
        if os.path.exists(target):
            shutil.rmtree(target)
        return n
    if os.path.isdir(root):
        for child in os.listdir(root):
            p = os.path.join(root, child)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    return n
