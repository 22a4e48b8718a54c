"""GeoParquet-style sink — the scalable default (SURVEY.md §7.1 step 5).

Distributed zstd parquet write of the WKB-geometry frame, plus a JSON
sidecar carrying the geo column metadata (geometry column name,
encoding, CRS, bbox). The feature count and bbox are observed on the
frame as it is written (a ``pyspark.sql.Observation``), so the write
job is the only job and the envelope UDF runs inside it. The sidecar
mirrors what the GeoParquet spec stores in the parquet footer "geo"
key — Spark's writer can't inject custom footer metadata without a
JVM extension, and the sidecar keeps the engine dependency-free while
remaining machine-readable.

Also routes the single-file GDAL-format sinks (S9/S10): GPKG is a
real GDAL-free writer (sinks/gpkg.py, stdlib sqlite3 per the public
OGC spec); FileGDB collects driver-side and hands to pyogrio when the
GDAL stack is installed (import-gated — OpenFileGDB has no public
spec to reimplement). Both are bounded country-sized outputs by
design (reference export.py:327-407).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from overturelink_data_pipeline_spark.geo.functions import observe_extent


def write_geoparquet(
    df: DataFrame,
    path: str,
    *,
    geometry_col: str = "geometry",
    partition_by: list[str] | None = None,
) -> dict:
    """Distributed overwrite + geo sidecar; returns the sidecar dict.

    There is no append mode: the sidecar is observed on the frame being
    written, so after an append it would describe only the new rows."""
    df, extent = observe_extent(df, geometry_col=geometry_col)
    writer = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    count, bbox = extent()

    meta = {
        "version": "1.0.0",
        "primary_column": geometry_col,
        "columns": {
            geometry_col: {
                "encoding": "WKB",
                "crs": "EPSG:4326",
                "bbox": bbox,
            }
        },
        "feature_count": count,
    }
    with open(os.path.join(path, "_geo_metadata.json"), "w") as f:
        json.dump(meta, f)
    return meta


def write_gpkg(
    df: DataFrame, path: str, layer: str = "layer", mode: str = "w"
) -> int:
    """S9 — GeoPackage sink. Real, GDAL-free: the stdlib-sqlite3 writer
    in sinks/gpkg.py (GPKG = SQLite + spec metadata tables + GP-header
    WKB blobs, all public OGC spec). Kept here as a re-export so sink
    routing has one module."""
    from overturelink_data_pipeline_spark.sinks.gpkg import write_gpkg as _w

    return _w(df, path, layer=layer, mode=mode)


def fgdb_field_names(cols: list[str], limit: int = 64) -> dict[str, str]:
    """FileGDB 64-char field-name truncation with collision suffixes
    (reference export.py:393-407 truncates; suffixing keeps names
    unique when two long names share a 64-char prefix)."""
    rename: dict[str, str] = {}
    taken = {c for c in cols if len(c) <= limit}
    for c in cols:
        if c == "geometry" or len(c) <= limit:
            continue
        base = c[:limit]
        cand, k = base, 1
        while cand in taken:
            suffix = f"_{k}"
            cand = base[: limit - len(suffix)] + suffix
            k += 1
        taken.add(cand)
        rename[c] = cand
    return rename


def write_filegdb(df: DataFrame, path: str, layer: str = "layer", mode: str = "w") -> int:
    """S10 — FileGDB sink (OpenFileGDB driver): collect the bounded
    country-sized output, truncate field names to the 64-char FGDB
    limit (reference export.py:393-407), hand to
    ``pyogrio.write_dataframe``. Import-gated: the FileGDB format has
    no OFFICIAL public spec — absent GDAL this raises, pointing at the
    pure-Python table-format fallback (sinks/fgdb_table.py, r12: the
    reverse-engineered-spec subset, points only; evidence ledger in
    docs/FGDB.md).

    ``mode='a'`` maps to pyogrio ``append=True`` — GDAL opens the
    EXISTING dataset and writes rows into ``layer``; rows land in a
    same-name layer if one exists rather than replacing it (review
    r10). Callers building multi-layer datasets must therefore target
    a dataset created fresh this run — stage_file clears its ``.gdb``
    target before the layer loop for exactly this reason."""
    try:
        import geopandas as gpd
        import pyogrio
    except ImportError as exc:
        raise NotImplementedError(
            "FileGDB export needs pyogrio/geopandas/GDAL (not in this "
            "container); for point layers use sinks.fgdb_table."
            "write_fgdb_layers (pure-Python table format), else "
            "write_gpkg (pure-sqlite3) or the distributed sinks"
        ) from exc
    if "OpenFileGDB" not in pyogrio.list_drivers(write=True):
        raise RuntimeError("GDAL present but OpenFileGDB write driver missing")

    pdf = df.toPandas()
    rename = fgdb_field_names([c for c in pdf.columns])
    if rename:
        pdf = pdf.rename(columns=rename)
    geom = gpd.GeoSeries.from_wkb(pdf["geometry"])
    gdf = gpd.GeoDataFrame(
        pdf.drop(columns=["geometry"]), geometry=geom, crs="EPSG:4326"
    )
    pyogrio.write_dataframe(
        gdf, path, driver="OpenFileGDB", layer=layer, append=(mode == "a")
    )
    return len(gdf)
