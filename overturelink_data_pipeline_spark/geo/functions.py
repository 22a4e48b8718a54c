"""Arrow pandas-UDF surface over the geometry core (SURVEY.md §2.7 G1-G10).

These are the engine's only Python UDFs. Each is vectorized per Arrow
batch (10k rows default) so per-row interpreter overhead amortizes —
the 10-100× rule vs row-at-a-time Python UDFs from the build brief.
Everything expressible without decoding WKB (bbox-struct predicates,
family CASEs, null checks) stays in Catalyst expressions — the
plan-construction invariant is that those cheap conjuncts run *before*
any UDF here (SURVEY.md §4 "cheap-filter-before-expensive-predicate",
reference source.py:468-494).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from overturelink_data_pipeline_spark.geo import geom as G
from overturelink_data_pipeline_spark.geo import wkb as W


def _map_wkb(s: pd.Series, fn: Callable) -> pd.Series:
    out = []
    for buf in s:
        if buf is None:
            out.append(None)
        else:
            out.append(fn(bytes(buf)))
    return pd.Series(out, dtype=object)


@pandas_udf(T.StringType())
def st_geometry_type(s: pd.Series) -> pd.Series:
    """G5 — 'Point' / 'LineString' / ... (header peek, no coord decode)."""
    return _map_wkb(s, W.geometry_type).astype(object)


@pandas_udf(T.BooleanType())
def st_is_empty(s: pd.Series) -> pd.Series:
    return _map_wkb(s, lambda b: G.is_empty(W.loads(b)))


@pandas_udf(T.BooleanType())
def st_is_valid(s: pd.Series) -> pd.Series:
    return _map_wkb(s, lambda b: G.is_valid(W.loads(b)))


@pandas_udf(T.DoubleType())
def st_area(s: pd.Series) -> pd.Series:
    """G4 — planar area in squared CRS units (degrees², like the
    reference's degenerate-area test, transform.py:29)."""
    return _map_wkb(s, lambda b: G.area(W.loads(b)))


@pandas_udf(T.DoubleType())
def st_length(s: pd.Series) -> pd.Series:
    return _map_wkb(s, lambda b: G.length(W.loads(b)))


@pandas_udf(T.BinaryType())
def st_force_2d(s: pd.Series) -> pd.Series:
    """G1 — decode (drops Z/M), re-encode 2D ISO WKB: the same WKB
    round-trip trick as reference transform.py:207-214."""
    return _map_wkb(s, lambda b: W.dumps(W.loads(b)))


@pandas_udf(T.BinaryType())
def st_make_valid(s: pd.Series) -> pd.Series:
    """G2 — bowtie repair by ring splitting (geom.make_valid)."""
    return _map_wkb(s, lambda b: W.dumps(G.make_valid(W.loads(b))))


@pandas_udf(T.BinaryType())
def st_centroid(s: pd.Series) -> pd.Series:
    def fn(b: bytes) -> bytes | None:
        c = G.centroid(W.loads(b))
        return None if c is None else W.point(c[0], c[1])

    return _map_wkb(s, fn)


def centroid_utm_lonlat(b: bytes) -> tuple[float, float] | None:
    """Row-level G7: centroid in estimated UTM, back to 4326 lon/lat.
    Shared by the UDF and the fixture golden-column generator so the
    goldens pin exactly this code path."""
    g = W.loads(b)
    rough = G.centroid(g)
    if rough is None:
        return None
    zone, north = G.utm_zone(rough[0], rough[1])

    def proj(geom: G.Geom) -> G.Geom:
        name, body = geom
        if body is None:
            return geom
        if name == "Point":
            return (name, G.lonlat_to_utm(body[0], body[1], zone, north))
        if name == "LineString":
            return (name, [G.lonlat_to_utm(x, y, zone, north) for x, y in body])
        if name == "Polygon":
            return (
                name,
                [[G.lonlat_to_utm(x, y, zone, north) for x, y in r] for r in body],
            )
        return (name, [proj(c) for c in body])

    c = G.centroid(proj(g))
    if c is None:
        return None
    return G.utm_to_lonlat(c[0], c[1], zone, north)


@pandas_udf(T.BinaryType())
def st_centroid_utm(s: pd.Series) -> pd.Series:
    """G7 — centroid computed in the estimated UTM CRS, reprojected back
    to EPSG:4326 (reference cli.py:2242-2285: estimate_utm_crs →
    centroid → to_crs(4326))."""

    def fn(b: bytes) -> bytes | None:
        c = centroid_utm_lonlat(b)
        return None if c is None else W.point(c[0], c[1])

    return _map_wkb(s, fn)


@pandas_udf(T.BinaryType())
def st_unwrap_single_multipolygon(s: pd.Series) -> pd.Series:
    """G6 — single-part MultiPolygon → Polygon (reference
    transform.py:235-249)."""
    return _map_wkb(s, lambda b: W.dumps(G.unwrap_single_multipolygon(W.loads(b))))


@pandas_udf(T.IntegerType())
def st_num_geometries(s: pd.Series) -> pd.Series:
    def fn(b: bytes) -> int:
        name, body = W.loads(b)
        if name.startswith("Multi") or name == "GeometryCollection":
            return 0 if body is None else len(body)
        return 1

    return _map_wkb(s, fn)


_BBOX_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@pandas_udf(_BBOX_SCHEMA)
def st_bbox(s: pd.Series) -> pd.DataFrame:
    """G10/A3 — per-row envelope struct, the pushdown proxy column the
    Overture data model carries (reference source.py:474-477)."""
    rows = []
    for buf in s:
        if buf is None:
            rows.append((None, None, None, None))
            continue
        g = W.loads(bytes(buf))
        if G.is_empty(g):
            rows.append((None, None, None, None))
            continue
        xmin, xmax, ymin, ymax = G.bbox(g)
        rows.append((xmin, xmax, ymin, ymax))
    return pd.DataFrame(rows, columns=["xmin", "xmax", "ymin", "ymax"])


def observe_extent(
    df: DataFrame, *, bbox_col: str | None = None, geometry_col: str = "geometry"
) -> tuple[DataFrame, Callable[[], tuple[int, list | None]]]:
    """Feature count and bbox of ``df``, observed while it is written.

    Returns the frame to write and a function to call after the write,
    which gives ``(count, [xmin, ymin, xmax, ymax])``: the numbers
    describe exactly the rows written, with no second job. The envelope
    is the ``bbox_col`` struct when given (no UDF), else ``st_bbox`` of
    ``geometry_col``, run inside the write. The bbox is None when there
    is no envelope column or every envelope is NULL (an all-NULL
    geometry frame still has rows, and a [null]*4 bbox is invalid
    sidecar metadata)."""
    obs = Observation()
    env = bbox_col
    if env is None and geometry_col in df.columns:
        env = "_geo_env"
        df = df.withColumn(env, st_bbox(F.col(geometry_col)))
    metrics = [F.count(F.lit(1)).alias("n")]
    if env is not None:
        metrics += [
            F.min(f"{env}.xmin").alias("xmin"),
            F.min(f"{env}.ymin").alias("ymin"),
            F.max(f"{env}.xmax").alias("xmax"),
            F.max(f"{env}.ymax").alias("ymax"),
        ]
    out = df.observe(obs, *metrics)
    if env == "_geo_env":
        out = out.drop(env)

    def result() -> tuple[int, list | None]:
        row = obs.get
        if env is None or row["xmin"] is None:
            return int(row["n"]), None
        return int(row["n"]), [row["xmin"], row["ymin"], row["xmax"], row["ymax"]]

    return out, result


def st_intersects_with(clip_wkb: bytes):
    """J1/F3 — factory: pandas UDF testing each geometry against ONE
    broadcast clip polygon (the reference's scalar-subquery country
    geometry, source.py:482-494). The clip polygon is captured in the
    closure (Spark ships it once per task, not per row) and decoded
    once per Python worker."""
    state: dict = {}

    @pandas_udf(T.BooleanType())
    def _udf(s: pd.Series) -> pd.Series:
        if "polys" not in state:
            # ring bboxes precomputed with the decode (review r10):
            # they fuel intersects_polygon's exact fast-rejects, and
            # building them per row would re-pay O(E_country) each call
            state["polys"] = [
                (rings, G.polygon_ring_boxes(rings))
                for rings in G._polygons(W.loads(clip_wkb))
            ]
        polys = state["polys"]
        out = []
        for buf in s:
            if buf is None:
                out.append(None)
                continue
            g = W.loads(bytes(buf))
            out.append(
                any(
                    G.intersects_polygon(g, rings, boxes)
                    for rings, boxes in polys
                )
            )
        return pd.Series(out, dtype=object)

    return _udf


_FAMILY_TYPES = {
    "points": ("Point", "MultiPoint"),
    "lines": ("LineString", "MultiLineString"),
    "polygons": ("Polygon", "MultiPolygon"),
}
_CLEAN_UDFS: dict = {}


_THRESHOLDS: tuple[float, float] | None = None


def _thresholds() -> tuple[float, float]:
    """(MIN_POLYGON_AREA, MIN_LINE_LENGTH), bound once — the circular
    transform→functions import forces laziness, but re-running the
    import statement per ROW of the hottest UDF path is pure waste."""
    global _THRESHOLDS
    if _THRESHOLDS is None:
        from overturelink_data_pipeline_spark.transform import (
            MIN_LINE_LENGTH,
            MIN_POLYGON_AREA,
        )

        _THRESHOLDS = (MIN_POLYGON_AREA, MIN_LINE_LENGTH)
    return _THRESHOLDS


def clean_geometry_bytes(
    b: bytes, family: str, *, make_valid: bool = False, unwrap: bool = False
) -> bytes | None:
    """Row-level fused hygiene (G2+G5+G6+G4+G9, F9-F11): make-valid,
    unwrap, family/empty/degenerate checks in ONE decode. Returns
    cleaned 2D WKB or None when the row must be dropped. Shared by the
    UDF and the fixture golden-column generator."""
    MIN_POLYGON_AREA, MIN_LINE_LENGTH = _thresholds()

    keep_types = _FAMILY_TYPES[family]
    g = W.loads(b)
    if make_valid:
        g = G.make_valid(g)
    if unwrap:
        g = G.unwrap_single_multipolygon(g)
    if g[0] not in keep_types or G.is_empty(g):
        return None
    if family == "polygons" and G.area(g) <= MIN_POLYGON_AREA:
        return None
    if family == "lines" and G.length(g) <= MIN_LINE_LENGTH:
        return None
    return W.dumps(g)


def st_clean_geometry(
    family: str, *, make_valid: bool = False, unwrap: bool = False
) -> Callable:
    """Fused hygiene pass over :func:`clean_geometry_bytes` — ONE WKB
    decode per row instead of one per check. The caller filters
    ``isNotNull`` — same row set as the chained make_valid → unwrap →
    type/measure/empty filters, at ~1/5 the Arrow/decode cost (this
    chain dominated geo_*_normalize bench time)."""
    key = (family, make_valid, unwrap)
    if key in _CLEAN_UDFS:
        return _CLEAN_UDFS[key]

    def fn(b: bytes) -> bytes | None:
        return clean_geometry_bytes(b, family, make_valid=make_valid, unwrap=unwrap)

    @pandas_udf(T.BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        return _map_wkb(s, fn)

    # asNondeterministic stops the optimizer DUPLICATING the decode:
    # every caller follows the clean with filter(isNotNull), and filter
    # pushdown re-evaluated the UDF below the filter while the
    # projection chain re-evaluated it again inline (two
    # ArrowEvalPython nodes running the same WKB decode in the r13
    # plan audit of geo_centroid_utm et al.). Marked non-deterministic
    # it is evaluated ONCE over the pre-filter rows; the result set is
    # unchanged (the function is pure — the flag only blocks
    # reordering/inlining).
    _CLEAN_UDFS[key] = _udf.asNondeterministic()
    return _CLEAN_UDFS[key]


def geometry_family(type_col: Column) -> Column:
    """F12 — family CASE over a geometry-type column; pure Catalyst
    (reference source.py:976-1001 families)."""
    return (
        F.when(type_col.isin("Point", "MultiPoint"), "points")
        .when(type_col.isin("LineString", "MultiLineString"), "lines")
        .when(type_col.isin("Polygon", "MultiPolygon"), "polygons")
        .otherwise("other")
    )
