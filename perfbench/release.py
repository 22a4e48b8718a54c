"""Seeded Overture-shaped release generator and its independent expectations.

The release is written with pyarrow (never Spark) in the hive
``theme=/type=`` layout the engine scans. It follows
``geo/fixtures.py``: float32 ``bbox`` structs, concave and convex
country polygons, the same geometry defect mix (degenerate and Z
lines, wrong-family rows, bowtie polygons, single-part multipolygons,
slivers, Z points, geometry collections) and ``region`` distractor rows
in the divisions theme. Unlike ``fixtures.make_*`` (fixed seed, 400
rows) everything here derives from the benchmark seed and each theme
has ``FEATURES_PER_THEME`` rows.

Expectations for every (query, country, clip) an op uses are computed
without Spark: bbox clips and attribute filters in DuckDB over the
generated parquet, divisions clips and normalization drops with the
row-level Python geometry the fixture goldens use
(``clean_geometry_bytes``, ``centroid_utm_lonlat``,
``geom.intersects_polygon`` behind the buffered float32 bbox test).
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURES_PER_THEME = 100_000
N_COUNTRIES = 16
BACKGROUND_SHARE = 0.05
FILES_PER_THEME = 8
ROW_GROUP_ROWS = 8192
#: F2 buffer of ``geo/clip.py`` — the precise clip's bbox prefilter.
BBOX_BUFFER_DEG = 0.1

LAYOUT = {
    "segment": ("transportation", "segment"),
    "building": ("buildings", "building"),
    "place": ("places", "place"),
    "infrastructure": ("base", "infrastructure"),
    "division_area": ("divisions", "division_area"),
}

_BBOX_T = pa.struct(
    [("xmin", pa.float32()), ("xmax", pa.float32()), ("ymin", pa.float32()), ("ymax", pa.float32())]
)
_NAMES_T = pa.struct([("primary", pa.string()), ("common", pa.map_(pa.string(), pa.string()))])


def id_digest(ids) -> str:
    """Order-insensitive digest of a feature-id collection."""
    h = hashlib.sha256()
    for i in sorted(ids):
        h.update(i.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# -- WKB helpers (little-endian ISO WKB, as geo/wkb.py writes) -------------

def _ls(xy: np.ndarray) -> bytes:
    return b"\x01" + struct.pack("<II", 2, len(xy)) + xy.astype("<f8").tobytes()


def _poly(ring: np.ndarray) -> bytes:
    return b"\x01" + struct.pack("<III", 3, 1, len(ring)) + ring.astype("<f8").tobytes()


def _pt(x: float, y: float) -> bytes:
    return b"\x01" + struct.pack("<Idd", 1, x, y)


def _pt_z(x: float, y: float, z: float) -> bytes:
    return b"\x01" + struct.pack("<Iddd", 1001, x, y, z)


def _ls_z(xyz: np.ndarray) -> bytes:
    return b"\x01" + struct.pack("<II", 1002, len(xyz)) + xyz.astype("<f8").tobytes()


def _bbox_array(xmin, xmax, ymin, ymax) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [pa.array(np.asarray(a, dtype=np.float32)) for a in (xmin, xmax, ymin, ymax)],
        fields=list(_BBOX_T),
    )


# -- countries ---------------------------------------------------------------

def _country_ring(bbox, concave: bool, notch) -> tuple[np.ndarray, list, list]:
    """A C-shaped concave polygon (bbox-pass / intersect-fail rows exist,
    FIXTURES.md A5) or a slightly inset convex box. Also returns the
    rectangles known to lie inside and outside the polygon, which settle
    most rows of the expectation without the row-level test."""
    x0, y0, x1, y1 = bbox
    w, h = x1 - x0, y1 - y0
    if not concave:
        m = 0.02
        inner = (x0 + m, y0 + m, x1 - m, y1 - m)
        ring = np.array([(x0 + m, y0 + m), (x1 - m, y0 + m), (x1 - m, y1 - m), (x0 + m, y1 - m), (x0 + m, y0 + m)])
        return ring, [inner], []
    lo, hi, depth = notch
    ring = np.array(
        [
            (x0, y0), (x1, y0), (x1, y0 + lo * h), (x0 + depth * w, y0 + lo * h),
            (x0 + depth * w, y0 + hi * h), (x1, y0 + hi * h), (x1, y1), (x0, y1), (x0, y0),
        ]
    )
    inside = [(x0, y0, x1, y0 + lo * h), (x0, y0, x0 + depth * w, y1), (x0, y0 + hi * h, x1, y1)]
    outside = [(x0 + depth * w, y0 + lo * h, x1, y0 + hi * h)]
    return ring, inside, outside


def _country(code: str, bbox: list[float], concave: bool) -> dict:
    ring, inside, outside = _country_ring(bbox, concave, (0.25, 0.75, 0.4))
    return {
        "name": f"Synthland {code}",
        "iso2": "X" + code,
        "iso3": "XX" + code,
        "region": "Synthetic",
        "bbox": [float(v) for v in bbox],
        "ring": ring,
        "inside": inside,
        "outside": outside,
    }


def make_countries(seed: int) -> list[dict]:
    """Overlapping synthetic countries on a 4×4 grid; even ones concave.
    Positions are seeded; size and shape are fixed, so every seed gives
    each op the same amount of work up to sampling noise."""
    rng = np.random.default_rng([seed, 0])
    out = []
    for i in range(N_COUNTRIES):
        x0 = (i % 4) * 8.0 + rng.uniform(-0.05, 0.05)
        y0 = (i // 4) * 8.0 + rng.uniform(-0.05, 0.05)
        out.append(_country(chr(ord("A") + i), [x0, y0, x0 + 10.0, y0 + 10.0], i % 2 == 0))
    return out


#: A small concave country away from the others, with its own few
#: features: running the op sequence on it first primes every code path
#: (JIT, codegen, Python workers) before the measured sequence.
PRIME_ISO = "XW"
PRIME_FEATURES = 400


def prime_country() -> dict:
    return _country("W", [40.0, 40.0, 42.0, 42.0], True)


def _anchors(rng: np.random.Generator, countries: list[dict], n: int, background: bool = True):
    """Anchor points grouped by country block (so parquet row groups are
    spatially clustered, as in a real release), plus a background block."""
    n_bg = int(n * BACKGROUND_SHARE) if background else 0
    per = (n - n_bg) // len(countries)
    xs, ys = [], []
    for c in countries:
        x0, y0, x1, y1 = c["bbox"]
        xs.append(rng.uniform(x0, x1, per))
        ys.append(rng.uniform(y0, y1, per))
    rest = n - per * len(countries)
    xs.append(rng.uniform(-1.0, 34.0, rest))
    ys.append(rng.uniform(-1.0, 34.0, rest))
    return np.concatenate(xs), np.concatenate(ys)


def _names(rng: np.random.Generator, n: int, label: str, p_null: float, p_prim_null: float) -> pa.Array:
    null = rng.random(n) < p_null
    prim_null = rng.random(n) < p_prim_null
    primary = pa.array([f"{label} {i}" for i in range(n)], mask=prim_null)
    # a null struct must not carry map entries, so null rows get none
    live = np.flatnonzero(~null)
    common = pa.MapArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(~null)]).astype(np.int32)),
        pa.array(np.full(len(live), "en", dtype=object), type=pa.string()),
        pa.array([f"{label} {i} EN" for i in live.tolist()]),
    )
    return pa.StructArray.from_arrays([primary, common], fields=list(_NAMES_T), mask=pa.array(null))


def _choice(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)], type=pa.string())


# -- themes ------------------------------------------------------------------

def make_segments(rng, countries, n, background=True):
    ax, ay = _anchors(rng, countries, n, background)
    roll = rng.random(n)
    npts = rng.integers(2, 21, n)
    starts = np.concatenate([[0], np.cumsum(npts)[:-1]])
    steps = rng.uniform(-0.05, 0.05, (int(npts.sum()), 2))
    steps[starts] = 0.0
    cs = np.cumsum(steps, axis=0)
    xy = cs - np.repeat(cs[starts], npts, axis=0) + np.repeat(np.column_stack([ax, ay]), npts, axis=0)
    xmin = np.minimum.reduceat(xy[:, 0], starts)
    xmax = np.maximum.reduceat(xy[:, 0], starts)
    ymin = np.minimum.reduceat(xy[:, 1], starts)
    ymax = np.maximum.reduceat(xy[:, 1], starts)
    geoms = []
    for i in range(n):
        r = roll[i]
        if r < 0.01:  # degenerate: length < 1e-10
            pts = np.array([(ax[i], ay[i]), (ax[i] + 1e-12, ay[i])])
            geoms.append(_ls(pts))
            xmin[i], xmax[i], ymin[i], ymax[i] = ax[i], ax[i] + 1e-12, ay[i], ay[i]
        elif r < 0.02:  # Z coordinates → Force2D path
            xyz = np.array([(ax[i] + k * 0.01, ay[i], 50.0) for k in range(3)])
            geoms.append(_ls_z(xyz))
            xmin[i], xmax[i], ymin[i], ymax[i] = ax[i], ax[i] + 0.02, ay[i], ay[i]
        elif r < 0.04:  # wrong family: Point
            geoms.append(_pt(ax[i], ay[i]))
            xmin[i], xmax[i], ymin[i], ymax[i] = ax[i], ax[i], ay[i], ay[i]
        else:
            geoms.append(_ls(xy[starts[i] : starts[i] + npts[i]]))
    classes = ["motorway", "trunk", "primary", "secondary", "tertiary", "residential", "service", "footway"]
    return pa.table(
        {
            "id": pa.array([f"seg{i:06d}" for i in range(n)]),
            "names": _names(rng, n, "Street", 0.02, 0.02),
            "class": _choice(rng, classes, n),
            "subtype": _choice(rng, ["road", "rail", "water"], n),
            "version": pa.array(rng.integers(0, 6, n).astype(np.int32)),
            "bbox": _bbox_array(xmin, xmax, ymin, ymax),
            "geometry": pa.array(geoms, type=pa.binary()),
        }
    )


def make_buildings(rng, countries, n, background=True):
    cx, cy = _anchors(rng, countries, n, background)
    w = rng.uniform(0.001, 0.01, n)
    h = rng.uniform(0.001, 0.01, n)
    roll = rng.random(n)
    geoms = []
    xmax, ymax = cx + w, cy + h
    for i in range(n):
        x, y, x1, y1 = cx[i], cy[i], cx[i] + w[i], cy[i] + h[i]
        r = roll[i]
        if r < 0.05:  # bowtie (self-intersecting)
            geoms.append(_poly(np.array([(x, y), (x1, y1), (x1, y), (x, y1), (x, y)])))
        elif r < 0.10:  # single-part MultiPolygon → unwrap path
            sq = _poly(np.array([(x, y), (x1, y), (x1, y1), (x, y1), (x, y)]))
            geoms.append(b"\x01" + struct.pack("<II", 6, 1) + sq)
        elif r < 0.11:  # degenerate sliver, area < 1e-12
            geoms.append(_poly(np.array([(x, y), (x + 1e-13, y), (x + 1e-13, y + 1e-13), (x, y)])))
            xmax[i], ymax[i] = x + 1e-13, y + 1e-13
        else:
            geoms.append(_poly(np.array([(x, y), (x1, y), (x1, y1), (x, y1), (x, y)])))
    hroll = rng.random(n)
    hval = rng.uniform(2, 300, n)
    height = [None if hroll[i] < 0.3 else ("unknown" if hroll[i] < 0.35 else f"{hval[i]:.1f}") for i in range(n)]
    floors = rng.integers(1, 101, n).astype(np.int32)
    has_floors = rng.random(n) > 0.4
    named = rng.random(n) < 0.1
    names = pa.array(
        [{"primary": f"Building {i}", "common": None} if named[i] else None for i in range(n)], type=_NAMES_T
    )
    classes = ["residential", "commercial", "industrial", "service", "medical", "education"]
    subtypes = ["residential", "commercial", "education", "medical", "service"]
    return pa.table(
        {
            "id": pa.array([f"bld{i:06d}" for i in range(n)]),
            "names": names,
            "height": pa.array(height, type=pa.string()),
            "num_floors": pa.array(floors, mask=~has_floors),
            "class": _choice(rng, classes, n),
            "subtype": _choice(rng, subtypes, n),
            "version": pa.array(rng.integers(0, 6, n).astype(np.int32)),
            "bbox": _bbox_array(cx, xmax, cy, ymax),
            "geometry": pa.array(geoms, type=pa.binary()),
        }
    )


_PLACE_T = {
    "categories": pa.struct([("primary", pa.string()), ("alternate", pa.list_(pa.string()))]),
    "addresses": pa.list_(
        pa.struct(
            [
                ("freeform", pa.string()), ("locality", pa.string()), ("region", pa.string()),
                ("postcode", pa.string()), ("country", pa.string()),
            ]
        )
    ),
}


def make_places(rng, countries, n, background=True):
    x, y = _anchors(rng, countries, n, background)
    z_roll = rng.random(n)
    geoms = [_pt_z(x[i], y[i], 0.0) if z_roll[i] < 0.01 else _pt(x[i], y[i]) for i in range(n)]
    cats = ["education", "health_and_medical", "retail", "shopping", "food_and_drink", "restaurant", "other"]
    prim = rng.integers(0, len(cats), n)
    n_alt = rng.integers(0, 3, n)
    alt = rng.integers(0, len(cats), (n, 2))
    categories = [{"primary": cats[prim[i]], "alternate": [cats[a] for a in alt[i, : n_alt[i]]]} for i in range(n)]
    has_addr = rng.integers(0, 3, n) > 0
    addresses = [
        [{"freeform": f"{i} Main St", "locality": f"Town {i % 17}", "region": None, "postcode": f"{10000 + i}", "country": "XX"}]
        if has_addr[i]
        else None
        for i in range(n)
    ]
    contact = rng.integers(0, 2, (n, 3))
    return pa.table(
        {
            "id": pa.array([f"plc{i:06d}" for i in range(n)]),
            "names": _names(rng, n, "Place", 0.02, 0.02),
            "categories": pa.array(categories, type=_PLACE_T["categories"]),
            "confidence": pa.array(np.round(rng.random(n), 3)),
            "addresses": pa.array(addresses, type=_PLACE_T["addresses"]),
            "websites": pa.array([[f"https://example{i}.test"] if contact[i, 0] else None for i in range(n)]),
            "emails": pa.array([[f"info{i}@example.test"] if contact[i, 1] else None for i in range(n)]),
            "phones": pa.array([[f"+1-555-{i:06d}"] if contact[i, 2] else None for i in range(n)]),
            "version": pa.array(rng.integers(0, 6, n).astype(np.int32)),
            "bbox": _bbox_array(x, x, y, y),
            "geometry": pa.array(geoms, type=pa.binary()),
        }
    )


def make_infrastructure(rng, countries, n, background=True):
    x, y = _anchors(rng, countries, n, background)
    roll = rng.random(n)
    nline = rng.integers(2, 7, n)
    jitter = rng.uniform(-0.01, 0.01, (n, 6))
    line_xy = np.stack([x[:, None] + np.arange(6) * 0.01, y[:, None] + jitter], axis=2)
    in_line = np.arange(6) < nline[:, None]
    is_line = (roll >= 0.40) & (roll < 0.80)
    is_poly = (roll >= 0.80) & (roll < 0.95)
    is_gc = roll >= 0.95
    xmax = np.where(is_line, x + (nline - 1) * 0.01, np.where(is_poly | is_gc, x + 0.01, x))
    ymin = np.where(is_line, np.where(in_line, line_xy[:, :, 1], np.inf).min(axis=1), y)
    ymax = np.where(is_line, np.where(in_line, line_xy[:, :, 1], -np.inf).max(axis=1), np.where(is_poly, y + 0.01, y))
    geoms = []
    for i in range(n):
        r = roll[i]
        if r < 0.40:
            geoms.append(_pt(x[i], y[i]))
        elif r < 0.80:
            geoms.append(_ls(line_xy[i, : nline[i]]))
        elif r < 0.95:
            geoms.append(_poly(np.array([(x[i], y[i]), (x[i] + 0.01, y[i]), (x[i] + 0.01, y[i] + 0.01), (x[i], y[i] + 0.01), (x[i], y[i])])))
        else:  # GeometryCollection → the `_other` split bucket
            body = _pt(x[i], y[i]) + _ls(np.array([(x[i], y[i]), (x[i] + 0.01, y[i])]))
            geoms.append(b"\x01" + struct.pack("<II", 7, 2) + body)
    hv = np.round(rng.uniform(5, 120, n), 1)
    return pa.table(
        {
            "id": pa.array([f"inf{i:06d}" for i in range(n)]),
            "names": _names(rng, n, "Infra", 0.0, 0.0),
            "subtype": _choice(rng, ["power", "communication", "water", "waste"], n),
            "class": _choice(rng, ["tower", "line", "plant", "substation", "cable"], n),
            "height": pa.array(hv, mask=rng.random(n) < 0.3),
            "version": pa.array(rng.integers(0, 6, n).astype(np.int32)),
            "bbox": _bbox_array(x, xmax, ymin, ymax),
            "geometry": pa.array(geoms, type=pa.binary()),
        }
    )


def make_divisions(countries):
    """One polygon per country plus a ``region`` distractor with the same
    country code, which the country-polygon lookup must filter out."""
    ids, subtypes, codes, names, geoms, boxes = [], [], [], [], [], []
    for i, c in enumerate(countries):
        x0, y0 = c["bbox"][:2]
        for suffix, subtype, ring in (
            ("", "country", c["ring"]),
            ("r", "region", _country_ring([x0, y0, x0 + 2, y0 + 2], False, None)[0]),
        ):
            ids.append(f"div{i:03d}{suffix}")
            subtypes.append(subtype)
            codes.append(c["iso2"])
            names.append({"primary": c["name"] if subtype == "country" else f"{c['name']} Region"})
            geoms.append(_poly(ring))
            boxes.append((ring[:, 0].min(), ring[:, 0].max(), ring[:, 1].min(), ring[:, 1].max()))
    b = np.array(boxes)
    return pa.table(
        {
            "id": pa.array(ids),
            "subtype": pa.array(subtypes),
            "country": pa.array(codes),
            "names": pa.array(names, type=pa.struct([("primary", pa.string())])),
            "bbox": _bbox_array(b[:, 0], b[:, 1], b[:, 2], b[:, 3]),
            "geometry": pa.array(geoms, type=pa.binary()),
        }
    )


_MAKERS = {
    "segment": make_segments,
    "building": make_buildings,
    "place": make_places,
    "infrastructure": make_infrastructure,
}


def theme_dir(root: str, type_: str) -> str:
    theme, t = LAYOUT[type_]
    return os.path.join(root, f"theme={theme}", f"type={t}")


def write_release(root: str, seed: int) -> list[dict]:
    """Write the seeded release under ``root``; returns its countries,
    the priming country last."""
    countries = make_countries(seed)
    prime = prime_country()
    tables, primes = {}, {}
    for k, (t, fn) in enumerate(_MAKERS.items()):
        rng = np.random.default_rng([seed, k + 1])
        tables[t] = fn(rng, countries, FEATURES_PER_THEME)
        small = fn(rng, [prime], PRIME_FEATURES, background=False)
        ids = pa.array(["w" + i for i in small.column("id").to_pylist()])
        primes[t] = small.set_column(0, "id", ids)
    tables["division_area"] = make_divisions(countries + [prime])
    for type_, table in tables.items():
        d = theme_dir(root, type_)
        os.makedirs(d, exist_ok=True)
        per = -(-table.num_rows // FILES_PER_THEME)
        for k in range(0, table.num_rows, per):
            pq.write_table(
                table.slice(k, per), os.path.join(d, f"part-{k // per:05d}.parquet"),
                compression="zstd", row_group_size=ROW_GROUP_ROWS,
            )
        if type_ in primes:
            pq.write_table(primes[type_], os.path.join(d, "part-prime.parquet"), compression="zstd")
    return countries + [prime]


# -- expectations ------------------------------------------------------------

def _f32_boxes(table: pa.Table) -> np.ndarray:
    """(n, 4) float64 view of the float32 bbox struct (xmin, xmax, ymin,
    ymax) — the doubles Spark compares after reading FloatType."""
    b = table.column("bbox").combine_chunks()
    return np.column_stack([b.field(k).to_numpy(zero_copy_only=False).astype(np.float64) for k in ("xmin", "xmax", "ymin", "ymax")])


#: Rows whose bbox clears a known inside/outside rectangle by this much
#: are decided without the row-level test (float32 bbox rounding is
#: ~1e-6 degrees here).
_SURE_MARGIN = 1e-3


def _within(bx: np.ndarray, rect) -> np.ndarray:
    xa, ya, xb, yb = rect
    m = _SURE_MARGIN
    return (bx[:, 0] > xa + m) & (bx[:, 1] < xb - m) & (bx[:, 2] > ya + m) & (bx[:, 3] < yb - m)


def _in_country(table: pa.Table, country: dict) -> np.ndarray:
    """Divisions-clip decision per row: the buffered float32 bbox
    prefilter (F2) AND the precise polygon intersect (F3). Rows whose
    bbox lies well inside a rectangle inside the polygon, or well inside
    one outside it or away from the polygon's extent, are settled
    directly; every other candidate runs ``geom.intersects_polygon``."""
    from overturelink_data_pipeline_spark.geo import geom as G
    from overturelink_data_pipeline_spark.geo import wkb as W

    x0, y0, x1, y1 = country["bbox"]
    bx = _f32_boxes(table)
    buf = BBOX_BUFFER_DEG
    pre = (bx[:, 0] > x0 - buf) & (bx[:, 1] < x1 + buf) & (bx[:, 2] > y0 - buf) & (bx[:, 3] < y1 + buf)
    sure_in = np.zeros(len(bx), dtype=bool)
    for rect in country["inside"]:
        sure_in |= _within(bx, rect)
    ring = country["ring"]
    px0, py0, px1, py1 = ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()
    m = _SURE_MARGIN
    sure_out = (bx[:, 1] < px0 - m) | (bx[:, 0] > px1 + m) | (bx[:, 3] < py0 - m) | (bx[:, 2] > py1 + m)
    for rect in country["outside"]:
        sure_out |= _within(bx, rect)
    rings = [[tuple(p) for p in ring.tolist()]]
    boxes = G.polygon_ring_boxes(rings)
    geoms = table.column("geometry").to_pylist()
    out = pre & sure_in
    for i in np.flatnonzero(pre & ~sure_in & ~sure_out).tolist():
        out[i] = G.intersects_polygon(W.loads(geoms[i]), rings, boxes)
    return out


def _in_bbox(table: pa.Table, country: dict) -> np.ndarray:
    x0, y0, x1, y1 = country["bbox"]
    bx = _f32_boxes(table)
    return (bx[:, 0] > x0) & (bx[:, 1] < x1) & (bx[:, 2] > y0) & (bx[:, 3] < y1)


def _flags(table: pa.Table, type_: str, need: np.ndarray, region: dict[str, np.ndarray]) -> pa.Table:
    """Per-row golden flags: ``keep`` (the normalizer's fused hygiene keeps
    the row), ``cent_ok`` (buildings: the UTM centroid exists), ``fam``
    (geometry family for the split) and one ``in_<ISO2>`` per divisions
    clip. Row-level Python is only run where ``need`` is set."""
    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.geo.functions import centroid_utm_lonlat, clean_geometry_bytes

    n = table.num_rows
    geoms = table.column("geometry").to_pylist()
    # the sector layer only turns filtered (education) buildings into centroids
    centroid_need = None
    if type_ == "building":
        centroid_need = table.column("subtype").to_numpy(zero_copy_only=False) == "education"
    keep = np.zeros(n, dtype=bool)
    cent = np.zeros(n, dtype=bool)
    fam = np.full(n, "", dtype=object)
    if type_ == "infrastructure":
        family = {"Point": "points", "MultiPoint": "points", "LineString": "lines", "MultiLineString": "lines", "Polygon": "polygons", "MultiPolygon": "polygons"}
        for i in np.flatnonzero(need).tolist():
            fam[i] = family.get(W.geometry_type(geoms[i]), "other")
    else:
        args = {
            "segment": ("lines", {}),
            "building": ("polygons", {"make_valid": True, "unwrap": True}),
            "place": ("points", {}),
        }[type_]
        for i in np.flatnonzero(need).tolist():
            cleaned = clean_geometry_bytes(geoms[i], args[0], **args[1])
            if cleaned is not None:
                keep[i] = True
                if centroid_need is not None and centroid_need[i]:
                    cent[i] = centroid_utm_lonlat(cleaned) is not None
    cols = {"id": table.column("id"), "keep": keep, "cent_ok": cent, "fam": pa.array(fam, type=pa.string())}
    cols.update({f"in_{iso}": mask for iso, mask in region.items()})
    # one chunk per column: DuckDB's Arrow scan pairs rows by batch, and
    # the id column arrives chunked per parquet row group
    return pa.table(cols).combine_chunks()


class Expectations:
    """Expected per-layer id sets for (query, country, clip) triples,
    computed in DuckDB over the generated parquet plus the row-level
    golden flags — never through Spark."""

    def __init__(self, root: str, countries: list[dict], needs: set[tuple[str, str, str]]):
        """``needs``: (type, iso2, clip) triples some op will read."""
        import duckdb

        self.countries = {c["iso2"]: c for c in countries}
        self.con = duckdb.connect()
        for type_ in sorted({t for t, _, _ in needs}):
            table = pq.read_table(theme_dir(root, type_))
            need = np.zeros(table.num_rows, dtype=bool)
            region = {}
            for t, iso, clip in sorted(needs):
                if t != type_:
                    continue
                if clip == "divisions":
                    region[iso] = _in_country(table, self.countries[iso])
                    need |= region[iso]
                else:
                    need |= _in_bbox(table, self.countries[iso])
            self.con.register(f"flags_{type_}", _flags(table, type_, need, region))
            self.con.execute(
                f"CREATE VIEW src_{type_} AS SELECT * FROM read_parquet('{theme_dir(root, type_)}/*.parquet')"
            )

    def ids(self, type_: str, iso: str, clip: str, filter_sql: str | None = None, cond: str = "TRUE") -> list[str]:
        if clip == "divisions":
            where = f"f.in_{iso}"
        else:
            x0, y0, x1, y1 = (repr(float(v)) for v in self.countries[iso]["bbox"])
            where = (
                f"CAST(r.bbox.xmin AS DOUBLE) > {x0} AND CAST(r.bbox.xmax AS DOUBLE) < {x1} "
                f"AND CAST(r.bbox.ymin AS DOUBLE) > {y0} AND CAST(r.bbox.ymax AS DOUBLE) < {y1}"
            )
        sql = (
            f"SELECT r.id FROM src_{type_} r JOIN flags_{type_} f ON r.id = f.id "
            f"WHERE {where} AND ({filter_sql or 'TRUE'}) AND ({cond})"
        )
        return [row[0] for row in self.con.execute(sql).fetchall()]

    def export_layers(self, query, iso: str, clip: str) -> dict[str, list[str]]:
        """Expected ids per output layer of read → normalize → metadata
        (→ sector layers) for one builtin query."""
        if query.geometry_split:
            return {
                f"{query.name}_{fam}": self.ids("infrastructure", iso, clip, query.filter, f"f.fam = '{fam}'")
                for fam in ("points", "lines", "polygons", "other")
            }
        if query.is_multilayer:
            places = self.ids("place", iso, clip, query.filter, "f.keep")
            buildings = self.ids("building", iso, clip, query.building_filter, "f.keep")
            centroids = self.ids("building", iso, clip, query.building_filter, "f.keep AND f.cent_ok")
            return {"places": places, "buildings": buildings, "places_combined": places + centroids}
        return {query.name: self.ids(query.type, iso, clip, query.filter, "f.keep")}
