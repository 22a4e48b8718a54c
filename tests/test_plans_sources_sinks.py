"""Unit tests for the plan compiler, source fallback chain, cache
layer, and sinks (SURVEY.md §7.1 steps 5-7)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.geo import fixtures as FX
from overturelink_data_pipeline_spark.operators.pipeline import (
    _fixture_country,
    fixture_base_dir,
)
from overturelink_data_pipeline_spark.plans.compile import compile_query
from overturelink_data_pipeline_spark.plans.config import builtin_queries, parse_queries
from overturelink_data_pipeline_spark.plans.models import ClipStrategy, Query, RunOptions
from overturelink_data_pipeline_spark.plans.overture import (
    discover_types,
    expected_columns,
    parse_projection,
)
from overturelink_data_pipeline_spark.sinks.geojson import (
    write_geojson,
    write_geojsonseq,
)
from overturelink_data_pipeline_spark.sinks.geoparquet import (
    write_filegdb,
    write_geoparquet,
    write_gpkg,
)
from overturelink_data_pipeline_spark.sinks.publish import (
    MockFeatureService,
    PayloadTooLarge,
    publish,
)
from overturelink_data_pipeline_spark.sources import cache as cache_mod
from overturelink_data_pipeline_spark.sources.fallback import (
    OvertureReader,
    resolve_release,
)


@pytest.fixture(scope="module")
def base_dir(spark):
    return fixture_base_dir(spark)


@pytest.fixture()
def reader(spark, base_dir):
    return OvertureReader(spark, base_dir=base_dir, release="r1", backoff_base_s=0.0)


# -- plans -------------------------------------------------------------------

def test_parse_projection_shapes(spark):
    col, name = parse_projection("names.primary as name")
    assert name == "name"
    assert parse_projection("id")[1] == "id"
    assert parse_projection("categories.primary as category")[1] == "category"


def test_expected_columns_always_has_geometry():
    assert "geometry" in expected_columns("segment")
    assert expected_columns("unknown_type") == {"id", "geometry"}


def test_builtin_queries_parse():
    qs = builtin_queries()
    assert qs["education"].is_multilayer
    assert qs["power"].geometry_split
    assert not qs["roads"].is_multilayer
    assert qs["markets"].filter.startswith("categories.primary IN")


def test_parse_queries_minimal():
    qs = parse_queries("x:\n  theme: places\n  type: place\n")
    assert qs["x"].filter is None and not qs["x"].is_multilayer


def test_compile_single_layer_bbox(spark, base_dir):
    q = builtin_queries()["roads"]
    layers = compile_query(
        spark, base_dir, q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX)
    )
    df = layers["roads"]
    assert set(df.columns) == expected_columns("segment")
    n = df.count()
    total = spark.read.parquet(f"{base_dir}/theme=transportation/type=segment").count()
    assert 0 < n < total  # the clip did something


def test_compile_divisions_stricter_than_bbox(spark, base_dir):
    """Concave fixture country: precise clip must drop bbox-pass rows —
    the precision difference the reference exists to provide."""
    q = builtin_queries()["roads"]
    c = _fixture_country(0)  # Aland is concave
    nb = compile_query(spark, base_dir, q, c, RunOptions(clip=ClipStrategy.BBOX))[
        "roads"
    ].count()
    nd = compile_query(spark, base_dir, q, c, RunOptions(clip=ClipStrategy.DIVISIONS))[
        "roads"
    ].count()
    assert nd < nb


def test_compile_filter_and_limit(spark, base_dir):
    q = Query(name="edu", theme="places", type="place", filter="categories.primary = 'education'")
    layers = compile_query(
        spark, base_dir, q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX, limit=3)
    )
    rows = layers["edu"].collect()
    assert len(rows) <= 3
    full = compile_query(
        spark, base_dir, q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX)
    )["edu"]
    cats = [r["category"] for r in full.collect()]
    assert cats and all(c == "education" for c in cats)


def test_compile_multilayer_independent_plans(spark, base_dir):
    q = builtin_queries()["health"]
    layers = compile_query(
        spark, base_dir, q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX)
    )
    assert set(layers) == {"places", "buildings"}
    assert layers["places"].select("source_type").distinct().collect()[0][0] == "place"
    bl = layers["buildings"]
    assert [r["subtype"] for r in bl.select("subtype").distinct().collect()] == ["medical"]


def test_compile_geometry_split_layers(spark, base_dir):
    q = builtin_queries()["power"]
    layers = compile_query(
        spark, base_dir, q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX)
    )
    assert set(layers) == {f"power_{f}" for f in ("points", "lines", "polygons", "other")}
    counts = {k: v.count() for k, v in layers.items()}
    assert counts["power_points"] > 0 and counts["power_lines"] > 0


def test_discover_types_listing(spark, base_dir):
    assert discover_types(spark, base_dir, "transportation") == ["segment"]
    # dynamic fallback path: unknown theme → filesystem listing
    from overturelink_data_pipeline_spark.plans import overture as O

    saved = O.THEME_TYPES
    O.THEME_TYPES = {}
    try:
        assert discover_types(spark, base_dir, "places") == ["place"]
    finally:
        O.THEME_TYPES = saved


def test_bbox_filter_pushdown_in_plan(spark, base_dir):
    """F1 must reach the parquet scan as pushed filters (SURVEY.md §4)."""
    q = builtin_queries()["roads"]
    df = compile_query(
        spark, base_dir, q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX)
    )["roads"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "bbox.xmin" in plan


# -- sources: cache + fallback ----------------------------------------------

def test_cache_roundtrip_and_refilter(spark, base_dir, reader, tmp_path):
    reader.cache_root = str(tmp_path)
    q = Query(name="edu", theme="places", type="place", filter="categories.primary = 'education'")
    c = _fixture_country(0)
    meta = reader.cache_country(q, c)
    assert meta.feature_count > 0 and meta.bbox is not None
    # cache read applies filter + limit on the COMPLETE cached data
    out = reader.read(q, c)["edu"]
    assert 0 < out.count() < meta.feature_count
    limited = reader.read(q, c, RunOptions(limit=2))["edu"]
    assert limited.count() == 2
    # stats / list / clear
    stats = cache_mod.cache_stats(str(tmp_path))
    assert stats["files"] == 1 and stats["features"] == meta.feature_count
    assert cache_mod.clear_cache(str(tmp_path)) == 1
    assert cache_mod.cache_stats(str(tmp_path))["files"] == 0


def test_cache_schema_drift_returns_none(spark, tmp_path):
    # cache a frame MISSING an expected column (no `category`)
    df = FX.fixture_df(spark, "places_place").select("id", "geometry")
    path = str(tmp_path / "XX_places.parquet")
    cache_mod.write_cache(
        df, path, country="XX", theme="places", type_="place", release="r1"
    )
    assert (
        cache_mod.read_cache(spark, path, type_="place") is None
    )  # drift → miss → caller refreshes


def test_fallback_dump_tier_then_direct(spark, base_dir, tmp_path):
    """A reader with a broken dump dir falls through to direct."""
    reader = OvertureReader(
        spark,
        base_dir=base_dir,
        release="r1",
        dump_dir=str(tmp_path / "nonexistent_dump"),
        backoff_base_s=0.0,
    )
    q = builtin_queries()["roads"]
    out = reader.read(q, _fixture_country(0), RunOptions(clip=ClipStrategy.BBOX))
    assert out["roads"].count() > 0


def test_retry_downgrades_divisions_to_bbox(spark, base_dir):
    """Direct-tier failure on the precise clip retries with bbox."""
    sleeps: list[float] = []
    reader = OvertureReader(
        spark,
        base_dir=base_dir,
        release="r1",
        sleeper=sleeps.append,
        backoff_base_s=7.0,
    )
    q = builtin_queries()["roads"]
    # break the divisions lookup by pointing at a country with no row
    from overturelink_data_pipeline_spark.plans.models import Country

    ghost = Country(name="Ghost", iso2="ZZ", iso3="ZZZ", region="", bbox=(0, 0, 10, 10))
    out = reader.read(q, ghost, RunOptions(clip=ClipStrategy.DIVISIONS))
    assert out["roads"].count() > 0  # bbox downgrade succeeded
    assert sleeps == [7.0]  # one backoff before the downgraded attempt


def test_resolve_release_offline_and_fetcher():
    assert resolve_release() == "2026-05-15.0"
    assert resolve_release(lambda: "2026-06-18.0") == "2026-06-18.0"
    assert resolve_release(lambda: 1 / 0, default="d") == "d"


# -- sinks -------------------------------------------------------------------

def test_geojsonseq_distributed_write(spark, tmp_path):
    df = FX.fixture_df(spark, "places_place").select("id", "geometry").limit(20)
    out = str(tmp_path / "seq")
    write_geojsonseq(df, out)
    lines = spark.read.text(out).collect()
    assert len(lines) == 20
    feats = [json.loads(r["value"]) for r in lines]
    assert all(f["type"] == "Feature" for f in feats)
    assert all(f["geometry"]["type"] in ("Point",) for f in feats)
    assert all("id" in f["properties"] for f in feats)


def test_geojson_featurecollection_multilayer(spark, tmp_path):
    a = FX.fixture_df(spark, "places_place").select("id", "geometry").limit(3)
    b = FX.fixture_df(spark, "transportation_segment").select("id", "geometry").limit(2)
    path = str(tmp_path / "out.geojson")
    n = write_geojson({"places": a, "roads": b}, path, metadata={"source": "test"})
    assert n == 5
    doc = json.load(open(path))
    assert doc["metadata"] == {"source": "test"}
    layers = {f["properties"]["layer"] for f in doc["features"]}
    assert layers == {"places", "roads"}


def test_geojson_single_layer_no_tag(spark, tmp_path):
    a = FX.fixture_df(spark, "places_place").select("id", "geometry").limit(3)
    path = str(tmp_path / "one.geojson")
    write_geojson(a, path)
    doc = json.load(open(path))
    assert "layer" not in doc["features"][0]["properties"]


def test_geoparquet_sidecar(spark, tmp_path):
    df = FX.fixture_df(spark, "places_place").select("id", "bbox", "geometry")
    path = str(tmp_path / "gp")
    meta = write_geoparquet(df, path)
    assert meta["columns"]["geometry"]["encoding"] == "WKB"
    assert meta["feature_count"] == df.count()
    xmin, ymin, xmax, ymax = meta["columns"]["geometry"]["bbox"]
    assert xmin < xmax and ymin < ymax
    assert os.path.exists(os.path.join(path, "_geo_metadata.json"))
    assert spark.read.parquet(path).count() == meta["feature_count"]


def _sidecar_frames(spark):
    """A fixture frame, a projected one without the bbox struct, a
    zero-row frame and an all-NULL-geometry frame (same schema)."""
    df = FX.fixture_df(spark, "places_place").select("id", "bbox", "geometry")
    nulls = df.withColumn("bbox", F.lit(None).cast(df.schema["bbox"].dataType))
    return {
        "fixture": df,
        "projected": df.select("id", "geometry"),
        "empty": spark.createDataFrame([], df.schema),
        "null_geometry": nulls.withColumn("geometry", F.lit(None).cast("binary")),
    }


def _read_back(spark, path, envelope):
    """Count and bbox aggregated over the written files, the way the
    sidecars must describe them."""
    from overturelink_data_pipeline_spark.geo.functions import st_bbox

    written = spark.read.parquet(path)
    if envelope == "geometry":
        written = written.withColumn("bbox", st_bbox(F.col("geometry")))
    r = written.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("bbox.xmin").alias("xmin"),
        F.min("bbox.ymin").alias("ymin"),
        F.max("bbox.xmax").alias("xmax"),
        F.max("bbox.ymax").alias("ymax"),
    ).first()
    bbox = None if r["xmin"] is None else [r["xmin"], r["ymin"], r["xmax"], r["ymax"]]
    return r["n"], bbox


def _jobs_submitted(spark, fn):
    """``fn()``'s result and the number of Spark jobs it submitted."""
    import uuid

    sc = spark.sparkContext
    group = f"sidecar-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", ["fixture", "projected", "empty", "null_geometry"])
def test_geoparquet_sidecar_matches_read_back(spark, tmp_path, case):
    """The observed sidecar equals an explicit aggregate over the
    written files, and the sink runs no job beyond the write itself."""
    df = _sidecar_frames(spark)[case]
    path = str(tmp_path / "gp")
    meta, jobs = _jobs_submitted(spark, lambda: write_geoparquet(df, path))
    n, bbox = _read_back(spark, path, "geometry")
    assert meta["feature_count"] == n
    assert meta["columns"]["geometry"]["bbox"] == bbox
    with open(os.path.join(path, "_geo_metadata.json")) as f:
        assert json.load(f) == meta
    _, plain = _jobs_submitted(
        spark, lambda: df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    )
    assert jobs <= plain


@pytest.mark.parametrize("case", ["fixture", "projected", "empty", "null_geometry"])
def test_cache_sidecar_matches_read_back(spark, tmp_path, case):
    """Same contract for the country cache: bbox from the bbox struct
    when the frame has one, else from the geometry envelope."""
    df = _sidecar_frames(spark)[case]
    path = str(tmp_path / "XX_places.parquet")
    meta, jobs = _jobs_submitted(
        spark,
        lambda: cache_mod.write_cache(
            df, path, country="XX", theme="places", type_="place", release="r1"
        ),
    )
    n, bbox = _read_back(spark, path, "bbox" if "bbox" in df.columns else "geometry")
    assert meta.feature_count == n
    assert meta.bbox == bbox
    # the same frame write_cache writes: one file per country
    _, plain = _jobs_submitted(
        spark,
        lambda: df.repartition(1).write.mode("overwrite").parquet(str(tmp_path / "plain")),
    )
    assert jobs <= plain


def test_gpkg_roundtrip(spark, tmp_path):
    """Write → stdlib-sqlite3 read-back parity: row count, attribute
    values, exact WKB bytes, spec metadata tables, aggregate extents."""
    import sqlite3

    from overturelink_data_pipeline_spark.geo import geom as G
    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.sinks.gpkg import (
        add_gpkg_metadata,
        list_gpkg_layers,
        read_gpkg_layer,
        write_gpkg_layers,
    )

    places = (
        FX.fixture_df(spark, "places_place")
        .select("id", F.col("names.primary").alias("name"), "geometry")
        .limit(20)
    )
    roads = (
        FX.fixture_df(spark, "transportation_segment")
        .select("id", "class", "geometry")
        .limit(10)
    )
    path = str(tmp_path / "out.gpkg")
    counts = write_gpkg_layers({"places": places, "roads": roads}, path)
    assert counts == {"places": 20, "roads": 10}
    assert list_gpkg_layers(path) == ["places", "roads"]

    src = {r["id"]: r for r in places.collect()}
    back = read_gpkg_layer(path, "places")
    assert len(back) == 20
    for row in back:
        orig = src[row["id"]]
        assert row["name"] == orig["name"]
        assert row["geometry"] == bytes(orig["geometry"])  # exact WKB bytes

    con = sqlite3.connect(path)
    try:
        app_id = con.execute("PRAGMA application_id").fetchone()[0]
        assert app_id == 0x47504B47  # 'GPKG'
        gc = dict(
            con.execute(
                "SELECT table_name, geometry_type_name FROM gpkg_geometry_columns"
            ).fetchall()
        )
        assert set(gc) == {"places", "roads"}
        ext = con.execute(
            "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents "
            "WHERE table_name='places'"
        ).fetchone()
    finally:
        con.close()
    xs, ys = [], []
    for r in src.values():
        xmin, xmax, ymin, ymax = G.bbox(W.loads(bytes(r["geometry"])))
        xs += [xmin, xmax]
        ys += [ymin, ymax]
    assert ext == (min(xs), min(ys), max(xs), max(ys))

    add_gpkg_metadata(path, {"source": "test", "target_name": "places"})
    con = sqlite3.connect(path)
    meta = dict(con.execute("SELECT key, value FROM metadata").fetchall())
    con.close()
    assert meta["source"] == "test"


def test_filegdb_gated_or_roundtrip(spark, tmp_path):
    """FileGDB needs the GDAL stack; absent → NotImplementedError
    (import-gated), present → a real write must succeed."""
    df = FX.fixture_df(spark, "places_place").select("id", "geometry").limit(5)
    try:
        import geopandas  # noqa: F401
        import pyogrio  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            write_filegdb(df, str(tmp_path / "x.gdb"))
        return
    assert write_filegdb(df, str(tmp_path / "x.gdb")) == 5


def test_fgdb_field_truncation_unique():
    from overturelink_data_pipeline_spark.sinks.geoparquet import fgdb_field_names

    long_a = "a" * 70
    long_b = "a" * 64 + "b" * 6  # same 64-char prefix as long_a
    rename = fgdb_field_names([long_a, long_b, "short", "geometry"])
    assert rename[long_a] == "a" * 64
    assert rename[long_b] != rename[long_a]
    assert len(rename[long_b]) <= 64
    assert "geometry" not in rename and "short" not in rename


def _publishable(spark, n=50):
    df = FX.fixture_df(spark, "places_place").select("id", "geometry").limit(n)
    return (
        df.withColumn("processed_date", F.lit("2026-01-01T00:00:00"))
        .withColumn("country_iso3", F.lit("AAA"))
        .withColumn("country_name", F.lit("Aland"))
    )


def test_publish_initial_seed_then_batch(spark):
    svc = MockFeatureService()
    n = publish(
        _publishable(spark), svc, mode="initial", seed_count=10, batch_size=15
    )
    assert n == svc.count() == 50
    assert svc.calls[0] == ("create", 10)  # seed defines the schema
    assert all(op == "append" for op, _ in svc.calls[1:])


def test_publish_overwrite_truncates(spark):
    svc = MockFeatureService()
    publish(_publishable(spark, 20), svc, mode="append", batch_size=100)
    assert svc.count() == 20
    publish(_publishable(spark, 5), svc, mode="overwrite", batch_size=100)
    assert svc.count() == 5
    assert ("truncate", 20) in svc.calls


def test_publish_adaptive_halving(spark):
    """A 413-ing service forces batch halving down to an accepted size."""
    svc = MockFeatureService(max_payload=4)
    n = publish(
        _publishable(spark, 30),
        svc,
        mode="append",
        batch_size=16,
        batch_floor=2,
    )
    assert n == svc.count() == 30
    sizes = [s for op, s in svc.calls if op == "append"]
    assert max(sizes) <= 4  # halved until the endpoint accepted


def test_publish_halving_floor_raises(spark):
    svc = MockFeatureService(max_payload=1)
    with pytest.raises(PayloadTooLarge):
        publish(
            _publishable(spark, 10), svc, mode="append", batch_size=8, batch_floor=4
        )


def test_publish_contract_validation(spark):
    df = FX.fixture_df(spark, "places_place").select("id", "geometry")
    with pytest.raises(ValueError, match="contract"):
        publish(df, MockFeatureService(), mode="append")


def test_shapefile_roundtrip(spark, tmp_path):
    """Pure-stdlib shapefile write → read-back: counts, shape types,
    DBF attribute truncation, ring-orientation and mixed-type guard."""
    from pyspark.sql import Row

    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.sinks.shapefile import (
        read_shapefile,
        shp_field_names,
        write_shapefile,
    )

    # polygons incl. a CCW shell (writer must flip to CW) and a hole
    shell_ccw = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    hole_cw = [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)]
    polys = [
        ("Polygon", [shell_ccw, hole_cw]),
        ("MultiPolygon", [("Polygon", [shell_ccw])]),
    ]
    rows = [
        Row(id=i, name=f"poly_{i}", height=float(i) + 0.25,
            geometry=W.dumps(g))
        for i, g in enumerate(polys)
    ] + [Row(id=99, name="nullgeom", height=None, geometry=None)]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "polys.shp")
    assert write_shapefile(df, path) == 3

    back = read_shapefile(path)
    assert len(back) == 3
    assert [r["shape_type"] for r in back] == [5, 5, 0]  # Polygon, Polygon, Null
    assert back[0]["attrs"]["NAME"] == "poly_0"
    assert float(back[0]["attrs"]["HEIGHT"]) == 0.25
    assert back[2]["attrs"]["HEIGHT"] == ""  # dBASE null = blanks

    # shp ring orientation: outer must be CW in the file
    import struct

    with open(path, "rb") as f:
        data = f.read()
    st, = struct.unpack_from("<i", data, 108)  # first record content
    assert st == 5
    nparts, npts = struct.unpack_from("<2i", data, 108 + 36)
    assert nparts == 2  # shell + hole preserved as parts
    pts_off = 108 + 44 + 4 * nparts  # int32 part-start indexes
    ring = [struct.unpack_from("<2d", data, pts_off + 16 * i) for i in range(5)]
    area2 = sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(ring, ring[1:]))
    assert area2 < 0  # clockwise shell

    # 10-char field truncation + dedup
    names = shp_field_names(["country_iso3", "country_iso2", "x"])
    assert names["country_iso3"] == "COUNTRY_IS"
    assert names["country_iso2"] == "COUNTRY_I1"
    assert names["x"] == "X"

    # one-shape-type-per-file guard names the split operator
    mixed = spark.createDataFrame([
        Row(id=1, geometry=W.dumps(("Point", (1.0, 2.0)))),
        Row(id=2, geometry=W.dumps(("LineString", [(0.0, 0.0), (1.0, 1.0)]))),
    ])
    import pytest as _pt

    with _pt.raises(ValueError, match="split_by_geometry"):
        write_shapefile(mixed, str(tmp_path / "mixed.shp"))


def test_gpkg_decimal_date_and_fid_columns(spark, tmp_path):
    """review r10: sqlite3 cannot bind decimal.Decimal (DecimalType
    maps to REAL but the value crashed executemany), and an incoming
    'fid' column used to produce duplicate-column DDL. Decimals land
    as floats, dates as ISO text, and an integral fid becomes THE
    primary key (the read-back round-trip case)."""
    import datetime
    from decimal import Decimal

    from overturelink_data_pipeline_spark.sinks.gpkg import (
        read_gpkg_layer,
        write_gpkg,
    )

    df = spark.createDataFrame(
        [
            (1, Decimal("12.50"), datetime.date(2026, 8, 16)),
            (2, Decimal("-0.25"), datetime.date(2025, 1, 1)),
        ],
        "id long, price decimal(10,2), day date",
    )
    path = str(tmp_path / "dec.gpkg")
    assert write_gpkg(df, path, layer="t") == 2
    back = {r["id"]: r for r in read_gpkg_layer(path, "t")}
    assert back[1]["price"] == 12.5 and back[2]["price"] == -0.25
    assert back[1]["day"] == "2026-08-16"

    # round-trip the read-back rows (they carry fid) into a new layer
    rows = read_gpkg_layer(path, "t")
    df2 = spark.createDataFrame(
        [(r["fid"], r["id"], r["price"]) for r in rows],
        "fid long, id long, price double",
    )
    path2 = str(tmp_path / "dec2.gpkg")
    assert write_gpkg(df2, path2, layer="t") == 2
    back2 = read_gpkg_layer(path2, "t")
    assert [r["fid"] for r in back2] == [r["fid"] for r in rows]

    # a non-integral fid is a clear error, not duplicate-column DDL
    bad = spark.createDataFrame([("x",)], "fid string")
    with pytest.raises(ValueError, match="INTEGER fid"):
        write_gpkg(bad, str(tmp_path / "bad.gpkg"), layer="t")

    # ADVICE r10: NULL and duplicate caller-supplied fids fail eagerly
    # with named errors (sqlite would silently rowid-assign the NULL
    # and raise an opaque IntegrityError on the duplicate), and the
    # single-transaction write leaves no partial layer behind
    import sqlite3 as _sq

    nulfid = spark.createDataFrame([(None, "a"), (2, "b")], "fid long, v string")
    p_nul = str(tmp_path / "nul.gpkg")
    with pytest.raises(ValueError, match="NULL"):
        write_gpkg(nulfid, p_nul, layer="t")
    dupfid = spark.createDataFrame([(1, "a"), (1, "b")], "fid long, v string")
    p_dup = str(tmp_path / "dup.gpkg")
    with pytest.raises(ValueError, match="duplicate fid"):
        write_gpkg(dupfid, p_dup, layer="t")
    # ... including on the bounded-memory streaming path (review r11:
    # uniqueness comes from the PK constraint, not a driver-side set)
    with pytest.raises(ValueError, match="duplicate fid"):
        write_gpkg(dupfid, p_dup, layer="t", stream=True)
    for p in (p_nul, p_dup):
        if os.path.exists(p):
            con = _sq.connect(p)
            try:
                tables = {
                    r[0]
                    for r in con.execute(
                        "SELECT name FROM sqlite_master WHERE type='table'"
                    )
                }
            finally:
                con.close()
            assert "t" not in tables  # rolled back, no partial layer


def test_gpkg_attribute_table_and_empty_geometry(spark, tmp_path):
    """review r10: a geometry-less layer must register as data_type
    'attributes' (a 'features' row without a gpkg_geometry_columns
    entry is spec-invalid), and an EMPTY geometry writes the spec's
    empty-flag header with NO envelope — never ±inf doubles — while
    its WKB still round-trips."""
    import sqlite3

    from overturelink_data_pipeline_spark.sinks.gpkg import (
        read_gpkg_layer,
        unwrap_gp_blob,
        write_gpkg,
    )

    attrs = spark.createDataFrame([(1, "a")], "id long, tag string")
    path = str(tmp_path / "mix.gpkg")
    write_gpkg(attrs, path, layer="meta_only")
    empty_mp = bytes.fromhex("010600000000000000")  # LE empty MultiPolygon
    geoms = spark.createDataFrame(
        [(1, bytearray(empty_mp))], "id long, geometry binary"
    )
    write_gpkg(geoms, path, layer="empties", mode="a")

    con = sqlite3.connect(path)
    try:
        dt = dict(
            con.execute(
                "SELECT table_name, data_type FROM gpkg_contents"
            ).fetchall()
        )
        assert dt == {"meta_only": "attributes", "empties": "features"}
        ext = con.execute(
            "SELECT min_x, max_x FROM gpkg_contents WHERE table_name='empties'"
        ).fetchone()
        assert ext == (None, None)  # no ±inf extents
        blob = con.execute("SELECT geometry FROM empties").fetchone()[0]
    finally:
        con.close()
    assert blob[3] & 0b10000  # empty flag set
    assert (blob[3] >> 1) & 0b111 == 0  # envelope indicator 0
    assert unwrap_gp_blob(bytes(blob)) == empty_mp
    assert read_gpkg_layer(path, "empties")[0]["geometry"] == empty_mp


def test_gpkg_unwrap_rejects_malformed_blobs():
    """review r10: malformed blobs raise ValueError per the module
    contract, never bare KeyError/IndexError."""
    from overturelink_data_pipeline_spark.sinks.gpkg import unwrap_gp_blob

    with pytest.raises(ValueError):
        unwrap_gp_blob(b"GP\x00")  # shorter than the fixed header
    bad_ind = b"GP" + bytes([0, 5 << 1]) + b"\x00" * 12
    with pytest.raises(ValueError, match="envelope indicator"):
        unwrap_gp_blob(bad_ind)


def test_cache_tools_tolerate_corrupt_sidecars(tmp_path):
    """review r10: one corrupt (or newer-version) sidecar used to crash
    list/stats AND clear-cache — the recovery tool itself. Corrupt
    sidecars now read as skipped entries, and clearing everything
    keeps the cache ROOT directory in place."""
    import json as _json

    from overturelink_data_pipeline_spark.sources.cache import (
        CacheMetadata,
        cache_stats,
        clear_cache,
        list_cache,
    )

    root = tmp_path / "cache"
    d = root / "2026-08-01.0" / "CH"
    d.mkdir(parents=True)
    good = dict(
        country="CH", theme="places", type="place", release="2026-08-01.0",
        feature_count=3, bbox=[0.0, 0.0, 1.0, 1.0], cached_at="t",
    )
    (d / "CH_places.parquet.meta.json").write_text(_json.dumps(good))
    (d / "CH_roads.parquet.meta.json").write_text("{ truncated")
    newer = dict(good, type="segment", schema_epoch=99)  # future key
    (d / "CH_rails.parquet.meta.json").write_text(_json.dumps(newer))

    entries = list_cache(str(root))
    assert len(entries) == 2  # corrupt one skipped, future one parsed
    assert {e.type for e in entries} == {"place", "segment"}
    assert cache_stats(str(root))["files"] == 2
    assert clear_cache(str(root)) == 2
    assert root.is_dir() and not any(root.iterdir())
    assert CacheMetadata.from_json(str(d / "nonexistent.meta.json")) is None


def test_geojson_empty_geometry_is_null(spark, tmp_path):
    """review r10: POINT EMPTY serialized as {"type":"Point",
    "coordinates":[]} — invalid GeoJSON (RFC 7946 needs a position).
    Empty geometries now emit geometry null, and empty MEMBERS of a
    Multi*/collection are dropped."""
    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.sinks.geojson import write_geojson

    rows = [
        (1, bytearray(W.dumps(("Point", None)))),
        (2, bytearray(W.dumps(
            ("MultiPoint", [("Point", (1.0, 2.0)), ("Point", None)])
        ))),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, geometry binary")
    path = str(tmp_path / "empty.geojson")
    assert write_geojson(df, path) == 3
    doc = json.load(open(path))
    by_id = {f["properties"]["id"]: f for f in doc["features"]}
    assert by_id[1]["geometry"] is None
    assert by_id[3]["geometry"] is None
    assert by_id[2]["geometry"] == {
        "type": "MultiPoint", "coordinates": [[1.0, 2.0]],
    }


def test_geojson_layer_name_escaped_and_collision_rejected(spark, tmp_path):
    """review r10: the layer tag is spliced via json.dumps (a quote in
    the layer NAME used to corrupt the document), and a pre-existing
    'layer' column is an explicit error instead of a silently-shadowed
    duplicate JSON key."""
    from overturelink_data_pipeline_spark.sinks.geojson import (
        feature_line,
        write_geojson,
    )

    a = spark.createDataFrame([(1, None)], "id long, geometry binary")
    b = spark.createDataFrame([(2, None)], "id long, geometry binary")
    path = str(tmp_path / "esc.geojson")
    n = write_geojson({'q"uote': a, "plain": b}, path)
    assert n == 2  # the writer's own validation parsed the file
    doc = json.load(open(path, encoding="utf-8"))
    tags = {f["properties"]["layer"] for f in doc["features"]}
    assert tags == {'q"uote', "plain"}

    has_layer = spark.createDataFrame(
        [(1, "x", None)], "id long, layer string, geometry binary"
    )
    with pytest.raises(ValueError, match="'layer' column"):
        feature_line(has_layer, layer="dup")


def test_geojson_non_ascii_utf8(spark, tmp_path):
    """review r10: the writer/validators open files as UTF-8 explicitly
    (RFC 7946 §11.1), independent of the platform locale."""
    from overturelink_data_pipeline_spark.sinks.geojson import write_geojson

    df = spark.createDataFrame(
        [(1, "Zürich–Čačak", None)], "id long, name string, geometry binary"
    )
    path = str(tmp_path / "utf8.geojson")
    assert write_geojson(df, path, stream=True) == 1
    raw = open(path, "rb").read()
    assert "Zürich–Čačak".encode("utf-8") in raw


def test_dbf_truncation_keeps_utf8_valid():
    """review r10: byte-boundary truncation could split a multibyte
    character; the cell must stay decodable UTF-8."""
    from overturelink_data_pipeline_spark.sinks.shapefile import _fmt_cell

    v = "a" * 253 + "é"  # é needs 2 bytes; byte 254 cuts it in half
    cell = _fmt_cell(v, ("C", 254, 0))
    assert len(cell) == 254
    assert cell.rstrip(b" ").decode("utf-8") == "a" * 253
    intact = _fmt_cell("a" * 252 + "é", ("C", 254, 0))
    assert intact.rstrip(b" ").decode("utf-8") == "a" * 252 + "é"


def test_cache_generic_filter_never_diverges_from_direct(spark, base_dir, reader, tmp_path):
    """review r10: a GENERIC filter (not one of the two dialect regex
    shapes) referencing a nested field the CACHED schema lacks used to
    slip past the roots check (root 'names' present → passes), take the
    dialect's empty-on-unknown branch against the cache, and return 0
    rows as a 'cache hit' while the direct tier matched rows. The cache
    tier must now probe the exact branch and fall through — result
    equals direct, always. The drift is realistic: a cache written by
    an older release whose struct lacked a subfield (the X5 JSON-drift
    theme), which read_cache's root-level expected-columns check cannot
    see."""
    reader.cache_root = str(tmp_path)
    c = _fixture_country(0)
    q = Query(name="p", theme="places", type="place")
    opts = RunOptions(clip=ClipStrategy.BBOX)
    direct_df = OvertureReader(
        spark, base_dir=base_dir, release="r1", backoff_base_s=0.0
    ).read(q, c, opts)["p"]
    # hand-write a stale-struct cache: same roots, but `names` lost its
    # subfields except a dummy — passes the root-level schema check
    stale = direct_df.withColumn(
        "names", F.struct(F.lit("x").alias("stale_only"))
    )
    path = cache_mod.cache_path(str(tmp_path), "r1", c.iso2, "places", "place")
    cache_mod.write_cache(
        stale, path, country=c.iso2, theme="places", type_="place", release="r1"
    )
    generic = Query(
        name="p", theme="places", type="place",
        filter="names.primary IS NOT NULL AND 1 = 1",  # generic AND shape
    )
    via_reader = reader.read(generic, c, opts)["p"].count()
    direct = OvertureReader(
        spark, base_dir=base_dir, release="r1", backoff_base_s=0.0
    ).read(generic, c, opts)["p"].count()
    assert via_reader == direct
    assert direct > 0  # the raw schema CAN evaluate the filter


def test_filter_would_empty_probe():
    """The tier-selection probe must mirror apply_sql_filter's three
    branches: resolvable → False, unknown reference → True,
    unparseable (passthrough, same on every tier) → False."""
    from overturelink_data_pipeline_spark.functions.dialect import (
        filter_would_empty,
    )
    from overturelink_data_pipeline_spark.session import get_spark

    spark = get_spark(cpus="4")
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    assert filter_would_empty(df, None) is False
    assert filter_would_empty(df, "name = 'a'") is False
    assert filter_would_empty(df, "ghost = 'a'") is True
    assert filter_would_empty(df, "ghost = 'a' AND 1 = 1") is True
    assert filter_would_empty(df, "SELECT WHERE (((") is False


def test_dump_tier_requires_all_scanned_themes_valid(
    spark, base_dir, tmp_path, monkeypatch
):
    """review r10: a multilayer query also scans the buildings theme,
    and a divisions clip reads the divisions theme — Tier 2 previously
    validated only query.theme, silently serving a stale mirror of the
    others. Every scanned theme must now pass the sidecar check."""
    from overturelink_data_pipeline_spark.sources import dump as dump_mod

    dd = str(tmp_path / "dump")
    dump_mod.ensure_dump(spark, base_dir, dd, "places", release="r1")
    # stale buildings mirror: data present, sidecar from another release
    dump_mod.ensure_dump(spark, base_dir, dd, "buildings", release="r0")
    reader = OvertureReader(
        spark, base_dir=base_dir, release="r1", dump_dir=dd, backoff_base_s=0.0
    )
    roots: list[str] = []
    orig = reader._compile_from

    def spy(root, *a, **k):
        roots.append(root)
        return orig(root, *a, **k)

    monkeypatch.setattr(reader, "_compile_from", spy)
    edu = builtin_queries()["education"]  # multilayer → scans buildings
    c = _fixture_country(0)
    opts = RunOptions(clip=ClipStrategy.BBOX)
    reader.read(edu, c, opts)
    assert roots == [base_dir]  # dump tier skipped (stale buildings)
    # positive control: a places-only query still takes the dump tier
    roots.clear()
    plain = Query(name="p", theme="places", type="place")
    reader.read(plain, c, opts)
    assert roots == [dd]


def test_country_polygon_null_geometry_raises_clearly(spark):
    """review r10: a matching divisions row with NULL geometry used to
    die with a bare TypeError mentioning neither the country nor the
    cause."""
    from overturelink_data_pipeline_spark.geo.clip import country_polygon

    div = spark.createDataFrame(
        [("country", "XX", None)],
        "subtype string, country string, geometry binary",
    )
    with pytest.raises(ValueError, match="NULL geometry"):
        country_polygon(div, "XX")
