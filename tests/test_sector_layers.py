"""Tests for U1 sector layers (places_combined), T7 service-name
sanitize, and T9 export-name generation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.geo import fixtures as FX
from overturelink_data_pipeline_spark.geo.functions import st_geometry_type
from overturelink_data_pipeline_spark.transform import (
    add_sector_layers,
    export_filename,
    normalize_buildings,
    normalize_places,
    sanitize_service_name,
)


def test_places_combined_union_and_centroids(spark):
    places = normalize_places(FX.fixture_df(spark, "places_place"))
    buildings = normalize_buildings(FX.fixture_df(spark, "buildings_building"))
    out = add_sector_layers({"places": places, "buildings": buildings})
    assert set(out) == {"places", "buildings", "places_combined"}
    combined = out["places_combined"]
    n_places, n_buildings = places.count(), buildings.count()
    assert combined.count() == n_places + n_buildings
    # building rows became centroid Points tagged building_centroid
    bc = combined.filter(F.col("feature_type") == "building_centroid")
    assert bc.count() == n_buildings
    types = {
        r[0]
        for r in bc.select(st_geometry_type(F.col("geometry"))).distinct().collect()
    }
    assert types == {"Point"}
    # union kept places' columns; buildings-only columns are null-padded
    assert "building_class" in combined.columns
    assert "category_primary" in combined.columns


def test_sector_layers_passthrough_without_both_layers(spark):
    places = normalize_places(FX.fixture_df(spark, "places_place"))
    out = add_sector_layers({"places": places})
    assert set(out) == {"places"}


@pytest.mark.parametrize(
    "raw, expect",
    [
        ("main.Education Facilities", "education_facilities"),
        ("Roads-AL 2026!", "roads_al_2026"),
        ("x" * 40, "x" * 30),
    ],
)
def test_sanitize_service_name(raw, expect):
    assert sanitize_service_name(raw) == expect


def test_export_filename():
    assert export_filename("ALB", "roads", "geojson") == "alb_roads.geojson"
    assert export_filename("ALB", "roads", "gpkg", raw=True) == "alb_roads_raw.gpkg"
    assert export_filename("bgd", "Main.Power Grid", "geojsonseq") == "bgd_power_grid.geojsonl"
    with pytest.raises(KeyError):
        export_filename("ALB", "roads", "csv")


def test_pipeline_places_combined_registered(spark, sf_dir):
    from overturelink_data_pipeline_spark import registry

    registry.load_all()
    out = registry.QUERIES["pipeline_places_combined"](spark, sf_dir).toPandas()
    fts = set(out.feature_type)
    assert "building_centroid" in fts and "place" in fts
    assert set(out.geom_type) == {"Point"}
    assert out.n.sum() > 0


def test_export_filename_accepts_cli_fgb_token():
    """review r10: the CLI's --format choice is 'fgb', which the ext
    map did not know — default-named FlatGeobuf exports crashed."""
    from overturelink_data_pipeline_spark.transform import export_filename

    assert export_filename("AAA", "roads", "fgb") == "aaa_roads.fgb"
    assert export_filename("AAA", "roads", "flatgeobuf") == "aaa_roads.fgb"


def test_normalizers_fold_source_type_into_feature_type(spark):
    """ADVICE r10: the multilayer provenance tag (J2 source_type) folds
    INTO feature_type per the reference (transform.py:529-530:
    result_gdf['feature_type'] = gdf['source_type']) — no standalone
    source_type column survives normalization, and feature_type carries
    per-frame provenance instead of the constant default. Without a
    tag, places still emit the constant default (documented divergence:
    fixed schemas; the reference omits the column entirely)."""
    from pyspark.sql import functions as F

    from overturelink_data_pipeline_spark.geo import fixtures as FX
    from overturelink_data_pipeline_spark.transform import (
        normalize_buildings,
        normalize_places,
    )

    places = FX.fixture_df(spark, "places_place").withColumn(
        "source_type", F.lit("places")
    )
    out = normalize_places(places)
    assert "source_type" not in out.columns
    assert out.select("feature_type").first()[0] == "places"
    untagged = normalize_places(FX.fixture_df(spark, "places_place"))
    assert untagged.select("feature_type").first()[0] == "place"
    bld = FX.fixture_df(spark, "buildings_building").withColumn(
        "source_type", F.lit("buildings")
    )
    outb = normalize_buildings(bld)
    assert "source_type" not in outb.columns
    assert outb.select("feature_type").first()[0] == "buildings"
    # untagged buildings carry no provenance column at all (reference
    # _normalize_buildings_schema emits neither)
    assert "feature_type" not in normalize_buildings(
        FX.fixture_df(spark, "buildings_building")
    ).columns


def test_confidence_drift_string_nulls_not_throws(spark):
    """review r10: a drifted string confidence ('n/a') must null under
    the ANSI-on session default, like height/floors (T4)."""
    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.transform import normalize_places

    pt = bytearray(W.dumps(("Point", (1.0, 2.0))))
    df = spark.createDataFrame(
        [("a", "x", "n/a", pt), ("b", "y", "0.75", pt)],
        "id string, name string, confidence string, geometry binary",
    )
    rows = {r["id"]: r["confidence"] for r in normalize_places(df).collect()}
    assert rows["a"] is None and rows["b"] == 0.75


def _union_branches(plan: str) -> list[list[str]]:
    """The lines of each direct child subtree of the plan's Union node;
    a node's depth is where its name starts after the tree prefix."""
    import re

    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    u = next(i for i, ln in enumerate(lines) if re.match(r"Union\b", ln.lstrip(" :+-")))
    branches: list[list[str]] = []
    for ln in lines[u + 1:]:
        if depth(ln) <= depth(lines[u]):
            break
        if depth(ln) == depth(lines[u]) + 3:
            branches.append([])
        branches[-1].append(ln)
    return branches


def test_places_combined_one_centroid_pass_over_cached_inputs(spark):
    """places_combined runs the centroid UDF once and reads both union
    inputs from the persisted layers, so writing all three layers runs
    each input's scan, clip and clean once."""
    import re

    from tests.test_plan_lint import _strip_aqe_initial_sections

    places = normalize_places(FX.fixture_df(spark, "places_place"))
    buildings = normalize_buildings(FX.fixture_df(spark, "buildings_building"))
    combined = add_sector_layers({"places": places, "buildings": buildings})[
        "places_combined"
    ]
    combined.collect()  # materialize so AQE renders the final plan
    plan = _strip_aqe_initial_sections(
        combined._jdf.queryExecution().executedPlan().toString()
    )
    centroid_nodes = re.findall(r"ArrowEvalPython \[st_centroid_utm\(", plan)
    assert len(centroid_nodes) == 1, plan
    branches = _union_branches(plan)
    assert len(branches) == 2, plan
    for branch in branches:
        first_scan = next(ln for ln in branch if "Scan" in ln)
        assert "InMemoryTableScan" in first_scan, plan
