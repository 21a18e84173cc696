"""Round-2 geometry-surface extensions: GeometryCollection parsing,
polygon-with-holes overlay, LineString overlays, UTM CRS transform.

Reference parity anchors: GeometryCollection is a first-class enum member
(ndjson-spatial/src/common.rs:55,67) that area hard-errors on
(area.rs:91-96 -> engine null); GEOS intersection() handles all type pairs
(intersection.rs:133).
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import (
    parse_geojson,
    st_area,
    st_asgeojson,
    st_bbox,
    st_collection_members,
    st_transform,
)
from ndjson_spatial_spark.operators.spatial import (
    assign_tiles,
    spatial_intersection_join,
)
from ndjson_spatial_spark.kernels import cells as KC


def gj(gtype, coords):
    return json.dumps({"type": gtype, "coordinates": coords})


def rect(x0, y0, x1, y1):
    return [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]


def geom_df(spark, rows):
    return (
        spark.createDataFrame(rows, ["id", "geojson"])
        .withColumn("geom", parse_geojson("geojson"))
        .drop("geojson")
    )


M = 100000.0

GC = json.dumps({
    "type": "GeometryCollection",
    "geometries": [
        {"type": "Point", "coordinates": [1.0, 2.0]},
        {"type": "LineString", "coordinates": [[0.0, 0.0], [5.0, 5.0]]},
        {"type": "Polygon", "coordinates": rect(10.0, 10.0, 20.0, 20.0)},
        {"type": "MultiPoint", "coordinates": [[30.0, 30.0], [31.0, 31.0]]},
    ],
})


class TestGeometryCollection:
    def test_parse_does_not_null_the_row(self, spark):
        df = geom_df(spark, [("gc", GC)])
        row = df.collect()[0]["geom"]
        assert row["geom_type"].startswith("GeometryCollection:")
        assert row["geom_type"] == (
            "GeometryCollection:Point,LineString,Polygon,Point,Point")
        assert len(row["x"]) == 1 + 2 + 5 + 2

    def test_bbox_is_member_union(self, spark):
        df = geom_df(spark, [("gc", GC)])
        bb = df.select(st_bbox("geom").alias("b")).collect()[0]["b"]
        # non-point ordering [minx, maxx, miny, maxy] (common.rs:59-61)
        assert bb == [0.0, 31.0, 0.0, 31.0]

    def test_area_is_null_like_other_nonpolygons(self, spark):
        df = geom_df(spark, [("gc", GC)])
        assert df.select(st_area("geom").alias("a")).collect()[0]["a"] is None

    def test_asgeojson_roundtrip(self, spark):
        df = geom_df(spark, [("gc", GC)])
        s = df.select(st_asgeojson("geom").alias("s")).collect()[0]["s"]
        got = json.loads(s)
        assert got["type"] == "GeometryCollection"
        types = [g["type"] for g in got["geometries"]]
        # Multi* members re-emit as singles (documented normalization)
        assert types == ["Point", "LineString", "Polygon", "Point", "Point"]
        assert got["geometries"][0]["coordinates"] == [1.0, 2.0]
        assert got["geometries"][2]["coordinates"] == rect(10.0, 10.0, 20.0, 20.0)

    def test_members_explode_to_first_class_rows(self, spark):
        df = geom_df(spark, [("gc", GC)])
        m = df.select(F.explode(st_collection_members("geom")).alias("g"))
        rows = m.collect()
        assert [r["g"]["geom_type"] for r in rows] == [
            "Point", "LineString", "Polygon", "Point", "Point"]
        # exploded polygon member is a real polygon: area works
        areas = m.select(st_area("g").alias("a")).collect()
        assert areas[2]["a"] == pytest.approx(100.0)

    def test_nested_collection_flattens(self, spark):
        nested = json.dumps({
            "type": "GeometryCollection",
            "geometries": [
                {"type": "GeometryCollection", "geometries": [
                    {"type": "Point", "coordinates": [7.0, 8.0]},
                ]},
                {"type": "Point", "coordinates": [9.0, 9.0]},
            ],
        })
        row = geom_df(spark, [("n", nested)]).collect()[0]["geom"]
        assert row["geom_type"] == "GeometryCollection:Point,Point"


class TestHolesOverlay:
    def test_donut_ref_excludes_hole_area(self, spark):
        # stream rect fully covering a donut ref: intersection area must be
        # outer minus hole (round-1 overlay ignored ref holes)
        donut = json.dumps({"type": "Polygon", "coordinates":
                            rect(0, 0, 10 * M, 10 * M)
                            + rect(4 * M, 4 * M, 6 * M, 6 * M)})
        stream = geom_df(spark, [("s", gj("Polygon", rect(-M, -M, 11 * M, 11 * M)))])
        ref = geom_df(spark, [("r", donut)])
        out = spatial_intersection_join(stream, ref, res=5).select(
            st_area("geom").alias("a")).collect()
        assert len(out) == 1
        assert out[0]["a"] == pytest.approx((10 * M) ** 2 - (2 * M) ** 2)

    def test_stream_holes_subtract(self, spark):
        donut = json.dumps({"type": "Polygon", "coordinates":
                            rect(0, 0, 10 * M, 10 * M)
                            + rect(4 * M, 4 * M, 6 * M, 6 * M)})
        stream = geom_df(spark, [("s", donut)])
        ref = geom_df(spark, [("r", gj("Polygon", rect(0, 0, 5 * M, 10 * M)))])
        out = spatial_intersection_join(stream, ref, res=5).select(
            st_area("geom").alias("a")).collect()
        # left half of donut: 5M x 10M minus half the hole (1M x 2M... the
        # hole spans x in [4M,6M]; clipped to x<=5M: 1M x 2M)
        assert out[0]["a"] == pytest.approx(50 * M * M - 2 * M * M)

    def test_hole_hole_overlap_readds(self, spark):
        # both sides donuts with overlapping holes: region where BOTH holes
        # overlap is outside both? no — hole XOR hole = inside again is
        # false for intersection; A∩B excludes each hole, but the even-odd
        # algebra must re-add hole∩hole once (it was subtracted twice)
        a = json.dumps({"type": "Polygon", "coordinates":
                        rect(0, 0, 10 * M, 10 * M) + rect(3 * M, 3 * M, 6 * M, 6 * M)})
        b = json.dumps({"type": "Polygon", "coordinates":
                        rect(0, 0, 10 * M, 10 * M) + rect(5 * M, 5 * M, 8 * M, 8 * M)})
        out = spatial_intersection_join(
            geom_df(spark, [("s", a)]), geom_df(spark, [("r", b)]), res=5
        ).select(st_area("geom").alias("a")).collect()
        # 100 - 9 - 9 + 1 (hole overlap 1M^2 double-subtracted)
        want = (100 - 9 - 9 + 1) * M * M
        assert out[0]["a"] == pytest.approx(want)


class TestLineOverlay:
    def test_line_clipped_by_polygon(self, spark):
        stream = geom_df(spark, [
            ("l", gj("LineString", [[-5 * M, 5 * M], [15 * M, 5 * M]]))])
        ref = geom_df(spark, [("r", gj("Polygon", rect(0, 0, 10 * M, 10 * M)))])
        rows = spatial_intersection_join(stream, ref, res=5).collect()
        assert len(rows) == 1
        g = rows[0]["geom"]
        assert g["geom_type"] == "LineString"
        assert list(g["x"]) == [0.0, 10 * M] and list(g["y"]) == [5 * M, 5 * M]

    def test_line_through_donut_splits(self, spark):
        donut = json.dumps({"type": "Polygon", "coordinates":
                            rect(0, 0, 10 * M, 10 * M)
                            + rect(4 * M, 4 * M, 6 * M, 6 * M)})
        stream = geom_df(spark, [
            ("l", gj("LineString", [[-5 * M, 5 * M], [15 * M, 5 * M]]))])
        ref = geom_df(spark, [("r", donut)])
        g = spatial_intersection_join(stream, ref, res=5).collect()[0]["geom"]
        assert g["geom_type"] == "MultiLineString"
        assert list(g["x"]) == [0.0, 4 * M, 6 * M, 10 * M]

    def test_crossing_lines_meet_at_point(self, spark):
        stream = geom_df(spark, [
            ("a", gj("LineString", [[0.0, 0.0], [10 * M, 10 * M]]))])
        ref = geom_df(spark, [
            ("b", gj("LineString", [[0.0, 10 * M], [10 * M, 0.0]]))])
        g = spatial_intersection_join(stream, ref, res=5).collect()[0]["geom"]
        assert g["geom_type"] == "Point"
        assert g["x"][0] == pytest.approx(5 * M) and g["y"][0] == pytest.approx(5 * M)

    def test_point_on_line(self, spark):
        stream = geom_df(spark, [("p", gj("Point", [5 * M, 5 * M]))])
        ref = geom_df(spark, [
            ("l", gj("LineString", [[0.0, 0.0], [10 * M, 10 * M]]))])
        rows = spatial_intersection_join(stream, ref, res=5).collect()
        assert len(rows) == 1 and rows[0]["geom"]["geom_type"] == "Point"
        off = geom_df(spark, [("p", gj("Point", [5 * M, 6 * M]))])
        assert spatial_intersection_join(off, ref, res=5).count() == 0

    def test_disjoint_lines_refined_away(self, spark):
        stream = geom_df(spark, [
            ("a", gj("LineString", [[0.0, 0.0], [10 * M, 0.0]]))])
        ref = geom_df(spark, [
            ("b", gj("LineString", [[0.0, M], [10 * M, M]]))])
        assert spatial_intersection_join(stream, ref, res=5).count() == 0

    def test_line_tile_assignment_without_interior_vertex(self, spark):
        # a long line crossing tiles with no vertex inside them
        z = 6
        tile = 2.0 * KC.MERC_MAX / (1 << z)
        df = geom_df(spark, [
            ("l", gj("LineString", [[-3.5 * tile, 0.5 * tile],
                                    [3.5 * tile, 0.5 * tile]]))])
        rows = assign_tiles(df, [z]).collect()
        xs = sorted({r["tile_x"] for r in rows})
        assert xs == list(range(28, 36))  # 7-tile span crosses 8 tiles


class TestUtmTransform:
    def test_roundtrip_through_utm(self, spark):
        df = geom_df(spark, [("p", gj("Point", [10.5, 52.25]))])
        utm = df.select(st_transform(F.col("geom"), 4326, 32632).alias("g"))
        g = utm.collect()[0]["g"]
        # zone 32N: easting in ~(100k, 900k), northing ~ 5.79e6 at 52N
        assert 5.0e5 < g["x"][0] < 7.0e5
        assert 5.7e6 < g["y"][0] < 5.9e6
        back = utm.select(st_transform(F.col("g"), 32632, 4326).alias("g2"))
        g2 = back.collect()[0]["g2"]
        assert g2["x"][0] == pytest.approx(10.5, abs=1e-9)
        assert g2["y"][0] == pytest.approx(52.25, abs=1e-9)

    def test_composed_utm_to_webmercator(self, spark):
        df = geom_df(spark, [("p", gj("Point", [10.5, 52.25]))])
        direct = df.select(st_transform(F.col("geom"), 4326, 3857).alias("g"))
        via = df.select(st_transform(F.col("geom"), 4326, 32632).alias("u")) \
                .select(st_transform(F.col("u"), 32632, 3857).alias("g"))
        d = direct.collect()[0]["g"]
        v = via.collect()[0]["g"]
        assert v["x"][0] == pytest.approx(d["x"][0], abs=1e-6)
        assert v["y"][0] == pytest.approx(d["y"][0], abs=1e-6)

    def test_southern_hemisphere_false_northing(self, spark):
        df = geom_df(spark, [("p", gj("Point", [10.5, -30.0]))])
        g = df.select(st_transform(F.col("geom"), 4326, 32732).alias("g")) \
              .collect()[0]["g"]
        assert 0 < g["y"][0] < 10000000.0


class TestParameterizedCrs:
    """Round-3 escape hatch: proj-style param dicts instead of EPSG codes
    (generic transverse mercator + Lambert Conformal Conic 2SP) — closes
    most of the State-Plane/national-grid gap vs the reference's GDAL
    routing (transform.rs:32-85)."""

    LCC = {"proj": "lcc", "lat_1": 33.0, "lat_2": 45.0,
           "lat_0": 39.0, "lon_0": -96.0}

    def test_lcc_roundtrip(self, spark):
        df = geom_df(spark, [("p", gj("Point", [-105.25, 40.125]))])
        out = df.select(st_transform(F.col("geom"), 4326, self.LCC).alias("g"))
        g = out.collect()[0]["g"]
        assert g["x"][0] < 0  # west of the central meridian
        back = out.select(st_transform(F.col("g"), self.LCC, 4326).alias("b"))
        b = back.collect()[0]["b"]
        assert b["x"][0] == pytest.approx(-105.25, abs=1e-9)
        assert b["y"][0] == pytest.approx(40.125, abs=1e-9)

    def test_tmerc_params_match_utm_epsg(self, spark):
        # zone 32N expressed as explicit params must equal the EPSG route
        tm = {"proj": "tmerc", "lon_0": 9.0, "k_0": 0.9996,
              "x_0": 500000.0, "y_0": 0.0}
        df = geom_df(spark, [("p", gj("Point", [10.5, 52.25]))])
        a = df.select(st_transform(F.col("geom"), 4326, 32632).alias("g")) \
              .collect()[0]["g"]
        b = df.select(st_transform(F.col("geom"), 4326, tm).alias("g")) \
              .collect()[0]["g"]
        assert a["x"][0] == b["x"][0] and a["y"][0] == b["y"][0]

    def test_lcc_to_utm_composes_through_4326(self, spark):
        df = geom_df(spark, [("p", gj("Point", [-96.5, 39.5]))])
        via = df.select(st_transform(F.col("geom"), 4326, self.LCC).alias("u")) \
                .select(st_transform(F.col("u"), self.LCC, 32614).alias("g")) \
                .collect()[0]["g"]
        direct = df.select(st_transform(F.col("geom"), 4326, 32614).alias("g")) \
                   .collect()[0]["g"]
        assert via["x"][0] == pytest.approx(direct["x"][0], abs=1e-6)
        assert via["y"][0] == pytest.approx(direct["y"][0], abs=1e-6)

    def test_unsupported_pair_raises(self, spark):
        # 2056 (Swiss CH1903+/LV95) is an OBLIQUE mercator — a method the
        # engine does not implement; must raise, not silently misproject.
        # (27700 moved from this test to the registry in round 4.)
        df = geom_df(spark, [("p", gj("Point", [1.0, 1.0]))])
        with pytest.raises(ValueError):
            df.select(st_transform(F.col("geom"), 4326, 2056))


class TestEpsgRegistry:
    """Round-4: EPSG code -> param-dict registry (kernels/epsg.py) over the
    aea/stere/merc/lcc/tmerc kernels.  Published worked examples pin the
    projection math; datum shifts are documented out of scope."""

    def test_conus_albers_by_code(self, spark):
        # Snyder PP1395 Albers example is on Clarke 1866; for the GRS80
        # EPSG:5070 grid pin the kernel directly and assert the Spark path
        # matches it bit-for-bit
        import numpy as np

        from ndjson_spatial_spark.kernels import crs as KCRS

        ex, ey = KCRS.aea_forward(
            np.array([-75.0]), np.array([35.0]),
            29.5, 45.5, 23.0, -96.0, ellps="GRS80")
        df = geom_df(spark, [("p", gj("Point", [-75.0, 35.0]))])
        g = df.select(st_transform(F.col("geom"), 4326, 5070).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == ex[0] and g["y"][0] == ey[0]
        back = df.select(st_transform(F.col("geom"), 4326, 5070).alias("g")) \
                 .select(st_transform(F.col("g"), 5070, 4326).alias("b")) \
                 .collect()[0]["b"]
        assert back["x"][0] == pytest.approx(-75.0, abs=1e-9)
        assert back["y"][0] == pytest.approx(35.0, abs=1e-9)

    def test_antarctic_polar_stereo_published_sample(self, spark):
        # EPSG GN 7-2 variant-B example (EPSG:3032 parameters): (-75, 120)
        # -> E 7255380.79, N 7053389.56
        df = geom_df(spark, [("p", gj("Point", [120.0, -75.0]))])
        g = df.select(st_transform(F.col("geom"), 4326, 3032).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == pytest.approx(7255380.79, abs=0.01)
        assert g["y"][0] == pytest.approx(7053389.56, abs=0.01)

    def test_british_national_grid_published_sample(self, spark):
        # Ordnance Survey worked example (projection math on Airy 1830,
        # OSGB36 lon/lat in): 52d39'27.2531"N 1d43'4.5177"E ->
        # E 651409.903 N 313177.270.  The registry's 27700 entry now
        # carries towgs84 (round-5), so the pure-projection pin uses an
        # explicit param dict without it.
        lat = 52 + 39 / 60 + 27.2531 / 3600
        lon = 1 + 43 / 60 + 4.5177 / 3600
        bng = {"proj": "tmerc", "lat_0": 49.0, "lon_0": -2.0,
               "k_0": 0.9996012717, "x_0": 400000.0, "y_0": -100000.0,
               "ellps": "airy"}
        df = geom_df(spark, [("p", gj("Point", [lon, lat]))])
        g = df.select(st_transform(F.col("geom"), 4326, bng).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == pytest.approx(651409.903, abs=0.001)
        assert g["y"][0] == pytest.approx(313177.270, abs=0.001)

    def test_british_national_grid_datum_shift(self, spark):
        # round-5 (VERDICT r4 item 4): EPSG:27700 BY CODE now applies the
        # published OSGB36 Helmert (EPSG tfm 1314), so true WGS84/ETRS89
        # input lands on the OS grid.  Same station as above, but the
        # OSTN worked example's ETRS89 coordinates in: the single-Helmert
        # national accuracy is ~3.5 m (grid files are the documented
        # boundary), so assert within 5 m — and that the ~100 m
        # no-datum-shift error is GONE.
        lat = 52 + 39 / 60 + 28.8282 / 3600
        lon = 1 + 42 / 60 + 57.8663 / 3600
        df = geom_df(spark, [("p", gj("Point", [lon, lat]))])
        g = df.select(st_transform(F.col("geom"), 4326, 27700).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == pytest.approx(651409.903, abs=5.0)
        assert g["y"][0] == pytest.approx(313177.270, abs=5.0)
        # and the round trip comes home
        back = df.select(st_transform(F.col("geom"), 4326, 27700).alias("g")) \
                 .select(st_transform(F.col("g"), 27700, 4326).alias("b")) \
                 .collect()[0]["b"]
        assert back["x"][0] == pytest.approx(lon, abs=1e-7)
        assert back["y"][0] == pytest.approx(lat, abs=1e-7)

    def test_state_plane_survey_feet_units(self, spark):
        # EPSG:2229 (California zone 5, US survey foot): to_meter applies
        # on output; the false origin in feet is x_0/to_meter
        df = geom_df(spark, [("p", gj("Point", [-118.0, 33.5]))])
        g = df.select(st_transform(F.col("geom"), 4326, 2229).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == pytest.approx(
            2000000.0001016002 / 0.3048006096012192, abs=1e-4)
        assert g["y"][0] == pytest.approx(
            500000.0001016001 / 0.3048006096012192, abs=1e-4)

    def test_laea_europe_published_sample(self, spark):
        # EPSG GN 7-2 method 9820 worked example (ETRS89 / LAEA Europe,
        # EPSG:3035): (50N, 5E) -> E 3962799.45, N 2999718.85
        df = geom_df(spark, [("p", gj("Point", [5.0, 50.0]))])
        g = df.select(st_transform(F.col("geom"), 4326, 3035).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == pytest.approx(3962799.45, abs=0.01)
        assert g["y"][0] == pytest.approx(2999718.85, abs=0.01)
        back = df.select(st_transform(F.col("geom"), 4326, 3035).alias("g")) \
                 .select(st_transform(F.col("g"), 3035, 4326).alias("b")) \
                 .collect()[0]["b"]
        assert back["x"][0] == pytest.approx(5.0, abs=1e-9)
        assert back["y"][0] == pytest.approx(50.0, abs=1e-9)

    def test_world_mercator_matches_kernel(self, spark):
        import numpy as np

        from ndjson_spatial_spark.kernels import crs as KCRS

        ex, ey = KCRS.merc_forward(np.array([12.5]), np.array([-41.875]))
        df = geom_df(spark, [("p", gj("Point", [12.5, -41.875]))])
        g = df.select(st_transform(F.col("geom"), 4326, 3395).alias("g")) \
              .collect()[0]["g"]
        assert g["x"][0] == ex[0] and g["y"][0] == ey[0]

    def test_proj4_string_matches_epsg_code(self, spark):
        # round-4: proj4 strings are the other half of the reference's
        # GDAL spec surface (transform.rs:32-85) — must hit the exact same
        # kernels as the registry code
        df = geom_df(spark, [("p", gj("Point", [2.35, 48.85]))])
        s = ("+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 "
             "+x_0=700000 +y_0=6600000 +ellps=GRS80 +units=m +no_defs")
        a = df.select(st_transform(F.col("geom"), 4326, 2154).alias("g")) \
              .collect()[0]["g"]
        b = df.select(st_transform(F.col("geom"), 4326, s).alias("g")) \
              .collect()[0]["g"]
        assert a["x"][0] == b["x"][0] and a["y"][0] == b["y"][0]
        c = df.select(st_transform(F.col("geom"), "+proj=longlat +datum=WGS84",
                                   "+proj=utm +zone=31 +datum=WGS84")
                      .alias("g")).collect()[0]["g"]
        d = df.select(st_transform(F.col("geom"), 4326, 32631).alias("g")) \
              .collect()[0]["g"]
        assert c["x"][0] == d["x"][0] and c["y"][0] == d["y"][0]

    def test_nad83_utm_uses_grs80(self, spark):
        # NAD83 UTM (26910) and WGS84 UTM (32610) differ only in the
        # ellipsoid — sub-mm but nonzero; both must resolve and differ
        df = geom_df(spark, [("p", gj("Point", [-123.0, 44.0]))])
        a = df.select(st_transform(F.col("geom"), 4326, 26910).alias("g")) \
              .collect()[0]["g"]
        b = df.select(st_transform(F.col("geom"), 4326, 32610).alias("g")) \
              .collect()[0]["g"]
        assert a["y"][0] != b["y"][0]
        assert a["y"][0] == pytest.approx(b["y"][0], abs=0.001)


class TestExplodeCollections:
    def test_gc_members_survive_the_join(self, spark):
        # GC rows null out of the overlay kernels (GEOS-parity: overlay on
        # collections is refused); explode_collections flattens members so
        # each participates as a first-class row
        from ndjson_spatial_spark.functions.geo import explode_collections
        from ndjson_spatial_spark.functions.geo import st_area

        stream = geom_df(spark, [
            ("gc", GC),
            ("plain", gj("Polygon", rect(12.0, 12.0, 18.0, 18.0))),
        ])
        ref = geom_df(spark, [("r", gj("Polygon", rect(0.0, 0.0, 25.0, 25.0)))])
        flat = explode_collections(stream)
        # GC of 5 members (Multi* split) + 1 plain row
        assert flat.count() == 6
        out = spatial_intersection_join(flat, ref.select("geom"), res=3)
        rows = out.select("id", st_area("geom").alias("a")).collect()
        # point/line/polygon members intersect the 25x25 ref; the two
        # MultiPoint-derived members at (30,30)/(31,31) fall outside
        assert sorted(r["id"] for r in rows) == ["gc"] * 3 + ["plain"]
        got_areas = sorted(round(r["a"], 6) for r in rows if r["a"] is not None)
        # polygon member 10x10 clipped fully (100), plain 6x6 (36)
        assert 36.0 in got_areas and 100.0 in got_areas

    def test_join_auto_explodes_collections(self, spark):
        # round-4: spatial_intersection_join flattens GC rows itself — no
        # manual explode_collections needed, and nothing silently drops
        from ndjson_spatial_spark.functions.geo import st_area

        stream = geom_df(spark, [
            ("gc", GC),
            ("plain", gj("Polygon", rect(12.0, 12.0, 18.0, 18.0))),
        ])
        ref = geom_df(spark, [("r", gj("Polygon", rect(0.0, 0.0, 25.0, 25.0)))])
        out = spatial_intersection_join(stream, ref.select("geom"), res=3)
        rows = out.select("id", st_area("geom").alias("a")).collect()
        assert sorted(r["id"] for r in rows) == ["gc"] * 3 + ["plain"]
        got_areas = sorted(round(r["a"], 6) for r in rows if r["a"] is not None)
        assert 36.0 in got_areas and 100.0 in got_areas

    def test_non_collection_rows_pass_through_unchanged(self, spark):
        from ndjson_spatial_spark.functions.geo import explode_collections

        df = geom_df(spark, [("p", gj("Point", [1.0, 2.0]))])
        flat = explode_collections(df)
        rows = flat.collect()
        assert len(rows) == 1
        assert rows[0]["geom"]["geom_type"] == "Point"
        assert list(rows[0]["geom"]["x"]) == [1.0]


class TestConvexHull:
    def _hull_df(self, spark, rows):
        from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                        st_convexhull)
        df = spark.createDataFrame(rows, ["id", "gj"]).select(
            "id", parse_geojson("gj").alias("geom"))
        return df.select("id", st_convexhull(F.col("geom")).alias("h"))

    def test_collapse_semantics(self, spark):
        rows = [
            (0, json.dumps({"type": "Point", "coordinates": [5, 5]})),
            (1, json.dumps({"type": "MultiPoint",
                            "coordinates": [[0, 0], [2, 2], [1, 1]]})),
            (2, json.dumps({"type": "MultiPoint",
                            "coordinates": [[3, 3], [3, 3]]})),
            (3, None),
        ]
        out = {r.id: r.h for r in self._hull_df(spark, rows).collect()}
        assert out[0]["geom_type"] == "Point"
        assert out[1]["geom_type"] == "LineString"       # collinear -> 2 pts
        assert list(out[1]["x"]) == [0.0, 2.0]
        assert out[2]["geom_type"] == "Point"            # 1 distinct point
        assert out[3]["geom_type"] is None               # null stays null

    def test_polygon_hull_drops_interior_and_holes(self, spark):
        gj = json.dumps({"type": "Polygon", "coordinates": [
            [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
            [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]],
        ]})
        out = self._hull_df(spark, [(0, gj)]).collect()[0].h
        assert out["geom_type"] == "Polygon"
        # canonical: CCW closed ring from lexicographic min
        assert list(out["x"]) == [0.0, 4.0, 4.0, 0.0, 0.0]
        assert list(out["y"]) == [0.0, 0.0, 4.0, 4.0, 0.0]

    def test_kernel_vs_brute_random(self):
        from ndjson_spatial_spark.kernels.geometry import convex_hull_xy

        rng = np.random.default_rng(11)
        for _ in range(50):
            n = int(rng.integers(3, 40))
            px = rng.integers(-20, 20, n).astype(float)
            py = rng.integers(-20, 20, n).astype(float)
            hx, hy = convex_hull_xy(px, py)
            m = len(hx)
            if m < 3:
                # all input points must be collinear
                if len(np.unique(np.column_stack([px, py]), axis=0)) > 2:
                    a = np.column_stack([px - px[0], py - py[0]])
                    assert np.all(np.abs(np.cross(a[1:], a[:-1][0])) == 0)
                continue
            # 1) every hull vertex is an input point
            pts = set(zip(px, py))
            assert all((x, y) in pts for x, y in zip(hx, hy))
            # 2) strictly convex CCW: every consecutive turn is a left turn
            X = np.concatenate([hx, hx[:2]])
            Y = np.concatenate([hy, hy[:2]])
            cross = ((X[1:-1] - X[:-2]) * (Y[2:] - Y[:-2])
                     - (Y[1:-1] - Y[:-2]) * (X[2:] - X[:-2]))
            assert np.all(cross > 0)
            # 3) every input point inside or on the hull (all edges left)
            for x, y in zip(px, py):
                e = ((hx[(np.arange(m) + 1) % m] - hx) * (y - hy)
                     - (hy[(np.arange(m) + 1) % m] - hy) * (x - hx))
                assert np.all(e >= 0)
            # 4) starts at lexicographic minimum
            k = np.lexsort((py, px))[0]
            assert (hx[0], hy[0]) == (px[k], py[k])


class TestBuffer:
    def _buf_df(self, spark, rows, distance, quad_segs=8):
        from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                        st_buffer)
        df = spark.createDataFrame(rows, ["id", "gj"]).select(
            "id", parse_geojson("gj").alias("geom"))
        return df.select(
            "id", st_buffer(F.col("geom"), distance, quad_segs).alias("b"))

    def test_point_disk_vertices_and_area(self, spark):
        from ndjson_spatial_spark.functions.geo import st_area
        rows = [(0, json.dumps({"type": "Point", "coordinates": [10, 20]}))]
        out = self._buf_df(spark, rows, 2.0, quad_segs=4).collect()[0].b
        assert out["geom_type"] == "Polygon"
        n = 16
        assert len(out["x"]) == n + 1           # closed ring
        assert out["x"][0] == 12.0 and out["y"][0] == 20.0  # east start
        assert out["x"][-1] == out["x"][0]
        # CCW: second vertex above the start
        assert out["y"][1] > 20.0
        # inscribed N-gon area = 0.5*N*r^2*sin(2pi/N)
        df = self._buf_df(spark, rows, 2.0, quad_segs=4)
        area = df.select(st_area(F.col("b")).alias("a")).collect()[0].a
        import math
        assert abs(area - 0.5 * n * 4.0 * math.sin(2 * math.pi / n)) < 1e-9

    def test_multipoint_and_scope_nulls(self, spark):
        rows = [
            (0, json.dumps({"type": "MultiPoint",
                            "coordinates": [[0, 0], [100, 0]]})),
            (1, json.dumps({"type": "Polygon",
                            "coordinates": [[[0, 0], [1, 0], [1, 1],
                                             [0, 0]]]})),
            (2, None),
        ]
        out = {r.id: r.b for r in
               self._buf_df(spark, rows, 1.0).collect()}
        mp = out[0]
        assert mp["geom_type"] == "MultiPolygon"
        assert list(mp["part_offsets"]) == [0, 1, 2]
        assert list(mp["ring_offsets"]) == [0, 33, 66]   # 2 closed 33-pt rings
        # round-5: polygons are IN scope (offset dilation) — the former
        # documented boundary closed; the dilated triangle stays a Polygon
        assert out[1]["geom_type"] == "Polygon"
        assert out[2]["geom_type"] is None

    def test_validation(self, spark):
        from ndjson_spatial_spark.functions.geo import st_buffer
        with pytest.raises(ValueError):
            st_buffer(F.col("g"), 0.0)
        with pytest.raises(ValueError):
            st_buffer(F.col("g"), 1.0, quad_segs=0)
        with pytest.raises(ValueError):
            st_buffer(F.col("g"), 1.0, cap_style="square")
        with pytest.raises(ValueError):
            st_buffer(F.col("g"), 1.0, join_style="bevel")
        with pytest.raises(ValueError):
            st_buffer(F.col("g"), 1.0, miter_limit=0.5)


class TestLineBuffer:
    """Round-5 offset-curve LineString buffering (VERDICT r4 item 6)."""

    def _buf(self, spark, coords, distance, **kw):
        from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                        st_buffer)
        gtype = kw.pop("gtype", "LineString")
        rows = [(0, json.dumps({"type": gtype, "coordinates": coords}))]
        df = spark.createDataFrame(rows, ["id", "gj"]).select(
            "id", parse_geojson("gj").alias("geom"))
        return df.select(
            st_buffer(F.col("geom"), distance, **kw).alias("b")
        ).collect()[0].b

    def test_miter_flat_l_shape_exact(self, spark):
        # left turn: outer miter = corner + (r, r); inner join = the
        # offset-line intersection = corner - (r, r) — exact integers
        b = self._buf(spark, [[0, 0], [10, 0], [10, 8]], 2.0,
                      cap_style="flat", join_style="miter")
        assert b["geom_type"] == "Polygon"
        got = list(zip(b["x"], b["y"]))
        assert got == [(0.0, -2.0), (12.0, -2.0), (12.0, 8.0), (8.0, 8.0),
                       (8.0, 2.0), (0.0, 2.0), (0.0, -2.0)]
        # right turn mirrors
        b = self._buf(spark, [[0, 0], [10, 0], [10, -8]], 2.0,
                      cap_style="flat", join_style="miter")
        got = list(zip(b["x"], b["y"]))
        assert got == [(0.0, -2.0), (8.0, -2.0), (8.0, -8.0), (12.0, -8.0),
                       (12.0, 2.0), (0.0, 2.0), (0.0, -2.0)]

    def test_round_caps_segment_area(self, spark):
        import math

        from ndjson_spatial_spark.kernels.geometry import BatchGeometry
        b = self._buf(spark, [[0, 0], [10, 0]], 2.0)
        x = np.asarray(b["x"]); y = np.asarray(b["y"])
        # 2 side vertices each + 15 interior cap vertices each + closure
        assert len(x) == 35
        assert (x[0], y[0]) == (0.0, -2.0)       # right offset of start
        area = 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        full = 2 * 2.0 * 10 + math.pi * 4.0
        inscribed = 2 * 2.0 * 10 + 0.5 * 32 * 4.0 * math.sin(math.pi / 16)
        assert inscribed - 1e-9 <= area <= full

    def test_round_join_area(self, spark):
        import math

        b = self._buf(spark, [[0, 0], [10, 0], [10, 8]], 2.0)
        x = np.asarray(b["x"]); y = np.asarray(b["y"])
        area = 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        # sides + round caps + outer quarter-join - inner corner overlap
        expect = (2 * 2.0 * 18 + math.pi * 4.0 + math.pi * 4.0 / 4
                  - 4.0)
        assert abs(area - expect) < 0.5          # inscribed arcs slightly less

    def test_miter_limit_bevels_sharp_turn(self, spark):
        # near-U-turn: miter length explodes past the limit -> bevel
        # emits BOTH offset endpoints instead of one miter point
        coords = [[0, 0], [10, 0], [0, 1.5]]
        miter = self._buf(spark, coords, 2.0, cap_style="flat",
                          join_style="miter", miter_limit=30.0)
        bevel = self._buf(spark, coords, 2.0, cap_style="flat",
                          join_style="miter", miter_limit=2.0)
        assert len(bevel["x"]) == len(miter["x"]) + 1

    def test_multiline_parts_and_nulls(self, spark):
        b = self._buf(spark, [[[0, 0], [5, 0]], [[20, 0], [25, 0]]], 1.0,
                      gtype="MultiLineString", cap_style="flat")
        assert b["geom_type"] == "MultiPolygon"
        assert list(b["part_offsets"]) == [0, 1, 2]
        assert len(b["x"]) == 10                 # two flat-cap rectangles
        # closed polyline -> null (annulus needs a hole ring; documented)
        ring = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]
        assert self._buf(spark, ring, 1.0)["geom_type"] is None

    def test_degenerate_and_duplicate_vertices(self, spark):
        # consecutive duplicates are dropped; all-duplicate line -> disk
        b = self._buf(spark, [[5, 5], [5, 5]], 2.0)
        assert b["geom_type"] == "Polygon" and len(b["x"]) == 33
        b = self._buf(spark, [[0, 0], [0, 0], [10, 0]], 2.0,
                      cap_style="flat")
        assert list(zip(b["x"], b["y"])) == [
            (0.0, -2.0), (10.0, -2.0), (10.0, 2.0), (0.0, 2.0),
            (0.0, -2.0)]


class TestHaversine:
    def test_replay_and_identities(self, spark):
        import math

        from ndjson_spatial_spark.functions.geo import st_haversine

        R = 6_371_008.8
        pts = [(1, 2.3522, 48.8566, -0.1276, 51.5072),   # Paris-London
               (2, 0.0, 0.0, 0.0, 0.0),                  # identical
               (3, 0.0, 0.0, 180.0, 0.0),                # antipodal
               (4, 10.0, 89.9, -170.0, 89.9)]            # near-pole
        df = spark.createDataFrame(
            pts, ["id", "lon1", "lat1", "lon2", "lat2"])
        out = {r.id: r.d for r in df.select(
            "id", st_haversine(F.col("lon1"), F.col("lat1"),
                               F.col("lon2"), F.col("lat2")).alias("d")
        ).collect()}

        def hav(lon1, lat1, lon2, lat2):
            p1, p2 = math.radians(lat1), math.radians(lat2)
            dphi = (p2 - p1) / 2
            dlmb = (math.radians(lon2) - math.radians(lon1)) / 2
            a = (math.sin(dphi) ** 2
                 + math.cos(p1) * math.cos(p2) * math.sin(dlmb) ** 2)
            return 2 * R * math.asin(math.sqrt(a))

        for i, lon1, lat1, lon2, lat2 in pts:
            assert abs(out[i] - hav(lon1, lat1, lon2, lat2)) < 1e-6, i
        assert out[2] == 0.0
        assert abs(out[3] - math.pi * R) < 1e-3
        assert 343_000 < out[1] < 344_500  # published ~343.5 km

    def test_pure_catalyst(self, spark):
        from ndjson_spatial_spark.functions.geo import st_haversine

        df = spark.createDataFrame([(0.0, 0.0, 1.0, 1.0)],
                                   ["a", "b", "c", "d"])
        plan = df.select(st_haversine(F.col("a"), F.col("b"), F.col("c"),
                                      F.col("d")))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Python" not in plan


class TestLineInterpolate:
    def _run(self, spark, gj, frac):
        from ndjson_spatial_spark.functions.geo import (
            parse_geojson,
            st_line_interpolate_point,
        )
        df = spark.createDataFrame([(0, gj)], ["id", "gj"]).select(
            st_line_interpolate_point(
                parse_geojson("gj"), frac).alias("p"))
        return df.collect()[0].p

    def test_interpolation_points(self, spark):
        line = json.dumps({"type": "LineString",
                           "coordinates": [[0, 0], [10, 0], [10, 5]]})
        for frac, want in [(0.0, (0.0, 0.0)), (0.5, (7.5, 0.0)),
                           (0.8, (10.0, 2.0)), (1.0, (10.0, 5.0))]:
            p = self._run(spark, line, frac)
            assert p["geom_type"] == "Point"
            assert (p["x"][0], p["y"][0]) == want, frac

    def test_scope_and_degenerate(self, spark):
        poly = json.dumps({"type": "Polygon",
                           "coordinates": [[[0, 0], [1, 0], [1, 1],
                                            [0, 0]]]})
        assert self._run(spark, poly, 0.5)["geom_type"] is None
        zero = json.dumps({"type": "LineString",
                           "coordinates": [[3, 4], [3, 4]]})
        p = self._run(spark, zero, 0.7)
        assert (p["x"][0], p["y"][0]) == (3.0, 4.0)
        from ndjson_spatial_spark.functions.geo import (
            st_line_interpolate_point,
        )
        with pytest.raises(ValueError):
            st_line_interpolate_point(F.col("g"), 1.5)


class TestInterpolateProperties:
    def test_point_on_line_and_proportional_random(self, spark):
        """Property sweep: the interpolated point lies ON the polyline
        and the walked-prefix length equals fraction * total length."""
        import numpy as np

        from ndjson_spatial_spark.functions.geo import (
            parse_geojson,
            st_line_interpolate_point,
        )

        rng = np.random.default_rng(23)
        rows = []
        lines = []
        for i in range(25):
            n = int(rng.integers(2, 8))
            pts = rng.integers(-50, 50, (n, 2)).astype(float)
            lines.append(pts)
            rows.append((i, json.dumps(
                {"type": "LineString",
                 "coordinates": [[float(x), float(y)] for x, y in pts]})))
        frac = 0.37
        df = spark.createDataFrame(rows, ["id", "gj"]).select(
            "id", st_line_interpolate_point(
                parse_geojson("gj"), frac).alias("p"))
        out = {r.id: (r.p["x"][0], r.p["y"][0]) for r in df.collect()}
        for i, pts in enumerate(lines):
            px, py = out[i]
            seg = np.hypot(np.diff(pts[:, 0]), np.diff(pts[:, 1]))
            total = seg.sum()
            if total == 0:
                assert (px, py) == (pts[0, 0], pts[0, 1])
                continue
            # walked length from the start to (px,py) along the line
            walked = 0.0
            found = False
            for k in range(len(seg)):
                a, b = pts[k], pts[k + 1]
                if seg[k] == 0:
                    continue
                t = np.dot([px - a[0], py - a[1]],
                           [b[0] - a[0], b[1] - a[1]]) / seg[k] ** 2
                proj = a + t * (b - a)
                if -1e-9 <= t <= 1 + 1e-9 and np.hypot(
                        proj[0] - px, proj[1] - py) < 1e-6:
                    walked += t * seg[k]
                    found = True
                    break
                walked += seg[k]
            assert found, i
            assert abs(walked - frac * total) < 1e-6, i


class TestSimplify:
    def test_dp_kernel_reference_cases(self):
        from ndjson_spatial_spark.kernels.geometry import simplify_polyline_dp

        # classic: peak above tolerance survives, noise below it dies
        xs = np.array([0.0, 1, 2, 3, 4, 5])
        ys = np.array([0.0, 0.1, -0.1, 5, 0.2, 0])
        keep = simplify_polyline_dp(xs, ys, 1.0)
        assert keep[0] and keep[3] and keep[-1]
        assert not keep[1] and not keep[4]
        # everything collinear -> endpoints only
        keep = simplify_polyline_dp(np.arange(5.0), np.zeros(5), 0.5)
        assert list(keep) == [True, False, False, False, True]
        # coincident endpoints (closed loop) -> radial distance branch
        xs = np.array([0.0, 2, 0, -2, 0])
        ys = np.array([0.0, 2, 4, 2, 0])
        keep = simplify_polyline_dp(xs, ys, 1.0)
        assert keep[0] and keep[-1] and keep.sum() >= 3
        # tiny inputs never crash, endpoints always kept
        assert list(simplify_polyline_dp([1.0], [1.0], 1.0)) == [True]
        assert list(simplify_polyline_dp([1.0, 2.0], [0.0, 0.0], 1.0)) \
            == [True, True]

    def test_dp_kernel_vs_recursive_reference(self):
        from ndjson_spatial_spark.kernels.geometry import simplify_polyline_dp

        def ref_dp(xs, ys, a, b, eps, keep):
            if b - a < 2:
                return
            ax, ay, bx, by = xs[a], ys[a], xs[b], ys[b]
            best, bi = -1.0, -1
            import math
            seg = math.hypot(bx - ax, by - ay)
            for i in range(a + 1, b):
                if seg == 0.0:
                    d = math.hypot(xs[i] - ax, ys[i] - ay)
                else:
                    d = abs((bx - ax) * (ys[i] - ay)
                            - (by - ay) * (xs[i] - ax)) / seg
                if d > best:
                    best, bi = d, i
            if best > eps:
                keep[bi] = True
                ref_dp(xs, ys, a, bi, eps, keep)
                ref_dp(xs, ys, bi, b, eps, keep)

        rng = np.random.default_rng(23)
        for _ in range(40):
            n = int(rng.integers(2, 60))
            xs = np.cumsum(rng.integers(0, 4, n)).astype(float)
            ys = rng.integers(-10, 11, n).astype(float)
            eps = float(rng.choice([0.5, 1.5, 3.0, 8.0]))
            got = simplify_polyline_dp(xs, ys, eps)
            want = np.zeros(n, bool)
            want[0] = want[-1] = True
            ref_dp(xs, ys, 0, n - 1, eps, want)
            assert np.array_equal(got, want)

    def test_st_simplify_scoping(self, spark):
        from ndjson_spatial_spark.functions.geo import st_simplify

        rows = [
            ("line", gj("LineString",
                        [[0, 0], [1, 0.1], [2, 0], [3, 6], [4, 0]])),
            ("multi", gj("MultiLineString",
                         [[[0, 0], [1, 4], [2, 0]],
                          [[5, 0], [6, 0.01], [7, 0]]])),
            ("pt", gj("Point", [9, 9])),
            ("poly", gj("Polygon", rect(0, 0, 1, 1))),
        ]
        df = geom_df(spark, rows)
        out = {r.id: r.g for r in df.select(
            "id", st_simplify(F.col("geom"), 1.0).alias("g")).collect()}
        # peak (3,6) kept; (2,0) survives too (1.79 > eps from the
        # (0,0)-(3,6) chord after the split); (1,0.1) dies
        assert list(out["line"]["x"]) == [0.0, 2.0, 3.0, 4.0]
        # parts simplified independently; offsets rebuilt
        assert list(out["multi"]["x"]) == [0.0, 1.0, 2.0, 5.0, 7.0]
        assert list(out["multi"]["ring_offsets"]) == [0, 3, 5]
        assert list(out["multi"]["part_offsets"]) == [0, 2]
        assert out["pt"]["geom_type"] == "Point"      # pass-through
        assert out["poly"]["geom_type"] is None       # documented scope


class TestPerimeter:
    def test_perimeter_semantics(self, spark):
        from ndjson_spatial_spark.functions.geo import st_perimeter

        donut = json.dumps({"type": "Polygon", "coordinates":
                            rect(0, 0, 10, 10) + rect(2, 2, 8, 8)})
        rows = [
            ("rect", gj("Polygon", rect(0, 0, 3, 4))),
            ("donut", donut),
            ("multi", json.dumps({"type": "MultiPolygon", "coordinates":
                                  [rect(0, 0, 1, 1), rect(5, 5, 7, 6)]})),
            ("line", gj("LineString", [[0, 0], [3, 4]])),
        ]
        df = geom_df(spark, rows)
        out = {r.id: r.p for r in df.select(
            "id", st_perimeter(F.col("geom")).alias("p")).collect()}
        assert out["rect"] == 14.0
        assert out["donut"] == 40.0 + 24.0     # holes included (GEOS)
        assert out["multi"] == 4.0 + 6.0
        assert out["line"] is None             # non-polygon -> null


class TestExtentAgg:
    def test_group_extents_and_null_skip(self, spark):
        from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                        st_extent_agg)
        rows = [
            (1, "a", json.dumps({"type": "Point", "coordinates": [3, 7]})),
            (2, "a", json.dumps({"type": "LineString",
                                 "coordinates": [[-1, 0], [5, 9]]})),
            (3, "a", None),
            (4, "b", json.dumps({"type": "Polygon", "coordinates":
                                 [[[10, 10], [20, 10], [20, 15],
                                   [10, 10]]]})),
        ]
        df = spark.createDataFrame(rows, ["id", "grp", "gj"]).select(
            "grp", parse_geojson("gj").alias("geom"))
        out = {r.grp: r for r in st_extent_agg(df, "grp").collect()}
        a = out["a"]
        assert (a.xmin, a.ymin, a.xmax, a.ymax, a.n_geoms) == \
            (-1.0, 0.0, 5.0, 9.0, 2)
        b = out["b"]
        assert (b.xmin, b.ymin, b.xmax, b.ymax, b.n_geoms) == \
            (10.0, 10.0, 20.0, 15.0, 1)

    def test_no_python_in_plan(self, spark):
        from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                        st_extent_agg)
        df = spark.createDataFrame(
            [(1, "a", '{"type":"Point","coordinates":[1,2]}')],
            ["id", "grp", "gj"]).select(
            "grp", parse_geojson("gj").alias("geom"))
        # the aggregate itself adds no Python beyond the parse UDF:
        # strip the parse by caching a materialized struct frame
        df = spark.createDataFrame(
            df.collect(), df.schema)
        plan = st_extent_agg(df, "grp")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Python" not in plan
        assert "HashAggregate" in plan
