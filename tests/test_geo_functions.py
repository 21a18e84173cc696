"""Spatial scalar function tests over the canonical geometry struct column
(FIXTURES.md F5; reference cites in docstrings)."""

import json

import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import (
    parse_geojson,
    st_area,
    st_asgeojson,
    st_bbox,
    st_centroid,
    st_point,
    st_transform,
)

REF_RECT = [
    [189776.5420303712, 4816290.5053447075],
    [761661.7830505947, 4816290.5053447075],
    [761661.7830505947, 5472415.100443922],
    [189776.5420303712, 5472415.100443922],
    [189776.5420303712, 4816290.5053447075],
]


def gj(gtype, coords):
    return json.dumps({"type": gtype, "coordinates": coords})


@pytest.fixture(scope="module")
def geoms(spark):
    rows = [
        ("ref_rect", gj("Polygon", [REF_RECT])),
        ("square_hole", gj("Polygon", [
            [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
            [[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]],
        ])),
        ("multi", gj("MultiPolygon", [
            [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]],
            [[[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]]],
        ])),
        ("pt", gj("Point", [7.0, 9.0])),
        ("bad", "{not json"),
        ("nullrow", None),
    ]
    return (
        spark.createDataFrame(rows, ["id", "geojson"])
        .withColumn("geom", parse_geojson("geojson"))
        .cache()
    )


class TestParse:
    def test_polygon_struct(self, geoms):
        r = geoms.filter("id = 'ref_rect'").select("geom.*").collect()[0]
        assert r.geom_type == "Polygon"
        assert len(r.x) == 5 and r.ring_offsets == [0, 5] and r.part_offsets == [0, 1]

    def test_corrupt_and_null_rows_null_out(self, geoms):
        rows = {r.id: r for r in geoms.select("id", "geom.geom_type").collect()}
        assert rows["bad"].geom_type is None
        assert rows["nullrow"].geom_type is None

    def test_null_string_parses_to_null_struct(self, spark, geoms):
        # a null string is a null geometry; malformed JSON keeps a struct
        # whose fields are all null
        assert {r.id for r in geoms.where(F.col("geom").isNull())
                .collect()} == {"nullrow"}
        bad = geoms.where("id = 'bad'").select("geom").collect()[0].geom
        assert bad is not None and all(v is None for v in bad)
        plan = (spark.createDataFrame([("{}",)], ["geojson"])
                .select(parse_geojson("geojson").alias("g"))
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_feature_wrapper_tolerated(self, spark):
        f = json.dumps({"type": "Feature", "properties": {"a": 1},
                        "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}})
        r = (spark.createDataFrame([(f,)], ["geojson"])
             .select(parse_geojson("geojson").alias("g")).collect()[0].g)
        assert r.geom_type == "Point" and r.x == [1.0]


class TestArea:
    def test_reference_rectangle(self, geoms):
        # area.rs test polygon: planar width*height
        w = 761661.7830505947 - 189776.5420303712
        h = 5472415.100443922 - 4816290.5053447075
        got = geoms.filter("id='ref_rect'").select(st_area("geom").alias("a")).collect()[0].a
        assert got == pytest.approx(w * h)

    def test_hole_and_multi(self, geoms):
        rows = {r.id: r.a for r in geoms.select("id", st_area("geom").alias("a")).collect()}
        assert rows["square_hole"] == pytest.approx(15.0)
        assert rows["multi"] == pytest.approx(20.0)

    def test_null_geom_is_zero(self, geoms):
        # area.rs:99 — geometry None => 0.0
        rows = {r.id: r.a for r in geoms.select("id", st_area("geom").alias("a")).collect()}
        assert rows["nullrow"] == 0.0


class TestCentroid:
    def test_replaces_geometry_with_point(self, geoms):
        r = (geoms.filter("id='multi'")
             .select(st_centroid("geom").alias("c")).collect()[0].c)
        assert r.geom_type == "Point"
        assert r.x[0] == pytest.approx((16 * 2 + 4 * 11) / 20)


class TestBbox:
    def test_quirk_ordering(self, geoms):
        rows = {r.id: r.b for r in geoms.select("id", st_bbox("geom").alias("b")).collect()}
        # non-point: [minx, maxx, miny, maxy]
        assert rows["square_hole"] == [0.0, 4.0, 0.0, 4.0]
        # point: [x, y, x, y]
        assert rows["pt"] == [7.0, 9.0, 7.0, 9.0]


class TestTransform:
    def test_4326_to_3857_roundtrip(self, spark):
        df = spark.createDataFrame([(gj("Point", [1.0, 1.0]),)], ["geojson"])
        g = df.select(parse_geojson("geojson").alias("g"))
        merc = g.select(st_transform(F.col("g"), 4326, 3857).alias("g"))
        back = merc.select(st_transform(F.col("g"), 3857, 4326).alias("g"))
        r = back.collect()[0].g
        assert r.x[0] == pytest.approx(1.0, abs=1e-9)
        assert r.y[0] == pytest.approx(1.0, abs=1e-9)


class TestRoundTrip:
    def test_asgeojson_roundtrip(self, geoms):
        out = geoms.filter("id='multi'").select(st_asgeojson("geom").alias("s")).collect()[0].s
        assert json.loads(out) == json.loads(
            gj("MultiPolygon", [
                [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]],
                [[[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]]],
            ])
        )

    def test_st_point_pure_catalyst(self, spark):
        df = spark.createDataFrame([(1.5, 2.5)], ["x", "y"])
        r = df.select(st_point(F.col("x"), F.col("y")).alias("g")).collect()[0].g
        assert r.geom_type == "Point" and r.x == [1.5] and r.y == [2.5]
        # no UDF: plan stays whole-stage-codegen'd
        plan = df.select(st_point(F.col("x"), F.col("y")))._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan


class TestStLength:
    def test_lengths_and_type_nulls(self, spark):
        import json

        from pyspark.sql import functions as F

        from ndjson_spatial_spark.functions.geo import parse_geojson, st_length

        rows = [
            (json.dumps({"type": "LineString",
                         "coordinates": [[0, 0], [3, 4], [3, 10]]}), 11.0),
            (json.dumps({"type": "MultiLineString",
                         "coordinates": [[[0, 0], [1, 0]],
                                         [[0, 0], [0, 2]]]}), 3.0),
            (json.dumps({"type": "Point", "coordinates": [1, 1]}), None),
            (json.dumps({"type": "Polygon",
                         "coordinates": [[[0, 0], [1, 0], [1, 1],
                                          [0, 0]]]}), None),
            (None, 0.0),  # null geometry -> 0.0, the st_area convention
        ]
        df = spark.createDataFrame([(r[0],) for r in rows], "gj string") \
            .withColumn("geom", parse_geojson("gj"))
        got = [r.L for r in df.select(st_length("geom").alias("L")).collect()]
        assert got == [r[1] for r in rows]
