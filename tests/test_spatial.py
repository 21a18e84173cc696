"""Spatial join / contains / tile-assignment tests (FIXTURES.md F5-F7).

All coordinates are planar mercator-range doubles (the cell index assumes
mercator meters); expected values computed independently by hand.
"""

import json

import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import parse_geojson
from ndjson_spatial_spark.operators.spatial import (
    assign_tiles,
    auto_resolution,
    join_contains,
    spatial_intersection_join,
)


def gj(gtype, coords):
    return json.dumps({"type": gtype, "coordinates": coords})


def rect(x0, y0, x1, y1):
    return [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]


def geom_df(spark, rows):
    """rows: list of (id, geojson_str). -> df(id, geom)"""
    return (
        spark.createDataFrame(rows, ["id", "geojson"])
        .withColumn("geom", parse_geojson("geojson"))
        .drop("geojson")
    )


M = 100000.0  # work at ~100km scale so cell resolutions are sane


class TestIntersectionJoin:
    def test_polygon_polygon_overlay(self, spark):
        stream = geom_df(spark, [
            ("s1", gj("Polygon", rect(0, 0, 4 * M, 4 * M))),
            ("s2", gj("Polygon", rect(50 * M, 50 * M, 51 * M, 51 * M))),  # disjoint
        ])
        ref = geom_df(spark, [("r1", gj("Polygon", rect(2 * M, 2 * M, 6 * M, 6 * M)))])
        out = spatial_intersection_join(stream, ref).collect()
        assert [r.id for r in out] == ["s1"]
        g = out[0].geom
        assert g.geom_type == "Polygon"
        # intersection = [2M,2M]x[4M,4M] -> area (2M)^2
        xs, ys = g.x, g.y
        area = abs(sum(xs[i] * ys[(i + 1) % len(xs)] - xs[(i + 1) % len(xs)] * ys[i]
                       for i in range(len(xs)))) / 2
        assert area == pytest.approx((2 * M) ** 2)

    def test_point_in_polygon_stream_point(self, spark):
        stream = geom_df(spark, [
            ("in", gj("Point", [M, M])),
            ("out", gj("Point", [30 * M, 30 * M])),
        ])
        ref = geom_df(spark, [("r1", gj("Polygon", rect(0, 0, 2 * M, 2 * M)))])
        out = spatial_intersection_join(stream, ref).collect()
        assert [r.id for r in out] == ["in"]
        assert out[0].geom.geom_type == "Point"
        assert out[0].geom.x == [M]

    def test_fanout_one_row_per_candidate_pair(self, spark):
        # intersection.rs:137-151: one output row per matching (stream, ref)
        stream = geom_df(spark, [("s1", gj("Polygon", rect(0, 0, 10 * M, 10 * M)))])
        ref = geom_df(spark, [
            ("r1", gj("Polygon", rect(M, M, 2 * M, 2 * M))),
            ("r2", gj("Polygon", rect(5 * M, 5 * M, 6 * M, 6 * M))),
            ("r3", gj("Polygon", rect(50 * M, 50 * M, 60 * M, 60 * M))),
        ])
        out = spatial_intersection_join(stream, ref).collect()
        assert len(out) == 2  # r1 and r2 overlap; r3 disjoint

    def test_bbox_overlap_but_exact_disjoint(self, spark):
        # candidate superset must be refined away: two rectangles whose
        # bboxes overlap via a diagonal-shaped stream polygon
        tri = [[[0.0, 0.0], [4 * M, 0.0], [0.0, 4 * M], [0.0, 0.0]]]
        far_corner = rect(3.5 * M, 3.5 * M, 4 * M, 4 * M)
        stream = geom_df(spark, [("tri", gj("Polygon", tri))])
        ref = geom_df(spark, [("corner", gj("Polygon", far_corner))])
        assert spatial_intersection_join(stream, ref).count() == 0

    def test_multipolygon_parts(self, spark):
        stream = geom_df(spark, [("s", gj("MultiPolygon", [
            rect(0, 0, 2 * M, 2 * M), rect(8 * M, 8 * M, 10 * M, 10 * M)
        ]))])
        ref = geom_df(spark, [("r", gj("Polygon", rect(M, M, 9 * M, 9 * M)))])
        out = spatial_intersection_join(stream, ref).collect()
        assert len(out) == 1
        assert out[0].geom.geom_type == "MultiPolygon"  # both parts clip


class TestJoinContains:
    def test_points_collected_per_container(self, spark):
        containers = geom_df(spark, [
            ("west", gj("Polygon", rect(0, 0, 5 * M, 5 * M))),
            ("east", gj("Polygon", rect(10 * M, 0, 15 * M, 5 * M))),
            ("empty", gj("Polygon", rect(0, 50 * M, M, 51 * M))),
        ])
        pts = geom_df(spark, [
            ("p1", gj("Point", [M, M])),
            ("p2", gj("Point", [2 * M, 2 * M])),
            ("p3", gj("Point", [12 * M, M])),
            ("p4", gj("Point", [40 * M, 40 * M])),  # in no container
        ])
        out = join_contains(containers, pts, "contained")
        got = {r.id: sorted(f.id for f in r.contained) for r in out.collect()}
        assert got == {"west": ["p1", "p2"], "east": ["p3"], "empty": []}


class TestJoinContainsGeneral:
    def test_rects_and_mixed_with_points(self, spark):
        containers = geom_df(spark, [
            ("big", gj("Polygon", rect(0, 0, 10 * M, 10 * M))),
        ])
        feats = geom_df(spark, [
            ("inside_rect", gj("Polygon", rect(M, M, 3 * M, 3 * M))),
            ("straddles", gj("Polygon", rect(8 * M, 8 * M, 12 * M, 12 * M))),
            ("outside", gj("Polygon", rect(20 * M, 0, 21 * M, M))),
            ("pt_in", gj("Point", [5 * M, 5 * M])),
            ("line_in", gj("LineString", [[M, M], [9 * M, 9 * M]])),
            ("line_out", gj("LineString", [[M, M], [90 * M, M]])),
        ])
        out = join_contains(containers, feats, "contained")
        got = {r.id: sorted(f.id for f in r.contained) for r in out.collect()}
        assert got == {"big": ["inside_rect", "line_in", "pt_in"]}

    def test_concave_container_rejects_notch_crosser(self, spark):
        # L-shaped container: big square minus its upper-right quadrant.
        # A candidate rect spanning the notch has all 4 vertices inside
        # the L but its edges cross the notch boundary -> NOT contained.
        L = [[[0.0, 0.0], [10 * M, 0.0], [10 * M, 5 * M], [5 * M, 5 * M],
              [5 * M, 10 * M], [0.0, 10 * M], [0.0, 0.0]]]
        containers = geom_df(spark, [("L", gj("Polygon", L))])
        feats = geom_df(spark, [
            ("in_arm", gj("Polygon", rect(M, M, 4 * M, 4 * M))),
            # vertices at y in [1M,4M] x in [3M,7M]: all inside the lower
            # arm, but the rect pokes past x=5M under y=5M — still inside.
            ("low_wide", gj("Polygon", rect(3 * M, M, 7 * M, 4 * M))),
            # spans the notch corner: vertices (4M,4M),(6M,4M),(6M,6M)?
            # -> (6M,6M) is OUTSIDE (notch), vertex test kills it
            ("corner_out", gj("Polygon", rect(4 * M, 4 * M, 6 * M, 6 * M))),
            # vertices all inside both arms but edge crosses the notch:
            # thin rect from (M,6M) to (4M,9M) stays in left arm - make
            # one that hugs y just under 5M then rises in left arm? Use a
            # triangle with vertices in both arms whose edge cuts the
            # notch corner region
            ("diag_cross", gj("Polygon",
                              [[[9 * M, 4 * M], [4 * M, 9 * M],
                                [4.4 * M, 4.4 * M], [9 * M, 4 * M]]])),
        ])
        out = join_contains(containers, feats, "contained")
        got = {r.id: sorted(f.id for f in r.contained) for r in out.collect()}
        # diag_cross: vertices (9M,4M) in lower arm, (4M,9M) in left arm,
        # (4.4M,4.4M) in the square core — all inside the L — but the edge
        # (9M,4M)->(4M,9M) passes through the notch (e.g. (6.5M,6.5M)):
        # proper crossing of the notch edges -> rejected
        assert got == {"L": ["in_arm", "low_wide"]}

    def test_donut_container_hole_rules(self, spark):
        donut = json.dumps({"type": "Polygon", "coordinates":
                            rect(0, 0, 10 * M, 10 * M)
                            + rect(4 * M, 4 * M, 6 * M, 6 * M)})
        containers = geom_df(spark, [("donut", donut)])
        feats = geom_df(spark, [
            # in the solid part
            ("solid", gj("Polygon", rect(M, M, 3 * M, 3 * M))),
            # entirely within the hole -> vertices NOT inside
            ("in_hole", gj("Polygon", rect(4.5 * M, 4.5 * M, 5.5 * M, 5.5 * M))),
            # surrounds the hole: vertices inside the solid ring, no edge
            # crossings, but the hole is strictly inside it -> rejected
            ("surrounds_hole", gj("Polygon", rect(3 * M, 3 * M, 7 * M, 7 * M))),
        ])
        out = join_contains(containers, feats, "contained")
        got = {r.id: sorted(f.id for f in r.contained) for r in out.collect()}
        assert got == {"donut": ["solid"]}


class TestJoinContainsOracle:
    """join_contains against a cover-free oracle: every (container,
    contained) pair through the containment kernels in numpy, with no cell
    cover, coarsening or pair dedup involved."""

    def test_matches_brute_force_oracle(self, spark):
        import numpy as np
        import pandas as pd

        from ndjson_spatial_spark.functions.geo import explode_collections
        from ndjson_spatial_spark.kernels import geometry as KG
        from ndjson_spatial_spark.operators.spatial import (
            _geom_contained_batch,
            _with_terms,
        )

        res, cap = 8, 4
        L = [[[0.0, 20 * M], [10 * M, 20 * M], [10 * M, 24 * M],
              [4 * M, 24 * M], [4 * M, 30 * M], [0.0, 30 * M],
              [0.0, 20 * M]]]
        donut = rect(20 * M, 0, 30 * M, 10 * M) + rect(
            23 * M, 3 * M, 27 * M, 7 * M)
        containers = geom_df(spark, [
            ("sq", gj("Polygon", rect(0, 0, 10 * M, 10 * M))),
            ("L", gj("Polygon", L)),
            ("donut", gj("Polygon", donut)),
            ("tri", gj("Polygon", [[[-30 * M, 0.0], [-10 * M, 0.0],
                                    [-30 * M, 20 * M], [-30 * M, 0.0]]])),
            ("big", gj("Polygon", rect(-40 * M, -40 * M, 40 * M, 40 * M))),
            ("null", None),
        ])
        rng = np.random.default_rng(23)
        rows = [(f"pt{i}", gj("Point", [float(x), float(y)]))
                for i, (x, y) in enumerate(rng.uniform(-45 * M, 45 * M,
                                                       (80, 2)))]
        for i, (x, y, w, h) in enumerate(zip(
                *rng.uniform(-35 * M, 30 * M, (2, 30)),
                *rng.uniform(0.2 * M, 12 * M, (2, 30)))):
            rows.append((f"rect{i}", gj("Polygon", rect(
                float(x), float(y), float(x + w), float(y + h)))))
        rows += [
            # points exactly on container edges and corners
            ("edge_w", gj("Point", [0.0, 5 * M])),
            ("edge_e", gj("Point", [10 * M, 5 * M])),
            ("edge_s", gj("Point", [5 * M, 0.0])),
            ("edge_n", gj("Point", [5 * M, 10 * M])),
            ("corner", gj("Point", [0.0, 0.0])),
            ("edge_l_notch", gj("Point", [4 * M, 27 * M])),
            ("edge_hole", gj("Point", [23 * M, 5 * M])),
            ("edge_big", gj("Point", [40 * M, 0.0])),
            ("in_notch", gj("Polygon", rect(6 * M, 26 * M, 8 * M, 28 * M))),
            ("in_l", gj("Polygon", rect(M, 21 * M, 9 * M, 23 * M))),
            ("in_hole", gj("Polygon", rect(24 * M, 4 * M, 26 * M, 6 * M))),
            ("around_hole", gj("Polygon",
                               rect(21 * M, M, 29 * M, 9 * M))),
            ("in_ring", gj("Polygon",
                           rect(20.5 * M, 0.5 * M, 22 * M, 2 * M))),
            ("huge", gj("Polygon", rect(-30 * M, -30 * M, 30 * M, 30 * M))),
            ("line_in", gj("LineString", [[M, M], [9 * M, 9 * M]])),
            ("line_across", gj("LineString", [[M, M], [15 * M, M]])),
            ("gc", json.dumps({"type": "GeometryCollection", "geometries": [
                {"type": "Point", "coordinates": [5 * M, 5 * M]},
                {"type": "Point", "coordinates": [50 * M, 50 * M]},
                {"type": "LineString",
                 "coordinates": [[M, 21 * M], [2 * M, 29 * M]]}]})),
            ("null", None),
        ]
        contained = geom_df(spark, rows)

        # both sides coarsen under the small cap
        for df in (containers, contained):
            t = _with_terms(df, "geom", res, cap, res - 6, ())
            assert t.where(F.col("__res_used") < res).count() > 0

        def parts(g):
            return pd.DataFrame({k: [g[k]] for k in (
                "geom_type", "x", "y", "ring_offsets", "part_offsets")})

        def inside(c, g):
            if g.geom_type == "Point":
                return bool(KG.points_in_polygon(
                    np.array(g.x), np.array(g.y), np.array(c.x),
                    np.array(c.y), np.array(c.ring_offsets),
                    np.array(c.part_offsets))[0])
            return bool(_geom_contained_batch.func(
                pd.Series([0]), parts(g), parts(c))[0])

        # a null GeoJSON parses to a null geometry
        members = explode_collections(contained).collect()
        want = {c.id: sorted(m.id for m in members
                             if c.geom and m.geom and c.geom.x and m.geom.x
                             and inside(c.geom, m.geom))
                for c in containers.collect()}
        out = join_contains(containers, contained, "kids", res=res, cap=cap)
        got = {r.id: sorted(k.id for k in r.kids) for r in out.collect()}
        assert got == want
        assert want["null"] == []
        assert {"in_l", "gc"} <= set(want["L"]) and "in_notch" not in want["L"]
        assert "in_ring" in want["donut"]
        assert not {"in_hole", "around_hole"} & set(want["donut"])
        assert {"huge", "line_in", "corner"} <= set(want["big"])
        assert "line_across" not in want["sq"]

    def test_staged_names_are_rejected(self, spark):
        containers = geom_df(spark, [
            ("sq", gj("Polygon", rect(0, 0, 10 * M, 10 * M)))])
        contained = geom_df(spark, [("p", gj("Point", [M, M]))])
        # a containers column named like the staged row id used to be
        # replaced by the id and then dropped from the output
        with pytest.raises(ValueError, match="__cid"):
            join_contains(containers.withColumn("__cid", F.lit(7)),
                          contained, "kids", res=8)
        with pytest.raises(ValueError, match="'id'"):
            join_contains(containers, contained, "id", res=8)
        # contained columns ride inside the collected structs, so names the
        # term join stages come through intact
        dunder = contained.withColumns({"__cid": F.lit(1), "__term": F.lit(2),
                                        "__cov": F.lit(3)})
        row = join_contains(containers, dunder, "kids", res=8).collect()[0]
        assert [(k["id"], k["__cid"], k["__term"], k["__cov"])
                for k in row.kids] == [("p", 1, 2, 3)]


class TestAssignTiles:
    def test_point_tile_matches_closed_form(self, spark):
        # zoom 2, mercator point in the NE quadrant's first tile column
        from ndjson_spatial_spark.kernels import cells as KC
        x, y = KC.lonlat_to_mercator([10.0], [20.0])
        df = geom_df(spark, [("p", gj("Point", [float(x[0]), float(y[0])]))])
        out = assign_tiles(df, [2]).collect()
        assert len(out) == 1
        import math
        n = 4
        u = (x[0] + KC.MERC_MAX) / (2 * KC.MERC_MAX)
        v = (KC.MERC_MAX - y[0]) / (2 * KC.MERC_MAX)
        assert (out[0].tile_x, out[0].tile_y) == (math.floor(u * n), math.floor(v * n))
        assert out[0].zoom == 2

    def test_polygon_spans_multiple_tiles(self, spark):
        from ndjson_spatial_spark.kernels import cells as KC
        half = KC.MERC_MAX / 2
        # centered square crossing all 4 zoom-1 tiles
        df = geom_df(spark, [("sq", gj("Polygon", rect(-half, -half, half, half)))])
        out = assign_tiles(df, [1]).collect()
        assert sorted((r.tile_x, r.tile_y) for r in out) == [
            (0, 0), (0, 1), (1, 0), (1, 1)
        ]

    def test_refinement_prunes_bbox_false_positives(self, spark):
        from ndjson_spatial_spark.kernels import cells as KC
        half = KC.MERC_MAX / 2
        # triangle occupying only the NW zoom-1 tile-ish region but with a
        # bbox spanning all four tiles
        tri = [[[-half * 1.5, half * 1.5], [half * 1.5, half * 1.5],
                [-half * 1.5, -half * 1.5], [-half * 1.5, half * 1.5]]]
        df = geom_df(spark, [("tri", gj("Polygon", tri))])
        got = sorted((r.tile_x, r.tile_y) for r in assign_tiles(df, [1]).collect())
        # the triangle misses the SE tile's interior entirely? no — its
        # hypotenuse passes through (0,0); SE tile [0..max]x[-max..0] has
        # zero-area overlap only. 3 tiles expected.
        assert got == [(0, 0), (0, 1), (1, 0)]

    def test_multiple_zooms_union(self, spark):
        df = geom_df(spark, [("p", gj("Point", [M, M]))])
        out = assign_tiles(df, [1, 3]).collect()
        assert sorted(r.zoom for r in out) == [1, 3]


class TestAutoResolution:
    def test_scales_with_extent(self, spark):
        small = geom_df(spark, [(str(i), gj("Polygon", rect(i * M, 0, i * M + 1000, 1000)))
                                for i in range(20)])
        big = geom_df(spark, [(str(i), gj("Polygon", rect(0, 0, 100 * M, 100 * M)))
                              for i in range(20)])
        assert auto_resolution(small) > auto_resolution(big)


class TestJoinContainsGC:
    def test_gc_members_collected_individually(self, spark):
        # round-4: contained-side GeometryCollections explode to members;
        # only the members inside the container are collected
        import json

        from ndjson_spatial_spark.functions.geo import parse_geojson
        from ndjson_spatial_spark.operators.spatial import join_contains
        from pyspark.sql import functions as F

        def gj(t, c):
            return json.dumps({"type": t, "coordinates": c})

        rect = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                 [0.0, 0.0]]]
        gc = json.dumps({"type": "GeometryCollection", "geometries": [
            {"type": "Point", "coordinates": [5.0, 5.0]},      # inside
            {"type": "Point", "coordinates": [50.0, 50.0]},    # outside
            {"type": "LineString",
             "coordinates": [[1.0, 1.0], [2.0, 2.0]]},         # inside
        ]})
        containers = spark.createDataFrame(
            [("c", gj("Polygon", rect))], ["cid", "g"]
        ).select("cid", parse_geojson("g").alias("geom"))
        contained = spark.createDataFrame(
            [("m", gc)], ["mid", "g"]
        ).select("mid", parse_geojson("g").alias("geom"))
        out = join_contains(containers, contained, "kids", res=3)
        row = out.collect()[0]
        assert len(row.kids) == 2  # inside point + inside line, not the GC


class TestSubdivide:
    """subdivide_polygons: grid subdivision for hot-polygon parallelism."""

    def _mk(self, spark, gj_rows):
        from ndjson_spatial_spark.functions.geo import parse_geojson
        df = spark.createDataFrame(gj_rows, ["id", "gj"])
        return df.select("id", parse_geojson(F.col("gj")).alias("geom"))

    def test_area_preserved_and_parts_cell_local(self, spark):
        from ndjson_spatial_spark.functions.geo import st_area
        from ndjson_spatial_spark.operators.spatial import subdivide_polygons

        # 25x25 square crossing the 10-unit grid -> 3x3 = 9 parts
        g = self._mk(spark, [(1,
            '{"type":"Polygon","coordinates":[[[5,5],[30,5],[30,30],[5,30],[5,5]]]}')])
        parts = subdivide_polygons(g, cell=10.0)
        rows = parts.select("id", "cell_x", "cell_y",
                            st_area("geom").alias("a"),
                            F.array_min(F.col("geom")["x"]).alias("mnx"),
                            F.array_max(F.col("geom")["x"]).alias("mxx")).collect()
        assert len(rows) == 9
        assert sum(r["a"] for r in rows) == 625.0
        for r in rows:
            assert r["mnx"] >= r["cell_x"] * 10.0
            assert r["mxx"] <= (r["cell_x"] + 1) * 10.0

    def test_hole_survives_subdivision(self, spark):
        from ndjson_spatial_spark.functions.geo import st_area
        from ndjson_spatial_spark.operators.spatial import subdivide_polygons

        # annulus: 8x8 square with centered 4x4 hole, grid 20 -> one part
        # (fully inside one cell) keeps its hole; area = 64 - 16
        g = self._mk(spark, [(1,
            '{"type":"Polygon","coordinates":['
            '[[1,1],[9,1],[9,9],[1,9],[1,1]],'
            '[[3,3],[3,7],[7,7],[7,3],[3,3]]]}')])
        rows = subdivide_polygons(g, cell=20.0) \
            .select(st_area("geom").alias("a")).collect()
        assert len(rows) == 1 and rows[0]["a"] == 48.0
        # grid 5 cuts through the hole: area still preserved
        rows = subdivide_polygons(g, cell=5.0) \
            .select(st_area("geom").alias("a")).collect()
        assert sum(r["a"] for r in rows) == 48.0

    def test_null_geom_rows_pass_through(self, spark):
        # round-6 (advisor note): a NULL geometry made is_poly NULL and
        # both branches dropped the row; it must pass through unchanged
        # with null cell coordinates
        from ndjson_spatial_spark.operators.spatial import subdivide_polygons

        g = self._mk(spark, [
            (1, '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
            (2, None),
            (3, '{"type":"Point","coordinates":[7,7]}'),
        ])
        rows = {r["id"]: r for r in subdivide_polygons(g, cell=10.0).collect()}
        assert set(rows) == {1, 2, 3}
        assert rows[2]["geom"] is None or rows[2]["geom"]["geom_type"] is None
        assert rows[2]["cell_x"] is None and rows[2]["cell_y"] is None
        assert rows[3]["cell_x"] == 0 and rows[3]["cell_y"] == 0

    def test_boundary_aligned_polygon_emits_no_empty_parts(self, spark):
        from ndjson_spatial_spark.operators.spatial import subdivide_polygons

        g = self._mk(spark, [(1,
            '{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}')])
        rows = subdivide_polygons(g, cell=10.0).collect()
        # bbox max sits ON the next cell boundary -> grazes are dropped
        assert len(rows) == 1

    def test_non_polygon_passthrough(self, spark):
        from ndjson_spatial_spark.operators.spatial import subdivide_polygons

        g = self._mk(spark, [(1, '{"type":"Point","coordinates":[37,52]}')])
        rows = subdivide_polygons(g, cell=10.0).collect()
        assert len(rows) == 1
        assert (rows[0]["cell_x"], rows[0]["cell_y"]) == (3, 5)
        assert rows[0]["geom"]["geom_type"] == "Point"


class TestTrajectories:
    def test_points_ordered_by_ts_and_metrics_exact(self, spark):
        from ndjson_spatial_spark.operators.spatial import make_trajectories
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0 + dt.timedelta(seconds=2), 3.0, 0.0),
            (1, t0, 0.0, 0.0),
            (1, t0 + dt.timedelta(seconds=1), 0.0, 4.0),
            (2, t0, 7.0, 7.0),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts", "x", "y"])
        out = {r["user_id"]: r
               for r in make_trajectories(df).collect()}
        g = out[1]["geom"]
        assert g["geom_type"] == "LineString"
        assert g["x"] == [0.0, 0.0, 3.0] and g["y"] == [0.0, 4.0, 0.0]
        # d2 = (0,0)->(0,4): 16 ; (0,4)->(3,0): 9+16 = 25 -> 41
        assert out[1]["sum_d2"] == 41.0
        assert out[1]["duration_us"] == 2_000_000
        assert out[1]["n_points"] == 3
        # single-point entity degrades to a Point with zero metrics
        assert out[2]["geom"]["geom_type"] == "Point"
        assert out[2]["sum_d2"] == 0.0 and out[2]["duration_us"] == 0

    def test_trajectory_plan_is_single_shuffle_no_python(self, spark):
        from ndjson_spatial_spark.operators.spatial import make_trajectories
        import datetime as dt

        df = spark.createDataFrame(
            [(i % 5, dt.datetime(2024, 1, 1, 0, 0, i), float(i), 0.0)
             for i in range(50)], ["user_id", "ts", "x", "y"])
        plan = make_trajectories(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert plan.count("Exchange") <= 2  # partial+final agg exchange
