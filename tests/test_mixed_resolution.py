"""Mixed-resolution cover correctness (round-2 ADVICE items).

A bbox cover larger than `cap` cells is coarsened per row; these tests pin
that coarsened rows still meet fine rows in every spatial operator:

  - spatial_intersection_join / join_contains: covering+ancestor terms
    (stage 1 must stay a SUPERSET even when one side coarsened);
  - assign_tiles: a cover far above any join cap still emits exactly the
    true zoom-level tiles;
  - nearest_distance: an over-cap re-probe disk falls back to brute force
    instead of joining coarse cells that can never match.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.cells_fn import cell_id_expr
from ndjson_spatial_spark.functions.geo import parse_geojson, st_area
from ndjson_spatial_spark.kernels import cells as KC
from ndjson_spatial_spark.operators.knn import nearest_distance
from ndjson_spatial_spark.operators.spatial import (
    _with_terms,
    assign_tiles,
    join_contains,
    spatial_intersection_join,
)


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


def point(x, y):
    return json.dumps({"type": "Point", "coordinates": [x, y]})


M = 100000.0


class TestCoarsenedJoinSuperset:
    """ADVICE high #1: a cap-coarsened cover must still join the other
    side's res-level cells (the round-1 equi-join silently dropped every
    such pair)."""

    def test_giant_stream_polygon_still_matches(self, spark):
        # 150M span at res 7 (~3.13M cells) covers ~48x48 = 2304 > cap 256
        stream = geom_df(spark, [("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M)))])
        ref = geom_df(spark, [("r1", gj("Polygon", rect(10 * M, 10 * M, 11 * M, 11 * M)))])
        out = spatial_intersection_join(stream, ref, res=7).collect()
        assert len(out) == 1
        # intersection is exactly the (contained) ref rect
        area = spatial_intersection_join(stream, ref, res=7).select(
            st_area("geom").alias("a")).collect()[0]["a"]
        assert area == pytest.approx((1 * M) ** 2)

    def test_giant_ref_polygon_still_matches(self, spark):
        stream = geom_df(spark, [("s1", gj("Polygon", rect(10 * M, 10 * M, 11 * M, 11 * M)))])
        ref = geom_df(spark, [("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M)))])
        out = spatial_intersection_join(stream, ref, res=7).collect()
        assert len(out) == 1

    def test_both_sides_coarsened_at_different_levels(self, spark):
        # cap=16: stream (48 cells/axis) coarsens ~4 levels, ref (13/axis)
        # ~2 levels -> different res_used on both sides, still exactly once
        stream = geom_df(spark, [("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M)))])
        ref = geom_df(spark, [("mid", gj("Polygon", rect(5 * M, 5 * M, 45 * M, 45 * M)))])
        out = spatial_intersection_join(stream, ref, res=7, cap=16).collect()
        assert len(out) == 1

    def test_exactly_once_per_pair_with_coarse_rows(self, spark):
        # several fine refs inside one coarse stream: one row each, no dups
        stream = geom_df(spark, [("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M)))])
        refs = geom_df(spark, [
            (f"r{i}", gj("Polygon", rect(i * 12 * M, 3 * M, i * 12 * M + M, 4 * M)))
            for i in range(10)
        ])
        out = spatial_intersection_join(stream, refs, res=7).collect()
        assert len(out) == 10

    def test_disjoint_coarse_pair_still_refined_away(self, spark):
        # coarse stream and a ref sharing a coarse ancestor cell but truly
        # disjoint: candidates may appear, refinement must drop them
        stream = geom_df(spark, [("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M)))])
        ref = geom_df(spark, [("far", gj("Polygon", rect(170 * M, 170 * M, 171 * M, 171 * M)))])
        assert spatial_intersection_join(stream, ref, res=7).count() == 0

    def test_non_broadcast_path_matches(self, spark):
        stream = geom_df(spark, [("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M)))])
        ref = geom_df(spark, [("r1", gj("Polygon", rect(10 * M, 10 * M, 11 * M, 11 * M)))])
        out = spatial_intersection_join(
            stream, ref, res=7, broadcast_ref=False).collect()
        assert len(out) == 1
        out = spatial_intersection_join(
            stream, ref, res=7, broadcast_ref=False, salt_hot_cells=True,
            hot_threshold=1, target_per_salt=1).collect()
        assert len(out) == 1


class TestCoarsenedContains:
    def test_points_in_giant_container_collected(self, spark):
        containers = geom_df(spark, [
            ("giant", gj("Polygon", rect(0, 0, 150 * M, 150 * M))),
            ("small", gj("Polygon", rect(160 * M, 0, 161 * M, M))),
        ])
        pts = geom_df(spark, [
            ("in1", point(75 * M, 75 * M)),
            ("in2", point(10 * M, 140 * M)),
            ("in_small", point(160.5 * M, 0.5 * M)),
            ("out", point(170 * M, 170 * M)),
        ])
        out = {r["id"]: sorted(f["id"] for f in r["members"])
               for r in join_contains(containers, pts, "members", res=7).collect()}
        assert out["giant"] == ["in1", "in2"]
        assert out["small"] == ["in_small"]


class TestCoarsenedTiles:
    """ADVICE high #2: every emitted row must be a true zoom-z tile, however
    large the cover."""

    def test_overcap_polygon_gets_exact_zoom_tiles(self, spark):
        # tile at zoom 6 is ~6.26M; a 50M-span rect covers 8 tiles/axis
        z = 6
        tile = 2.0 * KC.MERC_MAX / (1 << z)
        df = geom_df(spark, [("big", gj("Polygon", rect(0.1 * tile, 0.1 * tile,
                                                        7.9 * tile, 7.9 * tile)))])
        got = assign_tiles(df, [z]).select("zoom", "tile_x", "tile_y", "tile_id")
        rows = got.collect()
        assert all(r["zoom"] == z for r in rows)
        xs = sorted({r["tile_x"] for r in rows})
        ys = sorted({r["tile_y"] for r in rows})
        # the rect spans tiles 32..39 on x (origin tile of mercator 0 is 32)
        assert xs == list(range(32, 40))
        assert ys == list(range(24, 32))
        assert len(rows) == 64
        # tile ids are true level-z Morton ids of (tile_x, tile_y)
        for r in rows:
            assert r["tile_id"] == int(KC.cell_id(
                np.array([r["tile_x"]]), np.array([r["tile_y"]]), z)[0])

    def test_st_cell_of_point_expr_matches_kernel(self, spark):
        # round-6: st_cell_of_point became pure Catalyst; it must stay
        # bit-exact vs kernels.cells.point_cells (the cell_index gate
        # hashes these values)
        rng = np.random.default_rng(7)
        xs = np.concatenate([
            rng.uniform(-KC.MERC_MAX, KC.MERC_MAX, 200),
            np.array([-KC.MERC_MAX, KC.MERC_MAX, 0.0, -0.0, 1e-9,
                      KC.MERC_MAX - 1e-6, -KC.MERC_MAX + 1e-6,
                      2 * KC.MERC_MAX, -2 * KC.MERC_MAX]),
        ])
        ys = np.concatenate([
            rng.uniform(-KC.MERC_MAX, KC.MERC_MAX, 200),
            np.array([KC.MERC_MAX, -KC.MERC_MAX, 0.0, 37.25, -1e-9,
                      -KC.MERC_MAX + 1e-6, KC.MERC_MAX - 1e-6,
                      2 * KC.MERC_MAX, -2 * KC.MERC_MAX]),
        ])
        from ndjson_spatial_spark.functions.cells_fn import st_cell_of_point

        for res in (0, 5, 12, 29):
            df = spark.createDataFrame(
                [(float(a), float(b)) for a, b in zip(xs, ys)], ["x", "y"])
            got = [r["c"] for r in df.select(
                st_cell_of_point(F.col("x"), F.col("y"), res).alias("c")
            ).collect()]
            want = [int(v) for v in KC.point_cells(xs, ys, res)]
            assert got == want, res

    def test_with_terms_matches_kernel(self, spark):
        # the join terms spatial_intersection_join runs (pure Catalyst):
        # cov and res_used must stay bit-exact vs the numpy kernels and anc
        # set-equal (enumeration order is not observed by any consumer)
        rng = np.random.default_rng(11)
        rows = []
        for i in range(60):
            x0 = float(rng.uniform(-KC.MERC_MAX, KC.MERC_MAX * 0.9))
            y0 = float(rng.uniform(-KC.MERC_MAX, KC.MERC_MAX * 0.9))
            w = float(rng.uniform(1.0, KC.MERC_MAX / 2 ** rng.integers(0, 12)))
            rows.append((f"r{i}", gj("Polygon", rect(x0, y0, x0 + w, y0 + w))))
        for i in range(20):
            x = float(rng.uniform(-KC.MERC_MAX, KC.MERC_MAX))
            y = float(rng.uniform(-KC.MERC_MAX, KC.MERC_MAX))
            rows.append((f"p{i}", point(x, y)))
        rows.append(("giant", gj("Polygon", rect(-KC.MERC_MAX, -KC.MERC_MAX,
                                                 KC.MERC_MAX, KC.MERC_MAX))))
        rows.append(("null", None))
        df = geom_df(spark, rows)
        res, cap, min_res = 12, 64, 6
        anc_levels = range(6, 12)
        got = {r["id"]: r for r in _with_terms(
            df, "geom", res, cap, min_res, anc_levels).collect()}
        assert len(got) == len(rows) == 82

        valid = sorted(k for k, r in got.items()
                       if r["geom"] is not None and r["geom"]["x"])
        assert "null" not in valid and len(valid) == 81
        bb = np.array([(min(got[k]["geom"]["x"]), min(got[k]["geom"]["y"]),
                        max(got[k]["geom"]["x"]), max(got[k]["geom"]["y"]))
                       for k in valid])
        covers, res_used = KC.bbox_cells(bb[:, 0], bb[:, 1], bb[:, 2],
                                         bb[:, 3], res, cap=cap,
                                         min_res=min_res)
        ancs = KC.cover_ancestors(covers, res_used, anc_levels)
        for k, cov, ru, anc in zip(valid, covers, res_used, ancs):
            g = got[k]
            assert g["__res_used"] == int(ru), k
            assert g["__cov"] == [int(c) for c in cov], k
            assert sorted(g["__anc"]) == sorted(int(c) for c in anc), k
        # invalid row: null terms at the requested resolution
        assert got["null"]["__cov"] is None
        assert got["null"]["__anc"] is None
        assert got["null"]["__res_used"] == res

    def test_cell_id_expr_matches_kernel(self, spark):
        rng = np.random.default_rng(3)
        tx = rng.integers(0, 1 << 12, 64)
        ty = rng.integers(0, 1 << 12, 64)
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(tx, ty)], ["tx", "ty"])
        got = df.select(cell_id_expr(F.col("tx"), F.col("ty"), F.lit(12)).alias("c"))
        want = KC.cell_id(tx.astype(np.uint64), ty.astype(np.uint64), 12)
        assert [r["c"] for r in got.collect()] == [int(v) for v in want]


class TestCoarseDiskFallback:
    def test_knn_overcap_reprobe_falls_back_to_brute(self, spark):
        # phase A (radius 40 cells) finds only a corner point at ~56.6c;
        # the re-probe disk then covers >4096 cells -> coarse -> brute
        # force must find the true nearest at 41c just outside the A-bbox
        res = 12
        c = 2.0 * KC.MERC_MAX / (1 << res)
        stream = geom_df(spark, [("q", point(0.0, 0.0))])
        ref = geom_df(spark, [
            ("corner", point(40 * c, 40 * c)),
            ("true_nn", point(0.0, 41 * c)),
        ])
        out = nearest_distance(stream, ref, res=res, max_rings=40).collect()
        assert len(out) == 1
        assert out[0]["distance"] == pytest.approx((41 * c) ** 2, rel=1e-12)
