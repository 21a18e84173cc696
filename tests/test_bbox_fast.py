"""Pure-Catalyst bbox fast path: equivalence with the struct operators and
no-Python plan guarantees (the flagship's scaling path)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import parse_geojson
from ndjson_spatial_spark.operators.bbox_fast import (
    assign_tiles_bbox,
    bbox_intersection_join,
    flat_bbox,
    is_bbox_shape,
)
from ndjson_spatial_spark.operators.spatial import (
    assign_tiles,
    spatial_intersection_join,
)
from ndjson_spatial_spark.sources.documents import (
    extract_geometry_spans,
    synth_documents,
)


def _flat(spark, rows):
    """rows: (id, minx, miny, maxx, maxy, is_pt) -> stream-flat frame."""
    return spark.createDataFrame(
        rows, ["id", "__bminx", "__bminy", "__bmaxx", "__bmaxy", "__bpt"]
    )


def _flat_ref(spark, rows):
    return spark.createDataFrame(
        rows, ["__rminx", "__rminy", "__rmaxx", "__rmaxy", "__rpt"]
    )


M = 100000.0


def _gj(minx, miny, maxx, maxy, is_pt):
    if is_pt:
        return json.dumps({"type": "Point", "coordinates": [minx, miny]})
    ring = [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy],
            [minx, miny]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


def _via_bbox(spark, stream_rows, ref_rows, res):
    out = bbox_intersection_join(
        _flat(spark, stream_rows), _flat_ref(spark, ref_rows), res=res)
    return sorted(
        (r["id"], (r["__iminx"], r["__iminy"], r["__imaxx"], r["__imaxy"]),
         r["__ipt"])
        for r in out.collect()
    )


def _via_struct(spark, stream_rows, ref_rows, res):
    s = spark.createDataFrame(
        [(r[0], _gj(*r[1:])) for r in stream_rows], ["id", "gj"]
    ).select("id", parse_geojson("gj").alias("geom"))
    r = spark.createDataFrame(
        [(_gj(*r),) for r in ref_rows], ["gj"]
    ).select(parse_geojson("gj").alias("geom"))
    out = spatial_intersection_join(s, r, res=res)
    return sorted(
        (row["id"], (min(row.geom.x), min(row.geom.y),
                     max(row.geom.x), max(row.geom.y)),
         row.geom.geom_type == "Point")
        for row in out.collect()
    )


def _pair_hit(s, r):
    """The cover-free pair oracle: the intersection bbox of two flat boxes
    (minx, miny, maxx, maxy, is_pt) under the join's boundary rules, or
    None when they do not intersect."""
    sx0, sy0, sx1, sy1, spt = s
    rx0, ry0, rx1, ry1, rpt = r
    if spt and rpt:
        return (sx0, sy0, sx0, sy0) if (sx0, sy0) == (rx0, ry0) else None
    if spt:
        return ((sx0, sy0, sx0, sy0)
                if rx0 <= sx0 <= rx1 and ry0 <= sy0 <= ry1 else None)
    if rpt:
        return ((rx0, ry0, rx0, ry0)
                if sx0 <= rx0 <= sx1 and sy0 <= ry0 <= sy1 else None)
    ix0, iy0 = max(sx0, rx0), max(sy0, ry0)
    ix1, iy1 = min(sx1, rx1), min(sy1, ry1)
    return (ix0, iy0, ix1, iy1) if ix1 > ix0 and iy1 > iy0 else None


def _tile_grid(z):
    """Every tile of zoom z: (tile index, tminx, tminy, tmaxx, tmaxy), the
    grid spec in which neighbours share one edge value."""
    from ndjson_spatial_spark.kernels.cells import MERC_MAX as W

    size = 2.0 * W / (1 << z)
    t = np.arange(1 << z)
    return t, -W + t * size, W - (t + 1) * size, -W + (t + 1) * size, \
        W - t * size


def _bbox_every_tile(box, is_pt, z):
    """The cover-free tile oracle for a flat box: every tile of the zoom-z
    grid tested with assign_tiles_bbox's keep rules (x and y separately,
    as the rules are separable)."""
    x0, y0, x1, y1 = box
    t, tminx, tminy, tmaxx, tmaxy = _tile_grid(z)
    if is_pt:
        xs = (tminx <= x0) & (x0 < tmaxx)
        ys = (tminy < y0) & (y0 <= tmaxy)
    else:
        xs = (x0 < tmaxx) & (x1 > tminx)
        ys = (y0 < tmaxy) & (y1 > tminy)
    return [(int(tx), int(ty)) for tx in t[xs] for ty in t[ys]]


# both joins refine point/rect pairs with one shared helper; each boundary
# test runs through both callers so the shared rules stay pinned for each
JOINS = {"bbox_intersection_join": _via_bbox,
         "spatial_intersection_join": _via_struct}


class TestBboxJoin:
    def test_rect_rect_overlap_and_dedup(self, spark):
        # both spread over many cells at res 8 -> pair meets many times,
        # must emit exactly once with the exact overlap bbox
        for name, run in JOINS.items():
            got = run(spark, [("a", 0.0, 0.0, 30 * M, 30 * M, False)],
                      [(10 * M, 10 * M, 50 * M, 50 * M, False)], 8)
            assert got == [("a", (10 * M, 10 * M, 30 * M, 30 * M), False)], \
                name

    def test_point_semantics_closed_rect(self, spark):
        stream = [
            ("on_edge", 0.0, 0.0, 0.0, 0.0, True),
            ("inside", M, M, M, M, True),
            ("outside", -M, -M, -M, -M, True),
        ]
        for name, run in JOINS.items():
            got = run(spark, stream, [(0.0, 0.0, 2 * M, 2 * M, False)], 8)
            assert got == [("inside", (M, M, M, M), True),
                           ("on_edge", (0.0, 0.0, 0.0, 0.0), True)], name

    def test_touching_rects_excluded(self, spark):
        for name, run in JOINS.items():
            got = run(spark, [("t", 0.0, 0.0, M, M, False)],
                      [(M, 0.0, 2 * M, M, False)], 8)
            assert got == [], name

    def test_dunder_stream_columns_survive_join_and_tiles(self, spark):
        # only the named bbox columns are consumed: a caller's __bucket
        # (prefix __b) and __id (prefix __i) columns ride through both
        s = spark.createDataFrame(
            [(7, 3, 0.0, 0.0, M, M, False)],
            ["__id", "__bucket",
             "__bminx", "__bminy", "__bmaxx", "__bmaxy", "__bpt"])
        r = _flat_ref(spark, [(0.0, 0.0, M, M, False)])
        joined = bbox_intersection_join(s, r, res=8)
        assert joined.columns == [
            "__id", "__bucket",
            "__iminx", "__iminy", "__imaxx", "__imaxy", "__ipt"]
        tiled = assign_tiles_bbox(joined, [6])
        assert tiled.columns == [
            "__id", "__bucket", "zoom", "tile_x", "tile_y", "tile_id"]
        rows = tiled.collect()
        assert rows and {(t["__id"], t["__bucket"]) for t in rows} == {(7, 3)}

    def test_matches_brute_force_oracle(self, spark):
        # cover-free oracle: every (stream, ref) pair through the boundary
        # rules in numpy, no cells involved
        from ndjson_spatial_spark.kernels.cells import MERC_MAX

        res = 8
        cell = 2.0 * MERC_MAX / (1 << res)
        rng = np.random.default_rng(17)

        def box(x, y, w, h):
            return (float(x), float(y), float(x + w), float(y + h), False)

        def pt(x, y):
            return (float(x), float(y), float(x), float(y), True)

        refs = [box(0.0, 0.0, 4 * M, 4 * M), pt(-3 * M, -3 * M)]
        for x, y, w, h in zip(*(rng.uniform(-20 * M, 20 * M, (2, 30))),
                              *(rng.uniform(0.05 * M, 8 * M, (2, 30)))):
            refs.append(box(x, y, w, h))
        refs += [pt(x, y) for x, y in rng.uniform(-20 * M, 20 * M, (8, 2))]
        stream = [
            ("touch_right", box(4 * M, 0.0, 4 * M, 4 * M)),
            ("touch_top", box(M, 4 * M, 2 * M, 2 * M)),
            ("same_box", refs[0]),
            ("pt_on_edge", pt(4 * M, 2 * M)),
            ("pt_on_corner", pt(0.0, 0.0)),
            ("pt_on_ref_pt", refs[1]),
            ("pt_on_ref_corner", pt(*refs[2][2:4])),
            ("rect_on_ref_edge", box(refs[3][2], refs[3][1], M, M)),
            ("world", box(-20 * M, -20 * M, 40 * M, 40 * M)),
        ]
        for i, (x, y) in enumerate(rng.uniform(-22 * M, 22 * M, (120, 2))):
            stream.append((f"pt{i}", pt(x, y)))
        for i, (x, y, w, h) in enumerate(zip(
                *(rng.uniform(-22 * M, 22 * M, (2, 60))),
                *(rng.uniform(0.01 * M, 6 * M, (2, 60))))):
            stream.append((f"rect{i}", box(x, y, w, h)))
        # the world rect spans far more than 256 cells at res
        assert (40 * M / cell) ** 2 > 256

        want = sorted(
            (sid, ib, s[4] or r[4]) for sid, s in stream for r in refs
            if (ib := _pair_hit(s, r)) is not None)
        got = _via_bbox(spark, [(sid, *s) for sid, s in stream], refs, res)
        assert got == want
        ids = {g[0] for g in got}
        assert {"pt_on_edge", "pt_on_corner", "pt_on_ref_pt",
                "pt_on_ref_corner", "same_box", "world"} <= ids
        assert sum(g[0] == "world" for g in got) > 30

    def test_no_python_in_plan(self, spark):
        s = _flat(spark, [("a", 0.0, 0.0, M, M, False)])
        r = _flat_ref(spark, [(0.0, 0.0, M, M, False)])
        joined = bbox_intersection_join(s, r, res=8)
        tiled = assign_tiles_bbox(joined, [6, 9])
        plan = tiled._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, plan
        assert "BroadcastHashJoin" in plan


class TestEquivalenceWithStructOperators:
    @pytest.fixture(scope="class")
    def pipelines(self, spark):
        docs = synth_documents(spark, n_docs=2000, seed=11, partitions=4)
        geoms = extract_geometry_spans(docs).cache()
        geoms.count()
        refs = geoms.where(
            (F.col("geom.geom_type") == "Polygon")
            & (F.crc32(F.col("doc_id")) % 7 == 0)
        ).select("geom")
        return geoms, refs

    def _struct_result(self, geoms, refs):
        joined = spatial_intersection_join(geoms, refs, res=9).select(
            "doc_id", "geom"
        )
        tiled = assign_tiles(joined, [6, 9])
        return sorted(
            (r["doc_id"], r["zoom"], r["tile_x"], r["tile_y"], r["tile_id"])
            for r in tiled.select(
                "doc_id", "zoom", "tile_x", "tile_y", "tile_id").collect()
        )

    def _bbox_result(self, geoms, refs):
        flat = flat_bbox(geoms.select("doc_id", "geom")).drop("geom")
        rflat = flat_bbox(refs, prefix="__r").drop("geom")
        joined = bbox_intersection_join(flat, rflat, res=9)
        tiled = assign_tiles_bbox(joined, [6, 9])
        return sorted(
            (r["doc_id"], r["zoom"], r["tile_x"], r["tile_y"], r["tile_id"])
            for r in tiled.select(
                "doc_id", "zoom", "tile_x", "tile_y", "tile_id").collect()
        )

    def test_all_synth_shapes_are_bbox(self, spark, pipelines):
        geoms, _ = pipelines
        n_all = geoms.count()
        n_fast = geoms.where(is_bbox_shape(F.col("geom"))).count()
        assert n_all == n_fast and n_all > 0

    def test_join_plus_tiles_identical(self, spark, pipelines):
        geoms, refs = pipelines
        want = self._struct_result(geoms, refs)
        got = self._bbox_result(geoms, refs)
        assert len(want) > 100
        assert got == want

    def test_hybrid_pipeline_matches_struct(self, spark, pipelines):
        from ndjson_spatial_spark.flagship import docs_tile_pipeline
        from ndjson_spatial_spark.sources.documents import synth_documents

        docs = synth_documents(spark, n_docs=1000, seed=11, partitions=4)
        got = sorted(map(tuple, docs_tile_pipeline(
            docs, res=9, zooms=(6, 9), ref_mod=7).collect()))
        geoms = extract_geometry_spans(docs)
        refs = geoms.where(
            (F.col("geom.geom_type") == "Polygon")
            & (F.crc32(F.col("doc_id")) % 7 == 0)
        ).select("geom")
        joined = spatial_intersection_join(geoms, refs, res=9).select(
            "doc_id", "geom")
        want = sorted(map(tuple, assign_tiles(joined, [6, 9]).select(
            "doc_id", "zoom", "tile_x", "tile_y", "tile_id").collect()))
        assert got == want and len(got) > 0

    def test_hybrid_routes_general_shapes(self, spark):
        # inject a triangle (non-bbox) geometry span: the hybrid must route
        # it through the struct path and still match the pure struct result
        import json as _json
        from ndjson_spatial_spark.flagship import docs_tile_pipeline
        from ndjson_spatial_spark.sources.documents import (
            DOCS_SCHEMA, synth_documents)

        # world-scale triangle: deterministically intersects many refs and
        # exercises the struct path's cap-coarsening on the way
        tri = _json.dumps({"type": "Polygon", "coordinates": [[
            [-1.2e7, -1.2e7], [1.2e7, -1.2e7], [-1.2e7, 1.2e7],
            [-1.2e7, -1.2e7]]]})
        extra = spark.createDataFrame(
            [("docTRI", [("geometry", tri, None, 1)])], DOCS_SCHEMA)
        docs = synth_documents(spark, n_docs=400, seed=3, partitions=2) \
            .unionByName(extra)
        got = sorted(map(tuple, docs_tile_pipeline(
            docs, res=9, zooms=(6,), ref_mod=5).collect()))
        geoms = extract_geometry_spans(docs)
        refs = geoms.where(
            (F.col("geom.geom_type") == "Polygon")
            & (F.crc32(F.col("doc_id")) % 5 == 0)
        ).select("geom")
        joined = spatial_intersection_join(geoms, refs, res=9).select(
            "doc_id", "geom")
        want = sorted(map(tuple, assign_tiles(joined, [6]).select(
            "doc_id", "zoom", "tile_x", "tile_y", "tile_id").collect()))
        assert any(r[0] == "docTRI" for r in got)
        assert got == want

    def test_flagship_fast_plan_is_python_free(self, spark, tmp_path):
        # the whole fast-path plan (classify + bbox-extract + join + tiles)
        # must contain no Python eval nodes when reading a parquet corpus —
        # the round-2 scaling fix (the Arrow parse stage inverse-scaled)
        from ndjson_spatial_spark.flagship import docs_tile_pipeline
        from ndjson_spatial_spark.sources.documents import synth_documents

        pq = str(tmp_path / "docs.parquet")
        synth_documents(spark, n_docs=300, seed=9, partitions=2) \
            .write.parquet(pq)
        tiles = docs_tile_pipeline(spark.read.parquet(pq), ref_mod=7)
        plan = tiles._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, plan

    def test_shuffle_path_identical(self, spark, pipelines):
        # the broadcast bbox join against the struct join's hash-partitioned
        # and hot-cell-salted plans, which only the struct join offers
        geoms, refs = pipelines
        flat = flat_bbox(geoms.select("doc_id", "geom")).drop("geom")
        rflat = flat_bbox(refs, prefix="__r").drop("geom")
        bcast = sorted(map(tuple, bbox_intersection_join(
            flat, rflat, res=9).select("doc_id", "__iminx", "__ipt").collect()))

        def struct(**kw):
            out = spatial_intersection_join(
                geoms, refs, res=9, broadcast_ref=False, **kw)
            return sorted(map(tuple, out.select(
                "doc_id", F.array_min("geom.x"),
                F.col("geom.geom_type") == "Point").collect()))

        shuf = struct()
        salted = struct(salt_hot_cells=True, hot_threshold=5,
                        target_per_salt=5)
        assert len(bcast) > 100
        assert bcast == shuf == salted


def _tile_cover_case(spark):
    """The tile-cover oracle case: (geoms, zooms, want) where `geoms` holds
    (id, geom) rows of every shape kind on and off the grid edges and
    `want` is every (id, zoom, tile_x, tile_y) the exact geometry-vs-rect
    kernel accepts over the WHOLE tile grid of each zoom (no cover)."""
    from ndjson_spatial_spark.kernels import cells as KC
    from ndjson_spatial_spark.operators.spatial import _geom_intersects_rect

    W = KC.MERC_MAX
    s2 = 2.0 * W / 4      # zoom-2 tile side; its edges are edges at 3, 4
    e = -W + 3 * s2       # a grid edge at x = W / 2
    # a zoom-4 edge where the rounded tile index names the tile west
    # (north) of the one the edges put the point in
    e4 = -W + 2.0 * W / 16
    tiny = 1e-12          # below the rounding of x + W: indexes as 0
    rng = np.random.default_rng(5)
    line = [[-0.7 * W, -0.6 * W], [0.4 * W, 0.8 * W]]
    concave_l = [[[0.1 * s2, 0.1 * s2], [1.9 * s2, 0.1 * s2],
                  [1.9 * s2, 0.8 * s2], [0.8 * s2, 0.8 * s2],
                  [0.8 * s2, 1.9 * s2], [0.1 * s2, 1.9 * s2],
                  [0.1 * s2, 0.1 * s2]]]
    triangle = [[[-0.75 * W, 0.75 * W], [0.75 * W, 0.75 * W],
                 [-0.75 * W, -0.75 * W], [-0.75 * W, 0.75 * W]]]
    rows = [
        ("pt_origin", _gj(0.0, 0.0, 0.0, 0.0, True)),
        ("pt_edge", _gj(e, -e, e, -e, True)),
        ("pt_nw_corner", _gj(-W, W, -W, W, True)),
        ("pt_se_corner", _gj(W, -W, W, -W, True)),
        ("pt_outside", _gj(2 * W, 0.3 * W, 2 * W, 0.3 * W, True)),
        ("pt_index_edge", _gj(e4, -e4, e4, -e4, True)),
        ("pt_near_origin", _gj(-tiny, tiny, -tiny, tiny, True)),
        ("rect_near_origin", _gj(-tiny, -0.3 * W, 0.2 * W, tiny, False)),
        ("rect_on_edges", _gj(-e, 0.0, e, e, False)),
        ("rect_world_edge", _gj(e, -e, W, 0.0, False)),
        ("rect_overhang", _gj(-1.5 * W, -0.2 * W, -0.6 * W, 0.35 * W,
                              False)),
        ("rect_outside", _gj(1.1 * W, 0.0, 1.4 * W, 0.5 * W, False)),
        ("concave_l", json.dumps({"type": "Polygon",
                                  "coordinates": concave_l})),
        ("triangle", json.dumps({"type": "Polygon",
                                 "coordinates": triangle})),
        ("line", json.dumps({"type": "LineString", "coordinates": line})),
        ("null", None),
    ]
    for i in range(6):
        x0, y0 = (float(v) for v in rng.uniform(-W, 0.8 * W, 2))
        w, h = (float(v) for v in rng.uniform(0.01 * W, 0.6 * W, 2))
        rows.append((f"seed_pt{i}", _gj(x0, y0, x0, y0, True)))
        rows.append((f"seed_rect{i}", _gj(x0, y0, x0 + w, y0 + h, False)))
    geoms = spark.createDataFrame(rows, "id string, gj string").select(
        "id", parse_geojson("gj").alias("geom"))

    zooms = [0, 1, 2, 3, 4]
    grid = []
    for z in zooms:
        t, tminx, tminy, tmaxx, tmaxy = _tile_grid(z)
        for tx in t:
            for ty in t:
                grid.append((z, int(tx), int(ty), float(tminx[tx]),
                             float(tminy[ty]), float(tmaxx[tx]),
                             float(tmaxy[ty])))
    tiles = spark.createDataFrame(
        grid, "zoom int, tile_x long, tile_y long, "
              "tminx double, tminy double, tmaxx double, tmaxy double")
    want = sorted(map(tuple, geoms.crossJoin(tiles).where(
        _geom_intersects_rect(F.col("geom"), F.col("tminx"),
                              F.col("tminy"), F.col("tmaxx"),
                              F.col("tmaxy"))
    ).select("id", "zoom", "tile_x", "tile_y").collect()))
    return geoms, zooms, want


class TestTileCover:
    """assign_tiles and assign_tiles_bbox share one tile cover, so comparing
    them only checks the cover against itself; these tests check it against
    a cover-free oracle."""

    def test_assign_tiles_matches_every_tile_oracle(self, spark):
        from ndjson_spatial_spark.kernels import cells as KC

        geoms, zooms, want = _tile_cover_case(spark)
        out = assign_tiles(geoms, zooms)
        assert out.columns == ["id", "geom", "zoom", "tile_x", "tile_y",
                               "tile_id"]
        got = out.select("id", "zoom", "tile_x", "tile_y", "tile_id").collect()
        assert sorted(tuple(r)[:4] for r in got) == want
        for r in got:
            assert r["tile_id"] == int(KC.cell_id(
                np.array([r["tile_x"]]), np.array([r["tile_y"]]),
                r["zoom"])[0])
        ids = {r[0] for r in want}
        assert {"pt_origin", "pt_edge", "pt_nw_corner", "pt_index_edge",
                "pt_near_origin", "rect_near_origin", "rect_on_edges",
                "rect_world_edge", "rect_overhang", "concave_l", "triangle",
                "line"} <= ids
        assert not ids & {"pt_se_corner", "pt_outside", "rect_outside",
                          "null"}
        # the L's notch tile lies inside its bbox but off the shape
        assert ("concave_l", 3, 6, 1) not in want
        # the edges, not the rounded index, decide: NW of the origin
        assert ("pt_near_origin", 1, 0, 0) in want
        assert ("pt_index_edge", 4, 1, 1) in want
        assert ("rect_near_origin", 1, 0, 1) in want

    def test_staged_column_names_are_rejected(self, spark):
        # a caller column named like a staged one used to be silently
        # replaced by tile data
        geoms = spark.createDataFrame(
            [(1, _gj(0.0, 0.0, M, M, False))], "__z int, gj string"
        ).select("__z", parse_geojson("gj").alias("geom"))
        with pytest.raises(ValueError, match="__z"):
            assign_tiles(geoms, [1])
        with pytest.raises(ValueError, match="__bminx"):
            assign_tiles(geoms.withColumnRenamed("__z", "__bminx"), [1])
        flat = _flat(spark, [("a", 0.0, 0.0, M, M, False)])
        with pytest.raises(ValueError, match="__ztx"):
            assign_tiles_bbox(flat.withColumn("__ztx", F.lit(1)), [1],
                              prefix="__b")
        ref = _flat_ref(spark, [(0.0, 0.0, M, M, False)])
        with pytest.raises(ValueError, match="__term"):
            bbox_intersection_join(flat.withColumn("__term", F.lit(1)),
                                   ref, res=8)


class TestFlagshipBuild:
    """The flagship build reuses memoized Column trees, keyed on the
    parameters each tree depends on; builds with other parameters in the
    same session must still match the cover-free oracles above."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        docs = synth_documents(spark, n_docs=300, seed=23, partitions=2)
        docs = docs.cache()
        spans = []
        for r in docs.select("doc_id", F.explode("spans").alias("s")).where(
                F.col("s.kind") == "geometry").select(
                "doc_id", "s.text").collect():
            g = json.loads(r["text"])
            if g["type"] == "Point":
                x, y = g["coordinates"]
                spans.append((r["doc_id"], (x, y, x, y, True)))
            else:
                ring = np.asarray(g["coordinates"][0], float)
                spans.append((r["doc_id"], (
                    ring[:, 0].min(), ring[:, 1].min(),
                    ring[:, 0].max(), ring[:, 1].max(), False)))
        return docs, spans

    @staticmethod
    def _oracle(spans, zooms, is_ref):
        refs = [b for d, b in spans if not b[4] and is_ref(d)]
        return sorted(
            (d, z, tx, ty)
            for d, s in spans for r in refs
            if (ib := _pair_hit(s, r)) is not None
            for z in zooms for tx, ty in _bbox_every_tile(ib, s[4] or r[4], z))

    @staticmethod
    def _tiles(out):
        from ndjson_spatial_spark.kernels import cells as KC

        rows = out.collect()
        for r in rows:
            assert r["tile_id"] == int(KC.cell_id(
                np.array([r["tile_x"]]), np.array([r["tile_y"]]),
                r["zoom"])[0])
        return sorted((r["doc_id"], r["zoom"], r["tile_x"], r["tile_y"])
                      for r in rows)

    def test_builds_with_other_parameters_match_oracle(self, spark, corpus):
        import zlib

        from ndjson_spatial_spark.flagship import docs_tile_pipeline

        docs, spans = corpus

        def crc7(d):
            return zlib.crc32(d.encode()) % 7 == 0

        for res, zooms in ((9, (6, 9)), (8, (5,))):
            got = self._tiles(docs_tile_pipeline(
                docs, res=res, zooms=zooms, ref_mod=7))
            want = self._oracle(spans, zooms, crc7)
            assert len(want) > 10 and got == want, (res, zooms)
        # a caller's ref predicate is never served a memoized sample
        got = self._tiles(docs_tile_pipeline(
            docs, res=9, zooms=(6, 9),
            ref_pred=F.col("doc_id").endswith("3")))
        want = self._oracle(spans, (6, 9), lambda d: d.endswith("3"))
        assert len(want) > 10 and got == want
        assert want != self._oracle(spans, (6, 9), crc7)

    def test_warm_builds_plan_the_same_query(self, spark, corpus):
        from ndjson_spatial_spark.flagship import docs_tile_pipeline

        docs, _ = corpus
        a, b = (docs_tile_pipeline(docs, res=9, zooms=(6, 9), ref_mod=7)
                ._jdf.queryExecution().optimizedPlan() for _ in range(2))
        assert a.sameResult(b)

    def test_assign_tiles_memo_is_keyed_on_geom_col(self, spark):
        # the general rows' refinement reads the geometry column: a second
        # call on another column must not reuse the first one's predicate.
        # Here "geom" holds nulls, so reading it would drop every tile of
        # the general shapes.
        from ndjson_spatial_spark.functions.geo import GEOM_TYPE

        geoms, zooms, want = _tile_cover_case(spark)
        tiles = ["id", "zoom", "tile_x", "tile_y"]
        first = assign_tiles(geoms, zooms).select(*tiles).collect()
        renamed = geoms.select(
            "id", F.col("geom").alias("shape"),
            F.lit(None).cast(GEOM_TYPE).alias("geom"))
        second = assign_tiles(renamed, zooms, geom_col="shape") \
            .select(*tiles).collect()
        assert sorted(map(tuple, first)) == want
        assert sorted(map(tuple, second)) == want
        assert {"concave_l", "triangle", "line"} <= {r[0] for r in want}
        # the flat-box tile oracle the flagship tests use agrees with the
        # exact kernel's on every point/rect row
        flat = geoms.where(is_bbox_shape(F.col("geom"))).select(
            "id", F.array_min("geom.x"), F.array_min("geom.y"),
            F.array_max("geom.x"), F.array_max("geom.y"),
            F.col("geom.geom_type") == "Point").collect()
        ids = {r[0] for r in flat}
        assert len(ids) > 20
        assert sorted((r[0], z, tx, ty) for r in flat for z in zooms
                      for tx, ty in _bbox_every_tile(r[1:5], r[5], z)) \
            == [w for w in want if w[0] in ids]

    def test_with_geojson_bbox_rejects_staged_names(self, spark):
        # a caller column named like a staged one used to be silently
        # overwritten, or dropped with the working columns
        from ndjson_spatial_spark.flagship import with_geojson_bbox

        base = spark.createDataFrame(
            [(_gj(0.0, 0.0, M, M, False), 1)], "__gj string, keep int")
        assert with_geojson_bbox(base).columns == [
            "__gj", "keep", "__gt", "__fast",
            "__bminx", "__bmaxx", "__bminy", "__bmaxy", "__bpt"]
        for name in ("__gt", "__fast", "__bminx", "__bpt", "__ptc", "__pg",
                     "__xs", "__ys", "__minx", "__maxy", "__ispt"):
            with pytest.raises(ValueError, match=name):
                with_geojson_bbox(base.withColumnRenamed("keep", name))

    def test_warm_build_py4j_budget(self, spark, corpus, monkeypatch):
        # every pure Column tree of the build is memoized, so a warm build
        # sends its DataFrame operations and the pre-pass, not one command
        # per expression node (about 4,260 commands before memoization)
        import py4j.clientserver as cs

        from ndjson_spatial_spark.flagship import docs_tile_pipeline

        docs, _ = corpus
        docs_tile_pipeline(docs, res=9, zooms=(6, 9), ref_mod=7)
        sent = []
        send = cs.ClientServerConnection.send_command

        def counting(self, command):
            sent.append(command[:1])
            return send(self, command)

        monkeypatch.setattr(cs.ClientServerConnection, "send_command",
                            counting)
        docs_tile_pipeline(docs, res=9, zooms=(6, 9), ref_mod=7)
        monkeypatch.undo()
        assert 0 < len(sent) < 1000, len(sent)
