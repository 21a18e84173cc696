"""Nearest-distance / kNN tests (FIXTURES.md F6).

Expected distances computed by brute force in numpy; the operators' term
join + brute-force result must match exactly (squared distances,
nearest_distance.rs:64-75).
"""

import json
import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import parse_geojson, st_point
from ndjson_spatial_spark.kernels.cells import MERC_MAX
from ndjson_spatial_spark.operators.knn import (
    _level,
    join_dwithin,
    nearest_distance,
    nearest_k,
    with_distance_property,
)


def pts_df(spark, rows):
    """rows: (id, x, y) -> df(id, geom)."""
    data = [(i, json.dumps({"type": "Point", "coordinates": [x, y]}))
            for i, x, y in rows]
    return (
        spark.createDataFrame(data, ["id", "geojson"])
        .withColumn("geom", parse_geojson("geojson"))
        .drop("geojson")
    )


@pytest.fixture(scope="module")
def grids():
    rng = np.random.default_rng(42)
    # ref: 100 jittered grid points in [0, 100km]^2
    g = np.stack(np.meshgrid(np.linspace(0, 1e5, 10), np.linspace(0, 1e5, 10)), -1)
    ref = g.reshape(-1, 2) + rng.uniform(-2000, 2000, (100, 2))
    # stream: 30 random + coincident + far outlier
    stream = rng.uniform(0, 1e5, (30, 2))
    stream = np.vstack([stream, ref[13], [9.9e5, 9.9e5]])
    return stream, ref


def brute_force(stream, ref):
    d = ((stream[:, None, :] - ref[None, :, :]) ** 2).sum(-1)
    return d.min(axis=1)


class TestNearestDistance:
    def test_matches_brute_force(self, spark, grids):
        stream, ref = grids
        s_df = pts_df(spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(stream)])
        r_df = pts_df(spark, [(1000 + i, float(x), float(y)) for i, (x, y) in enumerate(ref)])
        out = nearest_distance(s_df, r_df, res=9, max_rings=3)
        got = {r.id: r.distance for r in out.collect()}
        expected = brute_force(stream, ref)
        assert len(got) == len(stream)
        for i, e in enumerate(expected):
            assert got[i] == pytest.approx(e, rel=1e-12), f"row {i}"

    def test_coincident_point_zero(self, spark, grids):
        stream, ref = grids
        s_df = pts_df(spark, [(30, float(ref[13][0]), float(ref[13][1]))])
        r_df = pts_df(spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(ref)])
        out = nearest_distance(s_df, r_df, res=9).collect()
        assert out[0].distance == 0.0

    def test_far_outlier_resolved_by_fallback(self, spark, grids):
        _, ref = grids
        s_df = pts_df(spark, [(0, 9.9e5, 9.9e5)])
        r_df = pts_df(spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(ref)])
        out = nearest_distance(s_df, r_df, res=12, max_rings=2).collect()
        expected = brute_force(np.array([[9.9e5, 9.9e5]]), ref)[0]
        assert out[0].distance == pytest.approx(expected, rel=1e-12)

    def test_ring_candidate_not_nearest_safety_pass(self, spark):
        # stream point near its cell's corner: same-cell candidate exists but
        # the true nearest sits in the adjacent cell — the safety pass must
        # catch it. Cell size at res=9 is ~78 km; build the geometry so the
        # in-cell point is farther than the out-of-cell point.
        from ndjson_spatial_spark.kernels.cells import MERC_MAX
        cell = 2 * MERC_MAX / 512  # res 9
        # pick a cell boundary at x=0 (origin is a corner)
        s_df = pts_df(spark, [(0, 1000.0, 1000.0)])  # just NE of origin corner
        r_df = pts_df(spark, [
            (1, cell * 0.9, cell * 0.9),   # same cell, far
            (2, -1000.0, 1000.0),          # adjacent cell, near (d2=4e6)
        ])
        out = nearest_distance(s_df, r_df, res=9, max_rings=3).collect()
        assert out[0].distance == pytest.approx(4e6)

    def test_non_point_stream_rows_skipped(self, spark):
        poly = json.dumps({"type": "Polygon", "coordinates":
                           [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]})
        df = spark.createDataFrame(
            [(0, poly), (1, json.dumps({"type": "Point", "coordinates": [0.0, 0.0]}))],
            ["id", "geojson"],
        ).withColumn("geom", parse_geojson("geojson")).drop("geojson")
        r_df = pts_df(spark, [(9, 3.0, 4.0)])
        out = nearest_distance(df, r_df, res=9).collect()
        assert [r.id for r in out] == [1]
        assert out[0].distance == pytest.approx(25.0)

    def test_nearest_k_matches_bruteforce(self, spark, grids):
        stream, ref = grids
        k = 4
        s_df = pts_df(spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(stream)])
        r_df = pts_df(spark, [(1000 + i, float(x), float(y)) for i, (x, y) in enumerate(ref)])
        out = nearest_k(s_df, r_df, k=k, res=9, max_rings=2)
        got = {}
        for r in out.collect():
            got.setdefault(r.id, []).append((r.rank, r.distance))
        d = ((stream[:, None, :] - ref[None, :, :]) ** 2).sum(-1)
        for i in range(len(stream)):
            expected = sorted(d[i])[:k]
            mine = [dist for _, dist in sorted(got[i])]
            assert len(mine) == k
            for a, b in zip(mine, expected):
                assert a == pytest.approx(b, rel=1e-12), f"row {i}"

    def test_null_properties_quirk(self, spark):
        # nearest_distance.rs:83-85: null properties -> no distance written
        s_df = pts_df(spark, [(0, 0.0, 0.0), (1, 10.0, 10.0)]).withColumn(
            "properties",
            F.when(F.col("id") == 0, F.create_map(F.lit("name"), F.lit("a"))),
        )
        r_df = pts_df(spark, [(9, 3.0, 4.0)])
        out = with_distance_property(nearest_distance(s_df, r_df, res=9))
        rows = {r.id: r.properties for r in out.collect()}
        assert rows[0]["distance"] == "25.0"
        assert rows[1] is None


class TestJoinDwithin:
    def test_pairs_within_radius_exact(self, spark):
        # known layout: ref at origin cluster; stream points at measured
        # distances straddling the radius
        import json

        from pyspark.sql import functions as F

        from ndjson_spatial_spark.functions.geo import parse_geojson
        from ndjson_spatial_spark.operators.knn import join_dwithin

        def pt(pid, x, y):
            return (pid, json.dumps({"type": "Point", "coordinates": [x, y]}))

        stream = spark.createDataFrame(
            [pt("in1", 30.0, 40.0),     # d=50
             pt("in2", 0.0, 99.0),      # d=99
             pt("edge", 100.0, 0.0),    # d=100 == radius (inclusive)
             pt("out", 0.0, 100.5)],    # d=100.5
            ["sid", "gj"]).select(
                "sid", parse_geojson("gj").alias("geom"))
        ref = spark.createDataFrame(
            [pt("r0", 0.0, 0.0), pt("far", 10000.0, 10000.0)],
            ["rid", "gj"]).select("rid", parse_geojson("gj").alias("geom"))
        out = join_dwithin(stream, ref, radius=100.0)
        got = {(r.sid, r.rid): r.distance2 for r in out.collect()}
        assert got == {("in1", "r0"): 2500.0, ("in2", "r0"): 9801.0,
                       ("edge", "r0"): 10000.0}

    def test_matches_brute_force_on_random_points(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from ndjson_spatial_spark.functions.geo import st_point
        from ndjson_spatial_spark.operators.knn import join_dwithin

        rng = np.random.default_rng(5)
        sp = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            rng.integers(0, 5000, (200, 2)))]
        rp = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            rng.integers(0, 5000, (60, 2)))]
        stream = spark.createDataFrame(sp, ["sid", "x", "y"]).select(
            "sid", "x", "y", st_point(F.col("x"), F.col("y")).alias("geom"))
        ref = spark.createDataFrame(rp, ["rid", "rx", "ry"]).select(
            "rid", "rx", "ry",
            st_point(F.col("rx"), F.col("ry")).alias("geom"))
        R = 700.0
        out = join_dwithin(stream.select("sid", "geom"),
                           ref.select("rid", "geom"), radius=R)
        got = {(r.sid, r.rid) for r in out.collect()}
        want = {(s[0], r[0]) for s in sp for r in rp
                if (s[1] - r[1]) ** 2 + (s[2] - r[2]) ** 2 <= R * R}
        assert got == want


# ---- term-join kNN: regression, lifetime, input checks, differential ----

GEOM = ("struct<geom_type:string,x:array<double>,y:array<double>,"
        "ring_offsets:array<int>,part_offsets:array<int>>")


def xy_df(spark, rows, id_col="id"):
    """rows: (id, x, y) with float x/y -> df(id, geom), Catalyst-built, so
    the input plan holds no Python node."""
    return spark.createDataFrame(
        rows, f"{id_col} long, x double, y double").select(
            id_col, st_point(F.col("x"), F.col("y")).alias("geom"))


def mixed_df(spark, points, id_col="id"):
    """points: (id, x, y) rows, plus a square polygon row (id -1) and a
    null-geometry row (id -2), which every knn operator skips."""
    sq = F.struct(
        F.lit("Polygon").alias("geom_type"),
        F.array(*[F.lit(v) for v in (0.0, 10.0, 10.0, 0.0, 0.0)]).alias("x"),
        F.array(*[F.lit(v) for v in (0.0, 0.0, 10.0, 10.0, 0.0)]).alias("y"),
        F.array(F.lit(0), F.lit(5)).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"))
    odd = spark.createDataFrame([(-1,), (-2,)], f"{id_col} long").select(
        id_col, F.when(F.col(id_col) == -1, sq)
        .otherwise(F.lit(None).cast(GEOM)).alias("geom"))
    return xy_df(spark, points, id_col).unionByName(odd)


def sq_dist(s, r):
    """(len(s), len(r)) squared distances, the operators' arithmetic."""
    dx = s[:, None, 0] - r[None, :, 0]
    dy = s[:, None, 1] - r[None, :, 1]
    return dx * dx + dy * dy


class TestJoinDwithinFineRes:
    def test_fine_res_over_wide_radius_matches_brute_force(self, spark):
        # radius 100 km spans ~41 level-14 cells per side, so each row's
        # cover holds ~6.9k cells: the join must stay at level 14, not
        # coarsen the cover away from the ref's cells
        rng = np.random.default_rng(14)
        g = np.linspace(-2e5, 2e5, 10)
        s = np.stack(np.meshgrid(g, g), -1).reshape(-1, 2)
        r = rng.uniform(-2e5, 2e5, (50, 2))
        out = join_dwithin(
            xy_df(spark, [(i, *map(float, p)) for i, p in enumerate(s)]),
            xy_df(spark, [(i, *map(float, p)) for i, p in enumerate(r)],
                  "rid"),
            radius=1e5, res=14)
        got = Counter((row.id, row.rid, row.distance2)
                      for row in out.collect())
        d = sq_dist(s, r)
        want = Counter((int(i), int(j), float(d[i, j]))
                       for i, j in zip(*np.nonzero(d <= 1e10)))
        assert len(want) > 500
        assert got == want


class TestKnnLifetimeAndPlan:
    def test_no_cached_frames_and_no_python_nodes(self, spark):
        # fresh frames per call: an identical plan would hit the
        # CacheManager and hide a persist
        rng = np.random.default_rng(3)
        jsc = spark.sparkContext._jsc
        base = jsc.getPersistentRDDs().size()
        calls = (
            lambda s, r: nearest_distance(s, r, res=12),
            lambda s, r: nearest_k(s, r, k=3, res=12),
            lambda s, r: join_dwithin(s, r, radius=5e3),
        )
        for i, call in enumerate(calls * 2):
            s = xy_df(spark, [(j, *map(float, p)) for j, p in enumerate(
                rng.uniform(0, 5e4, (40, 2)))]).withColumn("run", F.lit(i))
            r = xy_df(spark, [(j, *map(float, p)) for j, p in enumerate(
                rng.uniform(0, 5e4, (20, 2)))], "rid")
            out = call(s, r)
            assert out.collect()
            assert jsc.getPersistentRDDs().size() == base, i
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" not in plan, i
            assert "BatchEvalPython" not in plan, i


class TestKnnInputChecks:
    STREAM_STAGED = ("__sx", "__sy", "__sid", "__row", "__srow", "__term",
                     "__best", "__d2", "__cov", "__qminx", "__bb_minx",
                     "__tx0", "__ru")
    REF_STAGED = ("__rx", "__ry", "__rrow", "__rterm", "__ref_cov",
                  "__rminx", "__ref_res_used")

    def test_staged_names_pass_through(self, spark):
        # caller columns come back unchanged, a -0.0 too (grouping keys
        # would normalize it to 0.0)
        s = xy_df(spark, [(0, 0.0, 0.0), (1, 30.0, 40.0)]).withColumns(
            {n: F.lit(f"s{n}") for n in self.STREAM_STAGED}).withColumn(
                "neg_zero", F.lit(-0.0))
        r = xy_df(spark, [(7, 3.0, 4.0)], "rid").withColumns(
            {n: F.lit(f"r{n}") for n in self.REF_STAGED})
        outs = (nearest_distance(s, r, res=12), nearest_k(s, r, k=1, res=12),
                join_dwithin(s, r, radius=100.0))
        for out in outs:
            rows = out.collect()
            assert sorted(row.id for row in rows) == [0, 1]
            for row in rows:
                assert row.geom.geom_type == "Point"
                for n in self.STREAM_STAGED:
                    assert row[n] == f"s{n}", n
                assert math.copysign(1.0, row.neg_zero) == -1.0
        rows = outs[2].collect()
        assert sorted(row.distance2 for row in rows) == [25.0, 2025.0]
        for row in rows:
            for n in self.REF_STAGED:
                assert row[n] == f"r{n}", n
        assert sorted(row.distance for row in outs[0].collect()) \
            == [25.0, 2025.0]

    def test_k_below_one_raises(self, spark):
        s = xy_df(spark, [(0, 0.0, 0.0)])
        for k in (0, -1):
            with pytest.raises(ValueError, match="k must be"):
                nearest_k(s, s, k=k)

    def test_negative_radius_raises(self, spark):
        s = xy_df(spark, [(0, 0.0, 0.0)])
        with pytest.raises(ValueError, match="radius must be"):
            join_dwithin(s, s, radius=-1.0)


@pytest.fixture(scope="module")
def corpus():
    """A seeded stream/ref pair around the origin, where cell edges of
    the radius-matched level meet: random points, points exactly on cell
    edges (and a radius away from one), an exact duplicate stream row, a
    coincident stream pair, a stream point on a ref point, duplicate ref
    points, and stream rows far beyond r0 from every ref."""
    res, max_rings = 14, 2
    r0 = max_rings * 2.0 * MERC_MAX / (1 << res)
    side = 2.0 * MERC_MAX / (1 << _level(r0))
    rng = np.random.default_rng(2024)
    ref = np.vstack([
        rng.uniform(-3 * side, 3 * side, (30, 2)),
        side * rng.integers(-3, 4, (6, 2)),              # on edges
        np.repeat(rng.uniform(-side, side, (1, 2)), 2, 0),   # duplicates
    ])
    stream = np.vstack([
        rng.uniform(-3 * side, 3 * side, (40, 2)),
        side * rng.integers(-3, 4, (6, 2)),              # on edges
        side * rng.integers(-3, 4, (4, 2)) + [r0, 0.0],  # bbox on an edge
        ref[[3, 31]],                                    # on ref points
        [[40 * side, 40 * side], [-60 * side, 10 * side]],   # far
    ])
    stream = np.vstack([stream, stream[[0, 5]]])         # coincident rows
    ids = list(range(len(stream) - 2)) + [1000, 5]       # 5 is an exact dup
    return dict(res=res, max_rings=max_rings, r0=r0,
                s=stream, ids=ids, r=ref,
                s_rows=[(i, float(x), float(y))
                        for i, (x, y) in zip(ids, stream)],
                r_rows=[(j, float(x), float(y))
                        for j, (x, y) in enumerate(ref)])


class TestKnnDifferential:
    """All three operators against numpy brute force on `corpus`, as
    per-row distance multisets."""

    def _frames(self, spark, c, ref_rows=None):
        ref_rows = c["r_rows"] if ref_rows is None else ref_rows
        return (mixed_df(spark, c["s_rows"]),
                mixed_df(spark, ref_rows, "rid"))

    def test_corpus_takes_both_phases(self, corpus):
        within = (sq_dist(corpus["s"], corpus["r"]) <= corpus["r0"] ** 2) \
            .sum(1)
        assert (within >= 3).any() and (within < 3).any()
        assert (within == 0).any()

    def test_nearest_distance(self, spark, corpus):
        s, r = self._frames(spark, corpus)
        out = nearest_distance(s, r, res=corpus["res"],
                               max_rings=corpus["max_rings"])
        got = Counter((row.id, row.distance) for row in out.collect())
        d = sq_dist(corpus["s"], corpus["r"]).min(1)
        assert got == Counter(zip(corpus["ids"], map(float, d)))

    def test_nearest_k(self, spark, corpus):
        k = 3
        s, r = self._frames(spark, corpus)
        out = nearest_k(s, r, k=k, res=corpus["res"],
                        max_rings=corpus["max_rings"])
        got = Counter((row.id, row.rank, row.distance)
                      for row in out.collect())
        d = np.sort(sq_dist(corpus["s"], corpus["r"]), 1)[:, :k]
        want = Counter((i, rank + 1, float(v)) for i, row in
                       zip(corpus["ids"], d) for rank, v in enumerate(row))
        assert got == want

    def test_join_dwithin_at_r0(self, spark, corpus):
        s, r = self._frames(spark, corpus)
        rad = corpus["r0"]
        out = join_dwithin(s, r, radius=rad)
        got = Counter((row.id, row.rid, row.distance2)
                      for row in out.collect())
        d = sq_dist(corpus["s"], corpus["r"])
        want = Counter((corpus["ids"][i], int(j), float(d[i, j]))
                       for i, j in zip(*np.nonzero(d <= rad * rad)))
        assert got == want

    def test_ref_with_fewer_than_k_points(self, spark, corpus):
        s, r = self._frames(spark, corpus, corpus["r_rows"][:2])
        out = nearest_k(s, r, k=5, res=corpus["res"])
        got = Counter((row.id, row.rank, row.distance)
                      for row in out.collect())
        d = np.sort(sq_dist(corpus["s"], corpus["r"][:2]), 1)
        want = Counter((i, rank + 1, float(v)) for i, row in
                       zip(corpus["ids"], d) for rank, v in enumerate(row))
        assert got == want

    def test_empty_ref(self, spark, corpus):
        s, r = self._frames(spark, corpus, [])
        assert nearest_distance(s, r).count() == 0
        assert nearest_k(s, r, k=2).count() == 0
        assert join_dwithin(s, r, radius=corpus["r0"]).count() == 0
