"""Non-broadcast + salted spatial join paths must produce identical results
to the broadcast path (the 100 TB configuration, north rule)."""

import json

import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import parse_geojson
from ndjson_spatial_spark.operators.spatial import spatial_intersection_join
from ndjson_spatial_spark.sources.documents import (
    extract_geometry_spans,
    synth_documents,
)


@pytest.fixture(scope="module")
def geoms(spark):
    docs = synth_documents(spark, n_docs=1500, seed=42, hot_frac=0.6)
    return extract_geometry_spans(docs).cache()


@pytest.fixture(scope="module")
def refs(geoms):
    return geoms.where(
        (F.col("geom.geom_type") == "Polygon")
        & (F.crc32(F.col("doc_id")) % 11 == 0)
    ).select("geom")


def result_set(df):
    return sorted(
        (r.doc_id, r.offset, round(sum(r.geom.x), 6), round(sum(r.geom.y), 6))
        for r in df.collect()
    )


class TestJoinStrategies:
    def test_shuffle_join_matches_broadcast(self, spark, geoms, refs):
        bc = spatial_intersection_join(geoms, refs, res=7, broadcast_ref=True)
        sh = spatial_intersection_join(geoms, refs, res=7, broadcast_ref=False)
        assert result_set(bc) == result_set(sh)

    def test_salted_join_matches_broadcast(self, spark, geoms, refs):
        bc = spatial_intersection_join(geoms, refs, res=7, broadcast_ref=True)
        salted = spatial_intersection_join(
            geoms, refs, res=7, broadcast_ref=False, salt_hot_cells=True,
            hot_threshold=50, target_per_salt=50,
        )
        assert result_set(bc) == result_set(salted)

    def test_sketch_samples_the_stream_and_shuffles_stay_keyed(
            self, spark, geoms, refs):
        """100 TB plan shape: the frequency sketch reads a SAMPLE of the
        stream (never a second full pass over the exploded terms — the
        widest intermediate in the job), and every wide shuffle in the
        salted path is keyed on the cell term (the join's salted key or
        the sketch aggregate) — no stray repartitions."""
        salted = spatial_intersection_join(
            geoms, refs, res=7, broadcast_ref=False, salt_hot_cells=True,
            hot_threshold=50, target_per_salt=50,
        )
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "Sample 0.0, 0.05" in plan
        hash_ex = [ln for ln in plan.splitlines()
                   if "Exchange hashpartitioning" in ln]
        for ln in hash_ex:
            assert "__term" in ln, ln

    def test_salting_actually_triggers(self, spark, geoms):
        """With hot_frac=0.6 clusters and a low threshold, the sketch must
        find hot cells (guards against the salt plan silently being empty)."""
        from ndjson_spatial_spark.functions.cells_fn import make_st_cells
        from ndjson_spatial_spark.plans.salting import (
            key_frequency_sketch,
            salt_plan,
        )
        st_cells = make_st_cells(7, cap=256)
        cells = geoms.withColumn("__cell", F.explode(st_cells(F.col("geom"))))
        plan = salt_plan(
            key_frequency_sketch(cells.select("__cell"), "__cell"),
            "__cell", hot_threshold=50, target_per_salt=50,
        )
        assert plan.count() >= 1


# ---------------------------------------------------------------------------
# one candidate join per call, built with no Spark job


def _l_json(x0, y0, w, h):
    pts = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h / 2),
           (x0 + w / 2, y0 + h / 2), (x0 + w / 2, y0 + h), (x0, y0 + h),
           (x0, y0)]
    return json.dumps({"type": "Polygon",
                       "coordinates": [[[float(a), float(b)] for a, b in pts]]})


def _rect_json(x0, y0, w, h):
    ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
    return json.dumps({"type": "Polygon",
                       "coordinates": [[[float(a), float(b)] for a, b in ring]]})


def _mixed_rows(rng, n_pt, n_rect, n_l, lo, hi):
    rows = []
    for _ in range(n_pt):
        x, y = rng.uniform(0, 400_000, 2)
        rows.append(json.dumps({"type": "Point",
                                "coordinates": [float(x), float(y)]}))
    for make, n in ((_rect_json, n_rect), (_l_json, n_l)):
        for _ in range(n):
            x, y = rng.uniform(0, 400_000, 2)
            rows.append(make(x, y, *rng.uniform(lo, hi, 2)))
    return rows


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """Points, axis rects and concave Ls on both sides, staged to parquet
    (the stream is a plain file scan)."""
    import numpy as np

    rng = np.random.default_rng(8)
    root = tmp_path_factory.mktemp("mixed")
    paths = []
    for name, rows in (("stream", _mixed_rows(rng, 400, 60, 40, 5e3, 60e3)),
                       ("ref", _mixed_rows(rng, 5, 30, 15, 20e3, 120e3))):
        path = str(root / name)
        (spark.createDataFrame(list(enumerate(rows)), ["id", "gj"])
         .select(F.col("id").alias("sid" if name == "stream" else "rid"),
                 parse_geojson("gj").alias("geom"))
         .write.parquet(path))
        paths.append(path)
    return paths


SALTED = dict(broadcast_ref=False, salt_hot_cells=True, hot_threshold=5,
              target_per_salt=5)


def _plan_nodes(df):
    """The operators of df's executed plan (after an action on df itself):
    adaptive stages resolved; reused exchanges, cached relations and
    subqueries are not entered."""
    out = []

    def walk(n):
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(n.executedPlan())
        if name.endswith("QueryStage"):
            return walk(n.plan())
        out.append(n)
        if name not in ("ReusedExchange", "InMemoryTableScan"):
            kids = n.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _pairs(df):
    return sorted((r.sid, r.rid, round(sum(r.geom.x), 4),
                   round(sum(r.geom.y), 4)) for r in df.collect())


class TestOneJoin:
    def _join(self, spark, mixed, **kw):
        stream, ref = (spark.read.parquet(p) for p in mixed)
        return spatial_intersection_join(stream, ref, res=9,
                                         keep_ref_cols=("rid",), **kw)

    def test_building_the_join_runs_no_spark_job(self, spark, mixed):
        sc = spark.sparkContext
        stream, ref = (spark.read.parquet(p) for p in mixed)
        for i, kw in enumerate((dict(broadcast_ref=True),
                                dict(broadcast_ref=False), SALTED)):
            group = f"build-{i}"
            sc.setJobGroup(group, group)
            try:
                spatial_intersection_join(stream, ref, res=9, **kw)
            finally:
                sc.setJobGroup("tests", "tests")
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], kw

    def test_building_contains_and_bbox_joins_runs_no_spark_job(
            self, spark, mixed):
        from ndjson_spatial_spark.operators.bbox_fast import (
            bbox_intersection_join,
            flat_bbox,
        )
        from ndjson_spatial_spark.operators.spatial import join_contains

        sc = spark.sparkContext
        stream, ref = (spark.read.parquet(p) for p in mixed)
        flat = flat_bbox(stream).drop("geom")
        rflat = flat_bbox(ref, prefix="__r").select(
            "__rminx", "__rminy", "__rmaxx", "__rmaxy", "__rpt")
        builds = {
            "contains": lambda: join_contains(ref, stream, "kids", res=9),
            "bbox": lambda: bbox_intersection_join(flat, rflat, res=9),
        }
        for name, build in builds.items():
            group = f"build-{name}"
            sc.setJobGroup(group, group)
            try:
                build()
            finally:
                sc.setJobGroup("tests", "tests")
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], \
                name

    def test_cached_frames_per_call(self, spark, mixed):
        jsc = spark.sparkContext._jsc.sc()
        for kw, most in ((dict(broadcast_ref=True), 0),
                         (dict(broadcast_ref=False), 0), (SALTED, 1)):
            before = jsc.getPersistentRDDs().size()
            self._join(spark, mixed, **kw).count()
            assert jsc.getPersistentRDDs().size() - before <= most, kw

    def test_salted_join_scans_terms_and_scatters_the_stream_once(
            self, spark, mixed):
        salted = self._join(spark, mixed, **SALTED)
        got = _pairs(salted)
        assert got == _pairs(self._join(spark, mixed))
        # both refinement routes ran (general shapes on both sides) ...
        assert len({r[0] for r in got}) > 50
        nodes = _plan_nodes(salted)
        scans = [n for n in nodes if n.nodeName().startswith("Scan")
                 and mixed[0] in n.toString()]
        assert len(scans) == 1
        # ... and every term join reads the one stream exchange: the second
        # route reuses it instead of scanning, terming and scattering again
        joins = [n for n in nodes if n.nodeName() == "SortMergeJoin"
                 and "[__term#" in n.toString()]
        assert len(joins) == 2

        def stream_exchange(n):
            while n.nodeName() not in ("Exchange", "ReusedExchange"):
                n = (n.plan() if n.nodeName().endswith("QueryStage")
                     else n.children().apply(0))
            return n.child() if n.nodeName() == "ReusedExchange" else n

        ex = [stream_exchange(j.children().apply(0)) for j in joins]
        assert ex[0].equals(ex[1])
        assert sum(n.nodeName() == "ReusedExchange" for n in nodes) == 1

    def test_broadcast_join_scans_the_stream_at_most_twice(self, spark, mixed):
        bc = self._join(spark, mixed)
        bc.collect()
        scans = [n for n in _plan_nodes(bc) if n.nodeName().startswith("Scan")
                 and mixed[0] in n.toString()]
        assert 1 <= len(scans) <= 2


class TestStagedNames:
    def test_staged_names_are_rejected(self, spark, geoms, refs):
        s = geoms.select("doc_id", "offset", "geom")
        for name in ("__cov", "__term", "__ref_geom", "__s_meta", "__lv"):
            with pytest.raises(ValueError, match=name):
                spatial_intersection_join(s.withColumn(name, F.lit(1)), refs,
                                          res=7)
        with pytest.raises(ValueError, match="__salt"):
            spatial_intersection_join(s.withColumn("__salt", F.lit(1)), refs,
                                      res=7, **SALTED)
        with pytest.raises(ValueError, match="__ref_cov"):
            spatial_intersection_join(
                s, refs.withColumn("__ref_cov", F.lit(1)), res=7,
                keep_ref_cols=("__ref_cov",))

    def test_other_dunder_and_salt_factor_columns_survive(
            self, spark, geoms, refs):
        # __s_kind used to come back overwritten with the join's kind code,
        # and salt_factor made the salted call ambiguous
        s = geoms.select("doc_id", "offset", "geom").withColumns(
            {"__s_kind": F.lit(7), "salt_factor": F.lit(5)})
        for kw in ({}, SALTED):
            out = spatial_intersection_join(s, refs, res=7, **kw)
            got = out.select("__s_kind", "salt_factor").distinct().collect()
            assert [tuple(r) for r in got] == [(7, 5)], kw
