"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (and the north-rule training-data
additions) is wired here as a (Spark query, DuckDB oracle SQL) pair over the
driver's parquet tables.  Spatial queries derive DETERMINISTIC geometries
from table keys (integer coordinates) so the numpy kernels' outputs are
exactly representable and the DuckDB closed-form oracles match bit-for-bit;
genuinely float-fuzzy values are rounded identically on both sides.

Oracle-less (rows-only) entries are the LSH/streaming-flavored ops whose
semantics aren't reasonably SQL-expressible (noted per query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ndjson_spatial_spark.functions.geo import (
    parse_geojson,
    st_area,
    st_bbox,
    st_centroid,
    st_point,
    st_transform,
)
from ndjson_spatial_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from ndjson_spatial_spark.operators.knn import nearest_distance
from ndjson_spatial_spark.operators.relational import (
    aggregate,
    ndjson_filter,
    ndjson_join,
    pick_field,
    sort_rows,
)
from ndjson_spatial_spark.operators.similarity import cosine_topk
from ndjson_spatial_spark.operators.spatial import (
    assign_tiles,
    join_contains,
    spatial_intersection_join,
)
from ndjson_spatial_spark.operators.text import (
    lang_id,
    quality_score,
    token_count,
)
from ndjson_spatial_spark.sources.documents import (
    extract_geometry_spans,
    synth_documents,
)

MERC_MAX = 20037508.342789244


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- geometry
# derivations shared by Spark + oracle (integer coordinates, exact in f64)

def _supplier_rects(spark, sf_dir):
    """supplier -> rectangle polygons with integer corners (GeoJSON built
    JVM-side, parsed by the engine's vectorized parser)."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 13 % 40000).cast("long")
    y0 = (k * 29 % 40000).cast("long")
    w = (100 + (k % 500)).cast("long")
    h = (100 + (k % 700)).cast("long")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    return s.select("s_suppkey", parse_geojson(gj).alias("geom"))


_SUPPLIER_RECT_SQL = """
    SELECT s_suppkey,
           (s_suppkey * 13 % 40000)::DOUBLE AS x0,
           (s_suppkey * 29 % 40000)::DOUBLE AS y0,
           (100 + (s_suppkey % 500))::DOUBLE AS w,
           (100 + (s_suppkey % 700))::DOUBLE AS h
    FROM supplier
"""


def _part_rects(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    x0 = (k * 37 % 40000).cast("long")
    y0 = (k * 61 % 40000).cast("long")
    w = (2000 + (k % 7) * 333).cast("long")
    h = (2000 + (k % 11) * 211).cast("long")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    return p.select("p_partkey", parse_geojson(gj).alias("geom"))


def _nation_rects(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0 = (k * 1543 % 40000).cast("long")
    y0 = (k * 2719 % 40000).cast("long")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + 6000, F.lit(","), y0, F.lit("],["),
        x0 + 6000, F.lit(","), y0 + 6000, F.lit("],["),
        x0, F.lit(","), y0 + 6000, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    return n.select("n_nationkey", parse_geojson(gj).alias("geom"))


def _nation_ls(spark, sf_dir):
    """CONCAVE (L-shaped) ref polygons from nation keys: the nation-rect
    6000-square minus its top-right 3000x3000 quadrant — one reflex corner
    at the notch.  Integer-exact vertices; the L is the disjoint union of
    two axis rects, so intersection areas have closed-form SQL."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0 = (k * 1543 % 40000).cast("long")
    y0 = (k * 2719 % 40000).cast("long")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + 6000, F.lit(","), y0, F.lit("],["),
        x0 + 6000, F.lit(","), y0 + 3000, F.lit("],["),
        x0 + 3000, F.lit(","), y0 + 3000, F.lit("],["),
        x0 + 3000, F.lit(","), y0 + 6000, F.lit("],["),
        x0, F.lit(","), y0 + 6000, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    return n.select("n_nationkey", parse_geojson(gj).alias("geom"))


def _supplier_lines(spark, sf_dir):
    """Horizontal LineStrings derived from supplier keys (integer-exact
    endpoints; y offset by .5 so lines never lie ON integer rect edges)."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 7919 % 40000).cast("long")
    y = (k * 104729 % 40000).cast("long")
    gj = F.concat(
        F.lit('{"type":"LineString","coordinates":[['),
        x0, F.lit(","), y, F.lit(".5],["),
        x0 + 9000, F.lit(","), y, F.lit(".5]]}"),
    )
    return s.select("s_suppkey", parse_geojson(gj).alias("geom"))


def _supplier_donuts(spark, sf_dir):
    """Polygons WITH HOLES from supplier keys: the round-1 outer rect plus a
    20-unit-inset hole ring (w,h >= 100 so the hole is always proper).  Hole
    ring wound opposite the exterior per the GeoJSON convention; st_area
    must subtract it (area.rs:59-62 GEOS parity)."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 13 % 40000).cast("long")
    y0 = (k * 29 % 40000).cast("long")
    w = (100 + (k % 500)).cast("long")
    h = (100 + (k % 700)).cast("long")
    a0, a1 = x0 + 20, x0 + w - 20
    b0, b1 = y0 + 20, y0 + h - 20
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]],[["),
        a0, F.lit(","), b0, F.lit("],["),
        a0, F.lit(","), b1, F.lit("],["),
        a1, F.lit(","), b1, F.lit("],["),
        a1, F.lit(","), b0, F.lit("],["),
        a0, F.lit(","), b0, F.lit("]]]}"),
    )
    return s.select("s_suppkey", parse_geojson(gj).alias("geom"))


def _customer_points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    x = (k * 7919 % 50000).cast("double") + F.lit(0.5)
    y = (k * 104729 % 50000).cast("double") + F.lit(0.5)
    return c.select("c_custkey", st_point(x, y).alias("geom"))


def _supplier_points(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x = ((k * 7919 + 123) % 50000).cast("double")
    y = ((k * 104729 + 456) % 50000).cast("double")
    return s.select("s_suppkey", st_point(x, y).alias("geom"))


# ----------------------------------------------------------------- queries

def q_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return ndjson_filter(li, "d.l_quantity >= 30.0").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def q_pick_field(spark, sf_dir):
    return pick_field(_t(spark, sf_dir, "orders"), "d.o_custkey")


def q_join(spark, sf_dir):
    out = ndjson_join(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer"),
        ["d.o_custkey"], ["d.c_custkey"],
    )
    return out.select("o_orderkey", "o_custkey", "c_name", "c_acctbal")


def q_agg_sum(spark, sf_dir):
    return aggregate(_t(spark, sf_dir, "lineitem"),
                     ["d.l_returnflag"], "sum", "d.l_quantity")


def q_agg_count(spark, sf_dir):
    return aggregate(_t(spark, sf_dir, "orders"),
                     ["d.o_orderpriority"], "count", "d.o_custkey")


def q_agg_min(spark, sf_dir):
    return aggregate(_t(spark, sf_dir, "part"),
                     ["d.p_brand"], "min", "d.p_retailprice")


def q_agg_max(spark, sf_dir):
    return aggregate(_t(spark, sf_dir, "lineitem"),
                     ["d.l_returnflag", "d.l_linestatus"], "max", "d.l_extendedprice")


def q_sort(spark, sf_dir):
    return sort_rows(_t(spark, sf_dir, "supplier"),
                     ["d.s_nationkey", "d.s_acctbal:desc"])


def q_sort_cross_type(spark, sf_dir):
    """OrderedValue cross-type ordering (round-3 — the last reference
    observable with no engine analogue, ndjson/src/join.rs:108-123): a
    mixed-type raw-JSON column (strings, bools, pos/neg ints, floats,
    nulls, arrays, objects derived from supplier keys) sorted String <
    Bool < PosInt < NegInt < Float < Null < Array < Object via Spark 4
    VariantType (operators/relational.py:variant_sort_key).  The output
    carries the computed (rank, skey, nkey) key columns and the sequence
    is ORDER-verified against them; the oracle re-derives the key
    closed-form from the type classes."""
    from ndjson_spatial_spark.operators.relational import variant_sort_key

    s = _t(spark, sf_dir, "supplier").select("s_suppkey")
    k = F.col("s_suppkey")
    m = k % 8
    i = k % 100
    raw = (
        F.when(m == 0, F.concat(F.lit('"s'), (k % 7).cast("string"), F.lit('"')))
        .when(m == 1, F.when(k % 2 == 0, F.lit("true")).otherwise(F.lit("false")))
        .when(m == 2, i.cast("string"))
        .when(m == 3, F.concat(F.lit("-"), (i + 1).cast("string")))
        .when(m == 4, F.concat((k % 10).cast("string"), F.lit(".5")))
        .when(m == 5, F.lit("null"))
        .when(m == 6, F.concat(F.lit("["), (k % 5).cast("string"), F.lit("]")))
        .otherwise(F.concat(F.lit('{"a":'), (k % 5).cast("string"), F.lit("}")))
    )
    key = variant_sort_key(F.parse_json(raw))
    out = s.withColumn("__k", key).select(
        "s_suppkey",
        F.col("__k.rank").alias("rank"),
        F.col("__k.skey").alias("skey"),
        F.col("__k.nkey").alias("nkey"),
    )
    return out.orderBy(
        F.col("rank").asc(), F.col("skey").asc_nulls_first(),
        F.col("nkey").asc_nulls_first(), F.col("s_suppkey").asc(),
    )


def q_pipeline(spark, sf_dir):
    """Iris-style composed pipeline (F8): filter -> broadcast join -> agg ->
    sort, all reference operators chained."""
    li = ndjson_filter(_t(spark, sf_dir, "lineitem"), "d.l_discount > 0.05")
    joined = ndjson_join(li, _t(spark, sf_dir, "part"),
                         ["d.l_partkey"], ["d.p_partkey"])
    agged = aggregate(joined, ["d.p_brand"], "sum", "d.l_quantity")
    return sort_rows(agged, ["d.p_brand"])


def q_area(spark, sf_dir):
    rects = _supplier_rects(spark, sf_dir)
    return rects.select(
        "s_suppkey", F.round(st_area("geom"), 4).alias("area")
    )


def q_centroid(spark, sf_dir):
    rects = _supplier_rects(spark, sf_dir)
    c = rects.select("s_suppkey", st_centroid("geom").alias("c"))
    return c.select(
        "s_suppkey",
        F.round(F.element_at("c.x", 1), 4).alias("cx"),
        F.round(F.element_at("c.y", 1), 4).alias("cy"),
    )


def q_bbox(spark, sf_dir):
    rects = _supplier_rects(spark, sf_dir)
    b = rects.select("s_suppkey", st_bbox("geom").alias("b"))
    # reference quirk order: [minx, maxx, miny, maxy]
    return b.select(
        "s_suppkey",
        F.element_at("b", 1).alias("minx"), F.element_at("b", 2).alias("maxx"),
        F.element_at("b", 3).alias("miny"), F.element_at("b", 4).alias("maxy"),
    )


def q_transform(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    lon = (F.col("n_nationkey") * 7 - 84).cast("double")
    lat = (F.col("n_nationkey") * 3 - 36).cast("double")
    pt = n.select("n_nationkey", st_point(lon, lat).alias("geom"))
    m = pt.select(
        "n_nationkey", st_transform(F.col("geom"), 4326, 3857).alias("g")
    )
    return m.select(
        "n_nationkey",
        # `+ 0.0` normalizes IEEE signed zero (-0.0 -> 0.0) so the row hash
        # matches the oracle, which applies the same normalization.
        (F.round(F.element_at("g.x", 1), 3) + F.lit(0.0)).alias("mx"),
        (F.round(F.element_at("g.y", 1), 3) + F.lit(0.0)).alias("my"),
    )


def q_area_holes(spark, sf_dir):
    """G2 with interior rings: donut area = outer minus hole
    (GEOS `area()` parity, area.rs:59-62)."""
    donuts = _supplier_donuts(spark, sf_dir)
    return donuts.select(
        "s_suppkey", F.round(st_area("geom"), 4).alias("area")
    )


def q_collection_bbox(spark, sf_dir):
    """G3 over GeometryCollection (first-class in the reference's enum,
    ndjson-spatial/src/common.rs:24-45): bbox = union of member bboxes, in
    the reference's non-point [minx, maxx, miny, maxy] quirk order."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    px = ((k * 7919 + 123) % 50000).cast("long")
    py = ((k * 104729 + 456) % 50000).cast("long")
    x0 = (k * 13 % 40000).cast("long")
    y0 = (k * 29 % 40000).cast("long")
    w = (100 + (k % 500)).cast("long")
    h = (100 + (k % 700)).cast("long")
    gj = F.concat(
        F.lit('{"type":"GeometryCollection","geometries":['
              '{"type":"Point","coordinates":['),
        px, F.lit(","), py,
        F.lit(']},{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}]}"),
    )
    b = s.select(
        "s_suppkey", st_bbox(parse_geojson(gj)).alias("b")
    )
    return b.select(
        "s_suppkey",
        F.element_at("b", 1).alias("minx"), F.element_at("b", 2).alias("maxx"),
        F.element_at("b", 3).alias("miny"), F.element_at("b", 4).alias("maxy"),
    )


def q_transform_utm(spark, sf_dir):
    """G4 beyond web-mercator: EPSG:4326 -> EPSG:32633 (UTM 33N) via the
    engine's Karney transverse-mercator series (kernels/crs.py); the oracle
    evaluates the SAME published series in DuckDB SQL (hyperbolics expanded
    through exp/ln), so agreement at 3 decimals is a real two-implementation
    check of the projection."""
    n = _t(spark, sf_dir, "nation")
    lon = (9 + (F.col("n_nationkey") % 13)).cast("double")
    lat = (F.col("n_nationkey") * 5 - 60).cast("double")
    pt = n.select("n_nationkey", st_point(lon, lat).alias("geom"))
    m = pt.select(
        "n_nationkey", st_transform(F.col("geom"), 4326, 32633).alias("g")
    )
    return m.select(
        "n_nationkey",
        (F.round(F.element_at("g.x", 1), 3) + F.lit(0.0)).alias("easting"),
        (F.round(F.element_at("g.y", 1), 3) + F.lit(0.0)).alias("northing"),
    )


def q_transform_lcc(spark, sf_dir):
    """G4 parameterized-CRS escape hatch (round-3): EPSG:4326 -> a Lambert
    Conformal Conic 2SP given as proj-style params (the EPSG 9802 method
    behind US State Plane / Lambert-93 grids — the reference reaches these
    through GDAL, transform.rs:32-85).  The oracle re-derives the published
    LCC formulas in DuckDB SQL with the projection constants inlined from
    kernels/crs.py, so 3-decimal agreement is a genuine two-implementation
    check."""
    n = _t(spark, sf_dir, "nation")
    lon = ((F.col("n_nationkey") * 7 % 41) - 116).cast("double")
    lat = (22 + (F.col("n_nationkey") * 11 % 31)).cast("double")
    pt = n.select("n_nationkey", st_point(lon, lat).alias("geom"))
    lcc = {"proj": "lcc", "lat_1": 33.0, "lat_2": 45.0,
           "lat_0": 39.0, "lon_0": -96.0}
    m = pt.select(
        "n_nationkey", st_transform(F.col("geom"), 4326, lcc).alias("g")
    )
    return m.select(
        "n_nationkey",
        (F.round(F.element_at("g.x", 1), 3) + F.lit(0.0)).alias("easting"),
        (F.round(F.element_at("g.y", 1), 3) + F.lit(0.0)).alias("northing"),
    )


def q_transform_aea(spark, sf_dir):
    """G4 EPSG-registry path (round-4): EPSG:4326 -> EPSG:5070 (NAD83 /
    Conus Albers, the Albers equal-area conic EPSG method 9822 on GRS80)
    resolved BY CODE through kernels/epsg.py — the reference reaches any
    code through GDAL (transform.rs:32-85).  The oracle re-derives the
    published Albers forward formulas (Snyder PP 1395 eq. 14-3/14-4) in
    DuckDB SQL with the projection constants inlined from
    kernels/crs.py.aea_constants, so 3-decimal agreement is a genuine
    two-implementation check of both the kernel math and the registry
    parameters."""
    n = _t(spark, sf_dir, "nation")
    lon = ((F.col("n_nationkey") * 7 % 41) - 116).cast("double")
    lat = (22 + (F.col("n_nationkey") * 11 % 31)).cast("double")
    pt = n.select("n_nationkey", st_point(lon, lat).alias("geom"))
    m = pt.select(
        "n_nationkey", st_transform(F.col("geom"), 4326, 5070).alias("g")
    )
    return m.select(
        "n_nationkey",
        (F.round(F.element_at("g.x", 1), 3) + F.lit(0.0)).alias("easting"),
        (F.round(F.element_at("g.y", 1), 3) + F.lit(0.0)).alias("northing"),
    )


def q_transform_ps(spark, sf_dir):
    """G4 polar stereographic under the gate (round-4): EPSG:4326 ->
    EPSG:3031 (WGS 84 / Antarctic Polar Stereographic, EPSG method 9829
    variant B, lat_ts=-71, south aspect) resolved BY CODE through the
    registry.  The oracle re-derives the published EPSG GN 7-2 forward
    formulas in DuckDB SQL with the derived scale constant inlined from
    kernels/crs.py."""
    n = _t(spark, sf_dir, "nation")
    lon = ((F.col("n_nationkey") * 7 % 360) - 180).cast("double")
    lat = (-(60 + (F.col("n_nationkey") * 11 % 26))).cast("double")
    pt = n.select("n_nationkey", st_point(lon, lat).alias("geom"))
    m = pt.select(
        "n_nationkey", st_transform(F.col("geom"), 4326, 3031).alias("g")
    )
    return m.select(
        "n_nationkey",
        (F.round(F.element_at("g.x", 1), 3) + F.lit(0.0)).alias("easting"),
        (F.round(F.element_at("g.y", 1), 3) + F.lit(0.0)).alias("northing"),
    )


def q_transform_datum(spark, sf_dir):
    """G4 datum shift under the gate (round-5, VERDICT r4 item 4): EPSG
    4277 (OSGB 1936 geographic, Airy 1830) -> EPSG 4326 via the published
    position-vector Helmert (EPSG tfm 1314) — the reference applies datum
    transformations implicitly through GDAL CoordTransform
    (transform.rs:55-65); the engine now runs geodetic->geocentric ->
    7-param Helmert -> Bowring closed-form inverse (kernels/crs.py
    datum_to_wgs84).  The oracle re-derives the ENTIRE chain in DuckDB
    SQL with every derived constant repr()-inlined from the kernel, so
    9-decimal-degree agreement (~0.1 mm) is a genuine
    two-implementation check of the Helmert arithmetic."""
    n = _t(spark, sf_dir, "nation")
    lon = ((F.col("n_nationkey") * 7 % 8) - 6).cast("double")
    lat = (50 + (F.col("n_nationkey") * 3 % 9)).cast("double")
    pt = n.select("n_nationkey", st_point(lon, lat).alias("geom"))
    m = pt.select(
        "n_nationkey", st_transform(F.col("geom"), 4277, 4326).alias("g")
    )
    return m.select(
        "n_nationkey",
        (F.round(F.element_at("g.x", 1), 9) + F.lit(0.0)).alias("lon_wgs"),
        (F.round(F.element_at("g.y", 1), 9) + F.lit(0.0)).alias("lat_wgs"),
    )


def q_cc_dedup(spark, sf_dir):
    """Connected-components labels over a deterministic chain graph
    (edges k->k+1 within 5-key blocks, so every chain has diameter 4 and
    label propagation must run multiple rounds to converge).  comp(v) has
    the closed form v - v%5, which the oracle states directly — any
    propagation bug (the round-1 min-neighbor star rule kept chain middles)
    breaks the match."""
    from ndjson_spatial_spark.operators.dedup import connected_components

    s = _t(spark, sf_dir, "supplier").select("s_suppkey")
    a, b = s.alias("a"), s.alias("b")
    edges = (
        a.join(b, F.col("b.s_suppkey") == F.col("a.s_suppkey") + 1)
        .where(F.col("a.s_suppkey") % 5 != 4)
        .select(F.col("a.s_suppkey").alias("id_a"),
                F.col("b.s_suppkey").alias("id_b"))
    )
    return connected_components(edges).orderBy("v")


def q_ivf_topk(spark, sf_dir):
    """IVF ANN run in its exact configuration (nprobe == nlist probes every
    inverted list), so the brute-force SQL oracle must match bit-for-bit —
    gating the train/assign/probe/rerank plumbing, not the recall trade."""
    from ndjson_spatial_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    out = ivf_topk(e, qs, k=10, dim=64, nlist=8, nprobe=8)
    return out.select("query_id", "vec_id", "rank")


def q_ivfpq(spark, sf_dir):
    """IVF-PQ ANN in its EXACT regime (round-4): planted base-8
    prototype vectors (each subspace takes exactly 8 distinct values, so
    the distinct-first PQ codebooks converge to them and ADC table
    lookups reproduce true squared distances), nprobe == nlist.  The
    oracle is brute-force L2 in SQL over the same key-derived integer
    vectors — gating train/encode/ADC/rank end-to-end bit-exactly
    (operators/similarity.ivfpq_topk)."""
    from ndjson_spatial_spark.operators.similarity import ivfpq_topk

    sup = _t(spark, sf_dir, "supplier")
    i = F.col("s_suppkey")
    vals = []
    for t in range(16):
        j, tt = t // 4, t % 4
        p = F.shiftright(i, 3 * j).bitwiseAND(F.lit(7))
        vals.append(((p * 7 + tt * 3) % 11).cast("double"))
    vecs = sup.select(i.alias("vec_id"), F.array(*vals).alias("embedding"))
    qs = vecs.where(F.col("vec_id") <= 3)
    out = ivfpq_topk(vecs, qs, k=8, dim=16, nlist=4, nprobe=4,
                     m=4, nbits=3)
    return out.select("query_id", "vec_id", "approx_dist", "rank")


def q_nearest_distance(spark, sf_dir):
    out = nearest_distance(
        _customer_points(spark, sf_dir), _supplier_points(spark, sf_dir),
        res=12, max_rings=3,
    )
    return out.select("c_custkey", "distance")


def q_knn_topk(spark, sf_dir):
    """kNN k>1 extension (J6 generalized, SURVEY §2.5 O2): 3 nearest
    supplier points per customer point, squared distances.  Output rows
    carry (key, rank, distance) only, so equidistant-neighbor rank
    assignment cannot perturb the multiset — exactly oracle-able."""
    from ndjson_spatial_spark.operators.knn import nearest_k

    out = nearest_k(
        _customer_points(spark, sf_dir), _supplier_points(spark, sf_dir),
        k=3, res=12, max_rings=3,
    )
    return out.select("c_custkey", "rank", "distance")


def q_intersection_join(spark, sf_dir):
    out = spatial_intersection_join(
        _part_rects(spark, sf_dir), _nation_rects(spark, sf_dir), res=None,
    )
    return out.select(
        "p_partkey", F.round(st_area("geom"), 4).alias("iarea")
    )


def q_line_clip(spark, sf_dir):
    """Line x polygon overlay: supplier lines clipped by nation rects —
    the GEOS-all-pairs parity case (intersection.rs:133) for LineStrings,
    with a closed-form DuckDB oracle (horizontal-segment/rect overlap)."""
    out = spatial_intersection_join(
        _supplier_lines(spark, sf_dir), _nation_rects(spark, sf_dir), res=None,
    )
    return out.select(
        "s_suppkey",
        (F.round(F.array_max("geom.x") - F.array_min("geom.x"), 3)
         + F.lit(0.0)).alias("clen"),
        F.round(F.element_at("geom.y", 1), 1).alias("cy"),
    )


def q_concave_clip(spark, sf_dir):
    """Concave-REF polygon overlay (round-3: drops the round-2
    convex-or-rect REF restriction): part rects clipped by L-shaped nation
    polygons through the ear-clipping convex-decomposition path
    (operators/spatial.py:_clip_ring_by_ring) — GEOS intersection() parity
    for concave refs (ndjson-spatial/src/intersection.rs:133).  The L is
    the disjoint union of two axis rects, so the exact intersection area
    is closed-form rect algebra in the oracle."""
    out = spatial_intersection_join(
        _part_rects(spark, sf_dir), _nation_ls(spark, sf_dir), res=None,
    )
    return out.select(
        "p_partkey", F.round(st_area("geom"), 3).alias("iarea")
    )


def q_length(spark, sf_dir):
    """st_length under the gate (round-4 extension — the companion scalar
    to st_area): two-segment supplier polylines with integer legs; the
    oracle re-states the identical sqrt/sum arithmetic in DuckDB."""
    from ndjson_spatial_spark.functions.geo import st_length

    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    lx = (k * 91 % 36000).cast("long")
    ly = (k * 17 % 40000).cast("long")
    a = (k % 89 + 1).cast("long")
    b = (k % 97 + 1).cast("long")
    gj = F.concat(
        F.lit('{"type":"LineString","coordinates":[['),
        lx, F.lit(","), ly, F.lit("],["),
        lx + a, F.lit(","), ly + b, F.lit("],["),
        lx + a + b, F.lit(","), ly, F.lit("]]}"),
    )
    g = s.select("s_suppkey", parse_geojson(gj).alias("geom"))
    return g.select(
        "s_suppkey",
        (F.round(st_length(F.col("geom")), 6) + F.lit(0.0)).alias("length"),
    )


def q_dwithin(spark, sf_dir):
    """Distance-range join under the gate (round-4 extension): all
    (customer, supplier) point pairs within radius 1500 through the
    radius-bbox term join with its exact refine (operators/knn.join_dwithin)
    — integer-lattice coordinates make the squared distances exact, so
    the oracle is the brute-force closed form."""
    from ndjson_spatial_spark.operators.knn import join_dwithin

    out = join_dwithin(
        _customer_points(spark, sf_dir), _supplier_points(spark, sf_dir),
        radius=1500.0,
    )
    return out.select(
        "c_custkey", "s_suppkey",
        (F.round(F.col("distance2"), 3) + F.lit(0.0)).alias("d2"),
    )


def q_gc_clip(spark, sf_dir):
    """GeometryCollection inputs to the intersection overlay (round-4):
    supplier GCs of {Point, LineString, Polygon} members auto-explode
    inside spatial_intersection_join (always, pure-Catalyst
    gc_members_expr) and each member clips against the nation rects — the
    reference enumerates GC as a first-class type and GEOS intersection()
    accepts it (ndjson-spatial/src/common.rs:24-45, intersection.rs:133).
    All stream coords sit on the half-integer lattice (never on a ref
    edge), so the oracle is closed-form point/interval/rect algebra over
    the EXPLODED equivalent."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")

    def half(expr):
        return expr.cast("long").cast("double") + F.lit(0.5)

    px, py = half(k * 37 % 40000), half(k * 53 % 40000)
    lx, ly = half(k * 91 % 36000), half(k * 17 % 40000)
    qx, qy = half(k * 61 % 37000), half(k * 23 % 38000)
    gj = F.concat(
        F.lit('{"type":"GeometryCollection","geometries":['),
        F.lit('{"type":"Point","coordinates":['),
        px, F.lit(","), py, F.lit("]},"),
        F.lit('{"type":"LineString","coordinates":[['),
        lx, F.lit(","), ly, F.lit("],["),
        lx + 4000, F.lit(","), ly, F.lit("]]},"),
        F.lit('{"type":"Polygon","coordinates":[[['),
        qx, F.lit(","), qy, F.lit("],["),
        qx + 3000, F.lit(","), qy, F.lit("],["),
        qx + 3000, F.lit(","), qy + 2000, F.lit("],["),
        qx, F.lit(","), qy + 2000, F.lit("],["),
        qx, F.lit(","), qy, F.lit("]]]}"),
        F.lit("]}"),
    )
    stream = s.select("s_suppkey", parse_geojson(gj).alias("geom"))
    out = spatial_intersection_join(
        stream, _nation_rects(spark, sf_dir), res=None,
    )
    mtype = F.col("geom.geom_type")
    metric = (
        F.when(mtype.contains("Polygon"), F.round(st_area(F.col("geom")), 3))
        .when(mtype.contains("LineString"),
              F.round(F.array_max("geom.x") - F.array_min("geom.x"), 3))
        .otherwise(F.round(F.element_at("geom.x", 1), 3))
        + F.lit(0.0)
    )
    return out.select(
        "s_suppkey", mtype.alias("mtype"), metric.alias("metric")
    )


def q_join_contains(spark, sf_dir):
    out = join_contains(
        _nation_rects(spark, sf_dir), _customer_points(spark, sf_dir),
        "contained", res=None,
    )
    return out.select(
        "n_nationkey", F.size("contained").alias("n_contained")
    )


def q_join_contains_rects(spark, sf_dir):
    """J5 general-geometry containment: supplier rects (offset by .5 so no
    edge ever coincides with a nation-rect edge) collected per containing
    nation rect; closed-form rect-in-rect oracle."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 13 % 40000).cast("double") + F.lit(0.5)
    y0 = (k * 29 % 40000).cast("double") + F.lit(0.5)
    w = (100 + (k % 500)).cast("double")
    h = (100 + (k % 700)).cast("double")
    gjr = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0, F.lit("],["),
        x0 + w, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0 + h, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    rects = s.select("s_suppkey", parse_geojson(gjr).alias("geom"))
    out = join_contains(
        _nation_rects(spark, sf_dir), rects, "contained", res=None,
    )
    return out.select(
        "n_nationkey", F.size("contained").alias("n_contained")
    )


def q_geohash(spark, sf_dir):
    """Standard geohash strings (round-4, §2.7 extension): the closed-form
    pure-Catalyst `st_geohash` (floor-index + 5-step bit-spread + base32)
    over customer-derived lon/lat at precision 9 (odd — exercises the
    extra-longitude-bit branch).  The oracle re-derives the identical
    arithmetic in DuckDB (same double op order, same spread CTE chain as
    the cell_index oracle, base32 via substr)."""
    from ndjson_spatial_spark.functions.cells_fn import st_geohash

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (k * 7 % 3600).cast("double") / 10.0 - 180.0
    lat = (k * 11 % 1700).cast("double") / 10.0 - 85.0
    return c.select(
        "c_custkey",
        st_geohash(lon, lat, 9).alias("gh"),
    )


def q_geohash_decode(spark, sf_dir):
    """Geohash DECODE (round-4, the inverse of q_geohash): encode
    customer points at precision 9, decode the strings back through the
    staged pure-Catalyst un-interleave (cells_fn.decode_geohash, plan
    stays in whole-stage codegen), emit the cell bbox.  The oracle
    derives the same bbox NUMERICALLY from the floor indices — no
    strings — so the two paths are independent."""
    from ndjson_spatial_spark.functions.cells_fn import (decode_geohash,
                                                         st_geohash)

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (k * 7 % 3600).cast("double") / 10.0 - 180.0
    lat = (k * 11 % 1700).cast("double") / 10.0 - 85.0
    enc = c.select("c_custkey", st_geohash(lon, lat, 9).alias("gh"))
    return decode_geohash(enc, "gh", 9).select(
        "c_custkey", "lon_min", "lat_min", "lon_max", "lat_max")


def q_haversine(spark, sf_dir):
    """Geodesic haversine distance (round-4, pure Catalyst): customer
    point to the NEXT customer's point (key-derived lon/lat), mm-rounded.
    The oracle replays the identical formula and operation order in
    DuckDB (radians/sin/cos/asin/sqrt; 3dp absorbs JVM-vs-libm trig
    ulps)."""
    from ndjson_spatial_spark.functions.geo import st_haversine

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon1 = (k * 7 % 3600).cast("double") / 10.0 - 180.0
    lat1 = (k * 11 % 1700).cast("double") / 10.0 - 85.0
    lon2 = ((k + 1) * 7 % 3600).cast("double") / 10.0 - 180.0
    lat2 = ((k + 1) * 11 % 1700).cast("double") / 10.0 - 85.0
    return c.select(
        "c_custkey",
        (F.round(st_haversine(lon1, lat1, lon2, lat2), 3)
         + F.lit(0.0)).alias("dist_m"),
    )


def q_line_interpolate(spark, sf_dir):
    """ST_LineInterpolatePoint (round-4): elbow lines (horizontal run a,
    vertical rise b, both key-derived integers) interpolated at f=0.5 —
    rows split between the two segments depending on sign(b-a), so both
    walk branches execute.  The oracle is the closed form: target <= a
    -> (x0+target, y0), else (x0+a, y0+target-a), 6dp."""
    from ndjson_spatial_spark.functions.geo import (
        parse_geojson,
        st_line_interpolate_point,
    )

    sup = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 31 % 1000).cast("int")
    y0 = (k * 17 % 1000).cast("int")
    a = (k % 9 + 1).cast("int")
    b = (k * 3 % 11 + 1).cast("int")
    gj = F.concat(
        F.lit('{"type":"LineString","coordinates":[['),
        x0.cast("string"), F.lit(","), y0.cast("string"),
        F.lit("],["), (x0 + a).cast("string"), F.lit(","),
        y0.cast("string"), F.lit("],["), (x0 + a).cast("string"),
        F.lit(","), (y0 + b).cast("string"), F.lit("]]}"))
    p = sup.select(
        "s_suppkey",
        st_line_interpolate_point(parse_geojson(gj), 0.5).alias("p"))
    return p.select(
        "s_suppkey",
        (F.round(F.element_at("p.x", 1), 6) + F.lit(0.0)).alias("px"),
        (F.round(F.element_at("p.y", 1), 6) + F.lit(0.0)).alias("py"),
    )


def q_extent(spark, sf_dir):
    """ST_Extent aggregate (round-4): per-nation bbox union of supplier
    rects (key-derived integer corners) — four pure-Catalyst array
    min/max projections into ONE partial-combined hash aggregate
    (functions/geo.st_extent_agg).  The oracle is the closed-form
    min/max algebra per group."""
    from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                    st_extent_agg)

    sup = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 31 % 1000).cast("int")
    y0 = (k * 17 % 1000).cast("int")
    w = (k % 5 + 1).cast("int")
    h = (k * 3 % 7 + 1).cast("int")
    pt = lambda x, y: F.concat(  # noqa: E731
        F.lit("["), x.cast("string"), F.lit(","), y.cast("string"),
        F.lit("]"))
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[['),
        pt(x0, y0), F.lit(","), pt(x0 + w, y0), F.lit(","),
        pt(x0 + w, y0 + h), F.lit(","), pt(x0, y0 + h), F.lit(","),
        pt(x0, y0), F.lit("]]}"))
    df = sup.select("s_nationkey", parse_geojson(gj).alias("geom"))
    return st_extent_agg(df, "s_nationkey")


def q_cell_index(spark, sf_dir):
    """The engine's TRUST ROOT under the gate: Morton quadkey cell ids of
    world-spread points at res 12, recomputed in DuckDB as the same
    mercator->unit->floor arithmetic plus the 5-step bit-spread — a
    bit-exact cross-check of the cell index every spatial operator keys
    on."""
    from ndjson_spatial_spark.functions.cells_fn import st_cell_of_point

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    x = ((k * 7919 % 40000) - 20000).cast("double") * 800.0
    y = ((k * 104729 % 40000) - 20000).cast("double") * 800.0
    return c.select(
        "c_custkey", st_cell_of_point(x, y, 12).alias("cell")
    )


def q_cell_cover(spark, sf_dir):
    """The bbox cover generator under the gate: supplier rects exploded to
    their res-12 covering cells, vs the SQL cross-range of floor-divided
    corners Morton-encoded — bit-exact including the x-fastest ordering
    contract (verified as a multiset plus per-row membership)."""
    from ndjson_spatial_spark.functions.cells_fn import make_st_cells

    rects = _supplier_rects(spark, sf_dir)
    st_cells = make_st_cells(12, cap=256)
    return rects.select(
        "s_suppkey", F.explode(st_cells(F.col("geom"))).alias("cell")
    )


def q_tiles(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    x = ((k * 7919 % 40000) - 20000).cast("double") * 800.0
    y = ((k * 104729 % 40000) - 20000).cast("double") * 800.0
    pts = c.select("c_custkey", st_point(x, y).alias("geom"))
    out = assign_tiles(pts, [6])
    return out.select("c_custkey", "zoom", "tile_x", "tile_y")


def q_rasterize(spark, sf_dir):
    """Raster<->vector payload (round-3): supplier rects rasterized onto
    zoom-6 tiles as 16x16 pixel-coverage masks
    (operators/raster.py:rasterize_tiles); the gate checks the per-tile
    SET-PIXEL COUNT, which for axis rects has the closed form
    (#x pixel centers in [x0,x1]) x (#y centers) — integer ceil/floor
    arithmetic the oracle states directly, so every pixel the PIP kernel
    sets is accounted for."""
    from ndjson_spatial_spark.operators.raster import rasterize_tiles

    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (((k * 13 % 40000) - 20000) * 800).cast("double")
    y0 = (((k * 29 % 40000) - 20000) * 800).cast("double")
    x1 = x0 + ((2000 + (k % 7) * 333) * 800).cast("double")
    y1 = y0 + ((2000 + (k % 11) * 211) * 800).cast("double")
    geom = F.struct(
        F.lit("Polygon").alias("geom_type"),
        F.array(x0, x1, x1, x0, x0).alias("x"),
        F.array(y0, y0, y1, y1, y0).alias("y"),
        F.array(F.lit(0), F.lit(5)).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
    )
    rects = s.select("s_suppkey", geom.alias("geom"))
    out = rasterize_tiles(rects, zoom=6, tile_px=16)
    return out.select("s_suppkey", "tile_x", "tile_y", "n_pixels")


def q_agg_conditional(spark, sf_dir):
    """A6 select-count / select-avg — proposed-only in the reference
    (README.md:82-91, no code); implemented as conditional aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    cond = F.col("l_discount") > 0.05
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(cond, 1)).alias("n_discounted"),
            F.round(F.avg(F.when(cond, F.col("l_quantity"))), 6).alias("avg_qty_discounted"),
        )
        .orderBy("l_returnflag")
    )


def q_from_csv(spark, sf_dir):
    """S4 from-csv: round-trip the customer table through CSV with the
    reference's per-cell inference cascade; oracle reads the parquet
    directly, so the match proves inference recovered the exact types."""
    import tempfile

    from ndjson_spatial_spark.sources.ndjson import from_csv

    c = _t(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="fromcsv_")
    c.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    out = from_csv(spark, tmp)
    return out.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")


def q_from_json(spark, sf_dir):
    """S1 from-json split under the gate: nation rows serialized into ONE
    nested JSON document, split back to rows via the selector grammar
    (`data.nations`), compared against the source table."""
    import json as _json
    import tempfile

    from ndjson_spatial_spark.sources.ndjson import from_json_split

    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = [r.asDict() for r in n.orderBy("n_nationkey").collect()]
    fd, tmp = tempfile.mkstemp(suffix=".json")
    import os
    with os.fdopen(fd, "w") as f:
        f.write(_json.dumps({"data": {"nations": rows}}))
    out = from_json_split(spark, tmp, "data.nations")
    return out.select("n_nationkey", "n_name", "n_regionkey")


def q_from_wkt(spark, sf_dir):
    """WKT ingestion under the gate (round-4 extension — the interchange
    text format the reference lacks): supplier-keyed POLYGON/POINT WKT
    strings built in Catalyst, parsed by `parse_wkt` into the canonical
    struct, observables (area, bbox corner, type) emitted; the oracle is
    closed-form rect/point algebra over the same key derivations."""
    from ndjson_spatial_spark.functions.wkt import parse_wkt

    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = (k * 13 % 40000).cast("long")
    y0 = (k * 29 % 40000).cast("long")
    w = (100 + (k % 500)).cast("long")
    h = (100 + (k % 700)).cast("long")
    wkt = F.when(
        k % 3 == 0,
        F.concat(F.lit("POINT ("), x0, F.lit(" "), y0, F.lit(")")),
    ).otherwise(
        F.concat(
            F.lit("POLYGON (("),
            x0, F.lit(" "), y0, F.lit(", "),
            x0 + w, F.lit(" "), y0, F.lit(", "),
            x0 + w, F.lit(" "), y0 + h, F.lit(", "),
            x0, F.lit(" "), y0 + h, F.lit(", "),
            x0, F.lit(" "), y0, F.lit("))"),
        )
    )
    g = s.select("s_suppkey", parse_wkt(wkt).alias("geom"))
    return g.select(
        "s_suppkey",
        F.col("geom.geom_type").alias("gtype"),
        (F.coalesce(F.round(st_area(F.col("geom")), 3), F.lit(0.0))
         + F.lit(0.0)).alias("area"),
        F.array_max("geom.x").alias("maxx"),
        F.array_max("geom.y").alias("maxy"),
    )


def q_topk_window(spark, sf_dir):
    """Window top-k extension (SURVEY §2.5 O2): top-3 parts by retail price
    per brand, deterministic tie-break on key."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rank")
    )


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q_quality_signals(spark, sf_dir):
    """Gopher-style repetition/shape signals (round-3): duplicate-line
    fraction, mean word length, symbol-per-token ratio — pure Catalyst
    (operators/text.py:repetition_signals), re-derived closed-form in the
    DuckDB oracle with matching split/regex semantics."""
    from ndjson_spatial_spark.operators.text import repetition_signals

    d = _t(spark, sf_dir, "documents")
    return d.withColumn("s", repetition_signals(F.col("text"))).select(
        "doc_id", "s.dup_line_frac", "s.mean_word_len", "s.symbol_ratio"
    )


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish token-budget estimate — pure Catalyst regexp count; the
    oracle runs the same pattern through DuckDB's RE2."""
    from ndjson_spatial_spark.operators.text import bpe_ish_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe")
    )


def q_convexhull(spark, sf_dir):
    """st_convexhull under the gate (round-4): per supplier, a planted
    MultiPoint of k points on the parabola (i, i^2) — convex position, so
    ALL are hull vertices — plus 2 strictly-interior points the hull must
    drop.  The hull is then closed-form: nvert = k, area = C(k,3)
    (shoelace of the parabola ring, exact integers), first canonical
    vertex = the (ox, oy) offset.  Geometry built in pure Catalyst JSON,
    parsed by the engine's own parser, hulled by the monotone-chain
    kernel."""
    from ndjson_spatial_spark.functions.geo import (parse_geojson, st_area,
                                                    st_convexhull)

    sup = _t(spark, sf_dir, "supplier")
    k = (F.col("s_suppkey") % 5 + 4).cast("int")
    ox = (F.col("s_suppkey") * 31 % 1000).cast("int")
    oy = (F.col("s_suppkey") * 17 % 1000).cast("int")
    pt = lambda x, y: F.concat(  # noqa: E731
        F.lit("["), x.cast("string"), F.lit(","), y.cast("string"),
        F.lit("]"))
    parab = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: pt(ox + i, oy + i * i),
    )
    gj = F.concat(
        F.lit('{"type":"MultiPoint","coordinates":['),
        F.concat_ws(",", parab), F.lit(","),
        pt(ox + 1, oy + 2), F.lit(","), pt(ox + 2, oy + 5),
        F.lit("]}"),
    )
    h = sup.select(
        "s_suppkey", st_convexhull(parse_geojson(gj)).alias("h"))
    return h.select(
        "s_suppkey",
        (F.size("h.x") - 1).alias("nvert"),
        (st_area(F.col("h")) + F.lit(0.0)).alias("hull_area"),
        F.element_at("h.x", 1).alias("x0"),
        F.element_at("h.y", 1).alias("y0"),
    )


def q_perimeter(spark, sf_dir):
    """st_perimeter under the gate (round-4): supplier donut polygons —
    perimeter = outer ring 2(w+h) + hole ring 2((w-40)+(h-40)), exact
    integers, holes INCLUDED per GEOS semantics."""
    from ndjson_spatial_spark.functions.geo import st_perimeter

    donuts = _supplier_donuts(spark, sf_dir)
    return donuts.select(
        "s_suppkey",
        (st_perimeter(F.col("geom")) + F.lit(0.0)).alias("perim"),
    )


def q_simplify(spark, sf_dir):
    """st_simplify under the gate (round-4): per supplier an 8-vertex
    polyline flat on y=0 except one peak of height h (0..9) at position
    p (1..6); at tolerance 4.5 Douglas–Peucker keeps exactly
    {first, peak, last} iff h >= 5 and collapses to the chord otherwise
    (secondary chord distances max 4.16 < 4.5 for every (p, h) in the
    construction — verified closed-form), so vertex count and simplified
    length are both closed-form in the oracle."""
    from ndjson_spatial_spark.functions.geo import (parse_geojson,
                                                    st_length, st_simplify)

    sup = _t(spark, sf_dir, "supplier")
    p = (F.col("s_suppkey") % 6 + 1).cast("int")
    h = (F.col("s_suppkey") % 10).cast("int")
    coords = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.concat(
            F.lit("["), i.cast("string"), F.lit(","),
            F.when(i == p, h).otherwise(F.lit(0)).cast("string"),
            F.lit("]")),
    )
    gj = F.concat(F.lit('{"type":"LineString","coordinates":['),
                  F.concat_ws(",", coords), F.lit("]}"))
    simp = sup.select(
        "s_suppkey",
        st_simplify(parse_geojson(gj), 4.5).alias("g"))
    return simp.select(
        "s_suppkey",
        F.size("g.x").alias("nvert"),
        (F.round(st_length(F.col("g")), 6) + F.lit(0.0)).alias("length"),
    )


def q_top_ngrams(spark, sf_dir):
    """Exact corpus heavy-hitters (round-4): top-25 word trigrams via
    Catalyst n-gram projection -> partial-combined hash aggregate ->
    TakeOrderedAndProject (operators/text.top_ngrams).  Deterministic
    tie-break (count DESC, ngram ASC) makes the set a pure function of
    the corpus, so the DuckDB oracle replays it verbatim."""
    from ndjson_spatial_spark.operators.text import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, n=3, k=25)


def q_contamination(spark, sf_dir):
    """Benchmark-decontamination scan (round-4): documents sharing any
    word 4-gram with the planted benchmark slice (doc_id % 97 == 0) —
    broadcast benchmark n-gram set, per-doc distinct-gram semi-join,
    one partial-combined count per doc (operators/text.
    contamination_check).  n=4 on this corpus yields 8 cross-document
    hits + 6 self-hits, so both the hit and clean paths are exercised."""
    from ndjson_spatial_spark.operators.text import contamination_check

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    out = contamination_check(d, bench, n=4)
    return out.select(
        "doc_id", "n_contaminated",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_chunk(spark, sf_dir):
    """Token-window document chunking (round-4): every document split
    into overlapping 24-token windows (step 18, tail pure-suffix chunks
    dropped) — a single narrow Catalyst projection (split / sequence /
    filter / transform / explode), zero shuffles, zero Python
    (operators/text.chunk_documents).  The oracle replays the exact
    window arithmetic in DuckDB list SQL, comparing full chunk text."""
    from ndjson_spatial_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return chunk_documents(d, max_tokens=24, overlap=6)


def q_pii_scrub(spark, sf_dir):
    """PII redaction (round-4): deterministic synthetic PII (email / SSN
    / phone / IPv4 derived from doc_id) appended to each document, then
    scrubbed with the engine's regex pass (operators/text.pii_scrub) —
    pure Catalyst regexp_count + chained regexp_replace, one codegen'd
    projection.  The oracle injects the identical strings in SQL and
    re-runs the same RE2-compatible patterns, comparing category counts
    AND the full scrubbed text."""
    from ndjson_spatial_spark.operators.text import pii_scrub

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    k = F.col("doc_id")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), k.cast("string"),
            F.lit("@example.com ssn "),
            (k % 900 + 100).cast("string"), F.lit("-"),
            (k % 90 + 10).cast("string"), F.lit("-"),
            (k % 9000 + 1000).cast("string"),
            F.lit(" tel "),
            (k * 3 % 900 + 100).cast("string"), F.lit("-"),
            (k * 7 % 900 + 100).cast("string"), F.lit("-"),
            (k * 11 % 9000 + 1000).cast("string"),
            F.lit(" ip 10."),
            (k % 256).cast("string"), F.lit("."),
            (k * 3 % 256).cast("string"), F.lit("."),
            (k % 250).cast("string"),
        ).alias("text"),
    )
    return pii_scrub(dirty).select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "scrubbed")


def q_stratified(spark, sf_dir):
    """Deterministic stratified sampling (round-4): exact 15 docs per
    language = the 15 smallest (fingerprint, doc_id) per stratum, with
    the provably-exact sample-threshold pre-prune ACTIVE (fraction 0.5
    on 64-218-row strata) so the gate validates the pruned plan, not
    just the window (operators/sampling.stratified_sample).  The oracle
    re-derives the Horner fingerprint in recursive-CTE HUGEINT SQL and
    ranks with the same window."""
    from ndjson_spatial_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    out = stratified_sample(d, "lang", 15, prefilter_fraction=0.5)
    return out.select("doc_id", "lang", "rank")


def q_mixture(spark, sf_dir):
    """Data-mixture rebalancing (round-4): downsample per-language to
    target weights en:.5/zh:.25/fr:.25 over 150 docs (de/es unlisted ->
    dropped; fr is under target -> kept whole) via hash-threshold
    membership (operators/sampling.mixture_sample) — one stratum-count
    aggregate + broadcast cuts + map-side filter, the corpus never
    shuffles.  The oracle re-derives the fingerprint, the per-stratum
    cut arithmetic (same op order incl. the float weight literals), and
    the residue filter in SQL."""
    from ndjson_spatial_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    out = mixture_sample(
        d, "lang", {"en": 0.5, "zh": 0.25, "fr": 0.25}, 150)
    return out.select("doc_id", "lang")


def q_profile(spark, sf_dir):
    """Per-language corpus profile (round-4, gate hardened round-5):
    count / total / mean / EXACT token quantiles via Spark's exact
    `percentile` (operators/text.profile_corpus).  The probabilities
    are all DYADIC (0.25/0.5/0.75/0.9375) so the R-7 rank fraction is
    exactly representable for EVERY stratum size and the interpolated
    value is op-order-proof — round-4's p95 produced non-dyadic
    fractions (0.55/0.15/...) whose 1-ulp engine divergence flipped the
    6-dp rounding.  The oracle recomputes the same token counts and
    DuckDB's quantile_cont (the same R-7 linear interpolation)."""
    from ndjson_spatial_spark.operators.text import profile_corpus

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    p = profile_corpus(d, probs=(0.25, 0.5, 0.75, 0.9375))
    return p.select(
        "stratum", "n_docs", "total_tokens",
        (F.round("mean_tokens", 6) + F.lit(0.0)).alias("mean_tokens"),
        *[(F.round(c, 6) + F.lit(0.0)).alias(c)
          for c in ("p25_tokens", "p50_tokens", "p75_tokens",
                    "p9375_tokens")],
    )


def q_normalize(spark, sf_dir):
    """Unicode normalization (round-4): deterministic accented +
    combining-mark suffix (built from codepoints identically in both
    engines) appended to each document, then NFC + accent strip +
    whitespace collapse (operators/text.normalize_text).  The oracle is
    DuckDB's own utf8proc pipeline — strip_accents(nfc_normalize(.)) +
    the same trim/collapse regex — full normalized text compared."""
    from ndjson_spatial_spark.operators.text import normalize_text

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    # NB Spark's char() is ASCII-only (char(776) wraps mod 256 to \x08);
    # the accented/combining suffix is therefore a python literal here
    # and chr()-codepoints in DuckDB — same codepoints either way:
    # 'cafe' + U+0301 (combining acute) + ' u' + U+0308 (diaeresis).
    dirty = d.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" café ü fin")).alias("text"),
    )
    out = normalize_text(dirty, strip_accents=True,
                         collapse_whitespace=True)
    return out.select("doc_id", "normalized")


def q_pack(spark, sf_dir):
    """Sequence packing (round-4): documents sharded by fingerprint
    residue and offset-packed into 200-token bins per shard
    (operators/text.pack_documents — one shard-keyed shuffle, the
    running sum parallelizes across shards).  The oracle re-derives the
    fingerprint, shard residue, window running sum and offset-packing
    rule in SQL."""
    from ndjson_spatial_spark.operators.text import pack_documents

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500) \
        .select("doc_id", "text")
    out = pack_documents(d, budget_tokens=200, n_shards=8)
    return out.select("doc_id", "shard", "bin", "bin_pos", "n_tokens")


def q_unigram_score(spark, sf_dir):
    """Unigram-LM quality scoring (round-4, the CCNet perplexity-filter
    proxy): per-doc mean log-probability under the corpus's own add-0.5
    smoothed top-40 unigram model (operators/text.unigram_logprob_score)
    — token-count aggregate, TakeOrdered vocabulary broadcast with
    precomputed log-probs, per-doc aggregate.  The oracle rebuilds the
    identical model in SQL (same tie-breaks, same denominator
    arithmetic) and re-scores every document; 6dp rounding absorbs
    sum-order ulps."""
    from ndjson_spatial_spark.operators.text import unigram_logprob_score

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500) \
        .select("doc_id", "text")
    out = unigram_logprob_score(d, vocab_size=40, alpha=0.5)
    return out.select(
        "doc_id",
        (F.round("logprob_score", 6) + F.lit(0.0)).alias("logprob_score"),
        "n_tokens",
    )


def q_hash_sample(spark, sf_dir):
    """Shard-stable hash-threshold sampling (round-4): keep documents
    whose fingerprint residue mod 1e6 falls under 0.2 — a single
    map-side filter, zero shuffles; membership is a pure function of
    document content (operators/sampling.hash_threshold_sample)."""
    from ndjson_spatial_spark.operators.sampling import (
        hash_threshold_sample,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return hash_threshold_sample(d, 0.2).select("doc_id", "lang")


def q_clean_lines(spark, sf_dir):
    """C4-style line cleaning (round-4): documents given deterministic
    line structure (every ' table' becomes a sentence break, terminal
    '.'), then per-doc exact-line dedup + terminal-punctuation +
    min-words filters (operators/text.clean_lines) — one narrow Catalyst
    projection.  The oracle replays line split / first-occurrence dedup /
    filters / ordered re-join in DuckDB, comparing full cleaned text."""
    from ndjson_spatial_spark.operators.text import clean_lines

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    structured = d.select(
        "doc_id",
        F.concat(F.regexp_replace(F.col("text"), " table", ".\ntable"),
                 F.lit(".")).alias("text"),
    )
    return clean_lines(structured).select(
        "doc_id", "cleaned", "n_lines", "n_kept")


def q_containment(spark, sf_dir):
    """Asymmetric n-gram containment dedup (round-4): 8 truncated-copy
    docs (first 15 words of every 50th document) planted into the
    corpus; the gram-keyed shuffle plan (operators/dedup.
    containment_pairs) must find each truncation CONTAINED in its
    original at 1.0 while symmetric Jaccard on those pairs is tiny.
    The oracle is brute-force: all-pairs DuckDB list_intersect over
    per-doc distinct 5-gram lists — an independent quadratic plan."""
    from ndjson_spatial_spark.operators.dedup import containment_pairs

    base = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400) \
        .select("doc_id", "text")
    planted = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 15),
            " ").alias("text"),
    )
    docs = base.unionByName(planted)
    return containment_pairs(docs, n=5, threshold=0.9)


def q_buffer(spark, sf_dir):
    """st_buffer under the gate (round-4): radius-3 disks (quad_segs=8,
    33-vertex closed rings) around integer supplier points, every vertex
    coordinate compared — the oracle re-derives the GEOS quadrant-
    segments vertex series ox + r*cos(2πk/N) in DuckDB with the same
    operation order (numpy and DuckDB share libm, so the doubles agree;
    rounded 6dp with the -0.0 guard)."""
    from ndjson_spatial_spark.functions.geo import parse_geojson, st_buffer

    sup = _t(spark, sf_dir, "supplier")
    ox = (F.col("s_suppkey") * 31 % 1000).cast("int")
    oy = (F.col("s_suppkey") * 17 % 1000).cast("int")
    gj = F.concat(
        F.lit('{"type":"Point","coordinates":['), ox.cast("string"),
        F.lit(","), oy.cast("string"), F.lit("]}"))
    b = sup.select(
        "s_suppkey", st_buffer(parse_geojson(gj), 3.0).alias("b"))
    return b.select(
        "s_suppkey",
        F.posexplode(F.arrays_zip("b.x", "b.y")).alias("k", "v"),
    ).select(
        "s_suppkey", "k",
        (F.round(F.col("v.x"), 6) + F.lit(0.0)).alias("vx"),
        (F.round(F.col("v.y"), 6) + F.lit(0.0)).alias("vy"),
    )


def q_buffer_line(spark, sf_dir):
    """LineString offset-curve buffer under the gate (round-5, VERDICT r4
    item 6): L-shaped axis-aligned polylines (half left turns, half right
    turns from key parity) buffered with miter joins and flat caps —
    every ring vertex is then EXACT integer arithmetic (outer miter point
    = corner +- (r, r); inner join = the offset-line intersection), so
    the oracle states the 7-vertex closed ring in closed form and the
    compare is bit-exact with zero float-tie risk."""
    from ndjson_spatial_spark.functions.geo import parse_geojson, st_buffer

    sup = _t(spark, sf_dir, "supplier")
    x0 = (F.col("s_suppkey") * 13 % 400).cast("int")
    y0 = (F.col("s_suppkey") * 29 % 400).cast("int")
    x1 = x0 + 10 + (F.col("s_suppkey") % 7).cast("int")
    sgn = F.when(F.col("s_suppkey") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    y2 = y0 + sgn * (8 + (F.col("s_suppkey") % 5).cast("int"))
    gj = F.concat(
        F.lit('{"type":"LineString","coordinates":[['),
        x0.cast("string"), F.lit(","), y0.cast("string"),
        F.lit("],["), x1.cast("string"), F.lit(","), y0.cast("string"),
        F.lit("],["), x1.cast("string"), F.lit(","), y2.cast("string"),
        F.lit("]]}"))
    b = sup.select(
        "s_suppkey",
        st_buffer(parse_geojson(gj), 2.0, cap_style="flat",
                  join_style="miter").alias("b"))
    return b.select(
        "s_suppkey",
        F.posexplode(F.arrays_zip("b.x", "b.y")).alias("k", "v"),
    ).select(
        "s_suppkey", "k",
        (F.round(F.col("v.x"), 6) + F.lit(0.0)).alias("vx"),
        (F.round(F.col("v.y"), 6) + F.lit(0.0)).alias("vy"),
    )


def q_dedup_best(spark, sf_dir):
    """Cluster-representative selection (round-4): planted 3-chains
    (10k ~ 10k+1 ~ 10k+2) deduped keeping the highest-n_chars member —
    connected components label the chains, a per-component window picks
    the winner, anti-join drops losers (operators/dedup.
    dedup_keep_best).  The oracle replays the closed-form clusters and
    the same winner rule in SQL."""
    from ndjson_spatial_spark.operators.dedup import dedup_keep_best

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500) \
        .select("doc_id", "text", "lang", "n_chars")
    anchors = d.where(F.col("doc_id") % 10 == 0).select("doc_id")
    pairs = anchors.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    ).unionByName(anchors.select(
        (F.col("doc_id") + 1).alias("id_a"),
        (F.col("doc_id") + 2).alias("id_b"),
    ))
    kept = dedup_keep_best(d, pairs, score_col="n_chars")
    return kept.select("doc_id", "lang")


def q_quantize(spark, sf_dir):
    """int8 embedding quantization (round-3, Faiss-SQ8 shape, pure
    Catalyst): per-vector symmetric scale + rounded codes; the oracle
    re-derives the whole quantizer in DuckDB list arithmetic, so the code
    sum / extrema / scale match exactly."""
    from ndjson_spatial_spark.operators.similarity import quantize_embeddings

    e = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e, "embedding")
    return q.select(
        "vec_id",
        (F.round(F.col("q_scale"), 6) + F.lit(0.0)).alias("q_scale"),
        F.aggregate("q", F.lit(0), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


def q_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 5)
    out = cosine_topk(e, queries, k=10)
    return out.select("query_id", "vec_id", "rank")


def q_events_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .orderBy("event_type")
    )


def q_interval_join(spark, sf_dir):
    """Interval-overlap (range) join: view-event windows [ts, ts+value
    hours] overlap-joined to click-event windows per user — the binned
    single-pass plan (operators/interval.py: explode-to-bins, ONE
    equi-shuffle, refine, dedup-free max-start bin trick).  The oracle
    is DuckDB's inequality range join (IEJoin) — an independent engine
    implementation; our bin width (1800 s, deliberately unaligned to
    the hour-scale intervals) cannot influence the result."""
    from ndjson_spatial_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    ep = F.col("ts").cast("timestamp").cast("double")
    iv = ev.select(
        "event_id", "user_id", "event_type", "ts", "value",
        ep.alias("start"),
        (ep + F.col("value") * 3600.0).alias("end"),
    )
    views = iv.where(F.col("event_type") == "view").drop("event_type")
    clicks = iv.where(F.col("event_type") == "click").drop("event_type")
    out = interval_join(views, clicks, ("start", "end"), ("start", "end"),
                        by="user_id", bin_width=1800.0)
    # absolute epoch doubles are tz/rounding-fragile across engines; the
    # overlap predicate itself is shift-invariant, so emit the raw event
    # identities + formatted wall-clock ts instead (asof-gate pattern)
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
        F.col("event_id_right"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("ts_right"),
        "value_right",
    )


def q_asof(spark, sf_dir):
    """As-of (temporal) join: every 'view' event picks up the latest
    'click' at-or-before it by the same user — pandas.merge_asof /
    DuckDB ASOF JOIN semantics via the union + carry-forward window
    plan (ONE shuffle on user_id, no range cross-join;
    operators/asof.py).  The oracle is DuckDB's NATIVE ``ASOF LEFT
    JOIN`` — an independent engine implementation of the same
    operator, not a re-derivation of ours."""
    from ndjson_spatial_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value")
    out = asof_join(views, clicks, on="ts", by="user_id")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("ts_right"),
        "click_id_right", "value_right",
    )


# ------------------------------------------------- rows-only (no SQL oracle)

def q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events stream table (round-3):
    pure Catalyst windows (one shuffle on user), 30-minute gap; the
    oracle states the identical lag/running-sum/group closed form in
    DuckDB SQL (sub-second epoch doubles on both sides)."""
    from ndjson_spatial_spark.operators.relational import sessionize

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(e)
    return out.select(
        "user_id", "session_seq",
        F.col("n_events").cast("long").alias("n_events"),
        "value_sum",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("start_ts"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("end_ts"),
    )


def q_minhash_pairs(spark, sf_dir):
    """MinHash LSH near-dup pairs, gated against BRUTE-FORCE 5-gram
    Jaccard in SQL — the match certifies the exact verify AND complete
    LSH recall on this corpus (see the oracle's comment)."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", num_hashes=64, bands=16,
                             threshold=0.5).select("id_a", "id_b")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at max_hamming=3 with 4x16-bit bands — the
    regime where pigeonhole banding recall is complete BY THEOREM (any
    pair within hamming 3 shares an exact band), so the brute-force SQL
    oracle (simhash recomputed per character window in HUGEINT
    arithmetic, all-pairs popcount) must match exactly."""
    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, "text", "doc_id", max_hamming=3).select(
        "id_a", "id_b", "hamming"
    )


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint — deterministic but per-char
    Horner arithmetic is not reasonably SQL-expressible; rows-only."""
    from ndjson_spatial_spark.operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_minhash_dedup(spark, sf_dir):
    """End-to-end near-dup FILTERING (LSH pairs -> connected components ->
    keep min id per cluster) — the operator a training pipeline actually
    runs; rows-only (LSH banding not SQL-expressible)."""
    from ndjson_spatial_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf_dir, "documents")
    out = minhash_dedup(d, "text", "doc_id", num_hashes=64, bands=16,
                        threshold=0.5)
    return out.select("doc_id").orderBy("doc_id")


def q_cosine_pairs(spark, sf_dir):
    """Embedding near-duplicate pairs via LSH buckets + exact rerank.

    The synthetic embeddings have no natural near-dups (max pairwise
    cosine ~0.51), so the corpus is salted with EXACT copies of vec_id<10
    under id+100000.  Identical vectors fall in the same bucket of every
    LSH table (equal hyperplane signs), so recall on the planted pairs is
    structurally 1.0 and the expected output is closed-form — a real
    oracle for the LSH + exact-rerank plumbing, not a recall gamble."""
    from ndjson_spatial_spark.operators.similarity import cosine_near_dup

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = cosine_near_dup(e.unionByName(dup), threshold=0.99, dim=64)
    return out.select("id_a", "id_b").orderBy("id_a", "id_b")


def q_documents_pipeline(spark, sf_dir):
    """Flagship: interleaved documents (input_hint schema) -> geometry span
    extraction -> spatial intersection join vs polygon refs -> tile counts.
    Rows-only: input is the engine-synthesized interleaved table."""
    docs = synth_documents(spark, n_docs=2000, seed=42)
    geoms = extract_geometry_spans(docs)
    refs = (
        geoms.where(F.col("geom.geom_type") == "Polygon")
        .orderBy("doc_id").limit(20).select("geom")
    )
    joined = spatial_intersection_join(geoms, refs, res=7)
    tiled = assign_tiles(joined.select("doc_id", "geom"), [5])
    return (
        tiled.groupBy("zoom", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("tile_x", "tile_y")
    )


def q_documents_pipeline_fast(spark, sf_dir):
    """Hybrid flagship over the SPLITMIX synthETIC corpus — now under the
    exact gate: the oracle re-derives the corpus' geometry spans with an
    independent pure-Python splitmix64 implementation and replays the
    join + tiling closed-form in SQL.  (The fast path must also produce
    the same tile multiset as the struct pipeline —
    tests/test_bbox_fast.py pins that equality.)"""
    from ndjson_spatial_spark.flagship import docs_tile_pipeline

    docs = synth_documents(spark, n_docs=2000, seed=42)
    ref_pred = F.substring("doc_id", 4, 20).cast("bigint") % 13 == 0
    tiles = docs_tile_pipeline(docs, res=7, zooms=(5,), ref_pred=ref_pred)
    return (
        tiles.groupBy("zoom", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("tile_x", "tile_y")
    )


def q_media_features(spark, sf_dir):
    """Multimodal decode plumbing under the exact gate: binary payloads
    derived from supplier keys run through the Arrow-batched mapInPandas
    decode stage with the deterministic stand-in decoder (sha256-digest
    features — clearly NOT a real codec, but the schema/batch/partition
    plumbing is the real path a codec kernel drops into).  The oracle
    recomputes the digest features in DuckDB sha256 + hex arithmetic."""
    from ndjson_spatial_spark.operators import multimodal as MM

    s = _t(spark, sf_dir, "supplier")
    media = s.select(
        F.col("s_suppkey").cast("string").alias("media_id"),
        F.encode(
            F.concat(F.lit("media-"), F.col("s_suppkey").cast("string")),
            "UTF-8",
        ).alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("png").alias("format"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    MM.set_decoder(MM.fake_decoder)
    feats = MM.decode_features(media)
    return feats.select(
        "media_id", F.posexplode("features").alias("idx", "v")
    ).select(
        "media_id", "idx", F.round(F.col("v").cast("double"), 4).alias("v")
    )


def q_media_ppm(spark, sf_dir):
    """REAL in-sandbox media decode under the exact gate (round-4, VERDICT
    item 8): binary-PPM (P6) images synthesized per supplier key run
    through the SAME mapInPandas decode stage with the pure-numpy
    `ppm_decoder` — a genuine parser (header + raster), not the digest
    fake.  Features are scaled integer moments (integer / 2^k, exact in
    float32), so the DuckDB oracle re-derives them with integer
    aggregation over the pixel grid."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf as _pu

    from ndjson_spatial_spark.operators import multimodal as MM

    W, H = 8, 6

    # NOTE: `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't resolve — annotate via __annotations__ post-hoc
    def _synth_ppm(keys):
        out = []
        for key in keys:
            key = int(key)
            raster = bytearray()
            for p in range(W * H):
                raster += bytes([(key + 7 * p) % 256,
                                 (key * 3 + 11 * p) % 256,
                                 (key * 5 + 13 * p) % 256])
            out.append(b"P6\n# synth\n8 6\n255\n" + bytes(raster))
        return pd.Series(out)

    _synth_ppm.__annotations__ = {"keys": pd.Series, "return": pd.Series}
    synth_ppm = _pu(_synth_ppm, "binary")

    s = _t(spark, sf_dir, "supplier")
    media = s.select(
        F.col("s_suppkey").cast("string").alias("media_id"),
        F.col("s_suppkey").alias("__k"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("ppm").alias("format"),
            F.lit(W).alias("width"),
            F.lit(H).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    ).withColumn("payload", synth_ppm(F.col("__k")))
    MM.set_decoder(MM.ppm_decoder)
    feats = MM.decode_features(media)
    return feats.select(
        "media_id", F.posexplode("features").alias("idx", "v")
    ).select(
        "media_id", "idx",
        (F.round(F.col("v").cast("double"), 6) + F.lit(0.0)).alias("v"),
    )


def q_flagship_keyed(spark, sf_dir):
    """The FLAGSHIP pipeline itself under the exact gate: an interleaved
    documents frame (text + geometry spans, input_hint schema) built in
    pure Catalyst from supplier keys runs through the real
    docs_tile_pipeline — JSON classifier, bbox fast-path join,
    min-common-term pair dedup, tile assignment — and the oracle replays the closed-form
    geometry/join/tile arithmetic in SQL.  The splitmix64 synthetic corpus
    stays rows-only for scale realism; THIS query pins the machinery."""
    from ndjson_spatial_spark.flagship import docs_tile_pipeline

    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    x0 = ((k * 7919 % 1200) - 600).cast("double") * 800.0
    y0 = ((k * 104729 % 1200) - 600).cast("double") * 800.0
    w = (100 + (k % 500)).cast("double") * 2400.0
    h = (100 + (k % 700)).cast("double") * 2400.0
    x1, y1 = x0 + w, y0 + h
    cs = lambda c: c.cast("string")  # noqa: E731
    gj_pt = F.concat(
        F.lit('{"type":"Point","coordinates":['),
        cs(x0), F.lit(","), cs(y0), F.lit("]}"),
    )
    gj_rect = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        cs(x0), F.lit(","), cs(y0), F.lit("],["),
        cs(x1), F.lit(","), cs(y0), F.lit("],["),
        cs(x1), F.lit(","), cs(y1), F.lit("],["),
        cs(x0), F.lit(","), cs(y1), F.lit("],["),
        cs(x0), F.lit(","), cs(y0), F.lit("]]]}"),
    )
    gj = F.when(k % 2 == 0, gj_rect).otherwise(gj_pt)
    nul = F.lit(None).cast("string")
    spans = F.array(
        F.struct(F.lit("text").alias("kind"),
                 F.lit("interleaved text span").alias("text"),
                 nul.alias("media_ref"), F.lit(1).alias("offset")),
        F.struct(F.lit("geometry").alias("kind"), gj.alias("text"),
                 nul.alias("media_ref"), F.lit(2).alias("offset")),
    )
    docs = s.select(
        F.concat(F.lit("s"), k.cast("string")).alias("doc_id"),
        spans.alias("spans"),
    )
    ref_pred = F.substring("doc_id", 2, 20).cast("bigint") % 5 == 0
    tiles = docs_tile_pipeline(docs, res=9, zooms=(6,), ref_pred=ref_pred)
    return tiles.select("doc_id", "zoom", "tile_x", "tile_y")


def q_streaming_spatial(spark, sf_dir):
    """STREAM-STATIC spatial join (round-3): customer points arrive as a
    file-source stream and are tagged against the static nation-rect
    reference through the full cell-index candidates->refinement plan
    (streaming/stream.py:streaming_spatial_tag).  Inner stream-static
    joins are stateless per micro-batch, so the availableNow run must
    equal the batch operator exactly — the oracle is the same closed-form
    point-in-rect SQL as the batch join."""
    import tempfile

    from ndjson_spatial_spark.streaming.stream import streaming_spatial_tag

    pts = _customer_points(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="streamspatial_src_")
    pts.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(pts.schema).parquet(src)
    tagged = streaming_spatial_tag(sdf, _nation_rects(spark, sf_dir))
    qname = "stream_spatial_out"
    q = (
        tagged.select("c_custkey").writeStream.format("memory")
        .queryName(qname).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


def q_streaming_dedup(spark, sf_dir):
    """Structured-Streaming stateful first-seen dedup
    (applyInPandasWithState), driven to completion with an availableNow
    trigger over the documents table grouped into 100 synthetic re-crawl
    keys.  Which physical row is 'first' per key is batch-order-dependent,
    but the emitted KEY SET is exactly the distinct keys — so the key
    projection is deterministic and oracle-gated (SELECT DISTINCT)."""
    import tempfile

    from ndjson_spatial_spark.streaming.stream import (
        streaming_dedup_first_seen,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "grp", F.pmod(F.col("doc_id"), F.lit(100)).cast("long")
    )
    src = tempfile.mkdtemp(prefix="streamdedup_src_")
    d.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(d.schema).parquet(src)
    deduped = streaming_dedup_first_seen(sdf, key_col="grp")
    qname = "stream_dedup_out"
    q = (
        deduped.select("grp").writeStream.format("memory")
        .queryName(qname).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("grp")


def q_streaming_sessionize(spark, sf_dir):
    """STATEFUL streaming sessionization under the exact gate (round-4):
    the events table replayed as a ts-ordered multi-file stream through
    `streaming_sessionize` (applyInPandasWithState + event-time timeout).
    Emission semantics are closed-form: every session except a user's
    LAST closes in-batch when its successor event arrives; a last session
    closes by TIMEOUT iff the final watermark (global max ts - delay)
    passed its end + gap (availableNow runs a final timeout batch —
    verified empirically and pinned by tests).  The oracle states the
    batch session closed form PLUS exactly that emission filter."""
    import tempfile

    from ndjson_spatial_spark.streaming.stream import streaming_sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    src = tempfile.mkdtemp(prefix="streamsess_src_") + "/in"
    # ts-ordered files (range partition + in-file sort): micro-batches see
    # non-decreasing event time, so no on-time row is ever late-dropped.
    # FileStreamSource orders files by MODIFICATION TIME (ties arbitrary),
    # so stamp part-k with mtime base+k — part index == ts-range order
    # under repartitionByRange
    ev.repartitionByRange(4, "ts").sortWithinPartitions("ts") \
        .write.parquet(src)
    import os as _os
    import time as _time

    base_t = _time.time()
    for f in sorted(_os.listdir(src)):
        if f.startswith("part-"):
            k = int(f.split("-")[1])
            _os.utime(_os.path.join(src, f), (base_t + k, base_t + k))
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_sessionize(sdf, gap_minutes=30.0,
                               watermark="10 minutes")
    qname = "stream_sess_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        "user_id", "session_seq",
        F.col("n_events").cast("long").alias("n_events"),
        "value_sum",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("start_ts"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("end_ts"),
    )


def q_streaming_join(spark, sf_dir):
    """STREAM-STREAM event-time interval join under the exact gate
    (round-4): view events attribution-joined to purchase events of the
    same user within [view_ts, view_ts + 30 min], both sides real
    streams with watermarks (streaming/stream.stream_stream_interval_
    join), replayed availableNow over a ts-ordered multi-file stage so
    event time is non-decreasing across micro-batches.  With ordered
    replay no buffered view can expire before its last possible partner
    arrives (left state lives horizon + delay past its event time), so
    the emitted set is EXACTLY the batch interval join — which is the
    closed-form DuckDB oracle."""
    import os as _os
    import tempfile
    import time as _time

    from ndjson_spatial_spark.streaming.stream import (
        stream_stream_interval_join,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    src = tempfile.mkdtemp(prefix="streamjoin_src_") + "/in"
    ev.repartitionByRange(4, "ts").sortWithinPartitions("ts") \
        .write.parquet(src)
    base_t = _time.time()
    for f in sorted(_os.listdir(src)):
        if f.startswith("part-"):
            k = int(f.split("-")[1])
            _os.utime(_os.path.join(src, f), (base_t + k, base_t + k))
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    views = sdf.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    )
    purchases = sdf.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_interval_join(
        views, purchases, "l_user", "r_user", "l_ts", "r_ts",
        horizon="30 minutes", watermark="10 minutes",
    )
    out = joined.select(
        "view_id", "purchase_id",
        (F.col("r_ts").cast("double")
         - F.col("l_ts").cast("double")).alias("delay_sec"),
    )
    qname = "stream_join_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


def q_streaming_join_outer(spark, sf_dir):
    """Stream-stream interval join, FULL leftOuter contract (round-5,
    VERDICT r4 item 8): unmatched views must emit with a null purchase
    side.  Null emission only happens when state EVICTION runs, and a
    finite availableNow replay never evicts the last windows on its own
    — so the stage appends two sentinel tail files per side (keys -1/-2
    no real row uses, timestamps 2h/3h past max ts, mtime-ordered last):
    the first advances the watermark past every real view's expiry
    (l_ts + horizon + delay), the second runs the eviction batch that
    flushes the nulls.  Sentinel keys are filtered from the output; the
    oracle is the closed-form batch LEFT interval join."""
    import os as _os
    import tempfile
    import time as _time

    from ndjson_spatial_spark.streaming.stream import (
        append_sentinel_file,
        stream_stream_interval_join,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    src = tempfile.mkdtemp(prefix="streamjoin_outer_src_") + "/in"
    ev.repartitionByRange(4, "ts").sortWithinPartitions("ts") \
        .write.parquet(src)
    base_t = _time.time()
    for f in sorted(_os.listdir(src)):
        if f.startswith("part-"):
            k = int(f.split("-")[1])
            _os.utime(_os.path.join(src, f), (base_t + k, base_t + k))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for j, hours in enumerate((2, 3)):
        sent = spark.createDataFrame(
            [(-100 - j, -1, "view"), (-200 - j, -2, "purchase")],
            ["event_id", "user_id", "event_type"],
        ).select(
            "event_id", "user_id", "event_type",
            (F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
        )
        append_sentinel_file(spark, src, sent, base_t + 100.0 + j)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    views = sdf.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    )
    purchases = sdf.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_interval_join(
        views, purchases, "l_user", "r_user", "l_ts", "r_ts",
        horizon="30 minutes", watermark="10 minutes", how="leftOuter",
    )
    # NB the sentinel-key filter must NOT be in the streaming plan:
    # Catalyst propagates it through the join equality to BOTH parquet
    # scans, whose row-group stats then prune the sentinel FILE itself —
    # the watermark never advances and nothing flushes (root-caused
    # empirically; the filter below runs batch-side on the sink table).
    out = joined.select(
        "view_id", "purchase_id",
        (F.col("r_ts").cast("double")
         - F.col("l_ts").cast("double")).alias("delay_sec"),
    )
    qname = "stream_join_outer_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).where(F.col("view_id") >= 0)


def q_streaming_chunk(spark, sf_dir):
    """STREAMING document chunking (round-4): chunk_documents is a
    stateless narrow Catalyst plan (split/sequence/explode), so it runs
    UNCHANGED on a streaming DataFrame — continuous ingestion chunking
    with no watermark and no state; the availableNow replay must equal
    the batch operator exactly, which is the same DuckDB closed form as
    the `chunk` gate."""
    import tempfile

    from ndjson_spatial_spark.operators.text import chunk_documents

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 300).select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="streamchunk_src_") + "/in"
    d.repartition(3).write.parquet(src)
    sdf = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = chunk_documents(sdf, max_tokens=24, overlap=6)
    qname = "stream_chunk_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


def q_streaming_window(spark, sf_dir):
    """Structured-Streaming event-time windowed aggregation with a real
    watermark, under the EXACT gate: 15-minute tumbling counts per
    event_type in append mode, driven with availableNow over a staged
    multi-file copy of the events table (several micro-batches, so the
    watermark advances and finalizes windows).  Append mode emits exactly
    the windows whose end <= max(ts) - delay — closed-form in SQL, so the
    oracle verifies BOTH the aggregation and the late-data/watermark
    retention semantics."""
    import tempfile

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = tempfile.mkdtemp(prefix="swin_src_")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
    )
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = agg.select(
        F.unix_timestamp(F.col("w.start")).alias("ws"),
        "event_type", "n_events",
    )
    qname = "stream_window_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("ws", "event_type")


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics under the gate (round-5): a 160x160 cell raster
    derived from order keys (cell_size 250, values k % 97) reduced per
    nation-rect zone through the pixel-center rule
    (operators/raster.zonal_stats -> spatial_intersection_join
    candidates/refine -> one partial-combined aggregate).  Zone bounds
    are multiples of 250 while centers are ≡ 125 (mod 250), so no cell
    center ever touches a zone boundary — the oracle is a brute-force
    range join, boundary-semantics-proof.  The mean is exact-integer
    sum over exact count (one division both sides)."""
    from ndjson_spatial_spark.operators.raster import zonal_stats

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cells = o.select(
        (k % 160).cast("long").alias("cx"),
        ((k / 160).cast("long") % 160).alias("cy"),
        (k % 97).cast("long").alias("value"),
    )
    n = _t(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    # zone lattice confined to the POPULATED raster region (sf0.01 order
    # keys are dense 0..14999 so cy <= 93): x0 <= 32250 (+6000 < 40000),
    # y0 <= 17250 (+6000 < 23500) -> every one of the 25 zones holds cells
    x0 = ((nk * 1543 % 130) * 250).cast("long")
    y0 = ((nk * 2719 % 70) * 250).cast("long")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + 6000, F.lit(","), y0, F.lit("],["),
        x0 + 6000, F.lit(","), y0 + 6000, F.lit("],["),
        x0, F.lit(","), y0 + 6000, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    zones = n.select("n_nationkey", parse_geojson(gj).alias("geom"))
    out = zonal_stats(cells, zones, "n_nationkey", cell_size=250.0)
    return out.select(
        "n_nationkey", "n_cells", "sum_val", "min_val", "max_val",
        (F.col("mean_val") + F.lit(0.0)).alias("mean_val"),
    )


def q_union_agg(spark, sf_dir):
    """Grouped dissolve (PostGIS ST_Union aggregate) under the gate
    (round-5): per region, the union of its nations' axis rects
    (operators/overlay.union_agg — one group shuffle, difference-fold +
    dissolve inside the Arrow batch).  Gate columns are the EXACT
    derived scalars: part count, union area, union bbox.  Rect coords
    are multiples of 300 with side 700, so rects either properly
    overlap or are strictly disjoint (edge/corner contact impossible:
    700 is not a multiple of 300) — the oracle's overlap predicate and
    lattice area count (gcd grid 100, area = 10000 * covered cells)
    are boundary-unambiguous; components come from a recursive-CTE
    transitive closure, all in DuckDB."""
    from ndjson_spatial_spark.functions.geo import st_area
    from ndjson_spatial_spark.operators.overlay import union_agg

    n = _t(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    x0 = ((nk * 2 % 9) * 300).cast("double")
    y0 = ((nk * 7 % 9) * 300).cast("double")
    gj = F.concat(
        F.lit('{"type":"Polygon","coordinates":[[['),
        x0, F.lit(","), y0, F.lit("],["),
        x0 + 700, F.lit(","), y0, F.lit("],["),
        x0 + 700, F.lit(","), y0 + 700, F.lit("],["),
        x0, F.lit(","), y0 + 700, F.lit("],["),
        x0, F.lit(","), y0, F.lit("]]]}"),
    )
    rects = n.select("n_regionkey", parse_geojson(gj).alias("geom"))
    u = union_agg(rects, ["n_regionkey"])
    g = F.col("geom")
    return u.select(
        "n_regionkey",
        (F.size(g["part_offsets"]) - 1).alias("n_parts"),
        (st_area(g) + F.lit(0.0)).alias("area"),
        F.array_min(g["x"]).alias("xmin"),
        F.array_min(g["y"]).alias("ymin"),
        F.array_max(g["x"]).alias("xmax"),
        F.array_max(g["y"]).alias("ymax"),
    )


def q_hexbin(spark, sf_dir):
    """Hex-grid binning under the gate (round-5 — the H3-style half of
    the north-star's "H3/S2 cell encoding"): order-key points assigned
    to flat-top axial hexes (functions/cells_fn.st_hex_index — pure
    Catalyst cube rounding, fixed op order) then ONE partial-combined
    aggregate per hex.  size=512 is a power of two so the divisions are
    exact scalings; every constant is inlined as its shortest-roundtrip
    repr in the DuckDB oracle, which replays the identical IEEE
    expression tree (the cell_index/Morton precedent) — bit-exact,
    including the cube-round component-fix branches."""
    from ndjson_spatial_spark.functions.cells_fn import st_hex_index

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    pts = o.select(
        st_hex_index((k % 4096).cast("double"),
                     (k * 37 % 4096).cast("double"), 512.0).alias("h"),
        (k % 101).cast("long").alias("v"),
    )
    return (
        pts.groupBy(F.col("h.q").alias("q"), F.col("h.r").alias("r"))
        .agg(F.count(F.lit(1)).alias("n_pts"),
             F.sum("v").alias("sum_v"))
    )


def q_focal_stats(spark, sf_dir):
    """Focal 3x3 statistics under the gate (round-5 raster analytics):
    a SPARSE raster from order keys (only keys < 3000 exist, so window
    populations vary 4..9) reduced by operators/raster.focal_stats
    (contribution-explode -> one hash aggregate -> key join).  Oracle =
    brute-force Chebyshev-distance self-join; every quantity is exact
    integer arithmetic, mean is one division both sides."""
    from ndjson_spatial_spark.operators.raster import focal_stats

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 3000)
    k = F.col("o_orderkey")
    cells = o.select(
        (k % 60).cast("long").alias("cx"),
        ((k / 60).cast("long") % 60).alias("cy"),
        (k % 83).cast("long").alias("value"),
    )
    out = focal_stats(cells, radius=1)
    return out.select("cx", "cy", "value", "focal_n", "focal_sum",
                      "focal_min", "focal_max",
                      (F.col("focal_mean") + F.lit(0.0)).alias("focal_mean"))


def q_resample(spark, sf_dir):
    """Raster resampling under the gate: the 160-wide order-key raster
    aggregated 4x coarser (operators/raster.resample — one
    partial-combined hash aggregate).  Oracle = the same floor-divide
    GROUP BY in DuckDB; all integers, mean one division."""
    from ndjson_spatial_spark.operators.raster import resample

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cells = o.select(
        (k % 160).cast("long").alias("cx"),
        ((k / 160).cast("long") % 160).alias("cy"),
        (k % 97).cast("long").alias("value"),
    )
    out = resample(cells, factor=4)
    return out.select("cx", "cy", "n_cells", "sum_val", "min_val",
                      "max_val",
                      (F.col("mean_val") + F.lit(0.0)).alias("mean_val"))


def q_local_algebra(spark, sf_dir):
    """Local map algebra under the gate: two key-derived rasters (even /
    odd order keys — partially overlapping cell sets) combined with
    how='outer', fill=0, op='add' (operators/raster.local_op — one
    cell-index equi-join with explicit NODATA fill).  Oracle = FULL
    OUTER JOIN + COALESCE in DuckDB; pure integers."""
    from ndjson_spatial_spark.operators.raster import local_op

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        (k % 100).cast("long").alias("cx"),
        ((k / 100).cast("long") % 100).alias("cy"),
        (k % 89).cast("long").alias("value"),
        (k % 2).alias("par"),
    )
    a = base.where(F.col("par") == 0).drop("par")
    b = base.where(F.col("par") == 1).drop("par")
    return local_op(a, b, op="add", how="outer", fill=0)


def q_slope(spark, sf_dir):
    """Horn-method terrain gradient under the gate (round-5 — the GDAL
    gdaldem slope operator): a DENSE 50x40 DEM from order keys < 2000
    (every interior cell has a complete 8-neighborhood; edge cells are
    dropped, GDAL edge semantics) through operators/raster.slope_gradient
    (Horn-weighted contribution explode -> one aggregate -> count==8
    filter).  The gate compares the EXACT integer Horn numerators and
    grad2 (dyadic-safe — no trig in the hash); slope_deg is the derived
    user column, excluded for JVM-vs-libm atan tie safety."""
    from ndjson_spatial_spark.operators.raster import slope_gradient

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    k = F.col("o_orderkey")
    dem = o.select(
        (k % 50).cast("long").alias("cx"),
        (k / 50).cast("long").alias("cy"),
        (k * 31 % 101).cast("long").alias("value"),
    )
    out = slope_gradient(dem, cell_size=30.0)
    return out.select("cx", "cy", "dzdx_num", "dzdy_num", "grad2_num")


def q_buffer_poly(spark, sf_dir):
    """Polygon offset buffering under the gate (round-5 — closes the
    last documented buffer scope boundary): part rects DILATED by +50
    (miter joins: the grown rect exactly, corners at integer miter
    points) and ERODED by -100 (inward offset; every rect side is
    >= 2000 so erosion never degenerates) — st_area + st_bbox of both
    outputs against closed-form rect algebra, all integer-exact."""
    from ndjson_spatial_spark.functions.geo import st_bbox, st_buffer

    p = _part_rects(spark, sf_dir)
    out = p.select(
        "p_partkey",
        st_buffer(F.col("geom"), 50.0, join_style="miter").alias("gd"),
        st_buffer(F.col("geom"), -100.0).alias("ge"),
    )
    return out.select(
        "p_partkey",
        st_area("gd").alias("d_area"),
        F.element_at(st_bbox("gd"), 1).alias("dx0"),
        F.element_at(st_bbox("gd"), 2).alias("dx1"),
        F.element_at(st_bbox("gd"), 3).alias("dy0"),
        F.element_at(st_bbox("gd"), 4).alias("dy1"),
        st_area("ge").alias("e_area"),
    )


def q_c4_pipeline(spark, sf_dir):
    """END-TO-END C4-style curation pipeline (round-5 composite gate):
    line-structure -> clean_lines (per-doc line dedup + terminal-punct +
    min-words) -> document quality filter (n_kept >= 2) -> synthetic PII
    injection + pii_scrub -> token count -> exact dedup on the SCRUBBED
    text (scrubbing re-converges duplicates whose injected PII differed —
    the reason real pipelines dedup after redaction).  Every stage is the
    already-gated operator; this gate pins their COMPOSITION, the thing a
    user actually runs.

    Plan (the 100 TB shape): stages 1-5 are one fused narrow projection
    (Catalyst collapses the chained withColumns into a single
    whole-stage-codegen'd map over the scan); the ONLY wide exchange is
    the dedup's hash aggregate on the scrubbed text, followed by a
    broadcast-size join of the survivor ids back to their features."""
    from ndjson_spatial_spark.operators.dedup import exact_dedup
    from ndjson_spatial_spark.operators.text import (
        clean_lines,
        pii_scrub,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    structured = d.select(
        "doc_id",
        F.concat(F.regexp_replace(F.col("text"), " table", ".\ntable"),
                 F.lit(".")).alias("text"),
    )
    cleaned = clean_lines(structured)
    qual = cleaned.where(F.col("n_kept") >= 2)
    k = F.col("doc_id")
    dirty = qual.select(
        "doc_id", "n_kept",
        F.concat(
            F.col("cleaned"), F.lit(" contact user"), k.cast("string"),
            F.lit("@example.com"),
        ).alias("text"),
    )
    feat = pii_scrub(dirty).select(
        "doc_id", "n_kept", "n_email", "scrubbed",
        token_count(F.col("scrubbed")).alias("n_tokens"),
    )
    survivors = exact_dedup(feat.select("doc_id", "scrubbed"),
                            ["scrubbed"], "doc_id")
    return feat.join(survivors, "doc_id").select(
        "doc_id", "n_kept", "n_email", "n_tokens", "n_dupes", "scrubbed")


def q_boolean_clip(spark, sf_dir):
    """Boolean overlay suite (round-5 engine extension completing the
    GEOS boolean ops the reference reaches only for intersection,
    intersection.rs:133): each part rect pairs with one concave L-shaped
    nation polygon (n_nationkey = p_partkey % 25) and the gate compares
    the areas of st_boolean union / difference / symdifference — computed
    on the DISSOLVED output geometry via st_area (holes subtracted), so
    the half-plane decomposition, the dissolve, and the hole assembly are
    all under the gate.  All edges are axis-parallel integers, so every
    clip vertex is exact and the oracle is closed-form inclusion-
    exclusion over the L's two-rect decomposition."""
    from ndjson_spatial_spark.functions.geo import st_boolean

    rects = _part_rects(spark, sf_dir).withColumn(
        "n_nationkey", F.col("p_partkey") % 25)
    ls = _nation_ls(spark, sf_dir).withColumnRenamed("geom", "lgeom")
    pairs = rects.join(F.broadcast(ls), "n_nationkey")
    out = pairs.select(
        "p_partkey",
        st_boolean("union")(F.col("geom"), F.col("lgeom")).alias("gu"),
        st_boolean("difference")(F.col("geom"), F.col("lgeom")).alias("gd"),
        st_boolean("symdifference")(F.col("geom"),
                                    F.col("lgeom")).alias("gs"),
    )
    return out.select(
        "p_partkey",
        (F.round(st_area("gu"), 3) + F.lit(0.0)).alias("u_area"),
        (F.round(st_area("gd"), 3) + F.lit(0.0)).alias("d_area"),
        (F.round(st_area("gs"), 3) + F.lit(0.0)).alias("sd_area"),
    )


#: BM25 gate constants, shared verbatim by the Spark query and the SQL
#: oracle (repr-inlined there so both engines see identical doubles)
_BM25_TERMS = ["dup", "spark", "window"]
_BM25_K, _BM25_K1, _BM25_B = 20, 1.2, 0.75


def q_bm25(spark, sf_dir):
    """BM25 exact top-20 keyword retrieval over the documents corpus
    (operators/search.bm25_score_topk) — per-term tf as a narrow Catalyst
    projection, corpus stats (N/avgdl/df) as ONE global aggregate joined
    back as a 1-row broadcast, TakeOrderedAndProject top-k.  The gate
    compares the INTEGER columns (rank, n_matched, total_tf, dl); the
    float score only orders rows, and the ranking is ulp-proof on this
    corpus: measured min adjacent-score gap in the top 60 is 8.8e-05
    (~2e-5 relative, vs ~1e-16 ulp; pinned by a pytest), and the single
    exact tie (two structurally identical documents) resolves by doc_id
    identically in both engines."""
    from ndjson_spatial_spark.operators.search import bm25_score_topk

    d = _t(spark, sf_dir, "documents")
    out = bm25_score_topk(d, _BM25_TERMS, k=_BM25_K,
                          k1=_BM25_K1, b=_BM25_B)
    return out.select("doc_id", "rank", "n_matched", "total_tf", "dl")


def q_dup_spans(spark, sf_dir):
    """Exact duplicate-span detection (Lee et al. ACL'22 ExactSubstr
    criterion re-expressed relationally, operators/dedup.duplicate_spans):
    maximal token spans >= 8 tokens occurring >= 2 times in the corpus.
    One groupBy shuffle on the window key + per-doc lag-window interval
    merge; all-integer output (47 spans over the 47 planted duplicate
    documents at sf0.01 — plus any natural template repeats, which the
    oracle replays identically)."""
    from ndjson_spatial_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, min_tokens=8)


def _dbscan_points(spark, sf_dir):
    """Deterministic DBSCAN fixture from customer keys (integer coords,
    exact in f64): 5-point clumps with offsets {(0,0),(2,0),(0,2),
    (-2,-2),(4,4)} on a 100-unit center lattice, plus far-away singleton
    noise for keys k % 101 == 0 (their home clump then has 4 members, so
    with min_pts=5 it holds NO core points and is entirely noise —
    exercising every classification).  eps=6: within a complete clump the
    only non-neighbor pair is (-2,-2)<->(4,4) (d=8.49), so the center is
    a hub connecting all cores and (4,4) is a border point (4 neighbors
    < min_pts)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"))
    k = F.col("id")
    g = ((k - 1) / 5).cast("long")
    j = (k - 1) % 5
    dx = (F.when(j == 0, 0).when(j == 1, 2).when(j == 2, 0)
          .when(j == 3, -2).otherwise(4))
    dy = (F.when(j == 0, 0).when(j == 1, 0).when(j == 2, 2)
          .when(j == 3, -2).otherwise(4))
    is_single = (k % 101) == 0
    x = F.when(is_single, (k * 89 % 490) * 100 + 17) \
        .otherwise((g * 997 % 500) * 100 + dx)
    y = F.when(is_single, (k * 23 % 40) * 100 + 45000) \
        .otherwise((g * 1409 % 400) * 100 + dy)
    return c.select("id", x.cast("double").alias("x"),
                    y.cast("double").alias("y"))


def q_dbscan(spark, sf_dir):
    """Grid-partitioned DBSCAN (operators/cluster.dbscan) with the
    deterministic min-label border rule: eps-cell 3x3 replication into
    one equi-shuffle, partial-combined neighbor counts, core components
    via the large-star/small-star CC kernel.  The oracle brute-forces
    neighbor counts (self-join, d^2 <= 36 exact on integer coords) and
    labels each core/border with the min core id of its center-lattice
    group — valid because every group with a core contains a hub point
    within eps of all members (see _dbscan_points), so the group's cores
    form one density-connected cluster whose CC label is the group
    minimum."""
    from ndjson_spatial_spark.operators.cluster import dbscan

    pts = _dbscan_points(spark, sf_dir)
    out = dbscan(pts, eps=6.0, min_pts=5, id_col="id")
    return out.select("id", "x", "y", "is_core", "cluster")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: full spatial path (parse -> cell index ->
    candidates -> exact refine -> overlay area)."""
    return q_intersection_join(spark, "/root/testdata/sf0.001")




_SEMDEDUP_DIM = 16
_SEMDEDUP_K = 4


def _semdedup_protos():
    """Planted integer cluster prototypes: P[c][j] = ((c*3 + 5j) % 7) * 4.
    3c mod 7 is distinct for c in 0..3, so two prototypes differ at EVERY
    dimension by >= 4 (squared separation >= 16*16 = 256), while the gate's
    jitter keeps every vector within squared distance 144 of its own
    prototype — assignment to the planted cluster is guaranteed."""
    return [
        [((c * 3 + 5 * j) % 7) * 4 for j in range(_SEMDEDUP_DIM)]
        for c in range(_SEMDEDUP_K)
    ]


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023) in its EXACT regime
    (operators/similarity.semantic_dedup): integer planted-prototype
    vectors from supplier keys — cluster c = key % 4, one jittered
    dimension (key//4) % 16 offset by ((key//4) % 4) * 4 — with the
    duplicate test run in exact integer arithmetic (eps_ratio=(197,200):
    40000*dot^2 >= 38809*|u|^2*|v|^2, i.e. cosine >= 0.985 — splitting the
    planted within-cluster cosine range [0.955, 1.0] so the gate sees dup
    AND non-dup pairs), so the brute-force SQL oracle matches
    bit-for-bit: every arithmetic step on both sides is integer-exact in
    f64.  Gates assignment, within-cluster pairwise, keep-the-farthest
    precedence, and the anti-join end-to-end."""
    from ndjson_spatial_spark.operators.similarity import semantic_dedup

    sup = _t(spark, sf_dir, "supplier")
    i = F.col("s_suppkey")
    g = F.floor(i / 4).cast("long")
    vals = []
    for j in range(_SEMDEDUP_DIM):
        base = ((i % 4) * 3 + 5 * j) % 7 * 4
        jit = F.when(g % 16 == j, (g % 4) * 4).otherwise(F.lit(0))
        vals.append((base + jit).cast("double"))
    vecs = sup.select(i.alias("vec_id"), F.array(*vals).alias("embedding"))
    out = semantic_dedup(
        vecs, eps=0.9, dim=_SEMDEDUP_DIM,
        centroids=_semdedup_protos(), eps_ratio=(197, 200),
    )
    return out.select("vec_id", "cluster", "d2c")


def _semdedup_oracle_sql() -> str:
    """Generated brute-force SemDeDup replay: same key-derived vectors,
    argmin assignment over the planted prototypes, exact-integer duplicate
    test, farthest-from-centroid precedence."""
    dim, protos = _SEMDEDUP_DIM, _semdedup_protos()
    es = []
    for j in range(dim):
        base = f"((((s_suppkey % 4) * 3 + {5 * j}) % 7) * 4)"
        jit = (f"(CASE WHEN (s_suppkey // 4) % 16 = {j} "
               f"THEN ((s_suppkey // 4) % 4) * 4 ELSE 0 END)"
               )
        es.append(f"({base} + {jit})::BIGINT AS e{j}")
    d2 = [
        " + ".join(f"(e{j} - {p[j]}) * (e{j} - {p[j]})" for j in range(dim))
        for p in protos
    ]
    n2 = " + ".join(f"e{j} * e{j}" for j in range(dim))
    dot = " + ".join(f"x.e{j} * y.e{j}" for j in range(dim))
    assign = (
        "CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0 "
        "WHEN d1 <= d2 AND d1 <= d3 THEN 1 "
        "WHEN d2 <= d3 THEN 2 ELSE 3 END"
    )
    return f"""
        WITH v AS (
            SELECT s_suppkey AS vec_id, {", ".join(es)} FROM supplier
        ), d AS (
            SELECT *, ({d2[0]})::BIGINT AS d0, ({d2[1]})::BIGINT AS d1,
                   ({d2[2]})::BIGINT AS d2, ({d2[3]})::BIGINT AS d3,
                   ({n2})::BIGINT AS n2
            FROM v
        ), asg AS (
            SELECT *, {assign} AS cluster,
                   LEAST(d0, d1, d2, d3) AS d2c
            FROM d
        ), drops AS (
            SELECT DISTINCT y.vec_id
            FROM asg x JOIN asg y
              ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
            WHERE ({dot}) >= 0
              AND 40000 * ({dot}) * ({dot}) >= 38809 * x.n2 * y.n2
              AND (x.d2c > y.d2c
                   OR (x.d2c = y.d2c AND x.vec_id < y.vec_id))
        )
        SELECT vec_id, cluster, d2c::DOUBLE AS d2c
        FROM asg WHERE vec_id NOT IN (SELECT vec_id FROM drops)
    """


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-level exact line dedup, the RefinedWeb/MassiveText recipe
    (operators/dedup.dedup_paragraphs): documents are re-chunked into
    12-word lines by a pure projection (transform over sequence — no
    shuffle), then every line occurring anywhere earlier in the corpus
    (by (doc_id, position)) is dropped and the survivors reassembled in
    order.  String-exact end to end — no floats anywhere."""
    from ndjson_spatial_spark.operators.dedup import dedup_paragraphs

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), F.lit(" "), -1)
    nlines = F.ceil(F.size(ws) / F.lit(12)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda k: F.array_join(F.slice(ws, k * 12 + 1, 12), " "),
    )
    docs = d.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = dedup_paragraphs(docs, min_len=1)
    return out.select("doc_id", "text", "n_paras", "n_dropped")


_PARAGRAPH_DEDUP_ORACLE = """
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), w AS (
        SELECT doc_id, i AS wi, ws[i] AS word, (i - 1) // 12 AS line_no
        FROM base, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ), l AS (
        SELECT doc_id, line_no,
               string_agg(word, ' ' ORDER BY wi) AS para
        FROM w GROUP BY doc_id, line_no
    ), r AS (
        SELECT doc_id, line_no AS pos, para,
               ROW_NUMBER() OVER (PARTITION BY para
                                  ORDER BY doc_id, line_no) AS rn
        FROM l
    ), kept AS (
        SELECT * FROM r WHERE rn = 1 OR length(para) < 1
    ), agg AS (
        SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ), tot AS (
        SELECT doc_id, count(*) AS n_paras FROM l GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(a.text, '') AS text,
           t.n_paras::INT AS n_paras,
           (t.n_paras - coalesce(a.n_kept, 0))::INT AS n_dropped
    FROM tot t LEFT JOIN agg a USING (doc_id)
"""




def q_hybrid_rrf(spark, sf_dir):
    """Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    (operators/search.rrf_fuse; Cormack et al. SIGIR'09): BM25 top-20
    over documents (the gated bm25 subsystem verbatim) + exact cosine
    top-20 for one query embedding (vec_id 0; vec_id aligns with doc_id
    in the synthetic corpus), fused as Σ 1/(60+rank).  Both subsystem
    rankings are the already-gated exact orderings, and the fusion
    arithmetic (two correctly-rounded divisions + one commutative IEEE
    addition) is bit-deterministic — so the whole hybrid is exactly
    oracle-able, score column included."""
    from ndjson_spatial_spark.operators.search import bm25_score_topk, rrf_fuse
    from ndjson_spatial_spark.operators.similarity import cosine_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    lex = bm25_score_topk(d, _BM25_TERMS, k=_BM25_K,
                          k1=_BM25_K1, b=_BM25_B).select("doc_id", "rank")
    dense = cosine_topk(e, e.where(F.col("vec_id") == 0), k=20).select(
        F.col("vec_id").alias("doc_id"), "rank")
    out = rrf_fuse([lex, dense], id_col="doc_id", k=60, topk=15)
    return out.select("doc_id", "rrf_rank", "rrf_score",
                      "n_systems", "best_rank")


_HYBRID_RRF_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), feats AS (
        SELECT doc_id, len(t) AS dl,
               len(list_filter(t, x -> x = 'dup'))    AS tf0,
               len(list_filter(t, x -> x = 'spark'))  AS tf1,
               len(list_filter(t, x -> x = 'window')) AS tf2
        FROM toks
    ), stats AS (
        SELECT count(*) AS n_docs, sum(dl)::BIGINT AS sumdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        FROM feats
    ), scored AS (
        SELECT doc_id, tf0, tf1, tf2,
               0.0
               + ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                 * (tf0 * 2.2)
                 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n_docs)))
               + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                 * (tf1 * 2.2)
                 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n_docs)))
               + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                 * (tf2 * 2.2)
                 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n_docs)))
               AS score
        FROM feats CROSS JOIN stats
    ), lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scored WHERE tf0 + tf1 + tf2 > 0
        ORDER BY score DESC, doc_id LIMIT 20
    ), q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        FROM embeddings e CROSS JOIN q
    ), dense AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank
        FROM sims ORDER BY sim DESC, doc_id LIMIT 20
    ), u AS (
        SELECT doc_id, rank FROM lex
        UNION ALL
        SELECT doc_id, rank FROM dense
    ), f AS (
        SELECT doc_id, SUM(1.0 / (60 + rank)) AS rrf_score,
               COUNT(*)::INT AS n_systems, MIN(rank)::INT AS best_rank
        FROM u GROUP BY doc_id
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)::INT
               AS rrf_rank,
           rrf_score, n_systems, best_rank
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT 15
"""




def q_kmv(spark, sf_dir):
    """KMV distinct-count sketch (operators/sketch.kmv_distinct,
    Bar-Yossef et al. 2002 / Beyer et al. SIGMOD'07): estimate the
    number of distinct values of doc_id % 300 (true 300 at sf0.01) with
    a k=64 sketch.  The multiplicative hash, the k-smallest-distinct
    selection, and the single-division estimator are all exact integer
    (or one-IEEE-op) arithmetic — the SQL oracle replays them
    bit-for-bit, and the per-batch bounded-state prune provably cannot
    change the k global minima, so the result is partitioning-proof."""
    from ndjson_spatial_spark.operators.sketch import kmv_distinct

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 300).alias("v"))
    return kmv_distinct(d, "v", k=64)


_KMV_ORACLE = """
    WITH h AS (
        SELECT DISTINCT ((doc_id % 300) * 2654435761 + 104729)
                        % 4294967296 AS hv
        FROM documents
    ), mins AS (
        SELECT hv FROM h ORDER BY hv LIMIT 64
    ), agg AS (
        SELECT count(*)::INT AS n_kept, max(hv)::BIGINT AS kth_hash
        FROM mins
    )
    SELECT n_kept, kth_hash,
           CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                ELSE 63.0 * 4294967296.0 / (kth_hash + 1)::DOUBLE
           END AS estimate
    FROM agg
"""




def q_streaming_kmv(spark, sf_dir):
    """Streaming KMV cardinality sketch (round-5,
    streaming/stream.streaming_kmv_distinct): the documents stream's
    doc_id % 300 values flow through 4 hash-shard stateful groups
    (bounded state: k longs per shard), the final per-shard signatures
    are merged by the KMV semilattice union+re-prune
    (operators/sketch.kmv_merge_estimate) — provably equal to the batch
    sketch over the same values whatever the micro-batch boundaries, so
    the batch oracle gates the streaming path bit-for-bit."""
    import tempfile

    from pyspark.sql import Window

    from ndjson_spatial_spark.operators.sketch import kmv_merge_estimate
    from ndjson_spatial_spark.streaming.stream import streaming_kmv_distinct

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 300).alias("v"))
    src = tempfile.mkdtemp(prefix="streamkmv_src_")
    d.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(d.schema).parquet(src)
    out = streaming_kmv_distinct(sdf, "v", k=64, shards=4)
    qname = "stream_kmv_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    w = Window.partitionBy("shard").orderBy(F.desc("seq"))
    latest = (
        spark.table(qname).withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return kmv_merge_estimate(latest, k=64)




def q_subdivide(spark, sf_dir):
    """Grid subdivision (operators/spatial.subdivide_polygons — PostGIS
    ST_Subdivide's distributed-join role: hot/huge polygons split into
    cell-local parts).  Nation L-shapes cut by the 3000-unit grid; the
    L is the disjoint union of two axis rects sharing an edge AND is
    orthogonally convex, so every cell part is connected, its area is
    the closed-form sum of two rect-overlap products, and all arithmetic
    is integer-exact in f64 on both engines."""
    from ndjson_spatial_spark.operators.spatial import subdivide_polygons

    nl = _nation_ls(spark, sf_dir)
    parts = subdivide_polygons(nl, cell=3000.0)
    return parts.select(
        "n_nationkey", "cell_x", "cell_y",
        st_area("geom").alias("area"),
    )


_SUBDIVIDE_ORACLE = """
    WITH nl AS (
        SELECT n_nationkey,
               (n_nationkey * 1543 % 40000)::BIGINT AS x0,
               (n_nationkey * 2719 % 40000)::BIGINT AS y0
        FROM nation
    ), cells AS (
        SELECT n_nationkey, x0, y0, cx.i AS cell_x, cy.j AS cell_y
        FROM nl,
             LATERAL (SELECT unnest(generate_series(x0 // 3000,
                                    (x0 + 6000) // 3000)) AS i) cx,
             LATERAL (SELECT unnest(generate_series(y0 // 3000,
                                    (y0 + 6000) // 3000)) AS j) cy
    ), a AS (
        SELECT n_nationkey, cell_x, cell_y,
               GREATEST(0, LEAST(x0 + 6000, cell_x * 3000 + 3000)
                           - GREATEST(x0, cell_x * 3000))
               * GREATEST(0, LEAST(y0 + 3000, cell_y * 3000 + 3000)
                             - GREATEST(y0, cell_y * 3000))
               + GREATEST(0, LEAST(x0 + 3000, cell_x * 3000 + 3000)
                             - GREATEST(x0, cell_x * 3000))
               * GREATEST(0, LEAST(y0 + 6000, cell_y * 3000 + 3000)
                             - GREATEST(y0 + 3000, cell_y * 3000)) AS area
        FROM cells
    )
    SELECT n_nationkey, cell_x, cell_y, area::DOUBLE AS area
    FROM a WHERE area > 0
"""




def q_merge_upsert(spark, sf_dir):
    """Copy-on-write MERGE INTO on the catalog layer
    (sources/table.TableCatalog.merge_into): the documents table staged
    as a range-clustered 8-file catalog table with doc_id manifest
    stats, then an upsert of 50 modified rows (doc_id 100-149, text
    prefixed + n_chars doubled) and 20 inserts (doc_id 1000-1019) —
    only the manifest-overlapping files are rewritten, the rest carry
    over by reference.  The read-back equals the SQL anti-join + union
    replay row-for-row (strings/ints exact)."""
    import tempfile

    from ndjson_spatial_spark.sources.table import TableCatalog

    d = _t(spark, sf_dir, "documents")
    cat = TableCatalog(spark, tempfile.mkdtemp(prefix="mergewh_"))
    cat.write("g.docs", d.repartitionByRange(8, "doc_id")
              .sortWithinPartitions("doc_id"), stats_cols=["doc_id"])
    updates = d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)) \
        .select("doc_id", F.concat(F.lit("u:"), F.col("text")).alias("text"),
                "lang", "source",
                (F.col("n_chars") * 2).alias("n_chars"))
    inserts = d.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("new:"), F.col("text")).alias("text"),
        "lang", "source", "n_chars")
    cat.merge_into("g.docs", updates.unionByName(inserts), key="doc_id")
    return cat.read("g.docs").select(
        "doc_id", "text", "lang", "source", "n_chars")


_MERGE_ORACLE = """
    WITH upd AS (
        SELECT doc_id, 'u:' || text AS text, lang, source,
               n_chars * 2 AS n_chars
        FROM documents WHERE doc_id >= 100 AND doc_id < 150
        UNION ALL
        SELECT doc_id + 1000, 'new:' || text, lang, source, n_chars
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM upd)
    UNION ALL
    SELECT doc_id, text, lang, source, n_chars FROM upd
"""




def q_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means (operators/cluster.kmeans_lloyd): two
    full iterations over the semdedup planted-prototype vectors from a
    deliberately PERTURBED init (prototype + 5 at dimension 0), so both
    the assignment and the centroid-recompute stages do real work.  On
    integer vectors every per-(cluster, dim) sum is exact in f64
    (order-proof), the mean is one correctly-rounded division, and both
    engines evaluate the identical left-associated d2 expression — the
    SQL oracle replays the full 2-iteration trajectory bit-for-bit."""
    from ndjson_spatial_spark.operators.cluster import kmeans_lloyd

    sup = _t(spark, sf_dir, "supplier")
    i = F.col("s_suppkey")
    g = F.floor(i / 4).cast("long")
    vals = []
    for j in range(_SEMDEDUP_DIM):
        base = ((i % 4) * 3 + 5 * j) % 7 * 4
        jit = F.when(g % 16 == j, (g % 4) * 4).otherwise(F.lit(0))
        vals.append((base + jit).cast("double"))
    vecs = sup.select(i.alias("vec_id"), F.array(*vals).alias("embedding"))
    init = [[float(v + (5 if j == 0 else 0)) for j, v in enumerate(p)]
            for p in _semdedup_protos()]
    out, _ = kmeans_lloyd(vecs, dim=_SEMDEDUP_DIM, init_centroids=init,
                          iters=2)
    return out.select("vec_id", "cluster", "d2")


def _kmeans_oracle_sql() -> str:
    """Generated 2-iteration Lloyd replay: assignment vs init literals,
    conditional-aggregation means (one stats row of k x dim columns),
    assignment vs the means.  All arithmetic mirrors the engine's
    left-associated expression order."""
    dim, protos = _SEMDEDUP_DIM, _semdedup_protos()
    init = [[v + (5 if j == 0 else 0) for j, v in enumerate(p)]
            for p in protos]
    es = []
    for j in range(dim):
        base = f"((((s_suppkey % 4) * 3 + {5 * j}) % 7) * 4)"
        jit = (f"(CASE WHEN (s_suppkey // 4) % 16 = {j} "
               f"THEN ((s_suppkey // 4) % 4) * 4 ELSE 0 END)")
        es.append(f"({base} + {jit})::DOUBLE AS e{j}")

    def d2_expr(center_exprs):
        return [
            " + ".join(f"(e{j} - {c[j]}) * (e{j} - {c[j]})"
                       for j in range(dim))
            for c in center_exprs
        ]

    d2a = d2_expr([[repr(float(v)) for v in c] for c in init])
    assign = ("CASE WHEN d0 <= d1 AND d0 <= d2_ AND d0 <= d3 THEN 0 "
              "WHEN d1 <= d2_ AND d1 <= d3 THEN 1 "
              "WHEN d2_ <= d3 THEN 2 ELSE 3 END")
    means = ", ".join(
        f"SUM(CASE WHEN c1 = {c} THEN e{j} END)"
        f" / COUNT(CASE WHEN c1 = {c} THEN 1 END) AS m{c}_{j}"
        for c in range(4) for j in range(dim))
    d2b = d2_expr([[f"m{c}_{j}" for j in range(dim)] for c in range(4)])
    return f"""
        WITH v AS (
            SELECT s_suppkey AS vec_id, {", ".join(es)} FROM supplier
        ), a1 AS (
            SELECT *, ({d2a[0]}) AS d0, ({d2a[1]}) AS d1,
                   ({d2a[2]}) AS d2_, ({d2a[3]}) AS d3
            FROM v
        ), asg1 AS (
            SELECT *, {assign} AS c1 FROM a1
        ), m AS (
            SELECT {means} FROM asg1
        ), a2 AS (
            SELECT vec_id, {", ".join(f"e{j}" for j in range(dim))},
                   ({d2b[0]}) AS d0, ({d2b[1]}) AS d1,
                   ({d2b[2]}) AS d2_, ({d2b[3]}) AS d3
            FROM asg1 CROSS JOIN m
        )
        SELECT vec_id, {assign} AS cluster,
               LEAST(d0, d1, d2_, d3) AS d2
        FROM a2
    """




def q_streaming_heavy(spark, sf_dir):
    """Streaming Misra-Gries heavy hitters in the EXACT regime
    (streaming/stream.streaming_heavy_hitters, capacity 64 >= the 50
    distinct values per shard, so the MG reduction never fires and the
    bounded-state counters ARE the exact per-value counts — batch-split
    and order proof).  Values = doc_id % 50 over the documents stream,
    2 value-shards; oracle = plain GROUP BY count."""
    import tempfile

    from pyspark.sql import Window

    from ndjson_spatial_spark.streaming.stream import (
        heavy_hitters_merge, streaming_heavy_hitters)

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("v"))
    src = tempfile.mkdtemp(prefix="streamhh_src_")
    d.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(d.schema).parquet(src)
    out = streaming_heavy_hitters(sdf, "v", capacity=64, shards=2)
    qname = "stream_hh_out"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    w = Window.partitionBy("shard").orderBy(F.desc("seq"))
    latest = (
        spark.table(qname).withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return heavy_hitters_merge(latest)


_STREAMING_HEAVY_ORACLE = """
    SELECT (doc_id % 50)::BIGINT AS value, count(*) AS cnt
    FROM documents GROUP BY 1
"""




def q_trajectory(spark, sf_dir):
    """Trajectory assembly (operators/spatial.make_trajectories — the
    ST_MakeLine(pt ORDER BY ts) staple): event points derived from
    event_id keys, assembled per user in (ts, x, y) order.  Metrics are
    engine-proof by construction: sum_d2 folds integer squared segment
    lengths (no sqrt), duration_us is long microsecond arithmetic (a
    seconds double would round differently depending on divide-before-
    or-after-subtract)."""
    from ndjson_spatial_spark.operators.spatial import make_trajectories

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts",
        (F.col("event_id") * 7919 % 50000).cast("long").alias("x"),
        (F.col("event_id") * 104729 % 50000).cast("long").alias("y"),
    )
    out = make_trajectories(ev)
    return out.select("user_id", "n_points", "sum_d2", "duration_us")


_TRAJECTORY_ORACLE = """
    WITH p AS (
        SELECT user_id, ts,
               (event_id * 7919 % 50000)::BIGINT AS x,
               (event_id * 104729 % 50000)::BIGINT AS y
        FROM events
    ), o AS (
        SELECT user_id, x, y,
               LAG(x) OVER w AS px, LAG(y) OVER w AS py
        FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, x, y)
    ), d AS (
        SELECT user_id,
               SUM(CASE WHEN px IS NULL THEN 0
                        ELSE (x - px) * (x - px) END)::DOUBLE
               + SUM(CASE WHEN px IS NULL THEN 0
                          ELSE (y - py) * (y - py) END)::DOUBLE AS sum_d2
        FROM o GROUP BY user_id
    ), m AS (
        SELECT user_id, count(*)::INT AS n_points,
               (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT
                   AS duration_us
        FROM p GROUP BY user_id
    )
    SELECT m.user_id, m.n_points, d.sum_d2, m.duration_us
    FROM m JOIN d USING (user_id)
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered for the driver's 50-entry correctness window (round-6,
    # VERDICT r5 item 2): (1) gates whose IMPLEMENTATION changed this
    # optimization round — duplicate contraction (dbscan, dup_spans),
    # the CC kernel (minhash_dedup, cc_dedup), the spatial join split +
    # checkpoint + staged Catalyst terms (all cover/contains/knn gates),
    # sampling/fingerprint batching, bm25 single-scan, the advisor fixes
    # (semdedup, kmv, subdivide) — plus the standing `profile` red (its
    # fix needs an oracle-SQL change, frozen this round; kept in the
    # window rather than rotated out of sight); (2) the least-recently-
    # driver-checked tranche (r3-era: minhash_pairs .. agg_max, asof,
    # interval).  Everything else rotates to positions 51+ (all green in
    # r4/r5 driver rounds and locally via scripts/check_oracles.py).
    return {
        # -- (1) implementation changed in round 6 --
        "dbscan": q_dbscan,
        "dup_spans": q_dup_spans,
        "paragraph_dedup": q_paragraph_dedup,
        "minhash_dedup": q_minhash_dedup,
        "cc_dedup": q_cc_dedup,
        "semdedup": q_semdedup,
        "kmv": q_kmv,
        "streaming_kmv": q_streaming_kmv,
        "subdivide": q_subdivide,
        "bm25": q_bm25,
        "fingerprint": q_fingerprint,
        "stratified": q_stratified,
        "hash_sample": q_hash_sample,
        "mixture": q_mixture,
        "profile": q_profile,
        "concave_clip": q_concave_clip,
        "gc_clip": q_gc_clip,
        "intersection_join": q_intersection_join,
        "line_clip": q_line_clip,
        "join_contains": q_join_contains,
        "join_contains_rects": q_join_contains_rects,
        "tiles": q_tiles,
        "cell_index": q_cell_index,
        "cell_cover": q_cell_cover,
        "knn_topk": q_knn_topk,
        "nearest_distance": q_nearest_distance,
        "dwithin": q_dwithin,
        # -- (2) least-recently-driver-checked rotation --
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "cosine_pairs": q_cosine_pairs,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "token_count": q_token_count,
        "topk_window": q_topk_window,
        "bpe_token_count": q_bpe_token_count,
        "events_agg": q_events_agg,
        "pipeline": q_pipeline,
        "agg_conditional": q_agg_conditional,
        "from_csv": q_from_csv,
        "from_json": q_from_json,
        "filter": q_filter,
        "pick_field": q_pick_field,
        "agg_sum": q_agg_sum,
        "agg_count": q_agg_count,
        "agg_min": q_agg_min,
        "agg_max": q_agg_max,
        "asof": q_asof,
        "interval": q_interval_join,
        # -- rotated out (driver-green r4/r5; check_oracles-green now) --
        "hybrid_rrf": q_hybrid_rrf,
        "merge_upsert": q_merge_upsert,
        "kmeans": q_kmeans,
        "streaming_heavy": q_streaming_heavy,
        "trajectory": q_trajectory,
        "transform_datum": q_transform_datum,
        "buffer_line": q_buffer_line,
        "streaming_join_outer": q_streaming_join_outer,
        "boolean_clip": q_boolean_clip,
        "c4_pipeline": q_c4_pipeline,
        "buffer_poly": q_buffer_poly,
        "zonal_stats": q_zonal_stats,
        "focal_stats": q_focal_stats,
        "resample": q_resample,
        "local_algebra": q_local_algebra,
        "slope": q_slope,
        "union_agg": q_union_agg,
        "hexbin": q_hexbin,
        "ivfpq": q_ivfpq,
        "quantize": q_quantize,
        "area": q_area,
        "area_holes": q_area_holes,
        "centroid": q_centroid,
        "bbox": q_bbox,
        "collection_bbox": q_collection_bbox,
        "transform": q_transform,
        "transform_utm": q_transform_utm,
        "sort": q_sort,
        "join": q_join,
        "dedup_exact": q_dedup_exact,
        "streaming_spatial": q_streaming_spatial,
        "documents_pipeline": q_documents_pipeline,
        "documents_pipeline_fast": q_documents_pipeline_fast,
        "flagship_keyed": q_flagship_keyed,
        "media_features": q_media_features,
        "media_ppm": q_media_ppm,
        "streaming_dedup": q_streaming_dedup,
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_join": q_streaming_join,
        "streaming_chunk": q_streaming_chunk,
        "streaming_window": q_streaming_window,
        "sort_cross_type": q_sort_cross_type,
        "transform_lcc": q_transform_lcc,
        "transform_aea": q_transform_aea,
        "transform_ps": q_transform_ps,
        "from_wkt": q_from_wkt,
        "length": q_length,
        "convexhull": q_convexhull,
        "simplify": q_simplify,
        "perimeter": q_perimeter,
        "haversine": q_haversine,
        "line_interpolate": q_line_interpolate,
        "extent": q_extent,
        "top_ngrams": q_top_ngrams,
        "contamination": q_contamination,
        "chunk": q_chunk,
        "pii_scrub": q_pii_scrub,
        "pack": q_pack,
        "unigram_score": q_unigram_score,
        "normalize": q_normalize,
        "clean_lines": q_clean_lines,
        "containment": q_containment,
        "dedup_best": q_dedup_best,
        "buffer": q_buffer,
        "rasterize": q_rasterize,
        "sessionize": q_sessionize,
        "quality_signals": q_quality_signals,
        "geohash": q_geohash,
        "geohash_decode": q_geohash_decode,
    }


def _lcc_oracle_sql() -> str:
    """EPSG:4326 -> LCC-2SP (lat_1=33, lat_2=45, lat_0=39, lon_0=-96)
    forward formulas (EPSG Guidance Note 7-2) as DuckDB SQL; projection
    constants inlined from kernels/crs.py so both implementations share the
    exact same doubles and only the per-row math is re-derived."""
    import numpy as np

    from ndjson_spatial_spark.kernels import crs as KCRS

    n_, aF, rho0 = KCRS.lcc_constants(33.0, 45.0, 39.0)
    e = repr(float(KCRS._e))
    eh = repr(float(KCRS._e) / 2.0)
    pi4 = repr(float(np.pi / 4.0))
    return f"""
        WITH pt AS (
            SELECT n_nationkey,
                   ((n_nationkey * 7 % 41) - 116)::DOUBLE AS lon,
                   (22 + (n_nationkey * 11 % 31))::DOUBLE AS lat
            FROM nation
        ), s1 AS (
            SELECT n_nationkey, lon, radians(lat) AS phi FROM pt
        ), s2 AS (
            SELECT n_nationkey, lon,
                   tan({pi4} - phi / 2.0)
                   / pow((1.0 - {e} * sin(phi)) / (1.0 + {e} * sin(phi)),
                         {eh}) AS t
            FROM s1
        ), s3 AS (
            SELECT n_nationkey,
                   {aF!r} * pow(t, {n_!r}) AS rho,
                   {n_!r} * radians(lon + 96.0) AS th
            FROM s2
        )
        SELECT n_nationkey,
               ROUND(rho * sin(th), 3) + 0.0 AS easting,
               ROUND({rho0!r} - rho * cos(th), 3) + 0.0 AS northing
        FROM s3
    """


def _aea_oracle_sql() -> str:
    """EPSG:4326 -> EPSG:5070 (Conus Albers, GRS80) forward formulas
    (Snyder PP 1395 / EPSG method 9822) as DuckDB SQL; the projection
    constants (n, C, rho0) and eccentricity are inlined from
    kernels/crs.py so both implementations share the exact same doubles
    and only the per-row math is re-derived."""
    from ndjson_spatial_spark.kernels import crs as KCRS

    n_, C, rho0 = KCRS.aea_constants(29.5, 45.5, 23.0, "GRS80")
    a, _, e, _, _, _, _ = KCRS.ellipsoid("GRS80")
    one_m_e2 = repr(1.0 - e * e)
    inv2e = repr(1.0 / (2.0 * e))
    return f"""
        WITH pt AS (
            SELECT n_nationkey,
                   ((n_nationkey * 7 % 41) - 116)::DOUBLE AS lon,
                   (22 + (n_nationkey * 11 % 31))::DOUBLE AS lat
            FROM nation
        ), s1 AS (
            SELECT n_nationkey, lon, sin(radians(lat)) AS s FROM pt
        ), s2 AS (
            SELECT n_nationkey, lon,
                   {one_m_e2} * (
                       s / (1.0 - ({e!r} * s) * ({e!r} * s))
                       - {inv2e} * ln((1.0 - {e!r} * s)
                                      / (1.0 + {e!r} * s))
                   ) AS q
            FROM s1
        ), s3 AS (
            SELECT n_nationkey,
                   {a!r} * sqrt({C!r} - {n_!r} * q) / {n_!r} AS rho,
                   {n_!r} * radians(lon + 96.0) AS th
            FROM s2
        )
        SELECT n_nationkey,
               ROUND(rho * sin(th), 3) + 0.0 AS easting,
               ROUND({rho0!r} - rho * cos(th), 3) + 0.0 AS northing
        FROM s3
    """


def _ps_oracle_sql() -> str:
    """EPSG:4326 -> EPSG:3031 (Antarctic Polar Stereographic variant B,
    south aspect) forward formulas (EPSG Guidance Note 7-2 method 9829) as
    DuckDB SQL; the derived scale constant k0(lat_ts=-71) and the
    (1±e)-exponent normalizer are inlined from kernels/crs.py so only the
    per-row math is re-derived."""
    import numpy as np

    from ndjson_spatial_spark.kernels import crs as KCRS

    a, _, e, _, _, _, _ = KCRS.ellipsoid("WGS84")
    k = KCRS._ps_k0(-71.0, 0.994, e)
    C = float(np.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e)))
    RK = repr(float((2.0 * a) * k))
    eh = repr(float(e) / 2.0)
    pi4 = repr(float(np.pi / 4.0))
    return f"""
        WITH pt AS (
            SELECT n_nationkey,
                   ((n_nationkey * 7 % 360) - 180)::DOUBLE AS lon,
                   (-(60 + (n_nationkey * 11 % 26)))::DOUBLE AS lat
            FROM nation
        ), s1 AS (
            SELECT n_nationkey, lon, radians(-lat) AS phi FROM pt
        ), s2 AS (
            SELECT n_nationkey, lon,
                   tan({pi4} - phi / 2.0)
                   / pow((1.0 - {e!r} * sin(phi)) / (1.0 + {e!r} * sin(phi)),
                         {eh}) AS t
            FROM s1
        ), s3 AS (
            SELECT n_nationkey,
                   {RK} * t / {C!r} AS rho,
                   radians(lon) AS lam
            FROM s2
        )
        SELECT n_nationkey,
               ROUND(rho * sin(lam), 3) + 0.0 AS easting,
               ROUND(rho * cos(lam), 3) + 0.0 AS northing
        FROM s3
    """


def _datum_oracle_sql() -> str:
    """EPSG:4277 (OSGB36 geographic, Airy 1830) -> EPSG:4326 re-derived
    in DuckDB SQL: geodetic->geocentric (EPSG GN 7-2 §4.1.1, h=0),
    position-vector 7-param Helmert (method 9606, EPSG tfm 1314 params),
    Bowring (1976) closed-form geocentric->geodetic.  Every DERIVED
    constant (eccentricities, rotation radians, scale) is repr()-inlined
    from kernels/crs.py with the kernel's own arithmetic, and the SQL
    mirrors the kernel's op order exactly, so the doubles agree to the
    last bit and ROUND(., 9) is tie-free in practice."""
    from ndjson_spatial_spark.kernels import crs as KCRS
    from ndjson_spatial_spark.kernels.epsg import _OSGB36

    d2r = repr(float(__import__("numpy").radians(1.0)))
    r2d = repr(float(__import__("numpy").degrees(1.0)))
    # source ellipsoid (Airy 1830)
    a_s, f_s, e_s, _, _, _, _ = KCRS.ellipsoid("airy")
    e2_s = repr(float(e_s) * float(e_s))
    one_m_e2_s = repr(1.0 - float(e_s) * float(e_s))
    a_s = repr(float(a_s))
    # Helmert params exactly as helmert_geocentric derives them
    tx, ty, tz, rx, ry, rz, ds = (float(v) for v in _OSGB36)
    import numpy as _np

    sec = float(_np.pi) / (180.0 * 3600.0)
    rx, ry, rz = repr(rx * sec), repr(ry * sec), repr(rz * sec)
    m = repr(1.0 + ds * 1e-6)
    tx, ty, tz = repr(tx), repr(ty), repr(tz)
    # target ellipsoid (WGS84) Bowring constants, kernel op order
    a_t, f_t, e_t, _, _, _, _ = KCRS.ellipsoid("WGS84")
    b_t = float(a_t) * (1.0 - float(f_t))
    e2_t = float(e_t) * float(e_t)
    ep2_t = e2_t / (1.0 - e2_t)
    k_num = repr(ep2_t * b_t)   # ep2*b  (st^3 numerator coefficient)
    k_den = repr(e2_t * float(a_t))  # e2*a (ct^3 denominator coefficient)
    a_t, b_t = repr(float(a_t)), repr(b_t)
    return f"""
        WITH pt AS (
            SELECT n_nationkey,
                   ((n_nationkey * 7 % 8) - 6)::DOUBLE AS lon,
                   (50 + (n_nationkey * 3 % 9))::DOUBLE AS lat
            FROM nation
        ), geoc AS (
            SELECT n_nationkey,
                   ({a_s} / sqrt(1.0 - {e2_s} * sin(lat * {d2r})
                                          * sin(lat * {d2r})))
                       * cos(lat * {d2r}) * cos(lon * {d2r}) AS x,
                   ({a_s} / sqrt(1.0 - {e2_s} * sin(lat * {d2r})
                                          * sin(lat * {d2r})))
                       * cos(lat * {d2r}) * sin(lon * {d2r}) AS y,
                   ({a_s} / sqrt(1.0 - {e2_s} * sin(lat * {d2r})
                                          * sin(lat * {d2r})))
                       * {one_m_e2_s} * sin(lat * {d2r}) AS z
            FROM pt
        ), helm AS (
            SELECT n_nationkey,
                   {tx} + {m} * (x - {rz} * y + {ry} * z) AS x,
                   {ty} + {m} * ({rz} * x + y - {rx} * z) AS y,
                   {tz} + {m} * (-({ry} * x) + {rx} * y + z) AS z
            FROM geoc
        ), bow AS (
            SELECT n_nationkey, x, y, z,
                   sqrt(x * x + y * y) AS p,
                   sin(atan2(z * {a_t}, sqrt(x * x + y * y) * {b_t})) AS st,
                   cos(atan2(z * {a_t}, sqrt(x * x + y * y) * {b_t})) AS ct
            FROM helm
        )
        SELECT n_nationkey,
               ROUND(atan2(y, x) * {r2d}, 9) + 0.0 AS lon_wgs,
               ROUND(atan2(z + {k_num} * st * st * st,
                           p - {k_den} * ct * ct * ct) * {r2d}, 9) + 0.0
                   AS lat_wgs
        FROM bow
    """


def _utm33_oracle_sql() -> str:
    """EPSG:4326 -> 32633 forward Karney series as DuckDB SQL, constants
    inlined from kernels/crs.py (hyperbolics expanded via exp/ln since
    DuckDB 1.0 lacks sinh/cosh/atanh/asinh)."""
    from ndjson_spatial_spark.kernels import crs as KCRS

    e = repr(float(KCRS._e))
    k0A = repr(0.9996 * float(KCRS._A))
    xi_terms, eta_terms = [], []
    for j, a in enumerate(KCRS._ALPHA, start=1):
        aj, tj = repr(float(a)), repr(2.0 * j)
        xi_terms.append(
            f"({aj} * sin({tj}*xip))"
            f" * ((exp({tj}*etap) + exp(-{tj}*etap)) / 2.0)"
        )
        eta_terms.append(
            f"({aj} * cos({tj}*xip))"
            f" * ((exp({tj}*etap) - exp(-{tj}*etap)) / 2.0)"
        )
    sum_xi = " + ".join(xi_terms)
    sum_eta = " + ".join(eta_terms)
    return f"""
        WITH pt AS (
            SELECT n_nationkey,
                   radians((9 + (n_nationkey % 13))::DOUBLE - 15.0) AS lam,
                   sin(radians((n_nationkey * 5 - 60)::DOUBLE)) AS s
            FROM nation
        ), t1 AS (
            SELECT n_nationkey, lam,
                   0.5*ln((1.0+s)/(1.0-s))
                   - {e} * 0.5*ln((1.0+{e}*s)/(1.0-{e}*s)) AS u
            FROM pt
        ), t2 AS (
            SELECT n_nationkey, lam, (exp(u) - exp(-u)) / 2.0 AS t FROM t1
        ), t3 AS (
            SELECT n_nationkey,
                   atan2(t, cos(lam)) AS xip,
                   sin(lam) / sqrt(t*t + cos(lam)*cos(lam)) AS qq
            FROM t2
        ), t4 AS (
            SELECT n_nationkey, xip,
                   ln(qq + sqrt(qq*qq + 1.0)) AS etap
            FROM t3
        )
        SELECT n_nationkey,
               ROUND(500000.0 + {k0A} * (etap + {sum_eta}), 3) + 0.0
                   AS easting,
               ROUND({k0A} * (xip + {sum_xi}), 3) + 0.0 AS northing
        FROM t4
    """


_MINHASH_BRUTE_CTE = r"""
    WITH RECURSIVE pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 3, 2))) AS i
        FROM documents
    ), g AS (
        SELECT DISTINCT doc_id, substr(text, i::INT, 5) AS gram FROM pos
    ), sz AS (
        SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS m
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        WHERE m::DOUBLE / (sa.n + sb.n - m) >= 0.5
    )
"""


def _morton_spread_ctes(key: str, src: str) -> tuple[str, str]:
    """CTE chain spreading tx/ty of `src` (one 5-step interleave stage per
    CTE); returns (cte_sql, final_cte_name).  Shared by the cell-index and
    cell-cover oracles."""
    steps = [(16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
             (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
             (1, 0x5555555555555555)]
    ctes = [f"""s0 AS (
        SELECT {key}, tx & 4294967295 AS ax, ty & 4294967295 AS ay
        FROM {src})"""]
    for n, (sh, mask) in enumerate(steps, start=1):
        ctes.append(f"""s{n} AS (
        SELECT {key},
               (ax | (ax << {sh})) & {mask} AS ax,
               (ay | (ay << {sh})) & {mask} AS ay
        FROM s{n - 1})""")
    return ", ".join(ctes), f"s{len(steps)}"


def _geohash_oracle_sql(precision: int = 9) -> str:
    """Geohash in pure SQL: identical floor-index doubles, the shared
    5-step spread CTE chain, then base32 digits via substr."""
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    spread, last = _morton_spread_ctes("c_custkey", "t")
    if bits % 2 == 0:
        v = "(ax << 1) | ay"
    else:
        v = "ax | (ay << 1)"
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{alphabet}', "
        f"((((v >> {5 * (precision - 1 - k)}) & 31) + 1))::INT, 1)"
        for k in range(precision)
    )
    return f"""
        WITH p AS (
            SELECT c_custkey,
                   ((c_custkey * 7 % 3600)::DOUBLE / 10.0) - 180.0 AS lon,
                   ((c_custkey * 11 % 1700)::DOUBLE / 10.0) - 85.0 AS lat
            FROM customer
        ), t AS (
            SELECT c_custkey,
                   GREATEST(0, LEAST({(1 << n_lon) - 1},
                       floor(((lon + 180.0) / 360.0)
                             * {repr(float(1 << n_lon))})::BIGINT)) AS tx,
                   GREATEST(0, LEAST({(1 << n_lat) - 1},
                       floor(((lat + 90.0) / 180.0)
                             * {repr(float(1 << n_lat))})::BIGINT)) AS ty
            FROM p
        ), {spread}, vv AS (
            SELECT c_custkey, {v} AS v FROM {last}
        )
        SELECT c_custkey, {chars} AS gh FROM vv
    """


def _geohash_decode_oracle_sql(precision: int = 9) -> str:
    """decode_geohash's bbox WITHOUT strings: the oracle re-derives the
    floor indices numerically (identical doubles to the encode oracle)
    and applies the decoder's closed-form cell edges — so Spark's
    string -> un-interleave -> bbox path is checked against an
    independent numeric derivation."""
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    return f"""
        WITH p AS (
            SELECT c_custkey,
                   ((c_custkey * 7 % 3600)::DOUBLE / 10.0) - 180.0 AS lon,
                   ((c_custkey * 11 % 1700)::DOUBLE / 10.0) - 85.0 AS lat
            FROM customer
        ), t AS (
            SELECT c_custkey,
                   GREATEST(0, LEAST({(1 << n_lon) - 1},
                       floor(((lon + 180.0) / 360.0)
                             * {repr(float(1 << n_lon))})::BIGINT)) AS tx,
                   GREATEST(0, LEAST({(1 << n_lat) - 1},
                       floor(((lat + 90.0) / 180.0)
                             * {repr(float(1 << n_lat))})::BIGINT)) AS ty
            FROM p
        )
        SELECT c_custkey,
               (tx::DOUBLE / {repr(float(1 << n_lon))}) * 360.0 - 180.0
                   AS lon_min,
               (ty::DOUBLE / {repr(float(1 << n_lat))}) * 180.0 - 90.0
                   AS lat_min,
               ((tx + 1)::DOUBLE / {repr(float(1 << n_lon))}) * 360.0
                   - 180.0 AS lon_max,
               ((ty + 1)::DOUBLE / {repr(float(1 << n_lat))}) * 180.0
                   - 90.0 AS lat_max
        FROM t
    """


def _cell_index_oracle_sql(res: int = 12) -> str:
    """Morton quadkey cell id in pure SQL: identical double arithmetic
    (mercator -> unit square -> floor at 2^res) then the standard 5-step
    bit-spread interleave, one CTE per step."""
    MM = repr(MERC_MAX)
    MM2 = repr(2.0 * MERC_MAX)
    scale = repr(float(1 << res))
    spread, last = _morton_spread_ctes("c_custkey", "t")
    return f"""
        WITH p AS (
            SELECT c_custkey,
                   ((c_custkey * 7919 % 40000) - 20000)::DOUBLE * 800.0 AS x,
                   ((c_custkey * 104729 % 40000) - 20000)::DOUBLE * 800.0 AS y
            FROM customer
        ), t AS (
            SELECT c_custkey,
                   floor(((x + {MM}) / {MM2}) * {scale})::BIGINT AS tx,
                   floor((({MM} - y) / {MM2}) * {scale})::BIGINT AS ty
            FROM p
        ), {spread}
        SELECT c_custkey,
               ({res}::BIGINT << 58) | ax | (ay << 1) AS cell
        FROM {last}
    """


def _cell_cover_oracle_sql(res: int = 12) -> str:
    """Bbox covering cells in pure SQL: corner tiles by the same floor
    arithmetic, the tile grid enumerated by two lateral ranges, Morton via
    the shared spread chain."""
    MM = repr(MERC_MAX)
    MM2 = repr(2.0 * MERC_MAX)
    scale = repr(float(1 << res))
    spread, last = _morton_spread_ctes("s_suppkey", "grid")
    return f"""
        WITH r AS (
            SELECT s_suppkey, x0, y0, x0 + w AS x1, y0 + h AS y1
            FROM ({_SUPPLIER_RECT_SQL})
        ), corners AS (
            SELECT s_suppkey,
                   floor(((x0 + {MM}) / {MM2}) * {scale})::BIGINT AS tx0,
                   floor(((x1 + {MM}) / {MM2}) * {scale})::BIGINT AS tx1,
                   floor((({MM} - y1) / {MM2}) * {scale})::BIGINT AS ty0,
                   floor((({MM} - y0) / {MM2}) * {scale})::BIGINT AS ty1
            FROM r
        ), grid AS (
            SELECT s_suppkey, tx0 + gx.g AS tx, ty0 + gy.g AS ty
            FROM corners,
                 unnest(range(0, tx1 - tx0 + 1)) AS gx(g),
                 unnest(range(0, ty1 - ty0 + 1)) AS gy(g)
        ), {spread}
        SELECT s_suppkey,
               ({res}::BIGINT << 58) | ax | (ay << 1) AS cell
        FROM {last}
    """


def _synth_geoms_py(n_docs: int, seed: int = 42, geometry_frac: float = 0.3,
                    hot_clusters: int = 3, hot_frac: float = 0.25):
    """Independent pure-Python re-derivation of the synthetic corpus'
    geometry spans (sources/documents.py computes the same splitmix64
    chains vectorized in numpy — same published algorithm, separate
    implementation, bit-identical IEEE arithmetic).  Returns
    (doc_id, is_point, minx, miny, maxx, maxy) per geometry doc."""
    m64 = (1 << 64) - 1

    def smix(v):
        v = (v + 0x9E3779B97F4A7C15) & m64
        v = ((v ^ (v >> 30)) * 0xBF58476D1CE4E5B9) & m64
        v = ((v ^ (v >> 27)) * 0x94D049BB133111EB) & m64
        return v ^ (v >> 31)

    seed_mix = (seed * 0x9E3779B97F4A7C15) & m64

    def u01(i, tag):
        return (smix((i ^ seed_mix ^ (tag << 40)) & m64) >> 11) * 2.0 ** -53

    world = 0.6 * MERC_MAX
    hot_x = [(u01(j, 900) * 2 - 1) * world for j in range(hot_clusters)]
    hot_y = [(u01(j, 901) * 2 - 1) * world for j in range(hot_clusters)]
    out = []
    for i in range(n_docs):
        if not (u01(i, 2) < geometry_frac):
            continue
        if u01(i, 20) < hot_frac:
            c = int(u01(i, 21) * hot_clusters)
            gx = hot_x[c] + (u01(i, 22) - 0.5) * 8_000
            gy = hot_y[c] + (u01(i, 24) - 0.5) * 8_000
        else:
            gx = (u01(i, 23) * 2 - 1) * world
            gy = (u01(i, 25) * 2 - 1) * world
        ispt = u01(i, 26) < 0.5
        gw = 500 + u01(i, 27) * 49_500
        gh = 500 + u01(i, 28) * 49_500
        if ispt:
            out.append((f"doc{i:010d}", True, gx, gy, gx, gy))
        else:
            out.append((f"doc{i:010d}", False, gx, gy, gx + gw, gy + gh))
    return out


def _docs_pipeline_oracle_sql(refs_clause: str, zoom: int,
                              n_docs: int = 2000) -> str:
    """Shared oracle for the two synthetic documents pipelines: the
    re-derived geometry corpus as a VALUES table, the bbox join pair
    semantics, and the zoom-tile enumeration — all closed-form."""
    n = 1 << zoom
    MM = repr(MERC_MAX)
    MM2 = repr(2.0 * MERC_MAX)
    size = f"({MM2} / {float(n)!r})"
    rows = ",\n            ".join(
        f"('{d}', {'TRUE' if p else 'FALSE'}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for d, p, x0, y0, x1, y1 in _synth_geoms_py(n_docs)
    )
    return f"""
        WITH g(doc_id, ispt, minx, miny, maxx, maxy) AS (VALUES
            {rows}
        ), refs AS (
            {refs_clause}
        ), pairs AS (
            SELECT g.doc_id,
                   CASE WHEN g.ispt THEN g.minx
                        ELSE GREATEST(g.minx, rminx) END AS iminx,
                   CASE WHEN g.ispt THEN g.miny
                        ELSE GREATEST(g.miny, rminy) END AS iminy,
                   CASE WHEN g.ispt THEN g.minx
                        ELSE LEAST(g.maxx, rmaxx) END AS imaxx,
                   CASE WHEN g.ispt THEN g.miny
                        ELSE LEAST(g.maxy, rmaxy) END AS imaxy,
                   g.ispt AS ipt
            FROM g JOIN refs ON
                CASE WHEN g.ispt
                     THEN g.minx >= rminx AND g.minx <= rmaxx
                      AND g.miny >= rminy AND g.miny <= rmaxy
                     ELSE LEAST(g.maxx, rmaxx) > GREATEST(g.minx, rminx)
                      AND LEAST(g.maxy, rmaxy) > GREATEST(g.miny, rminy) END
        ), tr AS (
            SELECT doc_id, iminx, iminy, imaxx, imaxy, ipt,
                   GREATEST(0, LEAST({n - 1},
                       floor(((iminx + {MM}) / {MM2}) * {float(n)!r})::BIGINT)) AS tx0,
                   GREATEST(0, LEAST({n - 1},
                       floor(((imaxx + {MM}) / {MM2}) * {float(n)!r})::BIGINT)) AS tx1,
                   GREATEST(0, LEAST({n - 1},
                       floor((({MM} - imaxy) / {MM2}) * {float(n)!r})::BIGINT)) AS ty0,
                   GREATEST(0, LEAST({n - 1},
                       floor((({MM} - iminy) / {MM2}) * {float(n)!r})::BIGINT)) AS ty1
            FROM pairs
        ), tg AS (
            SELECT doc_id, iminx, iminy, imaxx, imaxy, ipt,
                   tx0 + gx.g AS tx, ty0 + gy.g AS ty
            FROM tr,
                 unnest(range(0, tx1 - tx0 + 1)) AS gx(g),
                 unnest(range(0, ty1 - ty0 + 1)) AS gy(g)
        ), tb AS (
            SELECT *,
                   (-{MM}) + tx * {size} AS tminx,
                   {MM} - ty * {size} AS tmaxy
            FROM tg
        )
        SELECT {zoom}::INT AS zoom, tx AS tile_x, ty AS tile_y,
               count(*) AS n_docs
        FROM tb
        WHERE CASE WHEN ipt
                   THEN tminx <= iminx AND iminx < tminx + {size}
                    AND (tmaxy - {size}) < iminy AND iminy <= tmaxy
                   ELSE iminx < tminx + {size} AND imaxx > tminx
                    AND iminy < tmaxy AND imaxy > (tmaxy - {size}) END
        GROUP BY tx, ty
        ORDER BY tile_x, tile_y
    """


def _flagship_keyed_oracle_sql() -> str:
    """Closed-form replay of the keyed flagship run: supplier-derived
    points/rects, refs = rect docs with key % 5 == 0, pair semantics
    exactly as bbox_intersection_join (point-in-rect closed, rect-rect
    strictly positive overlap), tile enumeration exactly as
    assign_tiles_bbox at zoom 6 (floor-divided clamped ranges, point
    half-open keep, rect strict overlap keep)."""
    MM = repr(MERC_MAX)
    MM2 = repr(2.0 * MERC_MAX)
    size = f"({MM2} / 64.0)"
    return f"""
        WITH s AS (SELECT s_suppkey AS k FROM supplier),
        geo AS (
            SELECT 's' || k AS doc_id, k, (k % 2 = 0) AS isrect,
                   ((k * 7919 % 1200) - 600)::DOUBLE * 800.0 AS minx,
                   ((k * 104729 % 1200) - 600)::DOUBLE * 800.0 AS miny,
                   (100 + (k % 500))::DOUBLE * 2400.0 AS w,
                   (100 + (k % 700))::DOUBLE * 2400.0 AS h
            FROM s
        ), g2 AS (
            SELECT doc_id, k, isrect, minx, miny,
                   CASE WHEN isrect THEN minx + w ELSE minx END AS maxx,
                   CASE WHEN isrect THEN miny + h ELSE miny END AS maxy
            FROM geo
        ), refs AS (
            SELECT minx AS rminx, miny AS rminy, maxx AS rmaxx, maxy AS rmaxy
            FROM g2 WHERE isrect AND k % 5 = 0
        ), pairs AS (
            SELECT g2.doc_id,
                   CASE WHEN g2.isrect THEN GREATEST(g2.minx, rminx)
                        ELSE g2.minx END AS iminx,
                   CASE WHEN g2.isrect THEN GREATEST(g2.miny, rminy)
                        ELSE g2.miny END AS iminy,
                   CASE WHEN g2.isrect THEN LEAST(g2.maxx, rmaxx)
                        ELSE g2.minx END AS imaxx,
                   CASE WHEN g2.isrect THEN LEAST(g2.maxy, rmaxy)
                        ELSE g2.miny END AS imaxy,
                   (NOT g2.isrect) AS ipt
            FROM g2 JOIN refs ON
                CASE WHEN g2.isrect
                     THEN LEAST(g2.maxx, rmaxx) > GREATEST(g2.minx, rminx)
                      AND LEAST(g2.maxy, rmaxy) > GREATEST(g2.miny, rminy)
                     ELSE g2.minx >= rminx AND g2.minx <= rmaxx
                      AND g2.miny >= rminy AND g2.miny <= rmaxy END
        ), tr AS (
            SELECT doc_id, iminx, iminy, imaxx, imaxy, ipt,
                   GREATEST(0, LEAST(63,
                       floor(((iminx + {MM}) / {MM2}) * 64.0)::BIGINT)) AS tx0,
                   GREATEST(0, LEAST(63,
                       floor(((imaxx + {MM}) / {MM2}) * 64.0)::BIGINT)) AS tx1,
                   GREATEST(0, LEAST(63,
                       floor((({MM} - imaxy) / {MM2}) * 64.0)::BIGINT)) AS ty0,
                   GREATEST(0, LEAST(63,
                       floor((({MM} - iminy) / {MM2}) * 64.0)::BIGINT)) AS ty1
            FROM pairs
        ), tg AS (
            SELECT doc_id, iminx, iminy, imaxx, imaxy, ipt,
                   tx0 + gx.g AS tx, ty0 + gy.g AS ty
            FROM tr,
                 unnest(range(0, tx1 - tx0 + 1)) AS gx(g),
                 unnest(range(0, ty1 - ty0 + 1)) AS gy(g)
        ), tb AS (
            SELECT *,
                   (-{MM}) + tx * {size} AS tminx,
                   {MM} - ty * {size} AS tmaxy
            FROM tg
        )
        SELECT doc_id, 6::INT AS zoom, tx AS tile_x, ty AS tile_y
        FROM tb
        WHERE CASE WHEN ipt
                   THEN tminx <= iminx AND iminx < tminx + {size}
                    AND (tmaxy - {size}) < iminy AND iminy <= tmaxy
                   ELSE iminx < tminx + {size} AND imaxx > tminx
                    AND iminy < tmaxy AND imaxy > (tmaxy - {size}) END
    """


def _simhash_oracle_sql() -> str:
    """Brute-force SimHash pairs in DuckDB: the 4-byte-window polynomial
    hash is closed-form per position (no recursion), bit majorities come
    from one unnest over 64 bit indices, and hamming is xor + bit_count
    over ALL doc pairs — recall is not assumed, it is enumerated."""
    B = 1099511628211
    m64 = 1 << 64
    b1, b2, b3 = B % m64, (B * B) % m64, (B * B * B) % m64
    vals = ", ".join(f"({j}, '{1 << j}')" for j in range(64))
    return f"""
        WITH pos AS (
            SELECT doc_id, text, unnest(range(1, length(text) - 2)) AS i
            FROM documents
        ), wh AS (
            SELECT doc_id,
                   (ord(substr(text, i::INT, 1))
                    + ord(substr(text, (i+1)::INT, 1)) * CAST('{b1}' AS HUGEINT)
                    + ord(substr(text, (i+2)::INT, 1)) * CAST('{b2}' AS HUGEINT)
                    + ord(substr(text, (i+3)::INT, 1)) * CAST('{b3}' AS HUGEINT))
                   % CAST('{m64}' AS HUGEINT) AS h
            FROM pos
        ), js(j, pw) AS (VALUES {vals}),
        bits AS (
            SELECT doc_id, j, CAST(pw AS HUGEINT) AS pw,
                   SUM(CASE WHEN (h // CAST(pw AS HUGEINT)) % 2 = 1
                            THEN 1 ELSE 0 END) AS ones,
                   COUNT(*) AS n
            FROM wh CROSS JOIN js GROUP BY doc_id, j, pw
        ), sh AS (
            SELECT doc_id,
                   SUM(CASE WHEN 2 * ones >= n THEN pw
                            ELSE CAST(0 AS HUGEINT) END) AS u
            FROM bits GROUP BY doc_id
        ), s AS (
            SELECT doc_id,
                   (CASE WHEN u >= CAST('{1 << 63}' AS HUGEINT)
                         THEN u - CAST('{m64}' AS HUGEINT)
                         ELSE u END)::BIGINT AS v
            FROM sh
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.v, b.v))::INT AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.v, b.v)) <= 3
    """


def _lang_id_oracle_sql() -> str:
    """The two-tier language-ID heuristic re-derived in DuckDB SQL from
    the operator's OWN profile tables (operators/text.py): script fracs in
    declaration order (first > 0.3 wins), then stopword-count argmax with
    first-max-wins tie-breaking, 'und' when nothing scores."""
    from ndjson_spatial_spark.operators.text import _SCRIPTS, _STOPWORDS

    script_whens = "\n".join(
        f"WHEN len(regexp_extract_all(t, '{pat}'))::DOUBLE / L > 0.3 "
        f"THEN '{lg}'"
        for lg, pat in _SCRIPTS
    )
    langs = list(_STOPWORDS)
    count_cols = ",\n".join(
        "len(regexp_extract_all(t, '\\b(" + "|".join(_STOPWORDS[lg])
        + ")\\b')) AS c_" + lg
        for lg in langs
    )
    m = "GREATEST(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    latin_whens = "\n".join(
        f"WHEN c_{lg} = {m} THEN '{lg}'" for lg in langs
    )
    return f"""
        WITH lowered AS (
            SELECT doc_id, lower(coalesce(text, '')) AS t,
                   GREATEST(length(lower(coalesce(text, ''))), 1)::DOUBLE AS L
            FROM documents
        ), counted AS (
            SELECT doc_id, t, L, {count_cols}
            FROM lowered
        )
        SELECT doc_id,
               CASE
                   {script_whens}
                   WHEN {m} = 0 THEN 'und'
                   {latin_whens}
               END AS lang_pred
        FROM counted
    """


def oracle_sql() -> dict[str, str]:
    M = repr(MERC_MAX)
    out = _oracle_sql_entries(M)
    # a stateless streaming op must equal its batch form exactly, so the
    # streaming_chunk gate shares the chunk oracle verbatim
    out["streaming_chunk"] = out["chunk"]
    return out


def _oracle_sql_entries(M) -> dict[str, str]:
    return {
        # BM25 top-20 (round-5): identical arithmetic, identical op order
        # (left-assoc term sum; per-term ((idf*(tf*2.2))/(tf+(1.2*norm)));
        # norm=((1.0-0.75)+((0.75*dl)/(sumdl/N)))).  Only INTEGER columns
        # are compared; the float score orders rows with a measured 8.8e-5
        # min adjacent gap (ulp-proof; exact ties resolve by doc_id).
        "bm25": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)),
                                                      '\s+'),
                                   x -> x <> '') AS t
                FROM documents
            ), feats AS (
                SELECT doc_id, len(t) AS dl,
                       len(list_filter(t, x -> x = 'dup'))    AS tf0,
                       len(list_filter(t, x -> x = 'spark'))  AS tf1,
                       len(list_filter(t, x -> x = 'window')) AS tf2
                FROM toks
            ), stats AS (
                SELECT count(*) AS n_docs, sum(dl)::BIGINT AS sumdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
                FROM feats
            ), scored AS (
                SELECT doc_id, dl, tf0, tf1, tf2,
                       0.0
                       + ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                         * (tf0 * 2.2)
                         / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n_docs)))
                       + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                         * (tf1 * 2.2)
                         / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n_docs)))
                       + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                         * (tf2 * 2.2)
                         / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n_docs)))
                       AS score
                FROM feats CROSS JOIN stats
            )
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)::INT AS rank,
                   ((tf0 > 0)::INT + (tf1 > 0)::INT + (tf2 > 0)::INT) AS n_matched,
                   (tf0 + tf1 + tf2)::BIGINT AS total_tf,
                   dl::BIGINT AS dl
            FROM scored WHERE tf0 + tf1 + tf2 > 0
            ORDER BY score DESC, doc_id LIMIT 20
        """,
        # zonal statistics (round-5): brute-force range join over the
        # cell raster; centers ≡ 125 (mod 250) never touch zone bounds
        "zonal_stats": """
            WITH cells AS (
                SELECT (o_orderkey % 160)::BIGINT AS cx,
                       ((o_orderkey // 160) % 160)::BIGINT AS cy,
                       (o_orderkey % 97)::BIGINT AS v
                FROM orders
            ), ctr AS (
                SELECT (cx + 0.5) * 250.0 AS px, (cy + 0.5) * 250.0 AS py,
                       v
                FROM cells
            ), zones AS (
                SELECT n_nationkey,
                       ((n_nationkey * 1543 % 130) * 250)::DOUBLE AS x0,
                       ((n_nationkey * 2719 % 70) * 250)::DOUBLE AS y0
                FROM nation
            )
            SELECT n_nationkey,
                   count(*) AS n_cells,
                   sum(v)::BIGINT AS sum_val,
                   min(v) AS min_val,
                   max(v) AS max_val,
                   (sum(v)::BIGINT / count(*)) + 0.0 AS mean_val
            FROM zones JOIN ctr
              ON px > x0 AND px < x0 + 6000 AND py > y0 AND py < y0 + 6000
            GROUP BY n_nationkey
        """,
        # hex binning (round-5): the identical IEEE expression tree
        # replayed in SQL — constants repr()-inlined, round = floor(+0.5)
        "hexbin": f"""
            WITH pts AS (
                SELECT ((o_orderkey % 4096)::DOUBLE) AS px,
                       ((o_orderkey * 37 % 4096)::DOUBLE) AS py,
                       (o_orderkey % 101)::BIGINT AS v
                FROM orders
            ), frac AS (
                SELECT (px * {2.0 / 3.0!r}) / 512.0 AS qf,
                       (px * {-1.0 / 3.0!r}
                        + py * {1.7320508075688772 / 3.0!r}) / 512.0 AS rf,
                       v
                FROM pts
            ), rnd AS (
                SELECT qf, rf, (-qf - rf) AS sf,
                       floor(qf + 0.5) AS rq, floor(rf + 0.5) AS rr,
                       floor((-qf - rf) + 0.5) AS rs, v
                FROM frac
            ), fixed AS (
                SELECT CASE WHEN abs(rq - qf) > abs(rr - rf)
                             AND abs(rq - qf) > abs(rs - sf)
                            THEN -rr - rs ELSE rq END AS q,
                       CASE WHEN NOT (abs(rq - qf) > abs(rr - rf)
                                      AND abs(rq - qf) > abs(rs - sf))
                             AND abs(rr - rf) > abs(rs - sf)
                            THEN -rq - rs ELSE rr END AS r,
                       v
                FROM rnd
            )
            SELECT q::BIGINT AS q, r::BIGINT AS r,
                   count(*) AS n_pts, sum(v)::BIGINT AS sum_v
            FROM fixed GROUP BY 1, 2
        """,
        # grouped dissolve (round-5): area by lattice counting on the
        # gcd grid; components by recursive-CTE transitive closure over
        # the (unambiguous, touch-free) overlap graph; bbox trivial
        "union_agg": """
            WITH RECURSIVE rects AS (
                SELECT n_nationkey AS nk, n_regionkey AS rk,
                       ((n_nationkey * 2 % 9) * 300)::DOUBLE AS x0,
                       ((n_nationkey * 7 % 9) * 300)::DOUBLE AS y0
                FROM nation
            ),
            cells AS (
                SELECT DISTINCT r.rk,
                       (r.x0 / 100)::BIGINT + i.i AS ci,
                       (r.y0 / 100)::BIGINT + j.j AS cj
                FROM rects r,
                     (SELECT unnest(range(0, 7)) AS i) i,
                     (SELECT unnest(range(0, 7)) AS j) j
            ),
            edges AS (
                SELECT a.nk AS u, b.nk AS v
                FROM rects a JOIN rects b
                  ON a.rk = b.rk
                 AND abs(a.x0 - b.x0) < 700 AND abs(a.y0 - b.y0) < 700
            ),
            reach AS (
                SELECT nk AS src, nk AS dst FROM rects
                UNION
                SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst
            ),
            comp AS (
                SELECT src AS nk, min(dst) AS label
                FROM reach GROUP BY src
            ),
            areas AS (
                SELECT rk, (count(*) * 10000)::DOUBLE AS area
                FROM cells GROUP BY rk
            )
            SELECT r.rk AS n_regionkey,
                   count(DISTINCT c.label) AS n_parts,
                   (min(ar.area) + 0.0)::DOUBLE AS area,
                   min(r.x0) AS xmin, min(r.y0) AS ymin,
                   max(r.x0 + 700) AS xmax, max(r.y0 + 700) AS ymax
            FROM rects r
            JOIN comp c ON c.nk = r.nk
            JOIN areas ar ON ar.rk = r.rk
            GROUP BY r.rk
        """,
        # focal statistics (round-5): brute-force Chebyshev self-join
        "focal_stats": """
            WITH cells AS (
                SELECT (o_orderkey % 60)::BIGINT AS cx,
                       ((o_orderkey // 60) % 60)::BIGINT AS cy,
                       (o_orderkey % 83)::BIGINT AS v
                FROM orders WHERE o_orderkey < 3000
            )
            SELECT a.cx, a.cy, a.v AS value,
                   count(*) AS focal_n,
                   sum(b.v)::BIGINT AS focal_sum,
                   min(b.v) AS focal_min,
                   max(b.v) AS focal_max,
                   (sum(b.v)::BIGINT / count(*)) + 0.0 AS focal_mean
            FROM cells a JOIN cells b
              ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
             AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
            GROUP BY a.cx, a.cy, a.v
        """,
        # raster resample (round-5): floor-divide regroup, all integers
        "resample": """
            WITH cells AS (
                SELECT (o_orderkey % 160)::BIGINT AS cx,
                       ((o_orderkey // 160) % 160)::BIGINT AS cy,
                       (o_orderkey % 97)::BIGINT AS v
                FROM orders
            )
            SELECT (cx // 4)::BIGINT AS cx, (cy // 4)::BIGINT AS cy,
                   count(*) AS n_cells,
                   sum(v)::BIGINT AS sum_val,
                   min(v) AS min_val,
                   max(v) AS max_val,
                   (sum(v)::BIGINT / count(*)) + 0.0 AS mean_val
            FROM cells GROUP BY 1, 2
        """,
        # local map algebra (round-5): outer join + explicit NODATA fill
        "local_algebra": """
            WITH base AS (
                SELECT (o_orderkey % 100)::BIGINT AS cx,
                       ((o_orderkey // 100) % 100)::BIGINT AS cy,
                       (o_orderkey % 89)::BIGINT AS v,
                       o_orderkey % 2 AS par
                FROM orders
            ), a AS (SELECT cx, cy, v FROM base WHERE par = 0),
               b AS (SELECT cx, cy, v FROM base WHERE par = 1)
            SELECT COALESCE(a.cx, b.cx) AS cx,
                   COALESCE(a.cy, b.cy) AS cy,
                   (COALESCE(a.v, 0) + COALESCE(b.v, 0))::BIGINT AS value
            FROM a FULL OUTER JOIN b
              ON a.cx = b.cx AND a.cy = b.cy
        """,
        # Horn gradient (round-5): 3x3 window via 8 correlated lookups on
        # the dense DEM — integer numerators only (no trig in the hash)
        "slope": """
            WITH dem AS (
                SELECT (o_orderkey % 50)::BIGINT AS cx,
                       (o_orderkey // 50)::BIGINT AS cy,
                       (o_orderkey * 31 % 101)::BIGINT AS v
                FROM orders WHERE o_orderkey < 2000
            )
            SELECT e.cx, e.cy,
                   ((c.v + 2 * f.v + i.v) - (a.v + 2 * d.v + g.v))::BIGINT
                       AS dzdx_num,
                   ((g.v + 2 * h.v + i.v) - (a.v + 2 * b.v + c.v))::BIGINT
                       AS dzdy_num,
                   (((c.v + 2 * f.v + i.v) - (a.v + 2 * d.v + g.v))
                    * ((c.v + 2 * f.v + i.v) - (a.v + 2 * d.v + g.v))
                    + ((g.v + 2 * h.v + i.v) - (a.v + 2 * b.v + c.v))
                    * ((g.v + 2 * h.v + i.v) - (a.v + 2 * b.v + c.v)))::BIGINT
                       AS grad2_num
            FROM dem e
            JOIN dem a ON a.cx = e.cx - 1 AND a.cy = e.cy + 1
            JOIN dem b ON b.cx = e.cx     AND b.cy = e.cy + 1
            JOIN dem c ON c.cx = e.cx + 1 AND c.cy = e.cy + 1
            JOIN dem d ON d.cx = e.cx - 1 AND d.cy = e.cy
            JOIN dem f ON f.cx = e.cx + 1 AND f.cy = e.cy
            JOIN dem g ON g.cx = e.cx - 1 AND g.cy = e.cy - 1
            JOIN dem h ON h.cx = e.cx     AND h.cy = e.cy - 1
            JOIN dem i ON i.cx = e.cx + 1 AND i.cy = e.cy - 1
        """,
        # polygon buffer (round-5): closed-form rect algebra — miter
        # dilation of an axis rect is the grown rect exactly; erosion is
        # the shrunk rect (sides >= 2000 so -100 never degenerates)
        "buffer_poly": """
            WITH pr AS (
                SELECT p_partkey,
                       (p_partkey * 37 % 40000)::DOUBLE AS x0,
                       (p_partkey * 61 % 40000)::DOUBLE AS y0,
                       (2000 + (p_partkey % 7) * 333)::DOUBLE AS w,
                       (2000 + (p_partkey % 11) * 211)::DOUBLE AS h
                FROM part
            )
            SELECT p_partkey,
                   (w + 100) * (h + 100) AS d_area,
                   x0 - 50 AS dx0, x0 + w + 50 AS dx1,
                   y0 - 50 AS dy0, y0 + h + 50 AS dy1,
                   (w - 200) * (h - 200) AS e_area
            FROM pr
        """,
        # C4 composite pipeline (round-5): the component oracles composed
        # in pipeline order — clean -> quality gate -> inject+scrub ->
        # token count -> exact dedup on scrubbed text
        "c4_pipeline": r"""
            WITH d AS (
                SELECT doc_id,
                       replace(text, ' table',
                               '.' || chr(10) || 'table') || '.' AS t
                FROM documents
            ), ls AS (
                SELECT doc_id, string_split(t, chr(10)) AS lines FROM d
            ), ln AS (
                SELECT doc_id, lines[i] AS line, i AS ord
                FROM ls, LATERAL (
                    SELECT unnest(range(1, len(lines) + 1)) AS i)
            ), ded AS (
                SELECT doc_id, line, min(ord) AS ord
                FROM ln GROUP BY doc_id, line
            ), keep AS (
                SELECT doc_id, line, ord FROM ded
                WHERE regexp_matches(line, '[.!?"]$')
                  AND len(string_split_regex(line, '\s+')) >= 3
            ), agg AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY ord) AS cleaned,
                       count(*) AS n_kept
                FROM keep GROUP BY doc_id
            ), dirty AS (
                SELECT doc_id, n_kept,
                       cleaned || ' contact user' || doc_id::VARCHAR
                               || '@example.com' AS t
                FROM agg WHERE n_kept >= 2
            ), scrub AS (
                SELECT doc_id, n_kept,
                       len(regexp_extract_all(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
                       ))::INTEGER AS n_email,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(t,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                               '[PII]', 'g'),
                           '\b\d{3}-\d{2}-\d{4}\b', '[PII]', 'g'),
                           '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PII]', 'g'),
                           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g')
                       AS scrubbed
                FROM dirty
            ), feat AS (
                SELECT doc_id, n_kept::INTEGER AS n_kept, n_email,
                       CASE WHEN trim(scrubbed) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(scrubbed),
                                                           '\s+'))
                       END::INTEGER AS n_tokens,
                       scrubbed
                FROM scrub
            ), surv AS (
                SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
                FROM feat GROUP BY scrubbed
            )
            SELECT f.doc_id, f.n_kept, f.n_email, f.n_tokens,
                   s.n_dupes, f.scrubbed
            FROM feat f JOIN surv s USING (doc_id)
        """,
        # boolean overlay (round-5): inclusion-exclusion over the L's
        # two-rect decomposition; all-integer axis-parallel vertices make
        # every piece area exact
        "boolean_clip": """
            WITH pr AS (
                SELECT p_partkey,
                       (p_partkey * 37 % 40000)::DOUBLE AS x0,
                       (p_partkey * 61 % 40000)::DOUBLE AS y0,
                       (2000 + (p_partkey % 7) * 333)::DOUBLE AS w,
                       (2000 + (p_partkey % 11) * 211)::DOUBLE AS h,
                       p_partkey % 25 AS nk
                FROM part
            ), nr AS (
                SELECT n_nationkey,
                       (n_nationkey * 1543 % 40000)::DOUBLE AS nx0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS ny0
                FROM nation
            ), ov AS (
                SELECT p_partkey, pr.w * pr.h AS ra,
                       GREATEST(0, LEAST(pr.x0 + pr.w, nr.nx0 + 6000)
                                   - GREATEST(pr.x0, nr.nx0))
                     * GREATEST(0, LEAST(pr.y0 + pr.h, nr.ny0 + 3000)
                                   - GREATEST(pr.y0, nr.ny0))
                     + GREATEST(0, LEAST(pr.x0 + pr.w, nr.nx0 + 3000)
                                   - GREATEST(pr.x0, nr.nx0))
                     * GREATEST(0, LEAST(pr.y0 + pr.h, nr.ny0 + 6000)
                                   - GREATEST(pr.y0, nr.ny0 + 3000)) AS ia
                FROM pr JOIN nr ON nr.n_nationkey = pr.nk
            )
            SELECT p_partkey,
                   ROUND(ra + 27000000 - ia, 3) + 0.0 AS u_area,
                   ROUND(ra - ia, 3) + 0.0 AS d_area,
                   ROUND(ra + 27000000 - 2 * ia, 3) + 0.0 AS sd_area
            FROM ov
        """,
        # duplicate spans (round-5): fixed-length window replay + interval
        # merge via lag windows — all-integer output
        "dup_spans": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)),
                                                      '\s+'),
                                   x -> x <> '') AS t
                FROM documents
            ), wins AS (
                SELECT doc_id, i - 1 AS s,
                       array_to_string(list_slice(t, i, i + 7), ' ') AS g
                FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2))
                                    AS i) li
                WHERE len(t) >= 8
            ), dup AS (
                SELECT g FROM wins GROUP BY g HAVING count(*) >= 2
            ), hits AS (
                SELECT doc_id, s FROM wins JOIN dup USING (g)
            ), isl AS (
                SELECT doc_id, s,
                       CASE WHEN lag(s) OVER w IS NULL
                                 OR s - lag(s) OVER w > 8
                            THEN 1 ELSE 0 END AS nw
                FROM hits
                WINDOW w AS (PARTITION BY doc_id ORDER BY s)
            ), isl2 AS (
                SELECT doc_id, s,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY s) AS grp
                FROM isl
            )
            SELECT doc_id, min(s)::INT AS span_start,
                   (max(s) + 8)::INT AS span_end,
                   count(*) AS n_windows
            FROM isl2 GROUP BY doc_id, grp
        """,
        # DBSCAN (round-5): brute-force neighbor counts on the integer
        # fixture; label = min core id of the center-lattice group (each
        # core-bearing group has a hub within eps of all members, so its
        # cores are one density-connected cluster — see _dbscan_points)
        "dbscan": """
            WITH pts AS (
                SELECT c_custkey::BIGINT AS id,
                       CASE WHEN c_custkey % 101 = 0
                            THEN ((c_custkey * 89 % 490) * 100 + 17)::DOUBLE
                            ELSE (((c_custkey - 1) // 5 * 997 % 500) * 100
                                  + CASE (c_custkey - 1) % 5
                                         WHEN 0 THEN 0 WHEN 1 THEN 2
                                         WHEN 2 THEN 0 WHEN 3 THEN -2
                                         ELSE 4 END)::DOUBLE END AS x,
                       CASE WHEN c_custkey % 101 = 0
                            THEN ((c_custkey * 23 % 40) * 100 + 45000)::DOUBLE
                            ELSE (((c_custkey - 1) // 5 * 1409 % 400) * 100
                                  + CASE (c_custkey - 1) % 5
                                         WHEN 0 THEN 0 WHEN 1 THEN 0
                                         WHEN 2 THEN 2 WHEN 3 THEN -2
                                         ELSE 4 END)::DOUBLE END AS y,
                       CASE WHEN c_custkey % 101 = 0 THEN -c_custkey::BIGINT
                            ELSE ((c_custkey - 1) // 5 * 997 % 500) * 100000
                                 + ((c_custkey - 1) // 5 * 1409 % 400)
                       END AS gkey
                FROM customer
            ), nb AS (
                SELECT a.id, count(*) AS cnt
                FROM pts a JOIN pts b
                  ON (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) <= 36.0
                GROUP BY a.id
            ), core AS (
                SELECT id FROM nb WHERE cnt >= 5
            ), lab AS (
                SELECT p.gkey, min(p.id) AS cluster
                FROM pts p JOIN core c ON c.id = p.id
                GROUP BY p.gkey
            ), cnbr AS (
                SELECT DISTINCT a.id
                FROM pts a
                JOIN pts b ON (a.x - b.x) * (a.x - b.x)
                              + (a.y - b.y) * (a.y - b.y) <= 36.0
                JOIN core c ON c.id = b.id
            )
            SELECT p.id, p.x, p.y,
                   CASE WHEN c.id IS NOT NULL THEN 1 ELSE 0 END AS is_core,
                   CASE WHEN n.id IS NOT NULL THEN l.cluster
                        ELSE -1 END AS cluster
            FROM pts p
            LEFT JOIN core c ON c.id = p.id
            LEFT JOIN cnbr n ON n.id = p.id
            LEFT JOIN lab l ON l.gkey = p.gkey
        """,
        "filter": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_quantity >= 30.0
        """,
        "pick_field": """
            SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
        """,
        "join": """
            SELECT o_orderkey, o_custkey, c_name, c_acctbal
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "agg_sum": """
            SELECT l_returnflag, SUM(l_quantity) AS l_quantity_sum
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "agg_count": """
            SELECT o_orderpriority, COUNT(*) AS o_custkey_count
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "agg_min": """
            SELECT p_brand, MIN(p_retailprice) AS p_retailprice_min
            FROM part GROUP BY p_brand ORDER BY p_brand
        """,
        "agg_max": """
            SELECT l_returnflag, l_linestatus,
                   MAX(l_extendedprice) AS l_extendedprice_max
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "sort": """
            SELECT * FROM supplier
            ORDER BY s_nationkey ASC NULLS LAST, s_acctbal DESC NULLS FIRST
        """,
        "sort_cross_type": """
            SELECT s_suppkey,
                   (CASE s_suppkey % 8
                        WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                        WHEN 3 THEN 3 WHEN 4 THEN 4 WHEN 5 THEN 5
                        WHEN 6 THEN 6 ELSE 7 END)::INT AS rank,
                   CASE s_suppkey % 8
                        WHEN 0 THEN 's' || (s_suppkey % 7)
                        WHEN 6 THEN '[' || (s_suppkey % 5) || ']'
                        WHEN 7 THEN '{"a":' || (s_suppkey % 5) || '}'
                   END AS skey,
                   (CASE s_suppkey % 8
                        WHEN 1 THEN CASE WHEN s_suppkey % 2 = 0
                                         THEN 1.0 ELSE 0.0 END
                        WHEN 2 THEN (s_suppkey % 100)
                        WHEN 3 THEN -((s_suppkey % 100) + 1)
                        WHEN 4 THEN (s_suppkey % 10) + 0.5
                   END)::DOUBLE AS nkey
            FROM supplier
        """,
        "pipeline": """
            SELECT p_brand, SUM(l_quantity) AS l_quantity_sum
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_discount > 0.05
            GROUP BY p_brand ORDER BY p_brand
        """,
        "area": f"""
            SELECT s_suppkey, ROUND(w * h, 4) AS area
            FROM ({_SUPPLIER_RECT_SQL})
        """,
        "centroid": f"""
            SELECT s_suppkey,
                   ROUND(x0 + w / 2.0, 4) AS cx,
                   ROUND(y0 + h / 2.0, 4) AS cy
            FROM ({_SUPPLIER_RECT_SQL})
        """,
        "bbox": f"""
            SELECT s_suppkey, x0 AS minx, x0 + w AS maxx,
                   y0 AS miny, y0 + h AS maxy
            FROM ({_SUPPLIER_RECT_SQL})
        """,
        "transform": f"""
            SELECT n_nationkey,
                   ROUND(6378137.0 * radians((n_nationkey * 7 - 84)::DOUBLE), 3) + 0.0 AS mx,
                   ROUND(6378137.0 * ln(tan(pi() / 4.0
                         + radians((n_nationkey * 3 - 36)::DOUBLE) / 2.0)), 3) + 0.0 AS my
            FROM nation
        """,
        "transform_utm": _utm33_oracle_sql(),
        "transform_lcc": _lcc_oracle_sql(),
        "transform_aea": _aea_oracle_sql(),
        "transform_ps": _ps_oracle_sql(),
        "semdedup": _semdedup_oracle_sql(),
        "hybrid_rrf": _HYBRID_RRF_ORACLE,
        "kmv": _KMV_ORACLE,
        "streaming_kmv": _KMV_ORACLE,
        "subdivide": _SUBDIVIDE_ORACLE,
        "merge_upsert": _MERGE_ORACLE,
        "kmeans": _kmeans_oracle_sql(),
        "streaming_heavy": _STREAMING_HEAVY_ORACLE,
        "trajectory": _TRAJECTORY_ORACLE,
        "paragraph_dedup": _PARAGRAPH_DEDUP_ORACLE,
        "transform_datum": _datum_oracle_sql(),
        "area_holes": f"""
            SELECT s_suppkey,
                   ROUND(w * h - (w - 40.0) * (h - 40.0), 4) AS area
            FROM ({_SUPPLIER_RECT_SQL})
        """,
        "collection_bbox": f"""
            SELECT s_suppkey,
                   LEAST(px, x0) AS minx, GREATEST(px, x0 + w) AS maxx,
                   LEAST(py, y0) AS miny, GREATEST(py, y0 + h) AS maxy
            FROM (
                SELECT s_suppkey,
                       ((s_suppkey * 7919 + 123) % 50000)::DOUBLE AS px,
                       ((s_suppkey * 104729 + 456) % 50000)::DOUBLE AS py,
                       x0, y0, w, h
                FROM ({_SUPPLIER_RECT_SQL})
            )
        """,
        "cc_dedup": """
            WITH s AS (SELECT s_suppkey AS k FROM supplier)
            SELECT k AS v, k - (k % 5) AS comp FROM s
            WHERE (k % 5 <> 4 AND EXISTS (SELECT 1 FROM s s2 WHERE s2.k = s.k + 1))
               OR (k % 5 <> 0 AND EXISTS (SELECT 1 FROM s s3 WHERE s3.k = s.k - 1))
            ORDER BY v
        """,
        "cosine_pairs": """
            SELECT vec_id AS id_a, vec_id + 100000 AS id_b
            FROM embeddings WHERE vec_id < 10 ORDER BY id_a, id_b
        """,
        "ivf_topk": """
            WITH q AS (
                SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id >= 5 AND vec_id < 10
            ), sims AS (
                SELECT q.qid AS query_id, e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
                FROM embeddings e CROSS JOIN q
            ), ranked AS (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, vec_id) AS rank
                FROM sims
            )
            SELECT query_id, vec_id, rank::INT AS rank
            FROM ranked WHERE rank <= 10
        """,
        "nearest_distance": """
            WITH cp AS (
                SELECT c_custkey,
                       (c_custkey * 7919 % 50000)::DOUBLE + 0.5 AS px,
                       (c_custkey * 104729 % 50000)::DOUBLE + 0.5 AS py
                FROM customer
            ), sp AS (
                SELECT ((s_suppkey * 7919 + 123) % 50000)::DOUBLE AS rx,
                       ((s_suppkey * 104729 + 456) % 50000)::DOUBLE AS ry
                FROM supplier
            )
            SELECT c_custkey,
                   MIN((px - rx) * (px - rx) + (py - ry) * (py - ry)) AS distance
            FROM cp CROSS JOIN sp
            GROUP BY c_custkey
        """,
        "knn_topk": """
            WITH cp AS (
                SELECT c_custkey,
                       (c_custkey * 7919 % 50000)::DOUBLE + 0.5 AS px,
                       (c_custkey * 104729 % 50000)::DOUBLE + 0.5 AS py
                FROM customer
            ), sp AS (
                SELECT ((s_suppkey * 7919 + 123) % 50000)::DOUBLE AS rx,
                       ((s_suppkey * 104729 + 456) % 50000)::DOUBLE AS ry
                FROM supplier
            ), d AS (
                SELECT c_custkey,
                       (px - rx) * (px - rx) + (py - ry) * (py - ry) AS distance
                FROM cp CROSS JOIN sp
            ), rk AS (
                SELECT c_custkey, distance,
                       ROW_NUMBER() OVER (PARTITION BY c_custkey
                                          ORDER BY distance) AS rank
                FROM d
            )
            SELECT c_custkey, rank::INT AS rank, distance
            FROM rk WHERE rank <= 3
        """,
        "intersection_join": """
            WITH pr AS (
                SELECT p_partkey,
                       (p_partkey * 37 % 40000)::DOUBLE AS x0,
                       (p_partkey * 61 % 40000)::DOUBLE AS y0,
                       (2000 + (p_partkey % 7) * 333)::DOUBLE AS w,
                       (2000 + (p_partkey % 11) * 211)::DOUBLE AS h
                FROM part
            ), nr AS (
                SELECT n_nationkey,
                       (n_nationkey * 1543 % 40000)::DOUBLE AS x0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS y0
                FROM nation
            )
            SELECT p_partkey,
                   ROUND( (LEAST(pr.x0 + pr.w, nr.x0 + 6000) - GREATEST(pr.x0, nr.x0))
                        * (LEAST(pr.y0 + pr.h, nr.y0 + 6000) - GREATEST(pr.y0, nr.y0)), 4) AS iarea
            FROM pr CROSS JOIN nr
            WHERE LEAST(pr.x0 + pr.w, nr.x0 + 6000) - GREATEST(pr.x0, nr.x0) > 0
              AND LEAST(pr.y0 + pr.h, nr.y0 + 6000) - GREATEST(pr.y0, nr.y0) > 0
        """,
        "concave_clip": """
            WITH pr AS (
                SELECT p_partkey,
                       (p_partkey * 37 % 40000)::DOUBLE AS x0,
                       (p_partkey * 61 % 40000)::DOUBLE AS y0,
                       (2000 + (p_partkey % 7) * 333)::DOUBLE AS w,
                       (2000 + (p_partkey % 11) * 211)::DOUBLE AS h
                FROM part
            ), nr AS (
                SELECT n_nationkey,
                       (n_nationkey * 1543 % 40000)::DOUBLE AS x0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS y0
                FROM nation
            ), ov AS (
                SELECT p_partkey,
                       GREATEST(0, LEAST(pr.x0 + pr.w, nr.x0 + 6000) - GREATEST(pr.x0, nr.x0))
                     * GREATEST(0, LEAST(pr.y0 + pr.h, nr.y0 + 3000) - GREATEST(pr.y0, nr.y0))
                     + GREATEST(0, LEAST(pr.x0 + pr.w, nr.x0 + 3000) - GREATEST(pr.x0, nr.x0))
                     * GREATEST(0, LEAST(pr.y0 + pr.h, nr.y0 + 6000) - GREATEST(pr.y0, nr.y0 + 3000)) AS ia
                FROM pr CROSS JOIN nr
            )
            SELECT p_partkey, ROUND(ia, 3) AS iarea
            FROM ov WHERE ia > 0
        """,
        "line_clip": """
            WITH sl AS (
                SELECT s_suppkey,
                       (s_suppkey * 7919 % 40000)::DOUBLE AS lx0,
                       (s_suppkey * 7919 % 40000)::DOUBLE + 9000 AS lx1,
                       (s_suppkey * 104729 % 40000)::DOUBLE + 0.5 AS ly
                FROM supplier
            ), nr AS (
                SELECT (n_nationkey * 1543 % 40000)::DOUBLE AS rx0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS ry0
                FROM nation
            )
            SELECT s_suppkey,
                   ROUND(LEAST(lx1, rx0 + 6000) - GREATEST(lx0, rx0), 3) + 0.0 AS clen,
                   ROUND(ly, 1) AS cy
            FROM sl CROSS JOIN nr
            WHERE ly > ry0 AND ly < ry0 + 6000
              AND LEAST(lx1, rx0 + 6000) > GREATEST(lx0, rx0)
        """,
        "length": """
            WITH d AS (
                SELECT s_suppkey,
                       (s_suppkey % 89 + 1)::DOUBLE AS a,
                       (s_suppkey % 97 + 1)::DOUBLE AS b
                FROM supplier
            )
            SELECT s_suppkey,
                   ROUND(sqrt(a * a + b * b) + sqrt(b * b + b * b), 6)
                   + 0.0 AS length
            FROM d
        """,
        "from_wkt": """
            SELECT s_suppkey,
                   CASE WHEN s_suppkey % 3 = 0 THEN 'Point'
                        ELSE 'Polygon' END AS gtype,
                   CASE WHEN s_suppkey % 3 = 0 THEN 0.0
                        ELSE ROUND((100 + s_suppkey % 500)::DOUBLE
                                   * (100 + s_suppkey % 700)::DOUBLE, 3)
                             + 0.0 END AS area,
                   CASE WHEN s_suppkey % 3 = 0
                        THEN (s_suppkey * 13 % 40000)::DOUBLE
                        ELSE ((s_suppkey * 13 % 40000)
                              + 100 + s_suppkey % 500)::DOUBLE
                   END AS maxx,
                   CASE WHEN s_suppkey % 3 = 0
                        THEN (s_suppkey * 29 % 40000)::DOUBLE
                        ELSE ((s_suppkey * 29 % 40000)
                              + 100 + s_suppkey % 700)::DOUBLE
                   END AS maxy
            FROM supplier
        """,
        "dwithin": """
            WITH cp AS (
                SELECT c_custkey,
                       (c_custkey * 7919 % 50000)::DOUBLE + 0.5 AS px,
                       (c_custkey * 104729 % 50000)::DOUBLE + 0.5 AS py
                FROM customer
            ), sp AS (
                SELECT s_suppkey,
                       ((s_suppkey * 7919 + 123) % 50000)::DOUBLE AS qx,
                       ((s_suppkey * 104729 + 456) % 50000)::DOUBLE AS qy
                FROM supplier
            )
            SELECT c_custkey, s_suppkey,
                   ROUND((px - qx) * (px - qx) + (py - qy) * (py - qy), 3)
                   + 0.0 AS d2
            FROM cp CROSS JOIN sp
            WHERE (px - qx) * (px - qx) + (py - qy) * (py - qy)
                  <= 2250000.0
        """,
        "perimeter": """
            SELECT s_suppkey,
                   (2 * ((100 + (s_suppkey % 500))
                         + (100 + (s_suppkey % 700)))
                    + 2 * ((100 + (s_suppkey % 500) - 40)
                           + (100 + (s_suppkey % 700) - 40)))::DOUBLE
                   + 0.0 AS perim
            FROM supplier
        """,
        "asof": """
            WITH v AS (
                SELECT event_id, user_id, ts, value
                FROM events WHERE event_type = 'view'
            ), c AS (
                SELECT user_id, ts, event_id AS click_id, value
                FROM events WHERE event_type = 'click'
            )
            SELECT v.event_id, v.user_id,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                   v.value,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_right,
                   c.click_id AS click_id_right,
                   c.value AS value_right
            FROM v ASOF LEFT JOIN c
              ON v.user_id = c.user_id AND v.ts >= c.ts
        """,
        "interval": """
            WITH iv AS (
                SELECT event_id, user_id, event_type, ts, value,
                       epoch(ts) AS s,
                       epoch(ts) + value * 3600.0 AS e
                FROM events
            ), v AS (
                SELECT * FROM iv WHERE event_type = 'view'
            ), c AS (
                SELECT * FROM iv WHERE event_type = 'click'
            )
            SELECT v.event_id, v.user_id,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                   v.value,
                   c.event_id AS event_id_right,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_right,
                   c.value AS value_right
            FROM v JOIN c
              ON v.user_id = c.user_id
             AND v.s <= c.e AND c.s <= v.e
        """,
        "simplify": """
            WITH s AS (
                SELECT s_suppkey, s_suppkey % 6 + 1 AS p,
                       s_suppkey % 10 AS h
                FROM supplier
            )
            SELECT s_suppkey,
                   (CASE WHEN h >= 5 THEN 3 ELSE 2 END)::INTEGER AS nvert,
                   ROUND(CASE WHEN h >= 5
                         THEN sqrt((p * p + h * h)::DOUBLE)
                              + sqrt(((7 - p) * (7 - p) + h * h)::DOUBLE)
                         ELSE 7.0 END, 6) + 0.0 AS length
            FROM s
        """,
        "convexhull": """
            SELECT s_suppkey,
                   (4 + s_suppkey % 5)::INTEGER AS nvert,
                   ((4 + s_suppkey % 5) * (3 + s_suppkey % 5)
                    * (2 + s_suppkey % 5) / 6)::DOUBLE AS hull_area,
                   (s_suppkey * 31 % 1000)::DOUBLE AS x0,
                   (s_suppkey * 17 % 1000)::DOUBLE AS y0
            FROM supplier
        """,
        "top_ngrams": r"""
            WITH toks AS (
                SELECT list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '') AS ts
                FROM documents WHERE text IS NOT NULL
            ), grams AS (
                SELECT array_to_string(ts[i:i+2], ' ') AS ngram
                FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i
                      FROM toks)
            )
            SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram
            ORDER BY cnt DESC, ngram LIMIT 25
        """,
        "contamination": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id, array_to_string(ts[i:i+3], ' ') AS g
                FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 2)) AS i
                      FROM toks WHERE len(ts) >= 4)
            ), bgrams AS (
                SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
            ), hits AS (
                SELECT grams.doc_id, count(*) AS n_contaminated
                FROM grams JOIN bgrams USING (g)
                GROUP BY grams.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.n_contaminated, 0) AS n_contaminated,
                   CASE WHEN coalesce(h.n_contaminated, 0) > 0
                        THEN 1 ELSE 0 END AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "chunk": r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\s+') AS ts
                FROM documents
                WHERE doc_id < 300 AND trim(text) <> ''
            ), s AS (
                SELECT doc_id, ts, len(ts) AS n,
                       unnest(range(0, len(ts), 18)) AS st
                FROM t
            )
            SELECT doc_id,
                   (st // 18)::INTEGER AS chunk_id,
                   array_to_string(ts[st + 1:st + 24], ' ') AS chunk_text,
                   LEAST(24, n - st)::INTEGER AS n_tokens
            FROM s
            WHERE st = 0 OR n - st > 6
        """,
        "pii_scrub": r"""
            WITH d AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id::VARCHAR
                         || '@example.com ssn '
                         || (doc_id % 900 + 100)::VARCHAR || '-'
                         || (doc_id % 90 + 10)::VARCHAR || '-'
                         || (doc_id % 9000 + 1000)::VARCHAR
                         || ' tel '
                         || (doc_id * 3 % 900 + 100)::VARCHAR || '-'
                         || (doc_id * 7 % 900 + 100)::VARCHAR || '-'
                         || (doc_id * 11 % 9000 + 1000)::VARCHAR
                         || ' ip 10.'
                         || (doc_id % 256)::VARCHAR || '.'
                         || (doc_id * 3 % 256)::VARCHAR || '.'
                         || (doc_id % 250)::VARCHAR AS t
                FROM documents WHERE doc_id < 400
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
                   ))::INTEGER AS n_email,
                   len(regexp_extract_all(t,
                       '\b\d{3}-\d{2}-\d{4}\b'))::INTEGER AS n_ssn,
                   len(regexp_extract_all(t,
                       '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::INTEGER AS n_phone,
                   len(regexp_extract_all(t,
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::INTEGER AS n_ipv4,
                   regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '[PII]', 'g'),
                       '\b\d{3}-\d{2}-\d{4}\b', '[PII]', 'g'),
                       '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PII]', 'g'),
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g')
                   AS scrubbed
            FROM d
        """,
        "stratified": r"""
            WITH RECURSIVE norm AS (
                SELECT doc_id, lang,
                       regexp_replace(regexp_replace(
                           lower(coalesce(text, '')),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS t
                FROM documents WHERE doc_id < 500
            ), h AS (
                SELECT doc_id, lang, 1 AS pos, CAST(0 AS HUGEINT) AS acc,
                       length(t) AS n, t
                FROM norm
                UNION ALL
                SELECT doc_id, lang, pos + 1,
                       (acc * 1099511628211 + ord(substr(t, pos, 1)))
                           % CAST('18446744073709551616' AS HUGEINT),
                       n, t
                FROM h WHERE pos <= n
            ), fp AS (
                SELECT doc_id, lang,
                       (CASE WHEN acc >= CAST('9223372036854775808'
                                              AS HUGEINT)
                             THEN acc - CAST('18446744073709551616'
                                             AS HUGEINT)
                             ELSE acc END)::BIGINT AS fp
                FROM h WHERE pos = n + 1
            )
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY fp, doc_id)::INTEGER AS rank
            FROM fp
            QUALIFY rank <= 15
        """,
        "hash_sample": r"""
            WITH RECURSIVE norm AS (
                SELECT doc_id, lang,
                       regexp_replace(regexp_replace(
                           lower(coalesce(text, '')),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS t
                FROM documents WHERE doc_id < 500
            ), h AS (
                SELECT doc_id, lang, 1 AS pos, CAST(0 AS HUGEINT) AS acc,
                       length(t) AS n, t
                FROM norm
                UNION ALL
                SELECT doc_id, lang, pos + 1,
                       (acc * 1099511628211 + ord(substr(t, pos, 1)))
                           % CAST('18446744073709551616' AS HUGEINT),
                       n, t
                FROM h WHERE pos <= n
            ), fp AS (
                SELECT doc_id, lang,
                       (CASE WHEN acc >= CAST('9223372036854775808'
                                              AS HUGEINT)
                             THEN acc - CAST('18446744073709551616'
                                             AS HUGEINT)
                             ELSE acc END)::BIGINT AS fp
                FROM h WHERE pos = n + 1
            )
            SELECT doc_id, lang FROM fp
            WHERE (fp % 1000000 + 1000000) % 1000000 < 200000
        """,
        "ivfpq": """
            WITH pos AS (
                SELECT unnest(range(0, 16)) AS t
            ), vals AS (
                SELECT s_suppkey AS i, t,
                       ((((s_suppkey >> (3 * (t // 4))) & 7) * 7
                         + (t % 4) * 3) % 11)::DOUBLE AS v
                FROM supplier, pos
            ), q AS (
                SELECT i AS qid, t, v AS qv FROM vals WHERE i <= 3
            ), d AS (
                SELECT q.qid AS query_id, vals.i AS vec_id,
                       sum((vals.v - q.qv) * (vals.v - q.qv)) AS dist
                FROM vals JOIN q USING (t)
                GROUP BY q.qid, vals.i
            ), rk AS (
                SELECT query_id, vec_id,
                       ROUND(dist, 9) + 0.0 AS approx_dist,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY dist, vec_id) AS rank
                FROM d
            )
            SELECT query_id, vec_id, approx_dist, rank::INT AS rank
            FROM rk WHERE rank <= 8
        """,
        "extent": """
            WITH r AS (
                SELECT s_nationkey,
                       (s_suppkey * 31 % 1000)::DOUBLE AS x0,
                       (s_suppkey * 17 % 1000)::DOUBLE AS y0,
                       (s_suppkey % 5 + 1)::DOUBLE AS w,
                       (s_suppkey * 3 % 7 + 1)::DOUBLE AS h
                FROM supplier
            )
            SELECT s_nationkey,
                   min(x0) AS xmin, min(y0) AS ymin,
                   max(x0 + w) AS xmax, max(y0 + h) AS ymax,
                   count(*) AS n_geoms
            FROM r GROUP BY s_nationkey
        """,
        "haversine": """
            WITH p AS (
                SELECT c_custkey,
                       ((c_custkey * 7 % 3600)::DOUBLE / 10.0) - 180.0
                           AS lon1,
                       ((c_custkey * 11 % 1700)::DOUBLE / 10.0) - 85.0
                           AS lat1,
                       (((c_custkey + 1) * 7 % 3600)::DOUBLE / 10.0)
                           - 180.0 AS lon2,
                       (((c_custkey + 1) * 11 % 1700)::DOUBLE / 10.0)
                           - 85.0 AS lat2
                FROM customer
            ), t AS (
                SELECT c_custkey,
                       radians(lat1) AS p1, radians(lat2) AS p2,
                       (radians(lat2) - radians(lat1)) / 2.0 AS dphi,
                       (radians(lon2) - radians(lon1)) / 2.0 AS dlmb
                FROM p
            )
            SELECT c_custkey,
                   ROUND(12742017.6 * asin(sqrt(
                       sin(dphi) * sin(dphi)
                       + cos(p1) * cos(p2) * sin(dlmb) * sin(dlmb))), 3)
                       + 0.0 AS dist_m
            FROM t
        """,
        "line_interpolate": """
            WITH s AS (
                SELECT s_suppkey,
                       (s_suppkey * 31 % 1000)::DOUBLE AS x0,
                       (s_suppkey * 17 % 1000)::DOUBLE AS y0,
                       (s_suppkey % 9 + 1)::DOUBLE AS a,
                       (s_suppkey * 3 % 11 + 1)::DOUBLE AS b
                FROM supplier
            ), t AS (
                SELECT s_suppkey, x0, y0, a, b,
                       0.5 * (a + b) AS target
                FROM s
            )
            SELECT s_suppkey,
                   ROUND(CASE WHEN target <= a THEN x0 + target
                              ELSE x0 + a END, 6) + 0.0 AS px,
                   ROUND(CASE WHEN target <= a THEN y0
                              ELSE y0 + (target - a) END, 6) + 0.0 AS py
            FROM t
        """,
        "normalize": r"""
            SELECT doc_id,
                   regexp_replace(trim(strip_accents(nfc_normalize(
                       text || ' cafe' || chr(769) || ' u' || chr(776)
                            || ' fin'))), '\s+', ' ', 'g') AS normalized
            FROM documents WHERE doc_id < 400
        """,
        "unigram_score": r"""
            WITH tk AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(trim(text)), '\s+'),
                           t -> t <> '')) AS w
                FROM documents WHERE doc_id < 500
            ), c AS (
                SELECT w, count(*) AS c FROM tk GROUP BY w
            ), tot AS (
                SELECT sum(c)::DOUBLE + 0.5 * (LEAST(40, count(*)) + 1)
                           AS denom
                FROM c
            ), lp AS (
                SELECT w, ln((c + 0.5) / (SELECT denom FROM tot)) AS logp
                FROM c ORDER BY c DESC, w ASC LIMIT 40
            ), sc AS (
                SELECT tk.doc_id,
                       sum(coalesce(lp.logp,
                           ln(0.5 / (SELECT denom FROM tot))))
                           / count(*) AS s,
                       count(*)::BIGINT AS n
                FROM tk LEFT JOIN lp USING (w) GROUP BY tk.doc_id
            )
            SELECT d.doc_id,
                   ROUND(sc.s, 6) + 0.0 AS logprob_score,
                   sc.n AS n_tokens
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE doc_id < 500) d
            LEFT JOIN sc USING (doc_id)
        """,
        "pack": r"""
            WITH RECURSIVE norm AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(
                           lower(coalesce(text, '')),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS t,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text),
                                                        '\s+')) END AS tok
                FROM documents WHERE doc_id < 500
            ), h AS (
                SELECT doc_id, tok, 1 AS pos, CAST(0 AS HUGEINT) AS acc,
                       length(t) AS n, t
                FROM norm
                UNION ALL
                SELECT doc_id, tok, pos + 1,
                       (acc * 1099511628211 + ord(substr(t, pos, 1)))
                           % CAST('18446744073709551616' AS HUGEINT),
                       n, t
                FROM h WHERE pos <= n
            ), fp AS (
                SELECT doc_id, tok,
                       (CASE WHEN acc >= CAST('9223372036854775808'
                                              AS HUGEINT)
                             THEN acc - CAST('18446744073709551616'
                                             AS HUGEINT)
                             ELSE acc END)::BIGINT AS fp
                FROM h WHERE pos = n + 1
            ), packed AS (
                SELECT doc_id,
                       ((fp % 8 + 8) % 8)::INTEGER AS shard, tok,
                       (sum(tok) OVER (
                            PARTITION BY (fp % 8 + 8) % 8
                            ORDER BY fp, doc_id) - tok)::BIGINT AS bin_pos
                FROM fp
            )
            SELECT doc_id, shard,
                   floor(bin_pos / 200)::INTEGER AS bin,
                   bin_pos, tok::INTEGER AS n_tokens
            FROM packed
        """,
        "profile": r"""
            WITH tok AS (
                SELECT lang,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text),
                                                        '\s+')) END AS t
                FROM documents WHERE doc_id < 500
            )
            SELECT lang AS stratum,
                   count(*) AS n_docs,
                   sum(t) AS total_tokens,
                   ROUND(avg(t), 6) + 0.0 AS mean_tokens,
                   ROUND(quantile_cont(t, 0.25), 6) + 0.0 AS p25_tokens,
                   ROUND(quantile_cont(t, 0.5), 6) + 0.0 AS p50_tokens,
                   ROUND(quantile_cont(t, 0.75), 6) + 0.0 AS p75_tokens,
                   ROUND(quantile_cont(t, 0.9375), 6) + 0.0
                       AS p9375_tokens
            FROM tok GROUP BY lang
        """,
        "mixture": r"""
            WITH RECURSIVE norm AS (
                SELECT doc_id, lang,
                       regexp_replace(regexp_replace(
                           lower(coalesce(text, '')),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS t
                FROM documents WHERE doc_id < 500
            ), h AS (
                SELECT doc_id, lang, 1 AS pos, CAST(0 AS HUGEINT) AS acc,
                       length(t) AS n, t
                FROM norm
                UNION ALL
                SELECT doc_id, lang, pos + 1,
                       (acc * 1099511628211 + ord(substr(t, pos, 1)))
                           % CAST('18446744073709551616' AS HUGEINT),
                       n, t
                FROM h WHERE pos <= n
            ), fp AS (
                SELECT doc_id, lang,
                       (CASE WHEN acc >= CAST('9223372036854775808'
                                              AS HUGEINT)
                             THEN acc - CAST('18446744073709551616'
                                             AS HUGEINT)
                             ELSE acc END)::BIGINT AS fp
                FROM h WHERE pos = n + 1
            ), cnt AS (
                SELECT lang, count(*) AS n FROM fp GROUP BY lang
            ), wt AS (
                SELECT * FROM (VALUES ('en', 0.5::DOUBLE),
                                      ('zh', 0.25::DOUBLE),
                                      ('fr', 0.25::DOUBLE)) w(lang, wt)
            ), cut AS (
                SELECT cnt.lang,
                       floor(least(1000000.0,
                           wt / 1.0 * 150.0 / n * 1000000.0)) AS cut
                FROM cnt JOIN wt USING (lang)
            )
            SELECT fp.doc_id, fp.lang
            FROM fp JOIN cut USING (lang)
            WHERE (fp.fp % 1000000 + 1000000) % 1000000 < cut.cut
        """,
        "clean_lines": r"""
            WITH d AS (
                SELECT doc_id,
                       replace(text, ' table',
                               '.' || chr(10) || 'table') || '.' AS t
                FROM documents WHERE doc_id < 400
            ), ls AS (
                SELECT doc_id, string_split(t, chr(10)) AS lines FROM d
            ), ln AS (
                SELECT doc_id, lines[i] AS line, i AS ord
                FROM ls, LATERAL (
                    SELECT unnest(range(1, len(lines) + 1)) AS i)
            ), ded AS (
                SELECT doc_id, line, min(ord) AS ord
                FROM ln GROUP BY doc_id, line
            ), keep AS (
                SELECT doc_id, line, ord FROM ded
                WHERE regexp_matches(line, '[.!?"]$')
                  AND len(string_split_regex(line, '\s+')) >= 3
            ), agg AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY ord) AS cleaned,
                       count(*) AS n_kept
                FROM keep GROUP BY doc_id
            )
            SELECT ls.doc_id,
                   coalesce(a.cleaned, '') AS cleaned,
                   len(ls.lines)::INTEGER AS n_lines,
                   coalesce(a.n_kept, 0)::INTEGER AS n_kept
            FROM ls LEFT JOIN agg a USING (doc_id)
        """,
        "dedup_best": """
            WITH d AS (
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id < 500
            ), cl AS (
                SELECT doc_id, n_chars, doc_id // 10 AS g
                FROM d WHERE doc_id % 10 <= 2
            ), win AS (
                SELECT g, doc_id AS wid,
                       ROW_NUMBER() OVER (PARTITION BY g
                           ORDER BY n_chars DESC, doc_id) AS rn
                FROM cl
            ), losers AS (
                SELECT cl.doc_id
                FROM cl JOIN win ON cl.g = win.g AND win.rn = 1
                WHERE cl.doc_id <> win.wid
            )
            SELECT d.doc_id, d.lang FROM d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "containment": r"""
            WITH base AS (
                SELECT doc_id, text FROM documents WHERE doc_id < 400
            ), planted AS (
                SELECT doc_id + 10000 AS doc_id,
                       array_to_string(list_slice(
                           string_split_regex(trim(text), '\s+'),
                           1, 15), ' ') AS text
                FROM base WHERE doc_id % 50 = 0
            ), all_docs AS (
                SELECT * FROM base UNION ALL SELECT * FROM planted
            ), toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '') AS ts
                FROM all_docs
            ), grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, len(ts) - 3),
                           i -> array_to_string(ts[i:i+4], ' '))) AS g
                FROM toks WHERE len(ts) >= 5
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.g, b.g))::BIGINT AS shared,
                   len(a.g)::BIGINT AS n_a, len(b.g)::BIGINT AS n_b,
                   ROUND(len(list_intersect(a.g, b.g))
                         / LEAST(len(a.g), len(b.g))::DOUBLE, 6) + 0.0
                       AS containment
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.g, b.g))
                  / LEAST(len(a.g), len(b.g))::DOUBLE >= 0.9
        """,
        "buffer": """
            WITH s AS (
                SELECT s_suppkey,
                       (s_suppkey * 31 % 1000)::DOUBLE AS ox,
                       (s_suppkey * 17 % 1000)::DOUBLE AS oy
                FROM supplier
            ), k AS (
                SELECT s_suppkey, ox, oy, unnest(range(0, 33)) AS k
                FROM s
            )
            SELECT s_suppkey, k::INTEGER AS k,
                   ROUND(ox + 3.0 * cos(2.0 * pi() * (k % 32) / 32), 6)
                       + 0.0 AS vx,
                   ROUND(oy + 3.0 * sin(2.0 * pi() * (k % 32) / 32), 6)
                       + 0.0 AS vy
            FROM k
        """,
        "buffer_line": """
            WITH s AS (
                SELECT s_suppkey,
                       (s_suppkey * 13 % 400)::DOUBLE AS x0,
                       (s_suppkey * 29 % 400)::DOUBLE AS y0,
                       (s_suppkey * 13 % 400 + 10 + s_suppkey % 7)::DOUBLE
                           AS x1,
                       (CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE -1
                        END)::DOUBLE AS sg,
                       (s_suppkey * 29 % 400
                        + (CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE -1 END)
                          * (8 + s_suppkey % 5))::DOUBLE AS y2,
                       2.0 AS r
                FROM supplier
            ), k AS (
                SELECT *, unnest(range(0, 7)) AS k FROM s
            )
            SELECT s_suppkey, k::INTEGER AS k,
                   ROUND(CASE k
                         WHEN 0 THEN x0
                         WHEN 1 THEN x1 + sg * r
                         WHEN 2 THEN x1 + sg * r
                         WHEN 3 THEN x1 - sg * r
                         WHEN 4 THEN x1 - sg * r
                         WHEN 5 THEN x0
                         ELSE x0 END, 6) + 0.0 AS vx,
                   ROUND(CASE k
                         WHEN 0 THEN y0 - r
                         WHEN 1 THEN y0 - r
                         WHEN 2 THEN y2
                         WHEN 3 THEN y2
                         WHEN 4 THEN y0 + r
                         WHEN 5 THEN y0 + r
                         ELSE y0 - r END, 6) + 0.0 AS vy
            FROM k
        """,
        "streaming_join": """
            WITH v AS (
                SELECT event_id AS view_id, user_id, ts
                FROM events WHERE event_type = 'view'
            ), p AS (
                SELECT event_id AS purchase_id, user_id, ts
                FROM events WHERE event_type = 'purchase'
            )
            SELECT v.view_id, p.purchase_id,
                   epoch(p.ts) - epoch(v.ts) AS delay_sec
            FROM v JOIN p ON v.user_id = p.user_id
               AND p.ts >= v.ts
               AND p.ts <= v.ts + INTERVAL 30 MINUTE
        """,
        "streaming_join_outer": """
            WITH v AS (
                SELECT event_id AS view_id, user_id, ts
                FROM events WHERE event_type = 'view'
            ), p AS (
                SELECT event_id AS purchase_id, user_id, ts
                FROM events WHERE event_type = 'purchase'
            )
            SELECT v.view_id, p.purchase_id,
                   epoch(p.ts) - epoch(v.ts) AS delay_sec
            FROM v LEFT JOIN p ON v.user_id = p.user_id
               AND p.ts >= v.ts
               AND p.ts <= v.ts + INTERVAL 30 MINUTE
        """,
        "gc_clip": """
            WITH sup AS (
                SELECT s_suppkey,
                       (s_suppkey * 37 % 40000)::DOUBLE + 0.5 AS px,
                       (s_suppkey * 53 % 40000)::DOUBLE + 0.5 AS py,
                       (s_suppkey * 91 % 36000)::DOUBLE + 0.5 AS lx,
                       (s_suppkey * 17 % 40000)::DOUBLE + 0.5 AS ly,
                       (s_suppkey * 61 % 37000)::DOUBLE + 0.5 AS qx,
                       (s_suppkey * 23 % 38000)::DOUBLE + 0.5 AS qy
                FROM supplier
            ), nr AS (
                SELECT (n_nationkey * 1543 % 40000)::DOUBLE AS x0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS y0
                FROM nation
            )
            SELECT s_suppkey, 'Point' AS mtype, ROUND(px, 3) + 0.0 AS metric
            FROM sup CROSS JOIN nr
            WHERE px > x0 AND px < x0 + 6000 AND py > y0 AND py < y0 + 6000
            UNION ALL
            SELECT s_suppkey, 'LineString',
                   ROUND(LEAST(lx + 4000, x0 + 6000) - GREATEST(lx, x0), 3)
                   + 0.0
            FROM sup CROSS JOIN nr
            WHERE ly > y0 AND ly < y0 + 6000
              AND LEAST(lx + 4000, x0 + 6000) > GREATEST(lx, x0)
            UNION ALL
            SELECT s_suppkey, 'Polygon',
                   ROUND((LEAST(qx + 3000, x0 + 6000) - GREATEST(qx, x0))
                         * (LEAST(qy + 2000, y0 + 6000) - GREATEST(qy, y0)),
                         3) + 0.0
            FROM sup CROSS JOIN nr
            WHERE LEAST(qx + 3000, x0 + 6000) > GREATEST(qx, x0)
              AND LEAST(qy + 2000, y0 + 6000) > GREATEST(qy, y0)
        """,
        "join_contains": """
            WITH nr AS (
                SELECT n_nationkey,
                       (n_nationkey * 1543 % 40000)::DOUBLE AS x0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS y0
                FROM nation
            ), cp AS (
                SELECT c_custkey,
                       (c_custkey * 7919 % 50000) + 0.5 AS px,
                       (c_custkey * 104729 % 50000) + 0.5 AS py
                FROM customer
            )
            SELECT n_nationkey,
                   COUNT(cp.c_custkey) FILTER (
                       WHERE px > x0 AND px < x0 + 6000
                         AND py > y0 AND py < y0 + 6000
                   )::INT AS n_contained
            FROM nr LEFT JOIN cp ON TRUE
            GROUP BY n_nationkey
        """,
        "join_contains_rects": """
            WITH nr AS (
                SELECT n_nationkey,
                       (n_nationkey * 1543 % 40000)::DOUBLE AS nx0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS ny0
                FROM nation
            ), sr AS (
                SELECT (s_suppkey * 13 % 40000)::DOUBLE + 0.5 AS x0,
                       (s_suppkey * 29 % 40000)::DOUBLE + 0.5 AS y0,
                       (100 + (s_suppkey % 500))::DOUBLE AS w,
                       (100 + (s_suppkey % 700))::DOUBLE AS h
                FROM supplier
            )
            SELECT n_nationkey,
                   COUNT(*) FILTER (
                       WHERE x0 >= nx0 AND x0 + w <= nx0 + 6000
                         AND y0 >= ny0 AND y0 + h <= ny0 + 6000
                   )::INT AS n_contained
            FROM nr LEFT JOIN sr ON TRUE
            GROUP BY n_nationkey
        """,
        "cell_index": _cell_index_oracle_sql(12),
        "geohash": _geohash_oracle_sql(9),
        "geohash_decode": _geohash_decode_oracle_sql(9),
        "cell_cover": _cell_cover_oracle_sql(12),
        "tiles": f"""
            SELECT c_custkey, 6 AS zoom,
                   FLOOR( (((c_custkey * 7919 % 40000) - 20000) * 800.0 + {M})
                          / (2 * {M}) * 64 )::BIGINT AS tile_x,
                   FLOOR( ({M} - ((c_custkey * 104729 % 40000) - 20000) * 800.0)
                          / (2 * {M}) * 64 )::BIGINT AS tile_y
            FROM customer
        """,
        "rasterize": f"""
            WITH sr AS (
                SELECT s_suppkey,
                       (((s_suppkey * 13 % 40000) - 20000) * 800)::DOUBLE AS x0,
                       (((s_suppkey * 29 % 40000) - 20000) * 800)::DOUBLE AS y0,
                       (((s_suppkey * 13 % 40000) - 20000) * 800
                        + (2000 + (s_suppkey % 7) * 333) * 800)::DOUBLE AS x1,
                       (((s_suppkey * 29 % 40000) - 20000) * 800
                        + (2000 + (s_suppkey % 11) * 211) * 800)::DOUBLE AS y1
                FROM supplier
            ), tx AS (
                SELECT *, unnest(generate_series(
                    CAST(FLOOR((x0 + {M}) / (2 * {M} / 64)) AS BIGINT),
                    CAST(FLOOR((x1 + {M}) / (2 * {M} / 64)) AS BIGINT)
                )) AS tile_x
                FROM sr
            ), ty AS (
                SELECT *, unnest(generate_series(
                    CAST(FLOOR(({M} - y1) / (2 * {M} / 64)) AS BIGINT),
                    CAST(FLOOR(({M} - y0) / (2 * {M} / 64)) AS BIGINT)
                )) AS tile_y
                FROM tx
            ), px AS (
                SELECT s_suppkey, tile_x, tile_y, x0, x1, y0, y1,
                       tile_x * (2 * {M} / 64) - {M} AS tx0,
                       {M} - tile_y * (2 * {M} / 64) AS ty1,
                       (2 * {M} / 64) / 16 AS p
                FROM ty
            )
            SELECT s_suppkey, tile_x, tile_y,
                   (GREATEST(0, LEAST(15, FLOOR((x1 - tx0) / p - 0.5))
                               - GREATEST(0, CEIL((x0 - tx0) / p - 0.5)) + 1)
                  * GREATEST(0, LEAST(15, FLOOR((ty1 - y0) / p - 0.5))
                               - GREATEST(0, CEIL((ty1 - y1) / p - 0.5)) + 1)
                   )::INT AS n_pixels
            FROM px
        """,
        "agg_conditional": """
            SELECT l_returnflag,
                   COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
                   ROUND(AVG(CASE WHEN l_discount > 0.05 THEN l_quantity END), 6)
                       AS avg_qty_discounted
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "from_csv": """
            SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
        """,
        "from_json": """
            SELECT n_nationkey, n_name, n_regionkey FROM nation
        """,
        "topk_window": """
            SELECT p_brand, p_partkey, p_retailprice, rank::INT AS rank FROM (
                SELECT p_brand, p_partkey, p_retailprice,
                       ROW_NUMBER() OVER (PARTITION BY p_brand
                           ORDER BY p_retailprice DESC, p_partkey) AS rank
                FROM part
            ) WHERE rank <= 3
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
            FROM documents GROUP BY text
        """,
        "token_count": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END AS n_tokens
            FROM documents
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]{1,4}|\d+|[^\sA-Za-z\d]'))
                       AS n_bpe
            FROM documents
        """,
        "quality": r"""
            SELECT doc_id,
                   ROUND(
                     0.4 * LEAST(len(text)::DOUBLE / 500.0, 1.0)
                   + 0.3 * (CASE WHEN len(text) > 0
                            THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                                 / len(text) ELSE 0.0 END)
                   + 0.3 * (1.0 - LEAST(GREATEST(0.0,
                         (CASE WHEN len(text) > 0
                          THEN len(regexp_replace(text, '[\w\s]', '', 'g'))::DOUBLE
                               / len(text) ELSE 0.0 END) - 0.1) * 5.0, 1.0))
                   , 6) AS quality
            FROM documents
        """,
        "quality_signals": r"""
            WITH c AS (
                SELECT doc_id,
                       string_split(text, chr(10)) AS lines,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+'))
                       END AS words,
                       length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS chars,
                       len(regexp_extract_all(text, '[#=~|^]'))::DOUBLE AS syms
                FROM documents
            )
            SELECT doc_id,
                   ROUND(CASE WHEN len(lines) > 0
                         THEN 1.0 - len(list_distinct(lines))::DOUBLE
                              / len(lines)::DOUBLE
                         ELSE 0.0 END, 6) AS dup_line_frac,
                   ROUND(CASE WHEN words > 0 THEN chars / words::DOUBLE
                         ELSE 0.0 END, 6) AS mean_word_len,
                   ROUND(CASE WHEN words > 0 THEN syms / words::DOUBLE
                         ELSE 0.0 END, 6) AS symbol_ratio
            FROM c
        """,
        "quantize": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) / 127.0
                           AS scale
                FROM e
            ), c AS (
                SELECT vec_id, scale,
                       CASE WHEN scale > 0
                            THEN list_transform(v, x -> ROUND(x / scale)::INT)
                            ELSE list_transform(v, x -> 0) END AS q
                FROM s
            )
            SELECT vec_id,
                   ROUND(scale, 6) + 0.0 AS q_scale,
                   list_sum(q)::INT AS q_sum,
                   list_min(q)::INT AS q_min,
                   list_max(q)::INT AS q_max
            FROM c
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5
            ), sims AS (
                SELECT q.qid AS query_id, e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
                FROM embeddings e CROSS JOIN q
            ), ranked AS (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, vec_id) AS rank
                FROM sims
            )
            SELECT query_id, vec_id, rank::INT AS rank FROM ranked WHERE rank <= 10
        """,
        # minhash LSH vs BRUTE-FORCE 5-gram Jaccard: the oracle enumerates
        # all pairs exactly (distinct 5-char substrings stand in for the
        # engine's shingle hashes — ASCII corpus, no collisions), so the
        # match additionally certifies LSH recall: the corpus' true pairs
        # are high-Jaccard template duplicates, for which 16 bands of 4
        # hashes miss with probability < 1e-3 — and the seeded pipeline is
        # deterministic, so the observed complete recall is reproducible.
        "minhash_pairs": _MINHASH_BRUTE_CTE + """
            SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b
        """,
        "minhash_dedup": _MINHASH_BRUTE_CTE + """
            , edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), labels AS (
                SELECT src AS v, src AS comp FROM edges
                UNION
                SELECT e.dst, l.comp FROM edges e JOIN labels l ON l.v = e.src
            ), comps AS (SELECT v, min(comp) AS comp FROM labels GROUP BY v)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT v FROM comps WHERE v <> comp)
            ORDER BY doc_id
        """,
        "flagship_keyed": _flagship_keyed_oracle_sql(),
        "documents_pipeline_fast": _docs_pipeline_oracle_sql(
            refs_clause="""SELECT minx AS rminx, miny AS rminy,
                                  maxx AS rmaxx, maxy AS rmaxy
                           FROM g WHERE NOT ispt
                             AND substr(doc_id, 4)::BIGINT % 13 = 0""",
            zoom=5,
        ),
        "documents_pipeline": _docs_pipeline_oracle_sql(
            refs_clause="""SELECT minx AS rminx, miny AS rminy,
                                  maxx AS rmaxx, maxy AS rmaxy
                           FROM (SELECT * FROM g WHERE NOT ispt
                                 ORDER BY doc_id LIMIT 20)""",
            zoom=5,
        ),
        "simhash_pairs": _simhash_oracle_sql(),
        "lang_id": _lang_id_oracle_sql(),
        # fingerprint: 64-bit Horner polynomial hash of the normalized
        # text, re-computed character-by-character in a recursive CTE with
        # HUGEINT arithmetic wrapped to 2^64 (valid because the corpus is
        # ASCII: codepoint == UTF-8 byte; the engine hashes UTF-8 bytes)
        "fingerprint": r"""
            WITH RECURSIVE norm AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(
                           lower(coalesce(text, '')),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS t
                FROM documents
            ), h AS (
                SELECT doc_id, 1 AS pos, CAST(0 AS HUGEINT) AS acc,
                       length(t) AS n, t
                FROM norm
                UNION ALL
                SELECT doc_id, pos + 1,
                       (acc * 1099511628211 + ord(substr(t, pos, 1)))
                           % CAST('18446744073709551616' AS HUGEINT),
                       n, t
                FROM h WHERE pos <= n
            )
            SELECT doc_id,
                   (CASE WHEN acc >= CAST('9223372036854775808' AS HUGEINT)
                         THEN acc - CAST('18446744073709551616' AS HUGEINT)
                         ELSE acc END)::BIGINT AS fp
            FROM h WHERE pos = n + 1
        """,
        "streaming_spatial": """
            WITH cp AS (
                SELECT c_custkey,
                       (c_custkey * 7919 % 50000) + 0.5 AS px,
                       (c_custkey * 104729 % 50000) + 0.5 AS py
                FROM customer
            ), nr AS (
                SELECT (n_nationkey * 1543 % 40000)::DOUBLE AS x0,
                       (n_nationkey * 2719 % 40000)::DOUBLE AS y0
                FROM nation
            )
            SELECT c_custkey
            FROM cp CROSS JOIN nr
            WHERE px > x0 AND px < x0 + 6000
              AND py > y0 AND py < y0 + 6000
        """,
        "streaming_dedup": """
            SELECT DISTINCT (doc_id % 100) AS grp FROM documents
            ORDER BY grp
        """,
        "media_features": """
            WITH m AS (
                SELECT s_suppkey::VARCHAR AS media_id,
                       sha256('media-' || s_suppkey::VARCHAR) AS hx
                FROM supplier
            ), idx AS (SELECT unnest(range(16)) AS i)
            SELECT media_id, i::INT AS idx,
                   ROUND((('0x' || substr(hx, (i*2 + 1)::INT, 2))::INT)::DOUBLE
                         / 255.0, 4) AS v
            FROM m CROSS JOIN idx
        """,
        "media_ppm": """
            WITH px AS (
                SELECT s_suppkey,
                       (s_suppkey + 7 * t.p) % 256 AS r,
                       (s_suppkey * 3 + 11 * t.p) % 256 AS g,
                       (s_suppkey * 5 + 13 * t.p) % 256 AS b
                FROM supplier CROSS JOIN range(48) t(p)
            ), agg AS (
                SELECT s_suppkey,
                       SUM(r) AS rs, SUM(g) AS gs, SUM(b) AS bs,
                       MIN(r) AS rmin, MAX(r) AS rmax,
                       MIN(g) AS gmin, MAX(g) AS gmax,
                       MIN(b) AS bmin, MAX(b) AS bmax,
                       COUNT(*) FILTER (WHERE r > g) AS rg
                FROM px GROUP BY s_suppkey
            ), lst AS (
                SELECT s_suppkey::VARCHAR AS media_id, [
                    {'idx': 0, 'v': 8.0 / 256.0},
                    {'idx': 1, 'v': 6.0 / 256.0},
                    {'idx': 2, 'v': 255.0 / 256.0},
                    {'idx': 3, 'v': rs::DOUBLE / 1048576.0},
                    {'idx': 4, 'v': gs::DOUBLE / 1048576.0},
                    {'idx': 5, 'v': bs::DOUBLE / 1048576.0},
                    {'idx': 6, 'v': rmin::DOUBLE / 256.0},
                    {'idx': 7, 'v': rmax::DOUBLE / 256.0},
                    {'idx': 8, 'v': gmin::DOUBLE / 256.0},
                    {'idx': 9, 'v': gmax::DOUBLE / 256.0},
                    {'idx': 10, 'v': bmin::DOUBLE / 256.0},
                    {'idx': 11, 'v': bmax::DOUBLE / 256.0},
                    {'idx': 12, 'v': rg::DOUBLE / 4096.0},
                    {'idx': 13, 'v': 0.0},
                    {'idx': 14, 'v': 0.0},
                    {'idx': 15, 'v': 0.0}
                ] AS fs FROM agg
            )
            SELECT media_id, u.idx::INT AS idx,
                   ROUND(u.v, 6) + 0.0 AS v
            FROM lst, UNNEST(fs) AS t(u)
        """,
        "streaming_window": """
            WITH mx AS (
                SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events
            ), w AS (
                SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS wstart,
                       event_type, count(*) AS n_events
                FROM events GROUP BY 1, 2
            )
            SELECT epoch(wstart)::BIGINT AS ws, event_type, n_events
            FROM w, mx
            WHERE wstart + INTERVAL 15 MINUTE <= wm
            ORDER BY ws, event_type
        """,
        "sessionize": """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w)
                                    > 1800.0
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT user_id, ts, value,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts)
                           AS sid
                FROM g
            )
            SELECT user_id, sid::INT AS session_seq,
                   COUNT(*)::BIGINT AS n_events,
                   ROUND(SUM(value), 6) AS value_sum,
                   strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
                   strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts
            FROM s
            GROUP BY user_id, sid
        """,
        "events_agg": """
            SELECT event_type, COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS value_sum
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "streaming_sessionize": """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w)
                                    > 1800.0
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT user_id, ts, value,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts)
                           AS sid
                FROM g
            ), sess AS (
                SELECT user_id, sid::INT AS session_seq,
                       COUNT(*)::BIGINT AS n_events,
                       ROUND(SUM(value), 6) AS value_sum,
                       MIN(ts) AS start_raw, MAX(ts) AS end_raw,
                       MAX(sid) OVER (PARTITION BY user_id) AS max_sid,
                       sid
                FROM s GROUP BY user_id, sid
            ), wm AS (
                SELECT epoch(MAX(ts)) - 600.0 AS w FROM events
            )
            SELECT user_id, session_seq, n_events, value_sum,
                   strftime(start_raw, '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
                   strftime(end_raw, '%Y-%m-%d %H:%M:%S.%f') AS end_ts
            FROM sess, wm
            WHERE sid < max_sid OR epoch(end_raw) + 1800.0 <= w
        """,
    }
