"""Spatial column functions: GeoJSON <-> struct geometry + scalar kernels.

The engine's canonical geometry column (SURVEY §1.2) is

    GEOM_TYPE = struct<geom_type: string,
                       x: array<double>, y: array<double>,
                       ring_offsets: array<int>, part_offsets: array<int>>

Conversion from GeoJSON happens ONCE at ingestion (SURVEY §2.6 G5); every
interior operator works on flat Arrow buffers via the numpy kernels in
``kernels/geometry.py``.  All functions here are pandas UDFs (Arrow-batched):
JSON parsing is per-row inside a batch (unavoidable), the math is batch-
vectorized numpy.

Reference parity (file:line in /root/reference):
  st_area      ndjson-spatial/src/area.rs:54-121 (planar, None geom -> 0.0)
  st_centroid  ndjson-spatial/src/centroid.rs:22-87 (geometry REPLACED)
  st_bbox      ndjson-common/src/common.rs:21-61 (quirky ordering)
  st_transform ndjson-spatial/src/transform.rs:27-109 (EPSG:4326<->3857 scope)
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..kernels import cells as KC
from ..kernels import geometry as KG

__all__ = [
    "GEOM_TYPE", "parse_geojson", "st_asgeojson", "st_area", "st_length",
    "st_centroid", "st_convexhull", "st_simplify", "st_perimeter", "st_buffer",
    "st_haversine", "st_line_interpolate_point", "st_extent_agg",
    "st_bbox", "st_transform", "st_point", "geom_to_batch",
    "st_collection_members", "explode_collections", "gc_members_expr",
    "st_boolean",
]

GEOM_TYPE = T.StructType(
    [
        T.StructField("geom_type", T.StringType()),
        T.StructField("x", T.ArrayType(T.DoubleType())),
        T.StructField("y", T.ArrayType(T.DoubleType())),
        T.StructField("ring_offsets", T.ArrayType(T.IntegerType())),
        T.StructField("part_offsets", T.ArrayType(T.IntegerType())),
    ]
)


def _flatten_coords(gtype: str, coords):
    """GeoJSON coordinates -> (x, y, ring_offsets, part_offsets)."""
    xs: list[float] = []
    ys: list[float] = []
    ro = [0]
    po = [0]

    def add_ring(pts):
        xs.extend(float(p[0]) for p in pts)
        ys.extend(float(p[1]) for p in pts)
        ro.append(len(xs))

    if gtype == "Point":
        add_ring([coords])
        po.append(1)
    elif gtype in ("MultiPoint", "LineString"):
        add_ring(coords)
        po.append(1)
    elif gtype in ("MultiLineString", "Polygon"):
        for ring in coords:
            add_ring(ring)
        if gtype == "Polygon":
            po.append(len(ro) - 1)  # all rings one part (ring 0 exterior)
        else:
            po.extend(range(1, len(ro)))  # each line its own part
    elif gtype == "MultiPolygon":
        for poly in coords:
            for ring in poly:
                add_ring(ring)
            po.append(len(ro) - 1)
    else:
        raise ValueError(f"unsupported geometry type: {gtype}")
    return xs, ys, ro, po


def _flatten_collection(geometries):
    """GeometryCollection members -> flat buffers with one PART per member
    (Multi* members split into singles; nested collections recurse — a
    semantically-equal flattening, like GEOS normalization).

    The per-part member types are encoded in the geom_type string as
    ``GeometryCollection:Point,Polygon,...`` so the struct schema stays
    unchanged and st_asgeojson / member explosion stay lossless.  The
    reference treats GeometryCollection as a first-class enum member
    (ndjson-spatial/src/common.rs:55,67) but hard-errors in area
    (area.rs:91-96) — the engine's area observable is null instead
    (same divergence contract as other non-polygon types).
    """
    xs: list[float] = []
    ys: list[float] = []
    ro = [0]
    po = [0]
    part_types: list[str] = []

    def add(member):
        mtype = member["type"]
        if mtype == "GeometryCollection":
            for g in member["geometries"]:
                add(g)
            return
        single = {"MultiPoint": "Point", "MultiLineString": "LineString",
                  "MultiPolygon": "Polygon"}.get(mtype)
        if single is not None:
            pieces = list(member["coordinates"])
        else:
            single, pieces = mtype, [member["coordinates"]]
        for piece in pieces:
            mx, my, mro, _ = _flatten_coords(single, piece)
            base = len(xs)
            xs.extend(mx)
            ys.extend(my)
            ro.extend(base + o for o in mro[1:])
            po.append(len(ro) - 1)
            part_types.append(single)

    for g in geometries:
        add(g)
    return xs, ys, ro, po, "GeometryCollection:" + ",".join(part_types)


def _parse_batch(s: pd.Series) -> pd.DataFrame:
    gt, X, Y, RO, PO = [], [], [], [], []
    for v in s:
        if v is None or (isinstance(v, float) and np.isnan(v)):
            gt.append(None); X.append(None); Y.append(None)
            RO.append(None); PO.append(None)
            continue
        try:
            g = json.loads(v)
            if g.get("type") == "Feature":  # tolerate full features
                g = g.get("geometry") or {}
            if g["type"] == "GeometryCollection":
                xs, ys, ro, po, tagged = _flatten_collection(g["geometries"])
                gt.append(tagged)
            else:
                xs, ys, ro, po = _flatten_coords(g["type"], g["coordinates"])
                gt.append(g["type"])
            X.append(xs); Y.append(ys)
            RO.append(ro); PO.append(po)
        except Exception:
            gt.append(None); X.append(None); Y.append(None)
            RO.append(None); PO.append(None)
    return pd.DataFrame(
        {"geom_type": gt, "x": X, "y": Y, "ring_offsets": RO, "part_offsets": PO}
    )


_parse_geojson_udf = pandas_udf(_parse_batch, returnType=GEOM_TYPE)


def parse_geojson(col) -> "F.Column":
    """GeoJSON geometry string -> canonical geometry struct.

    A null string gives a null struct, so `geom IS NULL` finds it.  A
    string the parser does not accept (malformed JSON, an unknown type,
    missing coordinates) gives a struct whose fields are all null: the
    row keeps its place, and `geom.geom_type IS NULL` finds both cases.
    A Feature parses as its geometry.  One Arrow UDF per call."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), _parse_geojson_udf(c))


def geom_to_batch(pdf: pd.DataFrame):
    """Struct-column pandas DataFrame -> (BatchGeometry, valid_mask).

    Null geometries are excluded from the batch; valid_mask maps batch rows
    back to input rows.
    """
    valid = pdf["x"].notna().to_numpy()
    sub = pdf[valid]
    bg = KG.BatchGeometry(
        list(sub["x"]), list(sub["y"]),
        list(sub["ring_offsets"]), list(sub["part_offsets"]),
    )
    return bg, valid


@pandas_udf(T.DoubleType())
def st_area(geom: pd.DataFrame) -> pd.Series:
    """Planar area (area.rs:59-62); null geometry -> 0.0 (area.rs:99).

    Non-polygon geometries -> null: the reference hard-errors and kills the
    whole stream on a non-polygon row (area.rs:63-97); a distributed engine
    must not fail the job for one row, so the engine's observable is a null
    area (filterable, countable in lineage) — divergence documented.
    """
    out = np.zeros(len(geom))
    bg, valid = geom_to_batch(geom)
    if bg.n_rows:
        out[valid] = KG.batch_area(bg)
    is_poly = geom["geom_type"].isin(["Polygon", "MultiPolygon"]).to_numpy()
    null_mask = valid & ~is_poly
    res = pd.Series(out)
    res[null_mask] = None
    return res


@pandas_udf(T.DoubleType())
def st_length(geom: pd.DataFrame) -> pd.Series:
    """Planar length of LineString/MultiLineString rows (round-4 engine
    extension; the companion scalar to st_area).  Null geometry -> 0.0
    (the st_area null convention); non-line geometries -> null
    (filterable observable, same divergence contract as st_area on
    non-polygons)."""
    out = np.zeros(len(geom))
    bg, valid = geom_to_batch(geom)
    if bg.n_rows:
        out[valid] = KG.batch_length(bg)
    is_line = geom["geom_type"].isin(
        ["LineString", "MultiLineString"]).to_numpy()
    res = pd.Series(out)
    res[valid & ~is_line] = None
    return res


@pandas_udf(T.DoubleType())
def st_perimeter(geom: pd.DataFrame) -> pd.Series:
    """Planar perimeter of Polygon/MultiPolygon rows (round-4; the
    PostGIS ST_Perimeter scalar): total boundary length INCLUDING hole
    rings, GEOS semantics.  GeoJSON rings repeat their first vertex, so
    the open-segment sum (the st_length reduceat kernel) already equals
    the closed-ring perimeter — one shared kernel, no wrap special-case.
    Null geometry -> 0.0 (the st_area null convention); non-polygons ->
    null (same filterable-divergence contract as st_area)."""
    out = np.zeros(len(geom))
    bg, valid = geom_to_batch(geom)
    if bg.n_rows:
        out[valid] = KG.batch_length(bg)
    is_poly = geom["geom_type"].isin(
        ["Polygon", "MultiPolygon"]).to_numpy()
    res = pd.Series(out)
    res[valid & ~is_poly] = None
    return res


def st_extent_agg(df: DataFrame, group_cols, geom_col: str = "geom"):
    """Per-group geometry EXTENT aggregate (PostGIS ST_Extent; round-4
    engine extension): the bbox union of every geometry in the group,
    as ``xmin/ymin/xmax/ymax`` columns plus ``n_geoms`` (null-geometry
    rows are not counted and contribute nothing).

    Plan (the 100 TB shape): per-row bounds are four pure-Catalyst
    ``array_min/array_max`` projections over the struct's flat coord
    arrays (no Python — the canonical struct already carries every
    vertex), then ONE partial-combined min/max hash aggregate on the
    group key.  This is the cheapest possible distributed extent:
    map-side combine collapses each partition to one row per group
    before the shuffle.
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    g = F.col(geom_col)
    xs, ys = g["x"], g["y"]
    return (
        df.select(
            *group_cols,
            F.array_min(xs).alias("__x0"), F.array_max(xs).alias("__x1"),
            F.array_min(ys).alias("__y0"), F.array_max(ys).alias("__y1"),
        )
        .groupBy(*group_cols)
        .agg(
            F.min("__x0").alias("xmin"), F.min("__y0").alias("ymin"),
            F.max("__x1").alias("xmax"), F.max("__y1").alias("ymax"),
            F.count("__x0").alias("n_geoms"),
        )
    )


def st_haversine(lon1, lat1, lon2, lat2, radius: float = 6_371_008.8):
    """Great-circle (haversine) distance in meters between two lon/lat
    degree pairs — the GEODESIC companion to the engine's planar
    web-mercator scalars (PostGIS ST_DistanceSphere class; round-4
    engine extension).  PURE Catalyst: radians/sin/cos/asin/sqrt stay in
    whole-stage codegen, no UDF.  Default radius is the IUGG mean Earth
    radius.  Formula (numerically stable for small distances):

        d = 2 R asin( sqrt( sin²(Δφ/2) + cosφ1 cosφ2 sin²(Δλ/2) ) )
    """
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = (F.radians(lat2) - F.radians(lat1)) / F.lit(2.0)
    dlmb = (F.radians(lon2) - F.radians(lon1)) / F.lit(2.0)
    a = (F.sin(dphi) * F.sin(dphi)
         + F.cos(p1) * F.cos(p2) * F.sin(dlmb) * F.sin(dlmb))
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


@pandas_udf(GEOM_TYPE)
def st_centroid(geom: pd.DataFrame) -> pd.DataFrame:
    """Area-weighted centroid; REPLACES the geometry with a Point
    (centroid.rs:34-51, math :53-87)."""
    n = len(geom)
    res = pd.DataFrame(
        {
            "geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
            "ring_offsets": [None] * n, "part_offsets": [None] * n,
        }
    )
    bg, valid = geom_to_batch(geom)
    if bg.n_rows:
        cx, cy = KG.batch_centroid(bg)
        idx = np.flatnonzero(valid)
        for j, i in enumerate(idx):
            res.iat[i, 0] = "Point"
            res.iat[i, 1] = [float(cx[j])]
            res.iat[i, 2] = [float(cy[j])]
            res.iat[i, 3] = [0, 1]
            res.iat[i, 4] = [0, 1]
    return res


@pandas_udf(GEOM_TYPE)
def st_convexhull(geom: pd.DataFrame) -> pd.DataFrame:
    """Convex hull of any geometry (round-4 engine extension; the
    PostGIS/Sedona ST_ConvexHull scalar the reference lacks).  The hull
    of a geometry equals the hull of its vertex set, so every row is
    flattened and run through Andrew's monotone chain
    (kernels/geometry.py:convex_hull_xy).  Output follows GEOS collapse
    semantics: >=3 hull vertices -> Polygon (one CCW closed ring,
    starting at the lexicographic minimum — a canonical, comparable
    form), 2 distinct vertices -> LineString, 1 -> Point; null -> null.
    """
    n = len(geom)
    res = pd.DataFrame(
        {
            "geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
            "ring_offsets": [None] * n, "part_offsets": [None] * n,
        }
    )
    bg, valid = geom_to_batch(geom)
    if bg.n_rows:
        hulls = KG.batch_convex_hull(bg)
        idx = np.flatnonzero(valid)
        for j, i in enumerate(idx):
            hx, hy = hulls[j]
            m = len(hx)
            if m == 0:
                continue
            if m == 1:
                res.iat[i, 0] = "Point"
                res.iat[i, 1] = [float(hx[0])]
                res.iat[i, 2] = [float(hy[0])]
                res.iat[i, 3] = [0, 1]
                res.iat[i, 4] = [0, 1]
            elif m == 2:
                res.iat[i, 0] = "LineString"
                res.iat[i, 1] = [float(hx[0]), float(hx[1])]
                res.iat[i, 2] = [float(hy[0]), float(hy[1])]
                res.iat[i, 3] = [0, 2]
                res.iat[i, 4] = [0, 1]
            else:
                res.iat[i, 0] = "Polygon"
                res.iat[i, 1] = [float(v) for v in hx] + [float(hx[0])]
                res.iat[i, 2] = [float(v) for v in hy] + [float(hy[0])]
                res.iat[i, 3] = [0, m + 1]
                res.iat[i, 4] = [0, 1]
    return res


def _arc_points(cx, cy, r, a0, sweep, step):
    """Interior vertices of a CCW arc from angle a0 sweeping `sweep` > 0
    radians around (cx, cy); endpoints excluded (emitted by the walks)."""
    m = int(np.ceil(sweep / step))
    if m <= 1:
        return [], []
    t = a0 + sweep * np.arange(1, m) / m
    return list(cx + r * np.cos(t)), list(cy + r * np.sin(t))


def _offset_side(px, py, ux, uy, r, join_style, miter_limit, step):
    """Right-hand offset walk of an open polyline: per-segment offset
    endpoints, outer joins per join_style (round arc / miter point /
    bevel past miter_limit), inner joins as the offset-line intersection.
    Returns the vertex list for that side (start to end)."""
    nx, ny = uy * r, -ux * r            # right normal * r
    xs = [float(px[0] + nx[0])]
    ys = [float(py[0] + ny[0])]
    for i in range(1, len(ux)):
        cross = float(ux[i - 1] * uy[i] - uy[i - 1] * ux[i])
        ax, ay = float(px[i] + nx[i - 1]), float(py[i] + ny[i - 1])
        bx, by = float(px[i] + nx[i]), float(py[i] + ny[i])
        if abs(cross) < 1e-12:          # collinear continuation
            if (ax, ay) != (bx, by):
                xs.append(bx)
                ys.append(by)
            continue
        if cross > 0.0 and join_style == "round":
            # left turn -> right side is OUTER: arc a -> b, CCW by the
            # exterior angle
            xs.append(ax)
            ys.append(ay)
            a0 = float(np.arctan2(ay - py[i], ax - px[i]))
            sweep = float(np.arcsin(np.clip(cross, -1.0, 1.0)))
            dot = float(ux[i - 1] * ux[i] + uy[i - 1] * uy[i])
            if dot < 0.0:
                sweep = float(np.pi) - sweep
            axs, ays = _arc_points(float(px[i]), float(py[i]), r, a0,
                                   sweep, step)
            xs.extend(axs)
            ys.extend(ays)
            xs.append(bx)
            ys.append(by)
            continue
        # miter/inner: intersection of the two offset lines
        t = ((bx - ax) * float(uy[i]) - (by - ay) * float(ux[i])) / cross
        mx = ax + t * float(ux[i - 1])
        my = ay + t * float(uy[i - 1])
        if cross > 0.0 and np.hypot(mx - px[i], my - py[i]) > miter_limit * r:
            xs.extend((ax, bx))          # bevel
            ys.extend((ay, by))
        else:
            xs.append(float(mx))
            ys.append(float(my))
    xs.append(float(px[-1] + nx[-1]))
    ys.append(float(py[-1] + ny[-1]))
    return xs, ys


def _ring_offset_ring(px, py, r, join_style, miter_limit, step):
    """Closed offset ring of a simple OPEN CCW ring at signed distance
    ``r`` — positive dilates (offset outward), negative erodes (offset
    inward).  Dilation handles convex vertices per ``join_style`` (round
    arcs at GEOS quadrant density / miter with bevel fallback past
    ``miter_limit``) and reflex vertices by offset-line intersection;
    erosion always intersects offset lines (on convex rings no arc can
    arise — GEOS-equivalent there; concave erosion is scoped out by the
    caller).  Returns (xs, ys) CLOSED ring or None when the offset ring
    degenerates (eroded away / flipped orientation)."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    n = len(px)
    dx = np.empty(n)
    dy = np.empty(n)
    dx[:-1], dx[-1] = np.diff(px), px[0] - px[-1]
    dy[:-1], dy[-1] = np.diff(py), py[0] - py[-1]
    ll = np.hypot(dx, dy)
    if np.any(ll == 0.0):
        return None
    ux, uy = dx / ll, dy / ll
    nx, ny = uy * r, -ux * r            # CCW ring: right normal = outward
    xs: list[float] = []
    ys: list[float] = []
    for i in range(n):
        pm = i - 1 if i else n - 1      # join between edge pm and edge i
        cross = float(ux[pm] * uy[i] - uy[pm] * ux[i])
        ax, ay = float(px[i] + nx[pm]), float(py[i] + ny[pm])
        bx, by = float(px[i] + nx[i]), float(py[i] + ny[i])
        if abs(cross) < 1e-12:          # collinear continuation
            xs.append(bx)
            ys.append(by)
            continue
        if r > 0.0 and cross > 0.0 and join_style == "round":
            xs.append(ax)
            ys.append(ay)
            a0 = float(np.arctan2(ay - py[i], ax - px[i]))
            sweep = float(np.arcsin(np.clip(cross, -1.0, 1.0)))
            dot = float(ux[pm] * ux[i] + uy[pm] * uy[i])
            if dot < 0.0:
                sweep = float(np.pi) - sweep
            axs, ays = _arc_points(float(px[i]), float(py[i]), r, a0,
                                   sweep, step)
            xs.extend(axs)
            ys.extend(ays)
            xs.append(bx)
            ys.append(by)
            continue
        t = ((bx - ax) * float(uy[i]) - (by - ay) * float(ux[i])) / cross
        mx = ax + t * float(ux[pm])
        my = ay + t * float(uy[pm])
        if (r > 0.0 and cross > 0.0
                and np.hypot(mx - px[i], my - py[i]) > miter_limit * abs(r)):
            xs.extend((ax, bx))          # bevel
            ys.extend((ay, by))
        else:
            xs.append(float(mx))
            ys.append(float(my))
    if len(xs) < 3 or KG._signed_area(
            np.asarray(xs), np.asarray(ys)) <= 0.0:
        return None
    if r < 0.0:
        # erosion validity: every offset edge must keep its original
        # direction — past the inradius the inward offsets cross and
        # produce an INVERTED ring that is still CCW/positive-area (the
        # "anti-ring"), which the area test alone cannot catch
        ex = np.diff(np.append(xs, xs[0]))
        ey = np.diff(np.append(ys, ys[0]))
        if len(ex) != n or np.any(ex * ux + ey * uy <= 0.0):
            return None
    xs.append(xs[0])
    ys.append(ys[0])
    return xs, ys


def _line_buffer_ring(px, py, r, cap_style, join_style, miter_limit,
                      quad_segs):
    """One closed offset ring around an open polyline: right side walk,
    end cap, left side walk (== right side of the REVERSED polyline),
    start cap.  Round caps are semicircles at the GEOS quadrant-segment
    density; flat (butt) caps close the side walks directly."""
    dx, dy = np.diff(px), np.diff(py)
    ll = np.hypot(dx, dy)
    keep = ll > 0.0
    if not np.any(keep):
        return None
    # drop zero-length segments (consecutive duplicate vertices)
    if not np.all(keep):
        kp = np.concatenate(([True], keep))
        px, py = px[kp], py[kp]
        dx, dy = np.diff(px), np.diff(py)
        ll = np.hypot(dx, dy)
    ux, uy = dx / ll, dy / ll
    step = float(np.pi) / (2.0 * quad_segs)
    xs, ys = _offset_side(px, py, ux, uy, r, join_style, miter_limit, step)
    if cap_style == "round":
        a0 = float(np.arctan2(-ux[-1], uy[-1]))   # angle of right normal
        cxs, cys = _arc_points(float(px[-1]), float(py[-1]), r, a0,
                               float(np.pi), step)
        xs.extend(cxs)
        ys.extend(cys)
    lxs, lys = _offset_side(px[::-1], py[::-1], -ux[::-1], -uy[::-1], r,
                            join_style, miter_limit, step)
    xs.extend(lxs)
    ys.extend(lys)
    if cap_style == "round":
        a0 = float(np.arctan2(ux[0], -uy[0]))     # left normal at start
        cxs, cys = _arc_points(float(px[0]), float(py[0]), r, a0,
                               float(np.pi), step)
        xs.extend(cxs)
        ys.extend(cys)
    xs.append(xs[0])
    ys.append(ys[0])
    return xs, ys


def st_buffer(geom_col, distance: float, quad_segs: int = 8,
              cap_style: str = "round", join_style: str = "round",
              miter_limit: float = 5.0):
    """Buffer scalar (round-4 points, round-5 lines; the PostGIS/Sedona
    ``ST_Buffer(geom, d, 'quad_segs=8 endcap=.. join=..')`` surface).

    Point: a regular ``4*quad_segs``-gon inscribed disk approximation —
    vertices at angles 2πk/N from east, CCW, ring closed (the GEOS
    quadrant-segments vertex convention).  MultiPoint: the MultiPolygon
    of per-point disks (NO dissolve of overlapping disks — GEOS unions
    them; documented representation choice, same area semantics as the
    engine's other overlay outputs).

    LineString (round-5, VERDICT r4 item 6): a single offset-curve ring —
    right-hand side walk, end cap, reversed left-side walk, start cap.
    Joins: ``join_style="round"`` emits GEOS-density arcs on the outer
    side of each turn; ``"miter"`` emits the offset-line intersection,
    falling back to a bevel past ``miter_limit * distance`` (GEOS
    mitre-limit semantics, default 5.0).  Inner sides always take the
    offset-line intersection.  Caps: ``"round"`` semicircles or
    ``"flat"`` (butt).  EXACT when the radius is below the local feature
    size (no self-overlap); tighter geometry would need the self-union
    GEOS applies — documented representation boundary, consistent with
    the engine's overlay outputs.  MultiLineString: one ring per part as
    a MultiPolygon (no cross-part dissolve).  CLOSED polylines
    (first == last vertex) return null — an annulus needs a hole ring;
    documented boundary.  Other input types and null return null.
    Factory form like st_simplify: parameters bind plan-time into the
    UDF closure.
    """
    if distance == 0:
        raise ValueError("distance must be non-zero")
    # negative distance = EROSION: meaningful for polygons only; point /
    # line rows yield null under it (a negative buffer of a zero-area
    # geometry is empty — GEOS semantics)
    if quad_segs < 1:
        raise ValueError("quad_segs must be >= 1")
    if cap_style not in ("round", "flat"):
        raise ValueError("cap_style must be 'round' or 'flat'")
    if join_style not in ("round", "miter"):
        raise ValueError("join_style must be 'round' or 'miter'")
    if miter_limit < 1.0:
        raise ValueError("miter_limit must be >= 1")
    nseg = 4 * quad_segs
    ang = 2.0 * np.pi * np.arange(nseg) / nseg
    dx = distance * np.cos(ang)
    dy = distance * np.sin(ang)

    @pandas_udf(GEOM_TYPE)
    def _buffer(geom: pd.DataFrame) -> pd.DataFrame:
        n = len(geom)
        res = pd.DataFrame(
            {
                "geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
                "ring_offsets": [None] * n, "part_offsets": [None] * n,
            }
        )
        for i in range(n):
            gt = geom["geom_type"].iat[i]
            if gt in ("Polygon", "MultiPolygon"):
                # round-5: polygon offset (the former documented buffer
                # scope boundary).  Single-ring parts only (holes -> null,
                # same scope as st_boolean); positive distance dilates
                # (round/miter joins at convex vertices, exact below the
                # local feature size like line buffering), negative
                # distance ERODES — scoped to convex rings, where the
                # inward miter offset is GEOS-exact; a part that erodes
                # away is dropped (all parts gone -> null).
                px = np.asarray(geom["x"].iat[i], dtype=np.float64)
                py = np.asarray(geom["y"].iat[i], dtype=np.float64)
                ro_in = list(geom["ring_offsets"].iat[i])
                po_in = list(geom["part_offsets"].iat[i])
                if any(po_in[p + 1] - po_in[p] != 1
                       for p in range(len(po_in) - 1)):
                    continue  # holed parts out of scope
                pxs: list[float] = []
                pys: list[float] = []
                pro = [0]
                ok = True
                for rr in range(len(ro_in) - 1):
                    rpx = px[ro_in[rr]:ro_in[rr + 1]]
                    rpy = py[ro_in[rr]:ro_in[rr + 1]]
                    if (len(rpx) > 1 and rpx[0] == rpx[-1]
                            and rpy[0] == rpy[-1]):
                        rpx, rpy = rpx[:-1], rpy[:-1]
                    if len(rpx) < 3:
                        ok = False
                        break
                    if KG._signed_area(rpx, rpy) < 0:
                        rpx, rpy = rpx[::-1], rpy[::-1]
                    if distance < 0 and not KG.ring_is_convex(rpx, rpy):
                        ok = False  # concave erosion out of scope
                        break
                    ring = _ring_offset_ring(
                        rpx, rpy, distance, join_style, miter_limit,
                        float(np.pi) / (2.0 * quad_segs))
                    if ring is None:
                        if distance < 0:
                            continue  # part eroded away
                        ok = False
                        break
                    if distance < 0 and not KG.ring_is_convex(
                            np.asarray(ring[0][:-1]),
                            np.asarray(ring[1][:-1])):
                        continue  # partial edge flip == eroded away
                    pxs.extend(float(v) for v in ring[0])
                    pys.extend(float(v) for v in ring[1])
                    pro.append(len(pxs))
                if not ok or not pxs:
                    continue
                nparts = len(pro) - 1
                res.iat[i, 0] = "Polygon" if nparts == 1 else "MultiPolygon"
                res.iat[i, 1] = pxs
                res.iat[i, 2] = pys
                res.iat[i, 3] = pro
                res.iat[i, 4] = [0, 1] if nparts == 1 \
                    else list(range(nparts + 1))
                continue
            if distance < 0:
                continue  # negative buffer of points/lines is empty
            if gt in ("LineString", "MultiLineString"):
                px = np.asarray(geom["x"].iat[i], dtype=np.float64)
                py = np.asarray(geom["y"].iat[i], dtype=np.float64)
                ro_in = list(geom["ring_offsets"].iat[i])
                lxs: list[float] = []
                lys: list[float] = []
                lro = [0]
                ok = True
                for rr in range(len(ro_in) - 1):
                    lpx = px[ro_in[rr]:ro_in[rr + 1]]
                    lpy = py[ro_in[rr]:ro_in[rr + 1]]
                    # collapse consecutive duplicates BEFORE the closed
                    # test (an all-duplicate part is a point, not a ring)
                    uq = [0]
                    for kk in range(1, len(lpx)):
                        if (lpx[kk] != lpx[uq[-1]]
                                or lpy[kk] != lpy[uq[-1]]):
                            uq.append(kk)
                    lpx, lpy = lpx[uq], lpy[uq]
                    if (len(lpx) >= 3 and lpx[0] == lpx[-1]
                            and lpy[0] == lpy[-1]):
                        ok = False    # closed polyline: annulus, null
                        break
                    if len(lpx) == 1:  # degenerate: point disk
                        ring = (list(lpx[0] + dx) + [float(lpx[0] + dx[0])],
                                list(lpy[0] + dy) + [float(lpy[0] + dy[0])])
                    else:
                        ring = _line_buffer_ring(
                            lpx, lpy, distance, cap_style, join_style,
                            miter_limit, quad_segs)
                        if ring is None:
                            ok = False
                            break
                    lxs.extend(float(v) for v in ring[0])
                    lys.extend(float(v) for v in ring[1])
                    lro.append(len(lxs))
                if not ok or not lxs:
                    continue
                nparts = len(lro) - 1
                res.iat[i, 0] = "Polygon" if nparts == 1 else "MultiPolygon"
                res.iat[i, 1] = lxs
                res.iat[i, 2] = lys
                res.iat[i, 3] = lro
                res.iat[i, 4] = [0, 1] if nparts == 1 \
                    else list(range(nparts + 1))
                continue
            if gt not in ("Point", "MultiPoint"):
                continue
            px = np.asarray(geom["x"].iat[i], dtype=np.float64)
            py = np.asarray(geom["y"].iat[i], dtype=np.float64)
            if len(px) == 0:
                continue
            xs: list[float] = []
            ys: list[float] = []
            ro = [0]
            for cx, cy in zip(px, py):
                vx = cx + dx
                vy = cy + dy
                xs.extend(float(v) for v in vx)
                xs.append(float(vx[0]))
                ys.extend(float(v) for v in vy)
                ys.append(float(vy[0]))
                ro.append(len(xs))
            if len(px) == 1:
                res.iat[i, 0] = "Polygon"
                res.iat[i, 4] = [0, 1]
            else:
                res.iat[i, 0] = "MultiPolygon"
                res.iat[i, 4] = list(range(len(px) + 1))
            res.iat[i, 1] = xs
            res.iat[i, 2] = ys
            res.iat[i, 3] = ro
        return res

    return _buffer(geom_col)


def st_line_interpolate_point(geom_col, fraction: float):
    """Point at ``fraction`` of a LineString's length (PostGIS
    ST_LineInterpolatePoint; round-4 engine extension).  Factory form
    like st_simplify: the fraction binds plan-time.  LineString only
    (PostGIS raises on other types; the engine's observable is null —
    the st_area divergence contract); zero-length lines return their
    first vertex; geometry is REPLACED by a Point (st_centroid
    convention)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")

    @pandas_udf(GEOM_TYPE)
    def _interp(geom: pd.DataFrame) -> pd.DataFrame:
        n = len(geom)
        res = pd.DataFrame(
            {
                "geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
                "ring_offsets": [None] * n, "part_offsets": [None] * n,
            }
        )
        for i in range(n):
            if geom["geom_type"].iat[i] != "LineString":
                continue
            xs = np.asarray(geom["x"].iat[i], dtype=np.float64)
            ys = np.asarray(geom["y"].iat[i], dtype=np.float64)
            if len(xs) == 0:
                continue
            seg = np.hypot(np.diff(xs), np.diff(ys))
            total = float(seg.sum())
            if total == 0.0 or len(xs) == 1:
                px, py = float(xs[0]), float(ys[0])
            else:
                target = fraction * total
                cum = np.concatenate([[0.0], np.cumsum(seg)])
                k = int(np.searchsorted(cum, target, side="right") - 1)
                k = min(k, len(seg) - 1)
                t = (target - cum[k]) / seg[k] if seg[k] > 0 else 0.0
                px = float(xs[k] + (xs[k + 1] - xs[k]) * t)
                py = float(ys[k] + (ys[k + 1] - ys[k]) * t)
            res.iat[i, 0] = "Point"
            res.iat[i, 1] = [px]
            res.iat[i, 2] = [py]
            res.iat[i, 3] = [0, 1]
            res.iat[i, 4] = [0, 1]
        return res

    return _interp(geom_col)


def st_simplify(geom_col, tolerance: float):
    """Douglas–Peucker simplification (round-4 engine extension; the
    PostGIS/Sedona ST_Simplify scalar).  Factory returning a column —
    the tolerance is bound plan-time into the UDF closure (pandas_udf
    signatures cannot carry defaults).

    Scope: LineString rows simplify the one polyline; MultiLineString
    rows simplify each part independently.  Point/MultiPoint rows pass
    through UNCHANGED (nothing to simplify — GEOS behavior).  Polygon /
    collection rows -> null fields (filterable observable, the same
    scoping convention as st_length on non-lines: ring simplification
    needs topology preservation to stay valid, documented out of
    scope).  Null -> null."""
    tol = float(tolerance)

    def _simplify(geom: pd.DataFrame) -> pd.DataFrame:
        n = len(geom)
        res = pd.DataFrame(
            {
                "geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
                "ring_offsets": [None] * n, "part_offsets": [None] * n,
            }
        )
        gt = geom["geom_type"]
        for i in range(n):
            t = gt.iat[i]
            if t is None:
                continue
            if t in ("Point", "MultiPoint"):
                # array fields arrive as lists or numpy arrays (the latter
                # when the struct crossed Arrow); pandas would unwrap a
                # 1-element array to a 0-d one, so copy them as lists
                res.iat[i, 0] = t
                for c in range(1, 5):
                    res.iat[i, c] = list(geom.iat[i, c])
                continue
            if t not in ("LineString", "MultiLineString"):
                continue
            xs = np.asarray(geom["x"].iat[i], np.float64)
            ys = np.asarray(geom["y"].iat[i], np.float64)
            ro = np.asarray(geom["ring_offsets"].iat[i], np.int64)
            ox, oy, offs = [], [], [0]
            for r in range(len(ro) - 1):
                seg = slice(ro[r], ro[r + 1])
                keep = KG.simplify_polyline_dp(xs[seg], ys[seg], tol)
                ox.extend(float(v) for v in xs[seg][keep])
                oy.extend(float(v) for v in ys[seg][keep])
                offs.append(len(ox))
            res.iat[i, 0] = t
            res.iat[i, 1] = ox
            res.iat[i, 2] = oy
            res.iat[i, 3] = offs
            res.iat[i, 4] = [0, len(offs) - 1]
        return res

    _simplify.__annotations__ = {"geom": pd.DataFrame, "return": pd.DataFrame}
    return pandas_udf(_simplify, GEOM_TYPE)(geom_col)


@pandas_udf(T.ArrayType(T.DoubleType()))
def st_bbox(geom: pd.DataFrame) -> pd.Series:
    """Reference bbox: Point [x,y,x,y], others [minx,maxx,miny,maxy]
    (ndjson-common/src/common.rs:21-61 quirk, kept for fixture parity)."""
    out = [None] * len(geom)
    bg, valid = geom_to_batch(geom)
    if bg.n_rows:
        is_pt = (geom.loc[valid, "geom_type"] == "Point").to_numpy()
        bb = KG.batch_bbox(bg, is_pt)
        for j, i in enumerate(np.flatnonzero(valid)):
            out[i] = [float(v) for v in bb[j]]
    return pd.Series(out)


def _reproject(geom: pd.DataFrame, fn) -> pd.DataFrame:
    out = geom.copy()
    for i in range(len(geom)):
        xs = geom["x"].iat[i]
        if xs is None:
            continue
        nx, ny = fn(np.asarray(xs), np.asarray(geom["y"].iat[i]))
        out["x"].iat[i] = [float(v) for v in nx]
        out["y"].iat[i] = [float(v) for v in ny]
    return out


def st_transform(geom_col, from_epsg, to_epsg):
    """CRS reprojection (transform.rs:27-109).

    The reference routes arbitrary pairs through GDAL (transform.rs:32-85);
    no proj library ships in this environment, so the engine implements the
    projections directly: EPSG:4326<->3857 closed-form web-mercator
    (kernels/cells.py), every UTM zone EPSG:326xx/327xx via the published
    Krüger/Karney transverse-mercator series, and PARAMETERIZED projections
    given as a proj4-style dict instead of an EPSG code —

        {"proj": "tmerc", "lon_0": 9, "k_0": 0.9996, "x_0": .., "y_0": ..}
        {"proj": "lcc", "lat_1": 33, "lat_2": 45, "lat_0": 39,
         "lon_0": -96, "x_0": 0, "y_0": 0}

    (kernels/crs.py; LCC-2SP is the EPSG 9802 method behind US State
    Plane / Lambert-93 / national conic grids).  Round-4 additions:
    Albers equal-area ("aea", EPSG 9822), polar stereographic ("stere",
    9810/9829), ellipsoidal Mercator ("merc", 9804/9805), per-spec
    reference ellipsoids ("ellps": GRS80/airy/...), axis units
    ("to_meter"), tmerc latitude-of-origin ("lat_0"), and an EPSG-code
    REGISTRY (kernels/epsg.py) so the common national grids resolve by
    code (5070 CONUS Albers, 2154 Lambert-93, 27700 British National
    Grid, 3031/3413 polar, 3395 World Mercator, 3035 LAEA Europe, UTM
    zone ranges for WGS84/ETRS89/NAD83/MGA), plus PROJ4 STRINGS
    ("+proj=lcc +lat_1=49 ..." — parse_proj4, kernels/epsg.py), covering
    both halves of the reference's GDAL spec surface.  Pairs of projected
    CRSs compose through 4326.  Round-5: specs carrying "towgs84" (the
    registry's OSGB36/NAD27 entries, +towgs84/+datum proj4 params, and
    geographic EPSG 4277/4267) get a position-vector Helmert datum step
    (EPSG 9606, kernels/crs.py) between the projection legs — matching
    GDAL's implicit datum handling (transform.rs:55-65) for
    single-Helmert datums; NTv2/OSTN grid-shift files remain a documented
    scope boundary.  Anything else raises."""
    from ..kernels import crs as KCRS
    from ..kernels.epsg import epsg_params

    if from_epsg == to_epsg:
        return geom_col

    def param_steps(spec: dict):
        proj = spec.get("proj")
        ellps = spec.get("ellps", "WGS84")
        to_m = spec.get("to_meter")
        if proj == "tmerc":
            args = (spec["lon_0"], spec.get("k_0", 1.0),
                    spec.get("x_0", 0.0), spec.get("y_0", 0.0), ellps)
            lat0 = spec.get("lat_0", 0.0)
            if lat0:
                # Karney TM is equator-origin; a latitude-of-origin grid
                # subtracts the meridian arc northing of lat_0 (EPSG 9807)
                import numpy as _np
                m0 = float(KCRS.tm_forward(
                    _np.array([spec["lon_0"]]), _np.array([lat0]),
                    spec["lon_0"], spec.get("k_0", 1.0), 0.0, 0.0,
                    ellps)[1][0])
                args = (spec["lon_0"], spec.get("k_0", 1.0),
                        spec.get("x_0", 0.0),
                        spec.get("y_0", 0.0) - m0, ellps)
            fwd = lambda lon, lat: KCRS.tm_forward(lon, lat, *args)  # noqa: E731
            inv = lambda x, y: KCRS.tm_inverse(x, y, *args)  # noqa: E731
        elif proj == "lcc":
            args = (spec["lat_1"], spec.get("lat_2", spec["lat_1"]),
                    spec["lat_0"], spec["lon_0"],
                    spec.get("x_0", 0.0), spec.get("y_0", 0.0), ellps)
            fwd = lambda lon, lat: KCRS.lcc_forward(lon, lat, *args)  # noqa: E731
            inv = lambda x, y: KCRS.lcc_inverse(x, y, *args)  # noqa: E731
        elif proj == "aea":
            args = (spec["lat_1"], spec.get("lat_2", spec["lat_1"]),
                    spec["lat_0"], spec["lon_0"],
                    spec.get("x_0", 0.0), spec.get("y_0", 0.0), ellps)
            fwd = lambda lon, lat: KCRS.aea_forward(lon, lat, *args)  # noqa: E731
            inv = lambda x, y: KCRS.aea_inverse(x, y, *args)  # noqa: E731
        elif proj == "laea":
            args = (spec["lat_0"], spec["lon_0"],
                    spec.get("x_0", 0.0), spec.get("y_0", 0.0), ellps)
            fwd = lambda lon, lat: KCRS.laea_forward(lon, lat, *args)  # noqa: E731
            inv = lambda x, y: KCRS.laea_inverse(x, y, *args)  # noqa: E731
        elif proj == "stere":
            kw = dict(lat_ts=spec.get("lat_ts"),
                      k0=spec.get("k_0", 0.994),
                      fe=spec.get("x_0", 0.0), fn=spec.get("y_0", 0.0),
                      south=bool(spec.get("south", False)), ellps=ellps)
            lon0 = spec["lon_0"]
            fwd = lambda lon, lat: KCRS.ps_forward(lon, lat, lon0, **kw)  # noqa: E731
            inv = lambda x, y: KCRS.ps_inverse(x, y, lon0, **kw)  # noqa: E731
        elif proj == "merc":
            kw = dict(k0=spec.get("k_0", 1.0), lat_ts=spec.get("lat_ts"),
                      fe=spec.get("x_0", 0.0), fn=spec.get("y_0", 0.0),
                      ellps=ellps)
            lon0 = spec.get("lon_0", 0.0)
            fwd = lambda lon, lat: KCRS.merc_forward(lon, lat, lon0, **kw)  # noqa: E731
            inv = lambda x, y: KCRS.merc_inverse(x, y, lon0, **kw)  # noqa: E731
        else:
            raise ValueError(f"unsupported projection spec {spec!r}")
        if to_m:
            fwd0, inv0 = fwd, inv
            fwd = lambda lon, lat, _f=fwd0: (  # noqa: E731
                tuple(c / to_m for c in _f(lon, lat)))
            inv = lambda x, y, _i=inv0: _i(x * to_m, y * to_m)  # noqa: E731
        return fwd, inv

    def resolve(epsg):
        """EPSG code, proj4 string, or param dict -> param dict (None for
        geographic WGS84-equivalent CRSs and the closed-form web-mercator
        3857 — i.e. no projection AND no datum step needed)."""
        if isinstance(epsg, dict):
            spec = epsg
        elif isinstance(epsg, str):
            from ..kernels.epsg import parse_proj4

            spec = parse_proj4(epsg)
        else:
            if epsg in (4326, 3857):
                return None
            spec = epsg_params(epsg)
            if spec is None:
                raise ValueError(f"unsupported CRS {epsg}")
        if spec.get("proj") == "longlat" and not spec.get("towgs84"):
            return None
        return spec

    def legs(spec):
        """(to_4326, from_4326) for a param dict: projection inverse/
        forward composed with the Helmert datum step (round-5) when the
        spec carries towgs84 — proj4 pipeline order: projected ->
        local geodetic -> geocentric Helmert -> WGS84, and the mirror
        on the way out."""
        if spec.get("proj") == "longlat":
            fwd = inv = None
        else:
            fwd, inv = param_steps(spec)
        tow = spec.get("towgs84")
        if not tow:
            return inv, fwd
        ellps = spec.get("ellps", "WGS84")

        def to4326(x, y, _inv=inv):
            if _inv is not None:
                x, y = _inv(x, y)
            return KCRS.datum_to_wgs84(x, y, ellps, tow)

        def from4326(x, y, _fwd=fwd):
            x, y = KCRS.datum_from_wgs84(x, y, ellps, tow)
            if _fwd is not None:
                x, y = _fwd(x, y)
            return x, y

        return to4326, from4326

    def step_to_4326(epsg):
        if isinstance(epsg, int):
            if epsg == 4326:
                return None
            if epsg == 3857:
                return KC.mercator_to_lonlat
        spec = resolve(epsg)
        return None if spec is None else legs(spec)[0]

    def step_from_4326(epsg):
        if isinstance(epsg, int):
            if epsg == 4326:
                return None
            if epsg == 3857:
                return KC.lonlat_to_mercator
        spec = resolve(epsg)
        return None if spec is None else legs(spec)[1]

    inv = step_to_4326(from_epsg)
    fwd = step_from_4326(to_epsg)

    def chain(x, y):
        if inv is not None:
            x, y = inv(x, y)
        if fwd is not None:
            x, y = fwd(x, y)
        return x, y

    @pandas_udf(GEOM_TYPE)
    def _st_chain(geom: pd.DataFrame) -> pd.DataFrame:
        return _reproject(geom, chain)

    return _st_chain(geom_col)


def _collection_parts(gt: str, ro, po):
    """Decode a GeometryCollection struct: per-part (member_type, ring
    range) from the ``GeometryCollection:T1,T2,...`` geom_type tag."""
    types = gt.split(":", 1)[1].split(",") if ":" in gt else []
    for p, mtype in enumerate(types):
        yield mtype, po[p], po[p + 1]


def _struct_to_geojson_obj(gt, xs, ys, ro, po):
    """Canonical struct fields -> GeoJSON dict (None when unknown type)."""
    rings = [
        [[float(xs[k]), float(ys[k])] for k in range(ro[r], ro[r + 1])]
        for r in range(len(ro) - 1)
    ]
    if gt == "Point":
        return {"type": gt, "coordinates": rings[0][0]}
    if gt in ("MultiPoint", "LineString"):
        return {"type": gt, "coordinates": rings[0]}
    if gt in ("Polygon", "MultiLineString"):
        return {"type": gt, "coordinates": rings}
    if gt == "MultiPolygon":
        return {"type": gt, "coordinates":
                [rings[po[p]:po[p + 1]] for p in range(len(po) - 1)]}
    if gt.startswith("GeometryCollection"):
        members = []
        for mtype, r0, r1 in _collection_parts(gt, ro, po):
            mrings = rings[r0:r1]
            if mtype == "Point":
                members.append({"type": "Point", "coordinates": mrings[0][0]})
            elif mtype == "LineString":
                members.append({"type": "LineString", "coordinates": mrings[0]})
            else:
                members.append({"type": "Polygon", "coordinates": mrings})
        return {"type": "GeometryCollection", "geometries": members}
    return None


@pandas_udf(T.StringType())
def st_asgeojson(geom: pd.DataFrame) -> pd.Series:
    """Canonical struct -> GeoJSON geometry string (sink-side only).
    GeometryCollection round-trips via the per-part type tag (Multi*
    members re-emit as their singles — a GEOS-style normalization)."""
    out = []
    for i in range(len(geom)):
        gt = geom["geom_type"].iat[i]
        if gt is None:
            out.append(None)
            continue
        obj = _struct_to_geojson_obj(
            gt, geom["x"].iat[i], geom["y"].iat[i],
            list(geom["ring_offsets"].iat[i]),
            list(geom["part_offsets"].iat[i]),
        )
        out.append(json.dumps(obj) if obj is not None else None)
    return pd.Series(out)


@pandas_udf(T.ArrayType(GEOM_TYPE))
def st_collection_members(geom: pd.DataFrame) -> pd.Series:
    """GeometryCollection struct -> array of member geometry structs (one
    per flattened part; non-collections yield a single-element array).
    Explode it to process members as first-class rows — the Spark-idiomatic
    form of the reference's per-member dispatch."""
    out = []
    for i in range(len(geom)):
        gt = geom["geom_type"].iat[i]
        if gt is None:
            out.append(None)
            continue
        xs = geom["x"].iat[i]
        ys = geom["y"].iat[i]
        ro = list(geom["ring_offsets"].iat[i])
        po = list(geom["part_offsets"].iat[i])
        if not gt.startswith("GeometryCollection"):
            out.append([{"geom_type": gt, "x": list(xs), "y": list(ys),
                         "ring_offsets": ro, "part_offsets": po}])
            continue
        members = []
        for mtype, r0, r1 in _collection_parts(gt, ro, po):
            s, e = ro[r0], ro[r1]
            members.append({
                "geom_type": mtype,
                "x": [float(v) for v in xs[s:e]],
                "y": [float(v) for v in ys[s:e]],
                "ring_offsets": [o - ro[r0] for o in ro[r0:r1 + 1]],
                "part_offsets": [0, r1 - r0],
            })
        out.append(members)
    return pd.Series(out)


def gc_members_expr(geom):
    """array<GEOM_TYPE> of a GeometryCollection's member geometries, PURE
    Catalyst (round-4): the per-part ``GeometryCollection:T1,T2,...`` tag
    split + ring-range slices re-expressed as transform/slice over the
    offset arrays, so collection explode costs no Python worker and stays
    inside whole-stage codegen.  Contract identical to the
    st_collection_members UDF (members are simple geometries with rebased
    ring_offsets and part_offsets = [0, n_rings])."""
    types = F.split(F.substring_index(geom["geom_type"], ":", -1), ",")
    po, ro = geom["part_offsets"], geom["ring_offsets"]
    xs, ys = geom["x"], geom["y"]

    def member(p):
        r0 = F.element_at(po, p + 1)        # po[p]  (element_at is 1-based)
        r1 = F.element_at(po, p + 2)        # po[p+1]
        base = F.element_at(ro, r0 + 1)     # ro[r0] = first coord index
        cend = F.element_at(ro, r1 + 1)     # ro[r1] = one-past-last coord
        return F.struct(
            F.element_at(types, p + 1).alias("geom_type"),
            F.slice(xs, base + 1, cend - base).alias("x"),
            F.slice(ys, base + 1, cend - base).alias("y"),
            F.transform(F.slice(ro, r0 + 1, r1 - r0 + 1),
                        lambda v: v - base).alias("ring_offsets"),
            F.array(F.lit(0), r1 - r0).alias("part_offsets"),
        )

    return F.transform(F.sequence(F.lit(0), F.size(po) - 2), member)


def explode_collections(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Flatten GeometryCollection rows to one row per member geometry;
    non-collection rows pass through UNTOUCHED.

    Run this before spatial joins / overlays: the overlay kernels operate
    on simple geometries, and the reference's GEOS likewise refuses
    overlay on collections (mirroring PostGIS/GEOS behavior) — flattening
    members to first-class rows is the Spark-idiomatic dispatch.  Round-4:
    single-pass conditional explode over the pure-Catalyst
    `gc_members_expr` — one scan, zero Python, whole-stage codegen
    (replaces the round-2 filter-split-union shape, which read the source
    twice at scale)."""
    return df.withColumn(geom_col, _members_explode(geom_col))


def _members_explode(geom_col: str):
    """explode(members-or-self) of `geom_col`, memoized per column name:
    Columns are immutable name-resolved trees, and the member lambdas cost
    ~0.05 s of py4j round trips per build otherwise."""
    got = _MEMBERS_EXPLODE.get(geom_col)
    if got is None:
        tag = F.col(geom_col)["geom_type"]
        is_gc = tag.isNotNull() & tag.startswith("GeometryCollection:")
        got = F.explode(F.when(is_gc, gc_members_expr(F.col(geom_col)))
                        .otherwise(F.array(F.col(geom_col))))
        if len(_MEMBERS_EXPLODE) >= 64:
            _MEMBERS_EXPLODE.clear()
        _MEMBERS_EXPLODE[geom_col] = got
    return got


_MEMBERS_EXPLODE: dict = {}


def st_point(x_col, y_col):
    """Build a Point geometry struct from two double columns (pure Catalyst,
    no UDF — points are the high-volume case at scale)."""
    return F.struct(
        F.lit("Point").alias("geom_type"),
        F.array(x_col.cast("double")).alias("x"),
        F.array(y_col.cast("double")).alias("y"),
        F.array(F.lit(0), F.lit(1)).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
    )


def _assemble_boolean_parts(rings):
    """dissolve_rings output -> (x, y, ring_offsets, part_offsets, gtype).

    Dissolved rings carry orientation: CCW = component shell, CW = hole
    (holes surface naturally from the directed-edge cancellation — a
    hole's boundary survives with the opposite winding).  Each hole is
    assigned to the shell that contains it (even-odd test on one vertex);
    Polygon ring order is shell first, then its holes."""
    shells = []
    holes = []
    for rx, ry in rings:
        rx = np.asarray(rx, np.float64)
        ry = np.asarray(ry, np.float64)
        if KG._signed_area(rx, ry) >= 0:
            shells.append((rx, ry))
        else:
            holes.append((rx, ry))
    if not shells:
        return None
    parts = [[s] for s in shells]
    for hx, hy in holes:
        placed = False
        for pi, part in enumerate(parts):
            sx, sy = part[0]
            n = len(sx)
            inside = KG.points_in_polygon(
                np.asarray([hx[0]]), np.asarray([hy[0]]),
                np.concatenate([sx, sx[:1]]), np.concatenate([sy, sy[:1]]),
                np.asarray([0, n + 1]), np.asarray([0, 1]))
            if bool(inside[0]):
                part.append((hx, hy))
                placed = True
                break
        if not placed:
            return None  # inconsistent nesting — caller keeps pieces
    xs: list[float] = []
    ys: list[float] = []
    ro = [0]
    po = [0]
    for part in parts:
        for rx, ry in part:
            xs.extend(float(v) for v in rx)
            ys.extend(float(v) for v in ry)
            ro.append(len(xs))
        po.append(len(ro) - 1)
    gtype = "Polygon" if len(parts) == 1 else "MultiPolygon"
    return xs, ys, ro, po, gtype


def st_boolean(op: str):
    """Boolean overlay of two geometries: ``st_boolean('union')(a, b)``
    (also 'difference', 'symdifference', 'intersection') — the
    PostGIS/GEOS ST_Union / ST_Difference / ST_SymDifference surface the
    reference reaches through GEOS intersection()
    (ndjson-spatial/src/intersection.rs:133; the reference itself only
    exposes intersection — union/difference are engine extensions
    completing the boolean-ops suite).

    Input: single-part Polygon EXTERIOR rings (holes / multiparts /
    non-polygons return null — the documented overlay scope, matching the
    intersection join's fixture classes).  Output: the dissolved
    component representation — Polygon or MultiPolygon, with holes as CW
    rings assigned to their containing shell (an A-minus-B with B strictly
    inside A yields a true holed Polygon).  Area and even-odd PIP are
    exact; when the dissolve detects an inconsistent edge multiset it
    falls back to the raw interior-disjoint piece decomposition as a
    MultiPolygon (same area contract as the intersection overlay).

    Plan shape: a single Arrow-batched pandas UDF over already-joined
    geometry pairs — at 100 TB this sits AFTER the cell-join candidates
    stage, so each pair is touched exactly once and the kernel cost is
    the per-row bound (same discipline as spatial_intersection_join's
    refine stage).
    """
    if op not in ("union", "difference", "symdifference", "intersection"):
        raise ValueError(f"unknown boolean op: {op}")

    @pandas_udf(GEOM_TYPE)
    def _boolean(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        n = len(a)
        res = pd.DataFrame(
            {
                "geom_type": [None] * n, "x": [None] * n, "y": [None] * n,
                "ring_offsets": [None] * n, "part_offsets": [None] * n,
            }
        )
        for i in range(n):
            if (a["geom_type"].iat[i] != "Polygon"
                    or b["geom_type"].iat[i] != "Polygon"):
                continue
            aro = list(a["ring_offsets"].iat[i])
            bro = list(b["ring_offsets"].iat[i])
            if len(aro) != 2 or len(bro) != 2:
                continue  # holes out of scope (documented)
            ax = np.asarray(a["x"].iat[i], np.float64)
            ay = np.asarray(a["y"].iat[i], np.float64)
            bx = np.asarray(b["x"].iat[i], np.float64)
            by = np.asarray(b["y"].iat[i], np.float64)
            pieces = KG.polygon_boolean(ax, ay, bx, by, op)
            if not pieces:
                continue  # empty result -> null (empty-geometry contract)
            dissolved = KG.dissolve_rings(pieces)
            assembled = (_assemble_boolean_parts(dissolved)
                         if dissolved is not None else None)
            if assembled is None:
                # fall back to the raw decomposition (area-exact)
                xs, ys, ro, po = [], [], [0], [0]
                for rx, ry in pieces:
                    xs.extend(float(v) for v in rx)
                    ys.extend(float(v) for v in ry)
                    ro.append(len(xs))
                    po.append(len(ro) - 1)
                gtype = "Polygon" if len(pieces) == 1 else "MultiPolygon"
            else:
                xs, ys, ro, po, gtype = assembled
            res.iat[i, 0] = gtype
            res.iat[i, 1] = xs
            res.iat[i, 2] = ys
            res.iat[i, 3] = ro
            res.iat[i, 4] = po
        return res

    return _boolean
