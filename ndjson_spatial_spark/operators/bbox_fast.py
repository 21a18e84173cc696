"""Pure-Catalyst fast path for bbox-shaped geometries (points + axis rects).

Web corpora are dominated by point and bbox-like geometries (the synthetic
documents table is 100% points/rects by construction, and the general
operators' `__kind` split shows the same shapes dominate real GeoJSON).
For exactly those shapes, every stage of spatial-join + tile-assignment is
CLOSED-FORM — cover cells are integer ranges, refinement is interval
arithmetic, Morton ids are shift/mask chains — so the whole pipeline runs
in Catalyst with ZERO Python workers and ZERO intermediate
materialization:

    flat_bbox        geometry struct -> 4 double cols + is_point flag
    bbox_intersection_join
                     the struct join's term join over the flat columns:
                     cover terms at `res` -> broadcast `__term` equi-join
                     -> min-common-term pair dedup -> interval refinement;
                     emits the intersection bbox, no structs
    assign_tiles_bbox
                     per-zoom integer tile ranges -> sequence explode ->
                     exact keep predicates -> Morton tile ids

Semantics are IDENTICAL to spatial_intersection_join + assign_tiles on the
same shapes (pinned by tests/test_bbox_fast.py equivalence tests): the
candidate join is the struct join's own (`spatial._with_flat_terms` feeds
its term stages from the flat columns, `spatial._term_join_cols` gives the
explodes and the dedup), and the point/rect refinement itself
(`point_rect_refinement`) is shared with the struct join's point/rect
route.  The zoom-tile cover (`_tiles`) is the only one in the engine: the
struct operator `assign_tiles` projects its geometries with `flat_bbox`,
routes point/rect rows through assign_tiles_bbox, and refines general
rows' tiles of the same cover with its exact geometry-vs-rect kernel.

Scale notes: the only exchange is the broadcast of the (small) ref side;
a ref too large to broadcast belongs on spatial_intersection_join, which
owns the hash-partitioned and hot-cell-salted plans and the
cap+ancestor-terms machinery for huge covers.  Fan-out per row equals the
true cover size (the flat terms never coarsen); everything else is narrow.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells_fn import _tile_index, cell_id_expr
from ..kernels.cells import MERC_MAX

__all__ = ["flat_bbox", "is_bbox_shape", "bbox_intersection_join",
           "assign_tiles_bbox", "point_rect_refinement"]


def is_bbox_shape(geom_col) -> "F.Column":
    """Pure-Catalyst: geometry is a Point or an axis-aligned rectangle."""
    from .spatial import _is_axis_rect

    g = geom_col if not isinstance(geom_col, str) else F.col(geom_col)
    return (g["geom_type"] == "Point") | _is_axis_rect(g)


def flat_bbox(df: DataFrame, geom_col: str = "geom",
              prefix: str = "__b") -> DataFrame:
    """Project the geometry struct to flat bbox columns
    (<prefix>minx/miny/maxx/maxy + <prefix>pt) — the struct itself can then
    be dropped, so nothing nested crosses any exchange."""
    g = F.col(geom_col)
    return df.withColumns({
        f"{prefix}minx": F.array_min(g["x"]),
        f"{prefix}maxx": F.array_max(g["x"]),
        f"{prefix}miny": F.array_min(g["y"]),
        f"{prefix}maxy": F.array_max(g["y"]),
        f"{prefix}pt": g["geom_type"] == "Point",
    })


def _bbox_names(prefix: str) -> list[str]:
    """The flat bbox column names under `prefix`, box first, flag last."""
    return [f"{prefix}{c}" for c in ("minx", "miny", "maxx", "maxy", "pt")]


def _box(prefix: str) -> tuple:
    """(minx, miny, maxx, maxy) Columns of the flat bbox under `prefix`."""
    return tuple(F.col(c) for c in _bbox_names(prefix)[:4])


def point_rect_refinement(s_pt, r_pt, s_box, r_box) -> tuple:
    """Exact refinement of a point/axis-rect candidate pair, pure Catalyst.

    ``s_box`` / ``r_box`` are each side's (minx, miny, maxx, maxy) Columns
    (a point's bbox is the point itself); ``s_pt`` / ``r_pt`` flag points.
    Returns ``(keep, ibox)``.  ``keep`` applies the boundary rules of the
    struct operator: point == point, point-in-rect CLOSED (a point on the
    edge intersects), rect-rect only with strictly positive overlap
    (touching rects do not).  ``ibox`` is the intersection's (minx, miny,
    maxx, maxy): the point when either side is one, else the overlap."""
    sminx, sminy, smaxx, smaxy = s_box
    rminx, rminy, rmaxx, rmaxy = r_box
    ix0, ix1 = F.greatest(sminx, rminx), F.least(smaxx, rmaxx)
    iy0, iy1 = F.greatest(sminy, rminy), F.least(smaxy, rmaxy)

    def inside(px, py, x0, y0, x1, y1):
        return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)

    keep = (
        F.when(s_pt & r_pt, (sminx == rminx) & (sminy == rminy))
        .when(s_pt, inside(sminx, sminy, *r_box))
        .when(r_pt, inside(rminx, rminy, *s_box))
        .otherwise((ix1 > ix0) & (iy1 > iy0))
    )
    ibox = tuple(
        F.when(s_pt, sv).when(r_pt, rv).otherwise(iv)
        for sv, rv, iv in ((sminx, rminx, ix0), (sminy, rminy, iy0),
                           (sminx, rminx, ix1), (sminy, rminy, iy1))
    )
    return keep, ibox


def _reject_staged(columns, staged) -> None:
    """Raise if an input column name is one the operator stages: the staged
    column would silently replace the caller's data."""
    for c in columns:
        if c in staged:
            raise ValueError(
                f"input column {c!r} collides with a column name the "
                f"operator stages internally; rename it")


def bbox_intersection_join(
    stream: DataFrame,
    ref: DataFrame,
    res: int,
) -> DataFrame:
    """Intersection join over flat bbox frames (see flat_bbox; stream uses
    prefix __b, ref must carry ONLY __rminx/__rminy/__rmaxx/__rmaxy/__rpt).

    Same contract as spatial_intersection_join restricted to point/rect
    shapes: one row per intersecting pair, stream columns other than the
    five __b bbox columns preserved, the intersection emitted as flat bbox
    columns __iminx/__iminy/__imaxx/__imaxy + __ipt (a point iff either
    side is a point); boundary rules in `point_rect_refinement`.  The ref
    side is always broadcast.  The candidates come from the struct join's
    term join, fed by the flat bbox columns: the same cover terms at `res`
    (never coarsened), the same `__term` explodes and the same
    min-common-term pair dedup.  An input column named like a column the
    term join stages raises ValueError.
    """
    from .spatial import _TERM_JOIN_STAGED, _term_join_cols, _with_flat_terms

    _reject_staged([*stream.columns, *ref.columns], _TERM_JOIN_STAGED)
    c = _term_join_cols(res)
    s = _with_flat_terms(stream, "__b", res, "__").withColumn(
        "__term", c["s_term"])
    r = _with_flat_terms(ref, "__r", res, "__ref_").withColumn(
        "__term", c["r_term"])
    j = _bbox_join_cols(res)
    s_bbox = _bbox_names("__b")
    return s.join(F.broadcast(r), "__term").where(j["cond"]).select(
        *[n for n in stream.columns if n not in s_bbox], *j["out"])


@functools.lru_cache(maxsize=256)
def _bbox_join_cols(res: int) -> dict:
    """The pure Column trees of `bbox_intersection_join`, memoized per `res`
    like `spatial._term_join_cols`: the pair condition (the term join's
    dedup and the point/rect refinement) and the __i* output columns."""
    from .spatial import _term_join_cols

    sp, rp = F.col("__bpt"), F.col("__rpt")
    keep, ibox = point_rect_refinement(sp, rp, _box("__b"), _box("__r"))
    return {
        "cond": _term_join_cols(res)["dedup"] & keep,
        "out": [v.alias(n)
                for n, v in zip(_bbox_names("__i"), ibox + (sp | rp,))],
    }


#: the columns `_tiles` stages (zoom, tile ranges, exploded tile x/y)
_TILE_STAGED = ("__z", "__ztx0", "__ztx1", "__zty0", "__zty1",
                "__ztx", "__zty")


def _tiles(df: DataFrame, zooms, p: str, keep) -> DataFrame:
    """The zoom-tile cover of the flat bbox under prefix `p`, refined.

    Every row explodes its zooms (ONE explode, so several zooms still scan
    the input once), then the integer tile-x range, then the tile-y range
    of its bbox.  ``keep`` is the refinement: a predicate over the tile
    bounds `_tile_bounds` gives (and the input columns).  Emits the input
    columns other than the five `p` bbox columns plus
    (zoom, tile_x, tile_y, tile_id); tile_id is the Morton cell id.
    Rows with a null bbox emit nothing (the sequence explodes are empty).

    Tile column t spans [xedge(t), xedge(t + 1)) and tile row t spans
    (yedge(t + 1), yedge(t)]: neighbours share one edge value, so the
    bounds partition the plane.  `_tile_index` rounds the division of
    x + MERC_MAX, so a coordinate within rounding distance of an edge can
    index the neighbour of the tile the edges put it in (never further);
    each range end widens by that one tile when the edges say so, which
    makes the cover hold every tile the refinement can accept.
    """
    _reject_staged(df.columns, _TILE_STAGED)
    c = _tile_cols(tuple(int(z) for z in zooms), p)
    bbox = _bbox_names(p)
    out = df.withColumn("__z", c["z"]).withColumns(c["ranges"])
    out = out.withColumn("__ztx", c["tx"]).withColumn("__zty", c["ty"])
    return out.where(keep).select(
        *[n for n in df.columns if n not in bbox], *c["out"])


def _edges():
    """(xedge, yedge): tile t's west and north edge at zoom __z."""
    size = F.lit(2.0 * MERC_MAX) / F.pow(F.lit(2.0), F.col("__z"))
    return (lambda t: F.lit(-MERC_MAX) + t * size,
            lambda t: F.lit(MERC_MAX) - t * size)


@functools.lru_cache(maxsize=1)
def _tile_bounds() -> tuple:
    """(tminx, tminy, tmaxx, tmaxy) of the tile (__ztx, __zty) at zoom __z,
    the Columns a `_tiles` refinement reads."""
    xedge, yedge = _edges()
    tx, ty = F.col("__ztx"), F.col("__zty")
    return xedge(tx), yedge(ty + 1), xedge(tx + 1), yedge(ty)


@functools.lru_cache(maxsize=256)
def _tile_cols(zooms: tuple, p: str) -> dict:
    """The pure Column trees of `_tiles`, memoized per (zooms, p): the zoom
    explode, the widened tile ranges, the tile explodes and the outputs."""
    z = F.col("__z")
    last = F.pow(F.lit(2.0), z).cast("long") - 1
    xedge, yedge = _edges()
    minx, miny, maxx, maxy = _box(p)
    x0, x1 = _tile_index(minx, z), _tile_index(maxx, z)
    y0, y1 = _tile_index(maxy, z, flip=True), _tile_index(miny, z, flip=True)
    tx, ty = F.col("__ztx"), F.col("__zty")
    return {
        "z": F.explode(F.array(*[F.lit(zz) for zz in zooms])),
        "ranges": {
            "__ztx0": F.when((x0 > 0) & (minx < xedge(x0)), x0 - 1)
                       .otherwise(x0),
            "__ztx1": F.when((x1 < last) & (maxx >= xedge(x1 + 1)), x1 + 1)
                       .otherwise(x1),
            "__zty0": F.when((y0 > 0) & (maxy > yedge(y0)), y0 - 1)
                       .otherwise(y0),
            "__zty1": F.when((y1 < last) & (miny <= yedge(y1 + 1)), y1 + 1)
                       .otherwise(y1),
        },
        "tx": F.explode(F.sequence("__ztx0", "__ztx1")),
        "ty": F.explode(F.sequence("__zty0", "__zty1")),
        "out": [z.cast("int").alias("zoom"), tx.alias("tile_x"),
                ty.alias("tile_y"), cell_id_expr(tx, ty, z).alias("tile_id")],
    }


def assign_tiles_bbox(
    df: DataFrame,
    zooms: list[int],
    prefix: str = "__i",
) -> DataFrame:
    """Tile assignment over flat bbox columns — pure Catalyst end to end.

    One row per (input row, zoom, intersecting tile); outputs the input
    columns other than the five `prefix` bbox columns plus
    (zoom, tile_x, tile_y, tile_id), exactly like assign_tiles, which
    routes its point/rect rows here.  Keep predicates: a point belongs to
    the tile with tminx <= x < tmaxx and tminy < y <= tmaxy, a rect to
    every tile it overlaps with strictly positive area.
    """
    return _tiles(df, zooms, prefix, _bbox_tile_keep(prefix))


@functools.lru_cache(maxsize=256)
def _bbox_tile_keep(p: str) -> "F.Column":
    """assign_tiles_bbox's keep predicate for the flat bbox under `p`."""
    tminx, tminy, tmaxx, tmaxy = _tile_bounds()
    minx, miny, maxx, maxy = _box(p)
    return F.when(
        F.col(f"{p}pt"),
        (tminx <= minx) & (minx < tmaxx) & (tminy < miny) & (miny <= tmaxy),
    ).otherwise(
        (minx < tmaxx) & (maxx > tminx) & (miny < tmaxy) & (maxy > tminy)
    )
