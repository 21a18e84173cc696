"""Nearest-distance, kNN and distance-range joins over one term join.

Reference: `ndjson-spatial nearest-distance --ref f`
(ndjson-spatial/src/nearest_distance.rs:27-94) — an in-memory R-tree k=1
nearest-neighbor over reference POINTS, probed per stream POINT, writing the
SQUARED euclidean distance (`distance_2`, :64-75) into the stream feature.

Engine realization (SURVEY §2.3 J6): the three operators share one
candidate join, `_pairs`, built from the term stages of the other spatial
joins (`spatial._with_flat_terms`, `spatial._term_join_cols`):

  cover : each stream point's radius bbox (x±r, y±r) gets its flat terms
          at one level, by default the largest whose cell side is >= r
          (`_level`), so a row covers at most 3x3 cells.  Each ref point
          is a degenerate bbox at the same level: exactly one term.
  join  : both sides explode `__term` and meet in ONE broadcast
          equi-join whose condition also holds the exact refinement
          d2 <= r^2.  A ref point has one term and a row's cover cells
          are distinct, so a pair meets once: no pair dedup.

`join_dwithin` is that join, inner.  `nearest_k` runs it as a left join
at r0 = max_rings * (level-`res` cell side), with the cover level matched
to r0 (not to `res`: `res` and `max_rings` only set r0), and keeps each
stream row's k smallest distances in one groupBy that carries the row;
rows with fewer than k refs within r0 brute-force against the broadcast
ref in a nested-loop join (the reference holds the whole ref in RAM too):

  stream points -> radius-r0 cover -> LEFT term join (d2 <= r0^2) ref
    -> groupBy row: k smallest d2 -+- >= k found: done
                                   +- <  k found: x broadcast ref -> groupBy
    -> union

Exact: when at least k refs lie within r0, the k nearest lie within r0
too, and every ref within r0 lies in the row's cover; otherwise the brute
force sees every ref.  `nearest_distance` is `nearest_k(k=1)` without the
rank.

No plan holds a Python UDF or a cached frame.  The caller's columns ride
in a struct beside the staged ones, so any column name passes through
unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.cells import MERC_MAX
from .spatial import _term_join_cols, _with_flat_terms

__all__ = ["nearest_distance", "nearest_k", "join_dwithin",
           "with_distance_property"]


def _points(df: DataFrame, geom_col: str, p: str, row: str | None = None,
            cols: list = ()) -> DataFrame:
    """The point rows of `df` as ({p}x, {p}y), led by `row`, a struct of
    `cols`, when `row` is given; other rows, null geometries too, are
    silently skipped (nearest_distance.rs:46-55)."""
    g = F.col(geom_col)
    return df.where(g["geom_type"] == "Point").select(
        *([F.struct(*cols).alias(row)] if row else []),
        F.element_at(g["x"], 1).alias(f"{p}x"),
        F.element_at(g["y"], 1).alias(f"{p}y"),
    )


def _level(radius: float) -> int:
    """The largest level (up to 24) whose cell side is at least `radius`:
    a radius bbox then spans at most 3 cells per axis."""
    return max(0, min(24, int(math.floor(
        math.log2((2.0 * MERC_MAX) / max(radius, 1e-9))))))


def _d2():
    """The squared distance of a candidate pair."""
    dx = F.col("__sx") - F.col("__rx")
    dy = F.col("__sy") - F.col("__ry")
    return dx * dx + dy * dy


def _pairs(s: DataFrame, r: DataFrame, radius: float, res: int,
           how: str) -> DataFrame:
    """Every (stream, ref) point pair within `radius`, as `s`'s columns,
    `r`'s columns and __d2, the squared distance.  `s` carries the point
    as __sx/__sy, `r` as __rx/__ry.  Both sides' terms are at level `res`
    and the ref side is broadcast.  With how="left", each stream row also
    keeps its cover cells that met no ref within `radius`, with null `r`
    columns and a null __d2."""
    c = _term_join_cols(res)
    sx, sy, rx, ry = (F.col(n) for n in ("__sx", "__sy", "__rx", "__ry"))
    st = _with_flat_terms(s.withColumns({
        "__qminx": sx - radius, "__qmaxx": sx + radius,
        "__qminy": sy - radius, "__qmaxy": sy + radius,
    }), "__q", res, "__").withColumn("__term", c["s_term"])
    rt = _with_flat_terms(r.withColumns({
        "__rminx": rx, "__rmaxx": rx, "__rminy": ry, "__rmaxy": ry,
    }), "__r", res, "__ref_").withColumn("__rterm", c["r_term"])
    on = (F.col("__term") == F.col("__rterm")) & (_d2() <= radius * radius)
    return st.join(F.broadcast(rt), on, how).select(
        *s.columns, *r.columns, _d2().alias("__d2"))


def _nearest(stream: DataFrame, ref: DataFrame, k: int, geom_col: str,
             res: int, max_rings: int) -> DataFrame:
    """(__row, __best): each stream point row as a struct and its k
    smallest squared distances, ascending; fewer when the ref holds fewer
    than k points, and no row at all for an empty ref."""
    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")
    r0 = float(max_rings) * 2.0 * MERC_MAX / (1 << res)
    # a stream row's cover rows meet again in the groupBy by this id, so
    # duplicate stream rows stay apart.  The id is only grouped on, never
    # joined back, so each branch is self-consistent even if recomputed:
    # nothing needs to pin it in a cache.  The row rides as a value, not a
    # key, so its doubles come back as they went in (grouping keys are
    # NaN/-0.0-normalized)
    s = _points(stream, geom_col, "__s", "__row", stream.columns) \
        .withColumn("__sid", F.monotonically_increasing_id())
    r = _points(ref, geom_col, "__r")

    def best(pairs: DataFrame) -> DataFrame:
        return pairs.groupBy("__sid").agg(
            *(F.first(n).alias(n) for n in ("__row", "__sx", "__sy")),
            F.slice(F.sort_array(F.collect_list("__d2")), 1, k)
            .alias("__best"))

    near = best(_pairs(s, r, r0, _level(r0), "left"))
    brute = best(near.where(F.size("__best") < k).drop("__best")
                 .crossJoin(F.broadcast(r)).select("*", _d2().alias("__d2")))
    return near.where(F.size("__best") >= k).unionByName(brute) \
        .select("__row", "__best")


def nearest_distance(
    stream: DataFrame,
    ref: DataFrame,
    geom_col: str = "geom",
    res: int = 12,
    max_rings: int = 2,
    out_col: str = "distance",
) -> DataFrame:
    """Stream point rows + SQUARED distance to the nearest ref point.

    Output: the stream's point rows (non-points dropped, matching the
    reference's silent skip) with `out_col` (double) appended; with an
    empty ref, no rows.  The reference's "null properties -> distance
    silently not added" quirk (nearest_distance.rs:83-85) is a SINK
    concern: apply ``with_distance_property`` when emitting NDJSON.

    Plan: `nearest_k` with k=1 (see the module docstring).  `res` and
    `max_rings` only set the probe radius r0 = max_rings * (level-`res`
    cell side); rows with no ref within r0 take the brute-force join, and
    the result is exact whatever they are.
    """
    return _nearest(stream, ref, 1, geom_col, res, max_rings).select(
        "__row.*", F.col("__best")[0].alias(out_col))


def nearest_k(
    stream: DataFrame,
    ref: DataFrame,
    k: int,
    geom_col: str = "geom",
    res: int = 12,
    max_rings: int = 2,
) -> DataFrame:
    """kNN extension (SURVEY §2.5 O2): the reference only does k=1; the
    engine generalizes it.

    Output: stream point rows x k, with (rank:int, distance:double —
    SQUARED, matching the k=1 operator); fewer than k rows per stream row
    when the ref holds fewer than k points.  Equidistant neighbors rank
    arbitrarily, but the distance multiset is exact.

    Plan (see the module docstring): one left term join at r0 =
    max_rings * (level-`res` cell side), whose cover is at most 3x3 cells
    of the level matched to r0; the k smallest distances per stream row in
    one groupBy; and for rows with fewer than k refs within r0 a broadcast
    cross-join brute force.  `res` and `max_rings` only set r0, and the
    result is exact whatever they are.  `k` < 1 raises ValueError.
    """
    return _nearest(stream, ref, k, geom_col, res, max_rings).select(
        "__row", F.posexplode("__best").alias("__pos", "distance"),
    ).select("__row.*", (F.col("__pos") + 1).alias("rank"), "distance")


def with_distance_property(
    df: DataFrame, properties_col: str = "properties", out_col: str = "distance"
) -> DataFrame:
    """Reference quirk (nearest_distance.rs:83-85): rows whose `properties`
    is null do NOT get the distance written.  For map-typed properties
    columns, merge the distance in (stringified map value) only when the
    map is non-null."""
    return df.withColumn(
        properties_col,
        F.when(
            F.col(properties_col).isNotNull(),
            F.map_concat(
                F.col(properties_col),
                F.create_map(F.lit(out_col), F.col(out_col).cast("string")),
            ),
        ).otherwise(F.col(properties_col)),
    )


def join_dwithin(
    stream: DataFrame,
    ref: DataFrame,
    radius: float,
    geom_col: str = "geom",
    res: int | None = None,
    out_col: str = "distance2",
) -> DataFrame:
    """Distance-RANGE join (round-4 engine extension): one output row per
    (stream point, ref point) pair within `radius` — the ST_DWithin-class
    operator Spark has no native equivalent for.

    Output: the stream's columns, the ref's columns other than `geom_col`,
    and `out_col`, the SQUARED distance (the reference's distance_2
    convention, nearest_distance.rs:64-75).  Point rows only (non-points
    silently skipped, the reference's nearest-distance scope).

    Plan: the module's term join, inner, at level `res`; by default the
    largest level whose cell side is at least `radius`, which bounds the
    cover at 3x3 cells per stream row.  The join is exact at any level: a
    finer `res` only enumerates more cells.  A negative `radius` raises
    ValueError.
    """
    if radius < 0:
        raise ValueError(f"radius must be non-negative, got {radius}")
    radius = float(radius)
    s = _points(stream, geom_col, "__s", "__srow", stream.columns)
    r = _points(ref, geom_col, "__r", "__rrow",
                [c for c in ref.columns if c != geom_col])
    pairs = _pairs(s, r, radius, _level(radius) if res is None else res,
                   "inner")
    return pairs.select("__srow.*", "__rrow.*", F.col("__d2").alias(out_col))
