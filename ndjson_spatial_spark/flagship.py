"""Flagship documents pipeline: spatial-join + tile-assignment over the
interleaved text+media documents table (the BASELINE.json headline metric).

Hybrid plan: bbox-shaped geometries (points + axis rects — the dominant
web shapes, and 100% of the synthetic corpus) take the pure-Catalyst fast
path (operators/bbox_fast.py): flat columns end to end, zero Python
workers, zero intermediate materialization, every stage JVM-native.
General shapes route through the exact struct operators
(operators/spatial.py) and the outputs union — same results, pinned by
tests/test_bbox_fast.py equivalence tests against the struct pipeline.

Scan budget on the docs table: the pre-pass aggregate (at build time),
then refs build + fast stream + (when general shapes exist) one
general-shape pass — all embarrassingly-parallel columnar scans; the
general branch's parse UDF and exact tile refinement only ever see the
(usually empty) non-bbox rows because the shape filter precedes them.

Build cost: every pure Column tree the build constructs is memoized on the
parameters it depends on (here and in the operators), so a warm build
sends only its DataFrame operations and the pre-pass through py4j, not
thousands of expression-construction calls.  DataFrames are never cached
across calls.

Join strategy: both branches run the engine's one candidate join — cell
cover terms, one `__term` equi-join, the min-common-term pair dedup —
with the ref broadcast.  The ref sample is ~1/ref_mod of the polygon
spans, so the fast path's bbox join (bbox_intersection_join, the term
join over flat bbox columns at a fixed `res`) always broadcasts it; the
general branch uses spatial_intersection_join's default broadcast ref.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.geo import parse_geojson
from .operators.bbox_fast import (
    _reject_staged,
    assign_tiles_bbox,
    bbox_intersection_join,
    is_bbox_shape,
)
from .operators.spatial import assign_tiles, spatial_intersection_join

__all__ = ["docs_tile_pipeline", "with_geojson_bbox"]

_OUT = ["doc_id", "zoom", "tile_x", "tile_y", "tile_id"]


#: the columns `with_geojson_bbox` adds, and the working columns it stages
#: and drops again
_GJ_OUT = ("__gt", "__fast", "__bminx", "__bmaxx", "__bminy", "__bmaxy",
           "__bpt")
_GJ_TEMP = ("__ptc", "__pg", "__xs", "__ys",
            "__minx", "__maxx", "__miny", "__maxy", "__ispt")


def with_geojson_bbox(df: DataFrame, text_col: str = "__gj") -> DataFrame:
    """Pure-Catalyst GeoJSON classifier + bbox extractor for the dominant
    web shapes.  Adds:

      __gt    JSON $.type (JVM get_json_object)
      __fast  TRUE iff the geometry is a Point or a closed single-ring
              axis-aligned rectangle Polygon (exactly `_is_axis_rect`'s
              contract re-expressed over the raw JSON arrays)
      __bminx/__bminy/__bmaxx/__bmaxy/__bpt   flat bbox (null unless fast)

    An input column named like one of these or like a working column the
    stages drop again (__ptc, __pg, __xs, __ys, __minx, __maxx, __miny,
    __maxy, __ispt) raises ValueError: it would be overwritten or dropped.

    This is what lets the flagship run with ZERO Python workers: the
    round-2 stage isolation measured the Arrow parse UDF as the one
    inverse-scaling stage at high thread counts (2.1s@8 -> 10.2s@32 for
    identical work), while every pure-JVM stage scaled.  Non-fast rows
    (Multi*, lines, odd polygons, malformed JSON) are parsed by the full
    parse_geojson UDF on the rare general branch only.

    Two Catalyst performance traps, both measured on this exact plan:

    - Built as STAGED projections, not one dict of deep expressions: each
      JSON parse / array transform materializes once as a column and later
      stages reference the attribute (CollapseProject keeps stages apart
      when a non-cheap expression would be duplicated).  The
      single-expression form re-inlined the parse ~15x: 36s/scan vs ~1s.
    - AVOID FILTERING on the derived columns: predicate pushdown rewrites
      a where() in terms of the underlying parse tree, duplicating it per
      reference (a `where(__fast)` cost 31s/scan, ~15 inlined parses).
      bbox columns are NULL-GATED by __fast so the fast join path needs NO
      filter at all — non-fast rows carry null bboxes and vanish at the
      cover explode; counts over shapes should be AGGREGATES of the
      projected columns (never pushed), and any unavoidable derived-column
      filter belongs on a cached frame or a rare branch.
    """
    _reject_staged(df.columns, _GJ_OUT + _GJ_TEMP)
    for stage in _geojson_bbox_stages(text_col):
        df = df.withColumns(stage)
    return df.drop(*_GJ_TEMP)


@functools.lru_cache(maxsize=256)
def _geojson_bbox_stages(text_col: str) -> tuple:
    """`with_geojson_bbox`'s projection stages, one {name: Column} dict per
    stage, memoized per `text_col`."""
    text = F.col(text_col)
    parse = {
        "__gt": F.get_json_object(text, "$.type"),
        "__ptc": F.from_json(text, "coordinates array<double>")["coordinates"],
        "__pg": F.from_json(
            text, "coordinates array<array<array<double>>>")["coordinates"],
    }
    ring = {
        "__xs": F.transform(F.col("__pg")[0], lambda p: p[0]),
        "__ys": F.transform(F.col("__pg")[0], lambda p: p[1]),
    }
    extent = {
        "__minx": F.array_min("__xs"),
        "__maxx": F.array_max("__xs"),
        "__miny": F.array_min("__ys"),
        "__maxy": F.array_max("__ys"),
        "__ispt": (F.col("__gt") == "Point") & (F.size("__ptc") == 2),
    }
    is_rect = (
        (F.col("__gt") == "Polygon")
        & (F.size("__pg") == 1)
        & (F.size(F.col("__pg")[0]) == 5)
        & F.forall("__xs", lambda v: (v == F.col("__minx")) | (v == F.col("__maxx")))
        & F.forall("__ys", lambda v: (v == F.col("__miny")) | (v == F.col("__maxy")))
        & (F.col("__maxx") > F.col("__minx"))
        & (F.col("__maxy") > F.col("__miny"))
    )
    ispt = F.col("__ispt")
    classify = {"__fast": F.coalesce(ispt | is_rect, F.lit(False))}
    fast = F.col("__fast")
    bbox = {
        # null unless fast: the bbox join's cover explode then drops
        # non-fast rows with no filter (see the pushdown note above)
        "__bminx": F.when(fast & ispt, F.col("__ptc")[0])
                    .when(fast, F.col("__minx")),
        "__bmaxx": F.when(fast & ispt, F.col("__ptc")[0])
                    .when(fast, F.col("__maxx")),
        "__bminy": F.when(fast & ispt, F.col("__ptc")[1])
                    .when(fast, F.col("__miny")),
        "__bmaxy": F.when(fast & ispt, F.col("__ptc")[1])
                    .when(fast, F.col("__maxy")),
        "__bpt": F.coalesce(ispt, F.lit(False)),
    }
    return parse, ring, extent, classify, bbox


def docs_tile_pipeline(
    docs: DataFrame,
    res: int = 9,
    zooms=(6, 9),
    ref_mod: int = 29,
    ref_pred=None,
) -> DataFrame:
    """documents -> (doc_id, zoom, tile_x, tile_y, tile_id) tile assignments.

    refs = a deterministic ~1/ref_mod sample of the corpus' polygon spans
    (parallelism-independent: keyed on crc32(doc_id), so N- and 4N-core
    runs see identical refs — the two-cluster-size scaling requirement).

    Scan budget: ONE pre-pass aggregate over the docs table counts the
    general-shape rows and the general-shape refs (the two plan-time
    questions) and caches nothing.  The ref sample is cached when the query
    first runs, so the general branch's shape splits reuse it.  The
    all-bbox common case then plans the pure fast path: the query scans
    the table for the ref sample and for the fast stream, with no
    materialization of the big stream anywhere and NO Python workers at
    all (classification and bbox extraction are Catalyst JSON
    expressions, see with_geojson_bbox).  When general shapes exist, their
    (rare) rows parse with the full UDF and run the exact struct
    operators; the full stream additionally joins any general-shape refs.
    """
    c = _span_cols()
    base = (
        docs.select("doc_id", c["span"]).where(c["is_geom"])
        .select("doc_id", c["text"])
    )
    spans = with_geojson_bbox(base)
    # ref sample: any deterministic, parallelism-independent predicate of
    # the row works; default keys on crc32(doc_id) (uniform over arbitrary
    # id strings), callers with structured ids may pass their own (a
    # Column has no safe memo key, so its trees are built per call)
    r = _ref_cols(ref_mod) if ref_pred is None else _ref_cols_of(ref_pred)
    counts = spans.agg(*r["counts"]).collect()[0]
    n_general = counts["n"]
    n_ref_general = counts["n_ref_gen"]

    # refs: the pushed-down filter is just get_json_object + crc32 (cheap);
    # the small result caches so later shape-splits cost nothing
    refs_pre = spans.where(r["is_ref"]).cache()
    refs_fast = refs_pre.where(c["fast"]).select(*c["refs_fast"])
    # the fast stream needs NO filter: bbox columns are null-gated by
    # __fast, so non-fast rows vanish at the join's cover explode
    s_fast = spans.select(
        "doc_id", "__bminx", "__bminy", "__bmaxx", "__bmaxy", "__bpt"
    )
    t_fast = assign_tiles_bbox(
        bbox_intersection_join(s_fast, refs_fast, res=res), list(zooms)
    ).select(*_OUT)
    if n_general == 0:
        return t_fast

    # general branch (rare data case): the full parse UDF runs here, over
    # the cached refs and the general-shape rows (an expensive filtered
    # scan — acceptable only because n_general > 0 is the exception)
    refs = refs_pre.select(parse_geojson("__gj").alias("geom"))
    s_gen = spans.where(~F.col("__fast")).select(
        "doc_id", parse_geojson("__gj").alias("geom")
    )
    j_gen = spatial_intersection_join(s_gen, refs, res=res).select(
        "doc_id", "geom"
    )
    # general-shape REFS join the full (fast-shaped) stream through the
    # struct path — requires one parse pass over the fast stream
    refs_gen = refs.where(~is_bbox_shape(F.col("geom")))
    if n_ref_general > 0:
        s_fast_struct = spans.where(F.col("__fast")).select(
            "doc_id", parse_geojson("__gj").alias("geom")
        )
        j_cross = spatial_intersection_join(
            s_fast_struct, refs_gen, res=res
        ).select("doc_id", "geom")
        j_gen = j_gen.unionByName(j_cross)
    t_gen = assign_tiles(j_gen, list(zooms)).select(*_OUT)
    return t_fast.unionByName(t_gen)


@functools.lru_cache(maxsize=1)
def _span_cols() -> dict:
    """docs_tile_pipeline's ref-independent Column trees, memoized: the span
    explode and geometry filter, and the ref sample's flat bbox aliases."""
    return {
        "span": F.explode("spans").alias("span"),
        "is_geom": F.col("span.kind") == "geometry",
        "text": F.col("span.text").alias("__gj"),
        "fast": F.col("__fast"),
        "refs_fast": [F.col(f"__b{n}").alias(f"__r{n}")
                      for n in ("minx", "miny", "maxx", "maxy", "pt")],
    }


@functools.lru_cache(maxsize=256)
def _ref_cols(ref_mod: int) -> dict:
    """`_ref_cols_of` the default crc32 ref sample, memoized per `ref_mod`."""
    return _ref_cols_of(F.crc32(F.col("doc_id")) % ref_mod == 0)


def _ref_cols_of(ref_pred) -> dict:
    """The ref sample predicate `is_ref` and the pre-pass aggregates.

    The general-shape rows are counted with an AGGREGATE over the
    projected column: a where() would push the predicate into the scan,
    re-inlining the whole classification tree per reference (measured
    35s/scan vs ~2s).  The general-REF count rides the SAME aggregate: a
    ref is non-bbox-shaped iff it is not __fast (the JSON-side axis-rect
    classification equals the struct-side is_bbox_shape — equivalence
    pinned in test_bbox_fast), so one job answers both plan-time
    questions."""
    is_ref = (F.col("__gt") == "Polygon") & ref_pred
    return {
        "is_ref": is_ref,
        "counts": [
            F.count(F.when(~F.col("__fast"), F.lit(1))).alias("n"),
            F.count(F.when(is_ref & ~F.col("__fast"), F.lit(1)))
            .alias("n_ref_gen"),
        ],
    }
