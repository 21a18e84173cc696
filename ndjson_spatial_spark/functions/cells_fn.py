"""Cell-index column functions: pure-Catalyst cell ids, tile indices,
geohash and hex indices, plus `make_st_cells`, a pandas UDF over the numpy
cell kernels that covers a whole geometry's bbox.  The spatial joins build
their covers in Catalyst instead (`operators.spatial._with_terms`).

These are the engine's H3/S2-style primitives (BASELINE.json north star):
every geometry gets a sorted cell-index column; candidate spatial joins are
plain equi-joins on exploded cell ids, which Catalyst plans with its stock
broadcast / shuffle-hash machinery (+ AQE skew splitting).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..kernels import cells as KC
from ..kernels import geometry as KG
from .geo import geom_to_batch

__all__ = ["st_geohash", "decode_geohash", "GEOHASH_BASE32",
           "st_hex_index", "hex_center_expr",
           "st_cell_of_point", "make_st_cells",
           "cell_id_expr"]

#: largest double strictly below 1.0 — unit_xy's clip ceiling
#: (np.nextafter(1.0, 0.0))
_U_MAX = 0.9999999999999999


def _unit_u_expr(x_col):
    """kernels.cells.unit_xy's u coordinate, pure Catalyst (bit-exact:
    same IEEE add/divide, same [0, 1-ulp] clip)."""
    u = (x_col + F.lit(KC.MERC_MAX)) / F.lit(2.0 * KC.MERC_MAX)
    return F.least(F.greatest(u, F.lit(0.0)), F.lit(_U_MAX))


def _unit_v_expr(y_col):
    """unit_xy's v coordinate (y flipped), pure Catalyst."""
    v = (F.lit(KC.MERC_MAX) - y_col) / F.lit(2.0 * KC.MERC_MAX)
    return F.least(F.greatest(v, F.lit(0.0)), F.lit(_U_MAX))


def _tile_index(coord, res, flip: bool = False):
    """Mercator coordinate -> level-`res` tile index, pure Catalyst: the
    floor of unit_xy's clipped u (v when `flip`) times 2^res, so always in
    [0, 2^res - 1].  Point cells and the zoom-tile cover use it.  `res`
    is an int or an integer Column (a zoom column; 2.0^z is exact for
    integer z)."""
    n = (F.pow(F.lit(2.0), res) if isinstance(res, Column)
         else F.lit(float(1 << res)))
    u = _unit_v_expr(coord) if flip else _unit_u_expr(coord)
    return F.floor(u * n).cast("long")


def st_cell_of_point(x_col, y_col, res: int):
    """Level-`res` cell id of mercator point columns — pure Catalyst
    (round-6; was a pandas UDF).  Bit-exact twin of
    kernels.cells.point_cells: same unit_xy clip, same floor-to-tile,
    same Morton encoding (cell_id_expr), but whole-stage codegen'd with
    no Python worker round-trip (guide §4.1: built-ins over UDFs).
    Equivalence is pinned by test_mixed_resolution's expr-vs-kernel sweep."""
    return cell_id_expr(_tile_index(x_col, res),
                        _tile_index(y_col, res, flip=True), F.lit(res))


def make_st_cells(res: int, cap: int = 256):
    """Returns st_cells(geom) -> array<long>: covering cells of the geometry
    bbox at `res` (superset cover; exact refinement prunes false positives).

    Rows whose bbox exceeds `cap` cells are covered at a coarser resolution
    — callers doing equi-joins must use a uniform res (cap then binds the
    fan-out by coarsening, trading candidate precision for bounded explode).
    """

    @pandas_udf(T.ArrayType(T.LongType()))
    def st_cells(geom: pd.DataFrame) -> pd.Series:
        out = [None] * len(geom)
        bg, valid = geom_to_batch(geom)
        if bg.n_rows:
            is_pt = np.zeros(bg.n_rows, bool)
            bb = KG.batch_bbox(bg, is_pt)  # [minx, maxx, miny, maxy]
            covers, _ = KC.bbox_cells(bb[:, 0], bb[:, 2], bb[:, 1], bb[:, 3], res, cap=cap)
            for j, i in enumerate(np.flatnonzero(valid)):
                out[i] = [int(c) for c in covers[j]]
        return pd.Series(out)

    return st_cells


def cell_id_expr(tx_col, ty_col, res_col):
    """Pure-Catalyst cell id from (tile_x, tile_y, res) columns: the same
    Morton interleave as kernels.cells.cell_id, as a branch-free chain of
    JVM shift/mask expressions (stays inside whole-stage codegen — no
    Python worker on the tile-emission hot path)."""
    def spread(v):
        v = v.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
        for sh, m in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                      (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                      (1, 0x5555555555555555)):
            v = v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(m))
        return v

    morton = spread(tx_col).bitwiseOR(F.shiftleft(spread(ty_col), 1))
    return F.shiftleft(res_col.cast("long"), 58).bitwiseOR(morton)


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def decode_geohash(df, gh_col: str, precision: int = 9):
    """Inverse of st_geohash (round-4): appends the geohash cell bbox
    columns ``lon_min, lat_min, lon_max, lat_max`` — PURE Catalyst,
    whole-stage codegen'd.

    Per character the base32 value comes from compact ASCII arithmetic
    (digits = code-48; letters b..z = code-88 minus one per skipped
    letter a/i/l/o below them — a 64-entry map literal per char repeated
    `precision` times blows the generated method past the codegen size
    limit).  The Morton un-spread (the exact inverse of st_geohash's
    spread) is STAGED: every mask/shift step materializes as an
    attribute via withColumns, because composing the steps as one nested
    Column doubles the expression text per step (2^5 copies of the
    assembled integer) and forces Spark to abandon codegen.  The bbox is
    the closed-form cell [idx, idx+1)/2^n scaled to degree spans — the
    same operation order as the encoder, so decode(encode(p)) brackets p
    bit-exactly and the DuckDB oracle re-derives the bbox numerically
    without parsing strings.  Rows whose string has the wrong length or
    any non-base32 char get null bbox columns."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be 1..12")
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    gh = F.col(gh_col)

    def char_val(k):
        a = F.ascii(F.substring(gh, k + 1, 1))
        digit = (a >= 48) & (a <= 57)
        letter = (a >= 98) & (a <= 122) & ~a.isin(105, 108, 111)
        corr = ((a > 105).cast("int") + (a > 108).cast("int")
                + (a > 111).cast("int"))
        return F.when(digit, a - 48).when(letter, a - 88 - corr)

    vals = [char_val(k) for k in range(precision)]
    valid = F.length(gh) == precision
    for val in vals:
        valid = valid & val.isNotNull()
    v = F.lit(0).cast("long")
    for k in range(precision):
        v = F.shiftleft(v, 5).bitwiseOR(
            F.coalesce(vals[k], F.lit(0)).cast("long"))
    staged = df.withColumns({"__ghv": v, "__ghok": valid})

    # staged un-spread: x_{s+1} = (x_s | x_s>>sh) & m, each step reading
    # the PREVIOUS step's attribute (linear plan, stays in codegen)
    cur = {"__glon": (F.shiftrightunsigned(F.col("__ghv"), 1)
                      if bits % 2 == 0 else F.col("__ghv")),
           "__glat": (F.col("__ghv") if bits % 2 == 0
                      else F.shiftrightunsigned(F.col("__ghv"), 1))}
    staged = staged.withColumns(
        {c: e.bitwiseAND(F.lit(0x5555555555555555))
         for c, e in cur.items()})
    for sh, m in ((1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                  (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                  (16, 0xFFFFFFFF)):
        staged = staged.withColumns(
            {c: F.col(c).bitwiseOR(F.shiftrightunsigned(F.col(c), sh))
             .bitwiseAND(F.lit(m)) for c in ("__glon", "__glat")})

    def edge(idx, n, span, offset):
        return F.when(
            F.col("__ghok"),
            (idx.cast("double") / F.lit(float(1 << n)))
            * F.lit(float(span)) - F.lit(float(offset)))

    lon_i, lat_i = F.col("__glon"), F.col("__glat")
    return staged.withColumns({
        "lon_min": edge(lon_i, n_lon, 360.0, 180.0),
        "lat_min": edge(lat_i, n_lat, 180.0, 90.0),
        "lon_max": edge(lon_i + 1, n_lon, 360.0, 180.0),
        "lat_max": edge(lat_i + 1, n_lat, 180.0, 90.0),
    }).drop("__ghv", "__ghok", "__glon", "__glat")


def st_geohash(lon_col, lat_col, precision: int = 9):
    """Standard geohash string of (lon, lat) degree columns, PURE Catalyst
    (round-4 engine extension — the interchange cell id every geo stack
    speaks, complementing the engine's internal web-mercator Morton ids).

    Closed form instead of the textbook bisection loop: the geohash is the
    base32 digits of the bit-interleave of

        lon_idx = floor((lon+180)/360 * 2^n_lon)   (n_lon = ceil(5p/2))
        lat_idx = floor((lat+90)/180 * 2^n_lat)    (n_lat = floor(5p/2))

    with longitude taking the leading bit — the same 5-step shift/mask
    spread as `cell_id_expr`, so the whole thing stays inside whole-stage
    codegen and is re-derivable bit-exactly in the DuckDB oracle."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be 1..12")
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2

    def spread(v):
        v = v.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
        for sh, m in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                      (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                      (1, 0x5555555555555555)):
            v = v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(m))
        return v

    def idx(coord, offset, span, n):
        u = (coord.cast("double") + F.lit(float(offset))) / F.lit(float(span))
        i = F.floor(u * F.lit(float(1 << n))).cast("long")
        return F.greatest(F.lit(0).cast("long"),
                          F.least(F.lit((1 << n) - 1).cast("long"), i))

    lon_i = idx(lon_col, 180.0, 360.0, n_lon)
    lat_i = idx(lat_col, 90.0, 180.0, n_lat)
    if bits % 2 == 0:
        # even total: MSB is a lon bit at an ODD interleave position
        v = F.shiftleft(spread(lon_i), 1).bitwiseOR(spread(lat_i))
    else:
        # odd total: lon has one extra bit; lon bits sit at EVEN positions
        v = spread(lon_i).bitwiseOR(F.shiftleft(spread(lat_i), 1))
    chars = [
        F.substring(
            F.lit(GEOHASH_BASE32),
            (F.shiftrightunsigned(v, 5 * (precision - 1 - k))
             .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
            1,
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


# ------------------------------------------------------------- hex grid

#: sqrt(3) inlined as its shortest-roundtrip repr so the DuckDB oracle
#: replays the IDENTICAL double (same discipline as the Morton/CRS
#: kernel constants)
SQRT3 = 1.7320508075688772


def st_hex_index(x_col, y_col, size: float):
    """Flat-top hexagon axial index ``struct<q: long, r: long>`` of a
    point on a hex grid with circumradius ``size`` — the planar analog
    of H3's cell assignment (the north-star's "H3/S2 cell encoding"
    names both families; the engine's quadkey cells are the S2-style
    half, this is the hex half).  Red Blob Games' canonical pixel->hex
    pipeline: axial fractional coords

        qf = (2/3 * x) / size
        rf = (-1/3 * x + sqrt(3)/3 * y) / size

    then cube rounding (round each of q, r, s = -q-r; re-derive the
    component with the largest rounding error from the other two so
    q + r + s == 0 exactly).

    Everything is plain IEEE arithmetic in a FIXED operation order —
    pure Catalyst (whole-stage codegen), and bit-replayable in any
    engine that evaluates the same expression tree (the DuckDB oracle
    does).  "round" is floor(v + 0.5) in BOTH engines (explicit, because
    Spark's F.round is HALF_UP on negatives while numpy/DuckDB round
    half-even — floor(+0.5) sidesteps the divergence with one exactly-
    representable add).
    """
    if size <= 0:
        raise ValueError("size must be positive")
    x = x_col.cast("double")
    y = y_col.cast("double")
    s = F.lit(float(size))
    qf = (x * F.lit(2.0 / 3.0)) / s
    rf = (x * F.lit(-1.0 / 3.0) + y * F.lit(SQRT3 / 3.0)) / s
    sf = -qf - rf

    def rnd(v):
        return F.floor(v + F.lit(0.5))

    rq, rr, rs = rnd(qf), rnd(rf), rnd(sf)
    dq = F.abs(rq.cast("double") - qf)
    dr = F.abs(rr.cast("double") - rf)
    ds = F.abs(rs.cast("double") - sf)
    q = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    r = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs).otherwise(rr)
    return F.struct(q.cast("long").alias("q"), r.cast("long").alias("r"))


def hex_center_expr(q_col, r_col, size: float):
    """Center point (x, y) of a flat-top axial hex cell — the inverse of
    st_hex_index's lattice map (exact on the rounded integer indices):
    x = size * 3/2 * q;  y = size * (sqrt(3)/2 * q + sqrt(3) * r)."""
    s = float(size)
    q = q_col.cast("double")
    r = r_col.cast("double")
    x = q * F.lit(s * 1.5)
    y = q * F.lit(s * SQRT3 / 2.0) + r * F.lit(s * SQRT3)
    return F.struct(x.alias("x"), y.alias("y"))
