"""The benchmark's four workloads: seeded inputs, the query, and an oracle.

Every workload follows the same shape:

- ``python_udfs`` says whether the query runs Python UDFs, so set-up
  warms the Python workers.
- ``Workload(scale)`` fixes the input size; ``stage(spark, root, seed)``
  makes the inputs from the seed alone
  (numpy ``PCG64(seed)`` on the driver, or the package's own seeded
  ``synth_documents``), so the same seed gives byte-identical inputs at any
  parallelism, and writes them to parquet under ``root``.  Returns a dict
  of what the query and the oracle read, the input row count and the
  generate/write seconds.
- ``query(spark, inputs)`` calls the package's public operator on the
  staged inputs and returns the result DataFrame; nothing else is given to
  the package.
- ``key()`` is a per-row check key in ``[0, P)`` over the result's
  identifying columns, and ``value()`` a float column (or None) whose sum
  is checked with a tolerance.  ``expected(inputs)`` is a brute force over
  the generated inputs in numpy that shares no code with the operator under
  test and returns the same order-insensitive digest: row count, sum of the
  keys, sum of the values.
- ``check(facts)`` asserts the property the workload exists to exercise,
  from the counts measured in the executed plans (see ``tracing.py``).
"""

from __future__ import annotations

import json
import os
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MERC_MAX = 20037508.342789244
# the check keys are reduced modulo this prime, so a sum of up to 2**32 of
# them fits in a long, which ANSI mode checks
P = 2_147_483_647

GEOM_ARROW = pa.struct([
    ("geom_type", pa.string()),
    ("x", pa.list_(pa.float64())),
    ("y", pa.list_(pa.float64())),
    ("ring_offsets", pa.list_(pa.int32())),
    ("part_offsets", pa.list_(pa.int32())),
])

# every staged input is split into this many parquet files, so a scan has
# the same number of splits at any `local[N]`
N_FILES = 8


def _write_parquet(path: str, table: pa.Table) -> int:
    """Write `table` as N_FILES parquet files under `path`; returns bytes."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return _dir_bytes(path)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _points(xs, ys) -> pa.Array:
    n = len(xs)
    return pa.array([
        {"geom_type": "Point", "x": [float(xs[i])], "y": [float(ys[i])],
         "ring_offsets": [0, 1], "part_offsets": [0, 1]}
        for i in range(n)
    ], type=GEOM_ARROW)


def _rects(x0, y0, x1, y1) -> pa.Array:
    return pa.array([
        {"geom_type": "Polygon",
         "x": [float(x0[i]), float(x1[i]), float(x1[i]), float(x0[i]),
               float(x0[i])],
         "y": [float(y0[i]), float(y0[i]), float(y1[i]), float(y1[i]),
               float(y0[i])],
         "ring_offsets": [0, 5], "part_offsets": [0, 1]}
        for i in range(len(x0))
    ], type=GEOM_ARROW)


def _pair_key(sid: str, rid: str):
    from pyspark.sql import functions as F

    return F.pmod(F.col(sid) * 1_000_003 + F.col(rid), F.lit(P))


def _pair_keys(s, r) -> int:
    return int(((np.asarray(s, np.int64) * 1_000_003
                 + np.asarray(r, np.int64)) % P).sum())


def _contains_closed(px, py, x0, y0, x1, y1):
    """(point index, rect index) pairs with the point inside the closed rect,
    brute force over rect chunks."""
    si, ri = [], []
    for lo in range(0, len(x0), 256):
        hi = lo + 256
        m = ((px[:, None] >= x0[None, lo:hi]) & (px[:, None] <= x1[None, lo:hi])
             & (py[:, None] >= y0[None, lo:hi]) & (py[:, None] <= y1[None, lo:hi]))
        s, r = np.nonzero(m)
        si.append(s)
        ri.append(r + lo)
    return np.concatenate(si), np.concatenate(ri)


# ------------------------------------------------------------ docs_tiles


class DocsTiles:
    """flagship.docs_tile_pipeline over a staged TableCatalog table."""

    name = "docs_tiles"
    conf: dict = {}
    python_udfs = False
    salted = False
    res = 9
    zooms = (6, 9)
    ref_mod = 29

    def __init__(self, scale: float = 1.0):
        self.n_docs = max(200, int(10_000 * scale))

    def stage(self, spark, root, seed):
        from ndjson_spatial_spark.sources.documents import synth_documents
        from ndjson_spatial_spark.sources.table import TableCatalog

        t0 = time.perf_counter()
        docs = synth_documents(spark, n_docs=self.n_docs, seed=seed,
                               partitions=N_FILES).persist()
        docs.count()
        t1 = time.perf_counter()
        cat = TableCatalog(spark, os.path.join(root, "warehouse"))
        cat.write("bench.documents", docs)
        t2 = time.perf_counter()
        docs.unpersist(blocking=True)
        data_dir = cat.snapshots("bench.documents")[-1]["data_dirs"][-1]
        return dict(catalog=cat, data_dir=data_dir, rows=self.n_docs,
                    generate_s=t1 - t0, write_s=t2 - t1,
                    written_bytes=_dir_bytes(data_dir))

    def query(self, spark, inputs):
        from ndjson_spatial_spark.flagship import docs_tile_pipeline

        docs = inputs["catalog"].read("bench.documents")
        return docs_tile_pipeline(docs, res=self.res, zooms=self.zooms,
                                  ref_mod=self.ref_mod)

    def key(self):
        from pyspark.sql import functions as F

        return F.pmod(F.crc32(F.col("doc_id").cast("binary")) * 31
                      + F.col("zoom") * 1_000_003 + F.col("tile_x") * 8191
                      + F.col("tile_y") + F.pmod("tile_id", F.lit(P)), F.lit(P))

    def value(self):
        return None

    def check(self, facts):
        if facts["plan.python_nodes"] != 0:
            return "the executed plan has Python nodes"
        return None

    def expected(self, inputs):
        tbl = pq.read_table(inputs["data_dir"], columns=["doc_id", "spans"])
        ids, kind, bb = [], [], []
        for doc_id, spans in zip(tbl.column("doc_id").to_pylist(),
                                 tbl.column("spans").to_pylist()):
            for sp in spans:
                if sp["kind"] != "geometry":
                    continue
                g = json.loads(sp["text"])
                if g["type"] == "Point":
                    x, y = g["coordinates"]
                    ids.append(doc_id); kind.append(0); bb.append((x, y, x, y))
                else:
                    ring = np.asarray(g["coordinates"][0], float)
                    ids.append(doc_id); kind.append(1)
                    bb.append((ring[:, 0].min(), ring[:, 1].min(),
                               ring[:, 0].max(), ring[:, 1].max()))
        kind = np.asarray(kind)
        bb = np.asarray(bb, float).reshape(-1, 4)
        is_ref = np.array([k == 1 and zlib.crc32(d.encode()) % self.ref_mod == 0
                           for d, k in zip(ids, kind)], bool)
        rb = bb[is_ref]
        n = key = 0
        for i in range(len(ids)):
            x0, y0, x1, y1 = bb[i]
            if kind[i] == 0:
                hit = ((x0 >= rb[:, 0]) & (x0 <= rb[:, 2])
                       & (y0 >= rb[:, 1]) & (y0 <= rb[:, 3]))
            else:
                hit = ((np.minimum(x1, rb[:, 2]) > np.maximum(x0, rb[:, 0]))
                       & (np.minimum(y1, rb[:, 3]) > np.maximum(y0, rb[:, 1])))
            for r in np.nonzero(hit)[0]:
                ib = (max(x0, rb[r, 0]), max(y0, rb[r, 1]),
                      min(x1, rb[r, 2]), min(y1, rb[r, 3]))
                crc = zlib.crc32(ids[i].encode())
                for z in self.zooms:
                    for tx, ty in _tiles(ib, kind[i] == 0, z):
                        n += 1
                        key += (crc * 31 + z * 1_000_003 + tx * 8191 + ty
                                + _tile_id(tx, ty, z) % P) % P
        return n, key, None


def _tiles(b, is_point, z):
    """Tiles of zoom z a bbox touches: a point belongs to the tile with
    tminx <= x < tmaxx and tminy < y <= tmaxy, a rect to every tile it
    overlaps with positive area (the tile grid spec)."""
    n = 2.0 ** z
    size = 2.0 * MERC_MAX / n
    x0, y0, x1, y1 = b
    cx0 = int(np.floor((x0 + MERC_MAX) / size)) - 1
    cx1 = int(np.floor((x1 + MERC_MAX) / size)) + 1
    cy0 = int(np.floor((MERC_MAX - y1) / size)) - 1
    cy1 = int(np.floor((MERC_MAX - y0) / size)) + 1
    out = []
    for tx in range(max(0, cx0), min(int(n) - 1, cx1) + 1):
        tminx = -MERC_MAX + tx * size
        tmaxx = tminx + size
        for ty in range(max(0, cy0), min(int(n) - 1, cy1) + 1):
            tmaxy = MERC_MAX - ty * size
            tminy = tmaxy - size
            if is_point:
                keep = tminx <= x0 < tmaxx and tminy < y0 <= tmaxy
            else:
                keep = x0 < tmaxx and x1 > tminx and y0 < tmaxy and y1 > tminy
            if keep:
                out.append((tx, ty))
    return out


def _tile_id(tx, ty, z):
    """(z << 58) | Morton(tx, ty) with x on the even bits."""
    m = 0
    for b in range(29):
        m |= ((tx >> b) & 1) << (2 * b)
        m |= ((ty >> b) & 1) << (2 * b + 1)
    return (z << 58) | m


# ---------------------------------------------------------- shuffle_join


class ShuffleJoin:
    """spatial_intersection_join(broadcast_ref=False, salt_hot_cells=True)
    of clustered points against rects."""

    name = "shuffle_join"
    # the plan holds Arrow UDF nodes, but on these point x rect inputs
    # they run on no rows (their SQL metrics are never updated)
    python_udfs = False
    salted = True
    res = 14
    region = 100_000.0

    def __init__(self, scale: float = 1.0):
        self.n_points = max(400, int(20_000 * scale))
        self.n_rects = max(40, int(1_500 * scale))
        # the inputs are ~1/64 of the package's bench scale, and so are the
        # broadcast threshold and the hot-cell threshold: the ref terms
        # stay above the threshold and the clustered cells stay hot
        kb = max(16, int(1024 * scale))
        self.conf = {"spark.sql.autoBroadcastJoinThreshold": f"{kb}k"}
        self.hot_threshold = max(10, int(400 * scale))
        self.target_per_salt = max(3, int(100 * scale))

    def stage(self, spark, root, seed):
        t0 = time.perf_counter()
        rng = np.random.Generator(np.random.PCG64(seed))
        n, m = self.n_points, self.n_rects
        ox, oy = rng.uniform(-0.5, 0.5, 2) * MERC_MAX
        px = ox + rng.uniform(0, self.region, n)
        py = oy + rng.uniform(0, self.region, n)
        # four dense clusters, each a 500 m box centred in one level-`res`
        # cell (2.4 km), so every seed has four hot cells of ~1000 points;
        # two rects cover each cluster, so every seed joins them
        hot = rng.random(n) < 0.2
        k = rng.integers(0, 4, n)
        size = 2.0 * MERC_MAX / (1 << self.res)
        cx = ox + rng.uniform(0.2, 0.8, 4) * self.region
        cy = oy + rng.uniform(0.2, 0.8, 4) * self.region
        cx = -MERC_MAX + (np.floor((cx + MERC_MAX) / size) + 0.5) * size
        cy = MERC_MAX - (np.floor((MERC_MAX - cy) / size) + 0.5) * size
        px[hot] = cx[k[hot]] + rng.uniform(-250, 250, hot.sum())
        py[hot] = cy[k[hot]] + rng.uniform(-250, 250, hot.sum())
        w = rng.uniform(500, 3_000, m)
        h = rng.uniform(500, 3_000, m)
        rx0 = ox + rng.uniform(0, self.region, m)
        ry0 = oy + rng.uniform(0, self.region, m)
        cover = rng.uniform(-1_000, -300, (2, 8))
        rx0[:8] = np.tile(cx, 2) + cover[0]
        ry0[:8] = np.tile(cy, 2) + cover[1]
        w[:8] = h[:8] = 1_500.0
        stream = pa.table({"sid": pa.array(np.arange(n), pa.int64()),
                           "geom": _points(px, py)})
        ref = pa.table({"rid": pa.array(np.arange(m), pa.int64()),
                        "geom": _rects(rx0, ry0, rx0 + w, ry0 + h)})
        t1 = time.perf_counter()
        b = _write_parquet(os.path.join(root, "stream"), stream)
        b += _write_parquet(os.path.join(root, "ref"), ref)
        t2 = time.perf_counter()
        return dict(root=root, rows=n + m, px=px, py=py,
                    rect=(rx0, ry0, rx0 + w, ry0 + h),
                    generate_s=t1 - t0, write_s=t2 - t1, written_bytes=b)

    def query(self, spark, inputs):
        from ndjson_spatial_spark.operators.spatial import (
            spatial_intersection_join,
        )

        stream = spark.read.parquet(os.path.join(inputs["root"], "stream"))
        ref = spark.read.parquet(os.path.join(inputs["root"], "ref"))
        return spatial_intersection_join(
            stream, ref, res=self.res, broadcast_ref=False,
            salt_hot_cells=True, hot_threshold=self.hot_threshold,
            target_per_salt=self.target_per_salt, keep_ref_cols=("rid",),
        ).select("sid", "rid", "geom")

    def key(self):
        return _pair_key("sid", "rid")

    def value(self):
        # the point each pair carries through the join
        from pyspark.sql import functions as F

        return F.element_at("geom.x", 1) + F.element_at("geom.y", 1)

    def expected(self, inputs):
        px, py = inputs["px"], inputs["py"]
        s, r = _contains_closed(px, py, *inputs["rect"])
        return len(s), _pair_keys(s, r), float((px[s] + py[s]).sum())

    def check(self, facts):
        if facts["plan.shuffle_joins"] < 1:
            return "the candidate join was not a shuffle join"
        if facts["salting.hot_cells"] < 1:
            return "no hot cell was salted"
        return None


# ------------------------------------------------------- concave_overlay


def _l_geojson(x0, y0, w, h):
    """An L: the w x h box minus its top-right quadrant."""
    pts = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h / 2),
           (x0 + w / 2, y0 + h / 2), (x0 + w / 2, y0 + h), (x0, y0 + h),
           (x0, y0)]
    return json.dumps({"type": "Polygon",
                       "coordinates": [[[float(a), float(b)] for a, b in pts]]})


def _l_parts(x0, y0, w, h):
    """The L as two disjoint boxes (minx, miny, maxx, maxy), arrays (n, 4)."""
    lower = np.stack([x0, y0, x0 + w, y0 + h / 2], 1)
    upper = np.stack([x0, y0 + h / 2, x0 + w / 2, y0 + h], 1)
    return lower, upper


class ConcaveOverlay:
    """Concave subjects x concave refs through the general refinement path,
    then st_area."""

    name = "concave_overlay"
    conf: dict = {}
    python_udfs = True
    salted = False
    region = 400_000.0

    def __init__(self, scale: float = 1.0):
        self.n_subjects = max(100, int(1_500 * scale))
        self.n_refs = max(20, int(150 * scale))

    def _ls(self, rng, n, ox, oy, lo, hi):
        x0 = ox + rng.uniform(0, self.region, n)
        y0 = oy + rng.uniform(0, self.region, n)
        return x0, y0, rng.uniform(lo, hi, n), rng.uniform(lo, hi, n)

    def stage(self, spark, root, seed):
        t0 = time.perf_counter()
        rng = np.random.Generator(np.random.PCG64(seed))
        ox, oy = rng.uniform(-0.5, 0.5, 2) * MERC_MAX
        subj = self._ls(rng, self.n_subjects, ox, oy, 2_000, 12_000)
        refs = self._ls(rng, self.n_refs, ox, oy, 20_000, 60_000)
        st = pa.table({
            "sid": pa.array(np.arange(self.n_subjects), pa.int64()),
            "gj": [_l_geojson(*v) for v in zip(*subj)]})
        rt = pa.table({
            "rid": pa.array(np.arange(self.n_refs), pa.int64()),
            "gj": [_l_geojson(*v) for v in zip(*refs)]})
        t1 = time.perf_counter()
        b = _write_parquet(os.path.join(root, "subjects"), st)
        b += _write_parquet(os.path.join(root, "refs"), rt)
        t2 = time.perf_counter()
        return dict(root=root, rows=self.n_subjects + self.n_refs,
                    subj=subj, refs=refs,
                    generate_s=t1 - t0, write_s=t2 - t1, written_bytes=b)

    def query(self, spark, inputs):
        from pyspark.sql import functions as F

        from ndjson_spatial_spark.functions.geo import parse_geojson, st_area
        from ndjson_spatial_spark.operators.spatial import (
            spatial_intersection_join,
        )

        s = spark.read.parquet(os.path.join(inputs["root"], "subjects"))
        r = spark.read.parquet(os.path.join(inputs["root"], "refs"))
        s = s.select("sid", parse_geojson("gj").alias("geom"))
        r = r.select("rid", parse_geojson("gj").alias("geom"))
        out = spatial_intersection_join(s, r, res=None, keep_ref_cols=("rid",))
        return out.select("sid", "rid", st_area("geom").alias("area"))

    def key(self):
        return _pair_key("sid", "rid")

    def value(self):
        from pyspark.sql import functions as F

        return F.col("area")

    def expected(self, inputs):
        sl, su = _l_parts(*inputs["subj"])
        rl, ru = _l_parts(*inputs["refs"])
        area = np.zeros((len(sl), len(rl)))
        for a in (sl, su):
            for b in (rl, ru):
                dx = (np.minimum(a[:, None, 2], b[None, :, 2])
                      - np.maximum(a[:, None, 0], b[None, :, 0]))
                dy = (np.minimum(a[:, None, 3], b[None, :, 3])
                      - np.maximum(a[:, None, 1], b[None, :, 1]))
                area += np.clip(dx, 0, None) * np.clip(dy, 0, None)
        s, r = np.nonzero(area > 0)
        return len(s), _pair_keys(s, r), float(area[s, r].sum())

    def check(self, facts):
        if facts["plan.python_nodes"] < 1:
            return "the refinement ran no Python UDF"
        return None


# --------------------------------------------------------------- nearest


class Nearest:
    """operators/knn.nearest_distance of points against points, with
    isolated stream points that only the brute-force phase resolves."""

    name = "nearest"
    conf: dict = {}
    python_udfs = True
    salted = False
    res = 12
    max_rings = 2
    region = 400_000.0

    def __init__(self, scale: float = 1.0):
        self.n_stream = max(400, int(20_000 * scale))
        self.n_ref = max(100, int(4_000 * scale))

    def stage(self, spark, root, seed):
        t0 = time.perf_counter()
        rng = np.random.Generator(np.random.PCG64(seed))
        ox, oy = rng.uniform(-0.5, 0.5, 2) * MERC_MAX
        # refs fill the left 60% of the region; 2% of the stream sits far to
        # the right, where no ref lies within the ring-search radius
        rx = ox + rng.uniform(0, 0.6 * self.region, self.n_ref)
        ry = oy + rng.uniform(0, self.region, self.n_ref)
        sx = ox + rng.uniform(0, 0.6 * self.region, self.n_stream)
        sy = oy + rng.uniform(0, self.region, self.n_stream)
        far = rng.random(self.n_stream) < 0.02
        sx[far] = ox + rng.uniform(0.8 * self.region, self.region, far.sum())
        stream = pa.table({"sid": pa.array(np.arange(self.n_stream), pa.int64()),
                           "geom": _points(sx, sy)})
        ref = pa.table({"geom": _points(rx, ry)})
        t1 = time.perf_counter()
        b = _write_parquet(os.path.join(root, "stream"), stream)
        b += _write_parquet(os.path.join(root, "ref"), ref)
        t2 = time.perf_counter()
        return dict(root=root, rows=self.n_stream + self.n_ref,
                    s=(sx, sy), r=(rx, ry),
                    generate_s=t1 - t0, write_s=t2 - t1, written_bytes=b)

    def query(self, spark, inputs):
        from ndjson_spatial_spark.operators.knn import nearest_distance

        s = spark.read.parquet(os.path.join(inputs["root"], "stream"))
        r = spark.read.parquet(os.path.join(inputs["root"], "ref"))
        return nearest_distance(s, r, res=self.res, max_rings=self.max_rings) \
            .select("sid", "distance")

    def key(self):
        from pyspark.sql import functions as F

        return F.pmod(F.col("sid"), F.lit(P))

    def value(self):
        from pyspark.sql import functions as F

        return F.col("distance")

    def expected(self, inputs):
        sx, sy = inputs["s"]
        rx, ry = inputs["r"]
        best = np.full(len(sx), np.inf)
        for lo in range(0, len(rx), 512):
            dx = sx[:, None] - rx[None, lo:lo + 512]
            dy = sy[:, None] - ry[None, lo:lo + 512]
            best = np.minimum(best, (dx * dx + dy * dy).min(1))
        ids = np.arange(len(sx))
        # the operator reports the squared distance
        return len(ids), int((ids % P).sum()), float(best.sum())

    def check(self, facts):
        if facts["plan.nested_loop_rows"] < 1:
            return "the brute-force phase got no rows"
        return None


WORKLOADS = {w.name: w for w in (DocsTiles, ShuffleJoin, ConcaveOverlay,
                                 Nearest)}
