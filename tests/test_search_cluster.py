"""BM25 search, duplicate-span detection, DBSCAN — round-5 operators."""

import math

import pytest

from ndjson_spatial_spark.operators.cluster import NOISE, dbscan
from ndjson_spatial_spark.operators.dedup import duplicate_spans
from ndjson_spatial_spark.operators.search import bm25_score_topk


# ---------------------------------------------------------------- bm25 --
def _bm25_ref(docs, terms, k1=1.2, b=0.75):
    """Plain-python BM25 over {id: text} — independent reference."""
    toks = {i: t.lower().split() for i, t in docs.items()}
    N = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / N
    df = {w: sum(1 for v in toks.values() if w in v) for w in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        for w in terms:
            tf = v.count(w)
            idf = math.log(1 + (N - df[w] + 0.5) / (df[w] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if any(w in v for w in terms):
            out[i] = s
    return out


def test_bm25_matches_reference(spark):
    docs = {
        1: "spark shuffle join broadcast join",
        2: "spark spark spark filter",
        3: "window agg sort",
        4: "join join join join shuffle",
        5: "broadcast spark",
        6: "totally unrelated words here",
    }
    sdf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id int, text string")
    got = {
        r.doc_id: (r.rank, r.score, r.n_matched, r.total_tf, r.dl)
        for r in bm25_score_topk(sdf, ["spark", "join"], k=10).collect()
    }
    ref = _bm25_ref(docs, ["spark", "join"])
    assert set(got) == set(ref)  # doc 3 / 6 excluded (no match)
    order = sorted(ref, key=lambda i: (-ref[i], i))
    for rank, i in enumerate(order, 1):
        assert got[i][0] == rank
        assert got[i][1] == pytest.approx(ref[i], rel=1e-12)
    # integer columns exact
    assert got[2][2:] == (1, 3, 4)   # matched only 'spark', tf 3, dl 4
    assert got[4][2:] == (1, 4, 5)   # matched only 'join', tf 4, dl 5


def test_bm25_k_limits_and_ties(spark):
    rows = [(i, "alpha beta") for i in range(20)]  # identical docs -> ties
    sdf = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_score_topk(sdf, ["alpha"], k=5).collect()
    assert [r.doc_id for r in out] == [0, 1, 2, 3, 4]  # tie-break by id
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]


# ------------------------------------------------------ duplicate_spans --
def test_duplicate_spans_basic(spark):
    # shared 6-token run between docs 1 and 2; doc 3 clean
    shared = "a b c d e f"
    rows = [
        (1, f"x1 y1 {shared} z1"),
        (2, f"{shared} q2 r2 s2"),
        (3, "totally different tokens entirely here now"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        (r.doc_id): (r.span_start, r.span_end, r.n_windows)
        for r in duplicate_spans(sdf, min_tokens=4).collect()
    }
    # doc 1: tokens x1 y1 a b c d e f z1 -> dup windows are exactly the
    # 4-grams lying inside [2, 8): starts 2,3,4 -> span [2, 8)
    assert out[1] == (2, 8, 3)
    # doc 2: starts 0,1,2 -> span [0, 6)
    assert out[2] == (0, 6, 3)
    assert 3 not in out


def test_duplicate_spans_within_doc_and_merge(spark):
    # repetition INSIDE one document (count_within_doc=True default)
    rows = [(1, "p q r s t u p q r s t u tail1 tail2")]
    sdf = spark.createDataFrame(rows, "doc_id int, text string")
    out = duplicate_spans(sdf, min_tokens=6).collect()
    # "p q r s t u" occurs at 0 and 6 -> both windows dup -> merged [0, 12)
    assert len(out) == 1
    r = out[0]
    assert (r.span_start, r.span_end, r.n_windows) == (0, 12, 2)
    # cross-doc-only mode sees no duplicate
    assert duplicate_spans(
        sdf, min_tokens=6, count_within_doc=False).count() == 0


def test_duplicate_spans_distinct_islands(spark):
    shared_a, shared_b = "m n o p", "w x y z"
    rows = [
        (1, f"{shared_a} gap1 gap2 gap3 gap4 gap5 {shared_b}"),
        (2, f"{shared_a} other tokens {shared_b}"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id int, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(sdf, min_tokens=4).collect()
    )
    assert got == [(1, 0, 4), (1, 9, 13), (2, 0, 4), (2, 6, 10)]


# ---------------------------------------------------------------- dbscan --
def _dbscan_ref(pts, eps, min_pts):
    """Brute-force deterministic DBSCAN (min-label variant)."""
    ids = sorted(pts)
    nb = {
        i: [j for j in ids
            if (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
            <= eps * eps]
        for i in ids
    }
    core = {i for i in ids if len(nb[i]) >= min_pts}
    # union-find over core-core edges
    parent = {i: i for i in core}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in core:
        for j in nb[i]:
            if j in core:
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    label = {}
    for i in core:
        label[i] = min(j for j in core if find(j) == find(i))
    for i in ids:
        if i in core:
            continue
        cn = [label[j] for j in nb[i] if j in core]
        label[i] = min(cn) if cn else NOISE
    return core, label

def test_dbscan_matches_bruteforce(spark):
    # two dense blobs + a bridge-border point + isolated noise
    pts = {
        1: (0, 0), 2: (1, 0), 3: (0, 1), 4: (1, 1),
        10: (10, 10), 11: (11, 10), 12: (10, 11), 13: (11, 11),
        20: (3, 0),          # border: within eps=2 of blob 1's edge
        30: (50, 50),        # noise
    }
    eps, min_pts = 2.0, 4
    sdf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in pts.items()],
        "id int, x double, y double")
    got = {r.id: (r.is_core, r.cluster)
           for r in dbscan(sdf, eps, min_pts).collect()}
    core, label = _dbscan_ref(pts, eps, min_pts)
    for i in pts:
        assert got[i] == (int(i in core), label[i]), f"point {i}"


def test_dbscan_grid_boundary_pairs(spark):
    # points straddling a grid-cell boundary must still pair up
    rows = [(1, 0.9, 0.0), (2, 1.1, 0.0), (3, 0.5, 0.1),
            (4, 1.5, 0.1), (5, 9.0, 9.0)]
    sdf = spark.createDataFrame(rows, "id int, x double, y double")
    got = {r.id: (r.is_core, r.cluster)
           for r in dbscan(sdf, 1.0, 3, id_col="id").collect()}
    core, label = _dbscan_ref({i: (x, y) for i, x, y in rows}, 1.0, 3)
    for i in (1, 2, 3, 4, 5):
        assert got[i] == (int(i in core), label[i]), f"point {i}"


def test_dbscan_negative_coords(spark):
    rows = [(1, -0.5, -0.5), (2, -1.2, -0.5), (3, -0.5, -1.2),
            (4, 5.0, 5.0)]
    sdf = spark.createDataFrame(rows, "id int, x double, y double")
    got = {r.id: (r.is_core, r.cluster)
           for r in dbscan(sdf, 1.0, 3).collect()}
    core, label = _dbscan_ref({i: (x, y) for i, x, y in rows}, 1.0, 3)
    for i, _, _ in rows:
        assert got[i] == (int(i in core), label[i]), f"point {i}"


# ----------------------------------------------------- gate-level pins --
SF001 = "/root/testdata/sf0.01"


def test_bm25_gate_score_gaps_ulp_proof(spark):
    """The bm25 gate compares integer columns but relies on score ORDER;
    pin that adjacent scores in the top-60 differ by >= 1e-6 (11 orders
    above ulp) or are EXACTLY equal (structural ties resolve by doc_id
    identically in both engines)."""
    import __spark_entry__ as E
    from ndjson_spatial_spark.operators.search import bm25_score_topk

    d = spark.read.parquet(f"{SF001}/documents.parquet")
    out = bm25_score_topk(
        d, E._BM25_TERMS, k=60, k1=E._BM25_K1, b=E._BM25_B).collect()
    scores = [r.score for r in out]
    for a, b in zip(scores, scores[1:]):
        assert a == b or a - b >= 1e-6, (a, b)


def test_dbscan_gate_fixture_exercises_all_classes(spark):
    """The sf0.01 dbscan gate must produce cores, borders, AND noise."""
    import __spark_entry__ as E

    rows = E.q_dbscan(spark, SF001).collect()
    cores = [r for r in rows if r.is_core == 1]
    borders = [r for r in rows if r.is_core == 0 and r.cluster != -1]
    noise = [r for r in rows if r.cluster == -1]
    # 285 complete 5-point clumps x (3 cores + 2 borders); 14 singleton-
    # broken clumps (4 members, no cores) + 14 singletons + the short
    # tail clump are noise
    assert len(cores) == 855 and len(borders) == 570 and len(noise) == 75
    # border labels always point at a core's cluster
    core_clusters = {r.cluster for r in cores}
    assert all(r.cluster in core_clusters for r in borders)


class TestRRFFusion:
    def test_rrf_fuse_scores_and_missing_docs(self, spark):
        from ndjson_spatial_spark.operators.search import rrf_fuse

        a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
        b = spark.createDataFrame([(2, 1), (4, 2)], ["doc_id", "rank"])
        out = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60).collect()}
        # doc 2: both systems -> 1/62 + 1/61
        assert abs(out[2]["rrf_score"] - (1 / 62 + 1 / 61)) < 1e-15
        assert out[2]["n_systems"] == 2 and out[2]["best_rank"] == 1
        assert out[2]["rrf_rank"] == 1
        # doc 1 (rank 1 in a only) vs doc 4 (rank 2 in b only)
        assert out[1]["rrf_score"] == 1 / 61 and out[1]["n_systems"] == 1
        assert out[1]["rrf_rank"] == 2
        assert out[4]["rrf_rank"] == 3  # 1/62 > 1/63
        assert out[3]["rrf_rank"] == 4

    def test_rrf_fuse_tie_breaks_by_id_and_topk(self, spark):
        from ndjson_spatial_spark.operators.search import rrf_fuse

        a = spark.createDataFrame([(7, 1), (9, 2)], ["doc_id", "rank"])
        b = spark.createDataFrame([(8, 1), (5, 2)], ["doc_id", "rank"])
        rows = rrf_fuse([a, b], topk=3).collect()
        got = [(r["doc_id"], r["rrf_rank"]) for r in
               sorted(rows, key=lambda r: r["rrf_rank"])]
        # scores: 7 and 8 tie at 1/61 (id asc -> 7 first); 9 and 5 tie at
        # 1/62 (5 first) but topk=3 keeps only the first of them
        assert got == [(7, 1), (8, 2), (5, 3)]


class TestKMeansLloyd:
    def test_converges_to_planted_clusters(self, spark):
        from ndjson_spatial_spark.operators.cluster import kmeans_lloyd

        # two tight planted clusters, init off-center
        rows = [(i, [float(10 * (i % 2) + (i % 3)), 0.0]) for i in range(60)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out, C = kmeans_lloyd(df, dim=2, iters=3,
                              init_centroids=[[2.0, 0.0], [8.0, 0.0]])
        got = {r["vec_id"]: r["cluster"] for r in out.collect()}
        assert all(got[i] == i % 2 for i in range(60))
        # centroids land on the exact cluster means: values {0,1,2} -> 1,
        # values {10,11,12} -> 11
        assert C[0][0] == 1.0 and C[1][0] == 11.0

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        from ndjson_spatial_spark.operators.cluster import kmeans_lloyd

        df = spark.createDataFrame(
            [(i, [0.0, float(i % 2)]) for i in range(10)],
            ["vec_id", "embedding"])
        out, C = kmeans_lloyd(
            df, dim=2, iters=2,
            init_centroids=[[0.0, 0.5], [100.0, 100.0]])
        assert C[1] == [100.0, 100.0]       # never assigned, unchanged
        assert out.where("cluster = 1").count() == 0

    def test_no_python_in_assignment_plan(self, spark):
        from ndjson_spatial_spark.operators.cluster import kmeans_lloyd

        df = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(8)],
            ["vec_id", "embedding"])
        out, _ = kmeans_lloyd(df, dim=2, iters=1,
                              init_centroids=[[0.0, 0.0], [7.0, 0.0]])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
