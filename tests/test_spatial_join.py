"""Spatial-join operator: PIP kernel vs shapely-free numpy oracle, path
equivalence (broadcast probe vs shuffle join vs salted), concave polygons."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoproc_spark import synth
from geoproc_spark.operators import spatial_join as sj
from tests.conftest import SF_DIR


def test_pip_kernel_concave():
    # L-shaped concave ring (CCW): unit L with the notch at top-right
    ring = np.array([0, 0, 2, 0, 2, 1, 1, 1, 1, 2, 0, 2, 0, 0], dtype=float)
    px = np.array([0.5, 1.5, 1.5, 0.5, 2.5, 1.0])
    py = np.array([0.5, 0.5, 1.5, 1.5, 0.5, 3.0])
    got = sj.points_in_ring_np(px, py, ring)
    assert got.tolist() == [True, True, False, True, False, False]


def test_pip_kernel_vs_matplotlib_free_oracle():
    """Random convex k-gons: inside iff all cross products have one sign."""
    rng = np.random.default_rng(7)
    for _ in range(20):
        k = rng.integers(5, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(0.5, 2.0)
        cx, cy = rng.uniform(-50, 50, 2)
        xs, ys = cx + r * np.cos(ang), cy + r * np.sin(ang)
        ring = np.empty(2 * (k + 1))
        ring[0:-2:2], ring[1:-2:2] = xs, ys
        ring[-2], ring[-1] = xs[0], ys[0]
        px = rng.uniform(cx - 3, cx + 3, 300)
        py = rng.uniform(cy - 3, cy + 3, 300)
        # convex oracle: strict same-side test for every edge
        inside = np.ones(300, dtype=bool)
        for i in range(k):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % k], ys[(i + 1) % k]
            inside &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) > 0
        got = sj.points_in_ring_np(px, py, ring)
        assert (got == inside).all()


def _points(spark):
    return (
        synth.pages_df(spark, SF_DIR)
        .filter("has_geo = 1")
        .select(
            "page_id",
            (F.col("lat_s") / 10000.0).alias("lat"),
            (F.col("lon_s") / 10000.0).alias("lon"),
        )
    )


def test_join_paths_equivalent(spark):
    pts = _points(spark)
    poly = sj.polygons_df(spark)

    probe = sj.spatial_join(pts, poly).select("page_id", "feature_id")
    shuffle = sj.spatial_join(pts, poly, broadcast_poly=False).select(
        "page_id", "feature_id"
    )
    salted = sj.spatial_join(pts, poly, salt_buckets=4, broadcast_poly=False).select(
        "page_id", "feature_id"
    )
    a = sorted(map(tuple, probe.collect()))
    b = sorted(map(tuple, shuffle.collect()))
    c = sorted(map(tuple, salted.collect()))
    assert a == b == c
    assert len(a) > 0
    # overlapping nested boxes: hot pages must match several features
    multi = probe.groupBy("page_id").count().filter("count > 1").count()
    assert multi > 0


def test_salting_requires_shuffle_join(spark):
    """Salting spreads the shuffle join's hot cells; the broadcast probe has
    no shuffle, so asking for both fails before any job runs."""
    pts = _points(spark)
    poly = sj.polygons_df(spark)
    with pytest.raises(ValueError, match="broadcast_poly=False"):
        sj.spatial_join(pts, poly, salt_buckets=4)


def test_join_partition_invariant(spark):
    pts = _points(spark)
    poly = sj.polygons_df(spark)
    one = sorted(
        map(tuple, sj.spatial_join(pts.repartition(1), poly).select("page_id", "feature_id").collect())
    )
    many = sorted(
        map(tuple, sj.spatial_join(pts.repartition(16, "page_id"), poly).select("page_id", "feature_id").collect())
    )
    assert one == many


def _random_boxes(n: int, seed: int = 11) -> list[dict]:
    """n small random boxes as closed rings (the 10k-polygon fixture)."""
    rng = np.random.default_rng(seed)
    clat = rng.uniform(-60, 60, n)
    clon = rng.uniform(-170, 170, n)
    half = rng.uniform(0.01, 0.2, n)
    out = []
    for i in range(n):
        minx, maxx = float(clon[i] - half[i]), float(clon[i] + half[i])
        miny, maxy = float(clat[i] - half[i]), float(clat[i] + half[i])
        out.append(
            {
                "layer_id": "rand",
                "feature_id": i,
                "ring": [minx, miny, maxx, miny, maxx, maxy, minx, maxy, minx, miny],
                "minx": minx,
                "miny": miny,
                "maxx": maxx,
                "maxy": maxy,
            }
        )
    return out


def test_cell_index_candidates_vs_dense_matrix():
    """The packed CellBboxIndex finds exactly the pairs the old dense
    (npoints x npolys) bbox matrix found — on 2k polys x 5k points."""
    polys = _random_boxes(2000)
    idx = sj.CellBboxIndex(polys, zoom=8)
    rng = np.random.default_rng(3)
    lat = rng.uniform(-61, 61, 5000)
    lon = rng.uniform(-171, 171, 5000)
    pi, fi = idx.candidates(lat, lon)
    got = set(zip(pi.tolist(), fi.tolist()))
    b = idx.boxes
    dense = (
        (lon[:, None] > b[None, :, 0])
        & (lon[:, None] < b[None, :, 2])
        & (lat[:, None] > b[None, :, 1])
        & (lat[:, None] < b[None, :, 3])
    )
    want = set(zip(*[a.tolist() for a in np.nonzero(dense)]))
    assert got == want and len(want) > 0


def test_probe_bounds_covering_cell_pairs(spark, monkeypatch):
    """The probe's second driver-side bound: a layer whose row count fits
    but whose (cell, polygon) pairs do not fails before any probe runs."""
    from geoproc_spark.operators import _small

    poly = sj.polygons_df(spark)
    n_poly = len(synth.polygon_rings())
    assert len(sj.CellBboxIndex(synth.polygon_rings()).flat_poly) > n_poly
    monkeypatch.setattr(_small, "MAX_ROWS", n_poly)
    with pytest.raises(ValueError, match=r"covering cells: .*broadcast_poly=False"):
        sj.spatial_join(_points(spark), poly)


def test_probe_empty_polygon_layer(spark):
    """An empty layer matches nothing (and keeps the output schema)."""
    poly = sj.polygons_df(spark).limit(0)
    out = sj.spatial_join(_points(spark), poly)
    assert out.columns == ["page_id", "lat", "lon", "feature_id"]
    assert out.count() == 0


def test_broadcast_join_10k_polygons(spark):
    """Scale fixture: 10k polygons through the broadcast cell-index probe,
    results equal the shuffle-based covering-cell join, within time budget
    (the old dense-matrix probe was O(n*m) per batch)."""
    import time

    from pyspark.sql import types as T

    polys = _random_boxes(10_000)
    schema = T.StructType(
        [
            T.StructField("layer_id", T.StringType()),
            T.StructField("feature_id", T.LongType()),
            T.StructField("ring", T.ArrayType(T.DoubleType())),
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
        ]
    )
    poly_df = spark.createDataFrame(polys, schema)
    rng = np.random.default_rng(5)
    n_pts = 50_000
    pts = spark.createDataFrame(
        [
            (int(i), float(la), float(lo))
            for i, (la, lo) in enumerate(
                zip(rng.uniform(-61, 61, n_pts), rng.uniform(-171, 171, n_pts))
            )
        ],
        "page_id long, lat double, lon double",
    ).repartition(8)

    t0 = time.time()
    bcast = sorted(
        map(
            tuple,
            sj.spatial_join(pts, poly_df)
            .select("page_id", "feature_id")
            .collect(),
        )
    )
    dt = time.time() - t0
    shuffle = sorted(
        map(
            tuple,
            sj.spatial_join(pts, poly_df, broadcast_poly=False)
            .select("page_id", "feature_id")
            .collect(),
        )
    )
    assert bcast == shuffle and len(bcast) > 0
    assert dt < 60, f"broadcast join took {dt:.1f}s on 10k polys x 50k points"


def test_broadcast_join_nan_coordinates_never_match(spark):
    """Non-null NaN coordinates pass isNotNull but must not match (and must
    not hit the float->int cell cast): guarded sentinel path."""
    pts = spark.createDataFrame(
        [(1, 48.8566, 2.3522), (2, float("nan"), 2.3522), (3, 48.8566, float("nan"))],
        "page_id long, lat double, lon double",
    )
    got = sj.spatial_join(pts, sj.polygons_df(spark)).select("page_id").collect()
    assert {r.page_id for r in got} == {1}


def test_knn_sparse_multi_round_flat_lineage(spark):
    """A sparse corpus (8 pages continents apart, so each query's k nearest
    lie far away): the one-pass probe's plan stays flat (bounded Exchange
    count) and the exact result matches numpy brute force."""
    from geoproc_spark.operators import knn as knn_op

    # 8 pages scattered ~continental distances apart, k=3
    pts = [(i, int((i * 37 % 140 - 70) * 1e4), int((i * 83 % 340 - 170) * 1e4)) for i in range(8)]
    pages = spark.createDataFrame(pts, "page_id long, lat_s long, lon_s long")
    queries = spark.createDataFrame(
        [(0, 0, 0, 3), (1, 500000, 900000, 3)], "qid long, qlat_s long, qlon_s long, k int"
    )
    out = knn_op.knn_join(queries, pages, n_pages=8, k_max=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 4, plan  # flat: no per-query subtrees

    got = {(r.qid, r.page_id, r.rank) for r in out.collect()}
    want = set()
    arr = np.array(pts, dtype=np.int64)
    for qid, qla, qlo, k in [(0, 0, 0, 3), (1, 500000, 900000, 3)]:
        d2 = (arr[:, 1] - qla) ** 2 + (arr[:, 2] - qlo) ** 2
        order = np.lexsort((arr[:, 0], d2))[:k]
        for rank, j in enumerate(order, start=1):
            want.add((qid, int(arr[j, 0]), rank))
    assert got == want


def test_knn_mixed_k_multi_round_matches_brute_force(spark):
    """Exact top-k with per-query k (k_max derived from the collected
    queries) over a sparse corpus, against the brute-force twin; the plan
    runs no Python UDF."""
    from geoproc_spark.operators import knn as knn_op

    pts = [
        (i, int((i * 37 % 140 - 70) * 1e4), int((i * 83 % 340 - 170) * 1e4))
        for i in range(8)
    ]
    pages = spark.createDataFrame(pts, "page_id long, lat_s long, lon_s long")
    queries = spark.createDataFrame(
        [(0, 0, 0, 3), (1, 500000, 900000, 2)],
        "qid long, qlat_s long, qlon_s long, k int",
    )
    out = knn_op.knn_join(queries, pages, n_pages=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    got = {(r.qid, r.page_id, r.rank) for r in out.collect()}
    want = set()
    arr = np.array(pts, dtype=np.int64)
    for qid, qla, qlo, k in [(0, 0, 0, 3), (1, 500000, 900000, 2)]:
        d2 = (arr[:, 1] - qla) ** 2 + (arr[:, 2] - qlo) ** 2
        order = np.lexsort((arr[:, 0], d2))[:k]
        for rank, j in enumerate(order, start=1):
            want.add((qid, int(arr[j, 0]), rank))
    assert got == want


def _knn_brute_force(pts, qs):
    """{(qid, page_id, rank)}: numpy lexsort over (d2, page_id) of the pages
    with a position."""
    arr = np.array([p for p in pts if p[1] is not None and p[2] is not None], dtype=np.int64)
    want = set()
    for qid, qla, qlo, k in qs:
        d2 = (arr[:, 1] - qla) ** 2 + (arr[:, 2] - qlo) ** 2
        for rank, j in enumerate(np.lexsort((arr[:, 0], d2))[:k], start=1):
            want.add((qid, int(arr[j, 0]), rank))
    return want


_PERM = np.random.default_rng(3).permutation(50).tolist()
_KNN_CASES = {
    # 50 co-located pages with shuffled ids plus 2 closer ones: the k=5
    # boundary cuts through the 50-way tie, which page_id must break
    "colocated_tie": (
        [(int(i) * 7 + 11, 120000, 80000) for i in _PERM]
        + [(5, 120000, 79991), (900, 120000, 79995)],
        [(0, 120000, 79990, 5), (1, 119000, 80000, 1)],
    ),
    "mixed_k": (
        [(i, (i * 7919) % 20000 - 10000, (i * 104729) % 20000 - 10000) for i in range(60)],
        [(0, 0, 0, 1), (1, 5000, -5000, 4), (2, -9000, 9000, 7), (3, 100, 100, 0)],
    ),
    "fewer_than_k": ([(3, 10, 10), (1, -10, 10), (2, 0, 0)], [(0, 0, 5, 5), (1, 50, 50, 2)]),
    "null_lat": (
        [(1, None, 5), (2, 5, None), (3, 40, 40), (4, None, None), (5, -40, -40), (6, 0, 1)],
        [(0, 0, 0, 2), (1, 0, 0, 6)],
    ),
    "no_queries": ([(1, 0, 0)], []),
}


@pytest.mark.parametrize("case", list(_KNN_CASES))
def test_knn_exact_against_lexsort_brute_force(spark, case):
    """Ties at the k boundary across partitions and batches, per-query k,
    a corpus smaller than k, pages without a position and an empty query
    table: exactly the numpy lexsort top-k."""
    from geoproc_spark.operators import knn as knn_op

    pts, qs = _KNN_CASES[case]
    pages = spark.createDataFrame(pts, "page_id long, lat_s long, lon_s long").repartition(5)
    queries = spark.createDataFrame(qs, "qid long, qlat_s long, qlon_s long, k int")
    out = knn_op.knn_join(queries, pages)
    assert out.columns == ["qid", "page_id", "rank"]
    got = [(r.qid, r.page_id, r.rank) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _knn_brute_force(pts, qs)


def test_knn_is_one_probe_and_at_most_three_jobs(spark):
    """One MapInPandas pass and one Exchange (the rank window), no Python
    UDF or nested-loop join; with a local query table a call runs at most
    three jobs: the query collect, the probe and the rank."""
    from geoproc_spark.operators import _small
    from geoproc_spark.operators import knn as knn_op

    pages = synth.pages_df(spark, SF_DIR).select("page_id", "lat_s", "lon_s")
    ddl = "qid long, qlat_s long, qlon_s long, k int"
    queries = _small.frame(spark, synth.knn_query_points(), ddl, "knn query points", "")
    sc = spark.sparkContext
    sc.setJobGroup("knn_one_probe", "knn_join")
    try:
        out = knn_op.knn_join(queries, pages)
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert len(rows) == sum(q[3] for q in synth.knn_query_points())
    assert len(sc.statusTracker().getJobIdsForGroup("knn_one_probe")) <= 3
