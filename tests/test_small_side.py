"""The bounded driver-side small side (operators/_small.py): every operator
that collects or builds a small side on the driver fails with a clean
ValueError above MAX_ROWS, naming what to do instead."""

import pytest

from geoproc_spark import synth
from geoproc_spark.image import Image
from geoproc_spark.operators import _small
from geoproc_spark.operators import knn as knn_op
from geoproc_spark.operators import similarity as sim
from geoproc_spark.operators import spatial_join as sj
from tests.conftest import SF_DIR


def test_knn_oversized_query_table_fails_cleanly(spark, monkeypatch):
    pages = spark.createDataFrame(
        [(1, 0, 0), (2, 10, 10)], "page_id long, lat_s long, lon_s long"
    )
    queries = spark.createDataFrame(
        [(0, 0, 0, 1), (1, 5, 5, 1), (2, 9, 9, 1)],
        "qid long, qlat_s long, qlon_s long, k int",
    )
    monkeypatch.setattr(_small, "MAX_ROWS", 2)
    with pytest.raises(ValueError, match=r"knn_join query table: 3 rows .* bound of 2 rows"):
        knn_op.knn_join(queries, pages, n_pages=2)


def test_pair_budget_splits_blocks_without_changing_results(spark, monkeypatch):
    """kNN, exact cosine and bucketed ANN return the same ranks when every
    scorer block is cut down to a few (row, query) pairs."""
    synth.load_tables(spark, SF_DIR, ["embeddings"])
    emb = spark.table("embeddings")
    queries = emb.filter("vec_id < 6").selectExpr("vec_id AS qid", "embedding")
    cents = sim.ivf_centroids(emb, n_lists=4)
    pages = synth.pages_df(spark, SF_DIR).select("page_id", "lat_s", "lon_s")
    knnq = _small.frame(
        spark, synth.knn_query_points(), "qid long, qlat_s long, qlon_s long, k int", "q", ""
    )
    paths = {
        "knn_join": lambda: knn_op.knn_join(knnq, pages),
        "cosine_topk": lambda: sim.cosine_topk(queries, emb, k=3),
        "ann_topk_lsh": lambda: sim.ann_topk_lsh(
            queries, emb, sim.hyperplanes(dim=64, n_planes=4), k=3, multi_probe=True
        ),
        "ivf_topk": lambda: sim.ivf_topk(queries, emb, cents, k=3, nprobe=2),
    }
    want = {name: sorted(map(tuple, run().collect())) for name, run in paths.items()}
    monkeypatch.setattr(_small, "PAIR_BUDGET", 50)
    for name, run in paths.items():
        assert want[name], name
        assert sorted(map(tuple, run().collect())) == want[name], name


def test_spatial_join_oversized_polygon_layer_fails_cleanly(spark, monkeypatch):
    pts = spark.createDataFrame(
        [(1, 48.8566, 2.3522), (2, -33.8688, 151.2093)],
        "page_id long, lat double, lon double",
    )
    poly = sj.polygons_df(spark)
    want = sorted(
        map(tuple, sj.spatial_join(pts, poly).select("page_id", "feature_id").collect())
    )
    monkeypatch.setattr(_small, "MAX_ROWS", 2)
    with pytest.raises(ValueError, match=r"polygon layer: .*broadcast_poly=False"):
        sj.spatial_join(pts, poly)
    # the advertised way out holds nothing on the driver
    got = sorted(
        map(
            tuple,
            sj.spatial_join(pts, poly, broadcast_poly=False)
            .select("page_id", "feature_id")
            .collect(),
        )
    )
    assert got == want


@pytest.mark.parametrize("n_queries", [3, 0], ids=["oversized", "empty"])
def test_ann_query_table_guarded(spark, monkeypatch, tmp_path, n_queries):
    """Every top-k similarity path collects its query table through
    _small.collect: above MAX_ROWS it raises naming the bound, and an empty
    query table gives an empty result."""
    synth.load_tables(spark, SF_DIR, ["embeddings"])
    emb = spark.table("embeddings")
    cents = sim.ivf_centroids(emb, n_lists=4)
    index = str(tmp_path / "ivf_index")
    sim.write_ivf_index(emb, cents, index)
    planes = sim.hyperplanes(dim=64, n_planes=4)
    queries = emb.filter(f"vec_id < {n_queries}").selectExpr("vec_id AS qid", "embedding")
    paths = {
        "cosine_topk": lambda: sim.cosine_topk(queries, emb, k=3),
        "ann_topk_lsh": lambda: sim.ann_topk_lsh(queries, emb, planes, k=3, multi_probe=True),
        "ivf_topk": lambda: sim.ivf_topk(queries, emb, cents, k=3, nprobe=2),
        "probe_ivf_index": lambda: sim.probe_ivf_index(
            spark, index, queries, cents, k=3, nprobe=2
        ),
    }
    monkeypatch.setattr(_small, "MAX_ROWS", 2)
    for name, run in paths.items():
        if n_queries > _small.MAX_ROWS:
            with pytest.raises(ValueError, match=rf"{name} query table: .*_small\.MAX_ROWS"):
                run()
        else:
            assert run().collect() == [], name


def test_projected_windows_oversized_grid_fails_before_any_job(spark, monkeypatch):
    from geoproc_spark.functions import grid as G

    img = Image.from_df(
        synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX,
        max_zoom=synth.TILE_Z,
    )
    bounds = (-6.0, 40.0, -0.5, 50.0)
    spec = G.export_grid_spec(bounds, 10000.0, crs="epsg:32630")
    wcols, wrows = G.n_windows(spec["width"], spec["height"], 32)
    assert wcols * wrows > 2
    monkeypatch.setattr(_small, "MAX_ROWS", 2)

    def no_numpy_work(*_a, **_k):
        raise AssertionError("window->tile prep ran before the bound check")

    monkeypatch.setattr(G, "sample_native_pixels", no_numpy_work)
    sc = spark.sparkContext
    sc.setJobGroup("small_side_guard", "projected_windows guard")
    try:
        with pytest.raises(
            ValueError, match=rf"window grid: {wcols * wrows} rows .*window_size"
        ):
            img.projected_windows(
                scale=10000.0, crs="epsg:32630", bounds=bounds, window_size=32
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("small_side_guard")) == []


def test_connected_components_oversized_pair_set_fails_cleanly(spark, monkeypatch):
    """The bound holds over the pair frames together: two frames of 2 and
    1 pairs pass one by one under MAX_ROWS = 2 but fail as a set."""
    from geoproc_spark.operators import dedup as dd

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    near = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    exact = spark.createDataFrame([(4, 5)], "doc_a long, doc_b long")
    monkeypatch.setattr(_small, "MAX_ROWS", 2)
    assert dd.connected_components(ids, near).count() == 6
    with pytest.raises(
        ValueError,
        match=r"connected_components pairs: 3 rows .*dedup exact duplicates upstream, "
        r"or cap max_bucket_size",
    ):
        dd.connected_components(ids, near, exact)


def test_frame_is_a_local_relation_with_create_dataframe_rows(spark):
    """_small.frame plans a JVM LocalRelation (no Python RDD behind it) and
    holds exactly the rows createDataFrame(rows, ddl) holds, for every
    column type the driver-built tables use, nulls, dict rows and no rows."""
    ddl = (
        "a long, b int, c double, d string, e binary, "
        "f array<double>, g array<array<double>>"
    )
    rows = [
        (1, 2, 0.5, "x", b"\x00\xff", [1.0, 2.5], [[1.0], [2.0, 3.0]]),
        (None, None, None, None, None, None, None),
        (-(2**62), -7, -1e300, "", b"", [], [[]]),
        (3, 4, 1.25, "é", b"ab", [None, 1.0], [None, [None]]),
    ]
    names = [f.split()[0] for f in ddl.split(", ")]
    for data in (rows, [dict(zip(names, r)) for r in rows], []):
        df = _small.frame(spark, data, ddl, "t", "n/a")
        assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
        want = spark.createDataFrame(rows if data else [], ddl)
        assert df.schema == want.schema
        assert df.collect() == want.collect()


def test_frame_keeps_timestamps_in_a_non_utc_driver_zone(spark, monkeypatch):
    """collect() hands TIMESTAMP values back as naive local datetimes of
    the driver process; _small.frame of those rows holds the same instants
    (and TIMESTAMP_NTZ the same wall clock) whatever the process's zone."""
    import time

    src = spark.sql(
        "SELECT TIMESTAMP'2020-01-01 10:00:00' AS ts, "
        "TIMESTAMP_NTZ'2020-01-01 10:00:00' AS ntz, CAST(NULL AS TIMESTAMP) AS tnull"
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = src.collect()
        back = _small.frame(spark, rows, src.schema, "t", "n/a")
        got = back.selectExpr(*(f"CAST({c} AS STRING)" for c in back.columns)).first()
        assert back.collect() == rows
    finally:
        monkeypatch.undo()
        time.tzset()
    assert tuple(got) == ("2020-01-01 10:00:00", "2020-01-01 10:00:00", None)


def test_no_python_rdd_local_tables_outside_small():
    """Tooling guard: the operator and plan layers, the Image API and the
    driver-query layer (queries.py, synth.py) build driver-side tables only
    through _small.frame, so a createDataFrame over a Python list (a
    Python-RDD scan on every read) cannot creep back in."""
    import ast
    import pathlib

    import geoproc_spark

    root = pathlib.Path(geoproc_spark.__file__).parent
    paths = [
        *(root / "operators").glob("*.py"),
        *(root / "plans").glob("*.py"),
        *(root / name for name in ("image.py", "queries.py", "synth.py")),
    ]
    offenders = []
    for path in sorted(paths):
        if path.name == "_small.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []
