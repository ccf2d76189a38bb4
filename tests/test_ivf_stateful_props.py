"""IVF ANN recall, stateful-stream dedup, and hypothesis property tests."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geoproc_spark import synth
from geoproc_spark.functions import cells, s2
from geoproc_spark.operators import similarity as sim
from tests.conftest import SF_DIR


# ------------------------------------------------------------------ IVF ANN
def test_ivf_recall_vs_brute_force(spark):
    synth.load_tables(spark, SF_DIR, ["embeddings"])
    emb = spark.table("embeddings")
    queries = emb.filter("vec_id < 20").selectExpr("vec_id AS qid", "embedding")
    exact = {(r.qid, r.vec_id) for r in sim.cosine_topk(queries, emb, k=10).collect()}

    cents = sim.ivf_centroids(emb, n_lists=16)
    assert cents.shape == (16, 64)
    r4 = {
        (r.qid, r.vec_id)
        for r in sim.ivf_topk(queries, emb, cents, k=10, nprobe=4).collect()
    }
    r8 = {
        (r.qid, r.vec_id)
        for r in sim.ivf_topk(queries, emb, cents, k=10, nprobe=8).collect()
    }
    rec4 = len(exact & r4) / len(exact)
    rec8 = len(exact & r8) / len(exact)
    # probing 4/16 of space must beat the 25% list-share baseline; more
    # probes -> more recall (monotonicity is the IVF contract)
    assert rec4 > 0.3, f"nprobe=4 recall {rec4}"
    assert rec8 > rec4, f"recall not monotone: {rec4} -> {rec8}"
    assert rec8 > 0.55, f"nprobe=8 recall {rec8}"


def test_ivf_planted_duplicate_found(spark):
    corpus = synth.emb_dup_df(spark, SF_DIR)
    cents = sim.ivf_centroids(corpus, n_lists=16)
    queries = corpus.filter("vec_id >= 1000000").selectExpr("vec_id AS qid", "embedding")
    got = sim.ivf_topk(queries, corpus, cents, k=1, nprobe=1).collect()
    # scale-perturbed copy has identical direction -> identical list -> #1
    assert all(r.vec_id == r.qid - 1000000 for r in got)
    assert len(got) == queries.count()


# ------------------------------------------------------- stateful streaming
def test_stream_dedup_equals_batch(spark, tmp_path):
    import os
    import shutil

    from geoproc_spark.streaming import stateful

    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    # the same file twice = a fully duplicated stream across micro-batches
    shutil.copy(f"{SF_DIR}/events.parquet", f"{events_dir}/a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", f"{events_dir}/b.parquet")

    got = stateful.dedup_stream(spark, events_dir, str(tmp_path / "ckpt"))
    n_distinct = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_stream_dedup_rows_equal_batch_under_non_utc_tz(spark, tmp_path, monkeypatch):
    """Every column of dedup_stream's rows equals the batch dropDuplicates
    while the driver process runs in a non-UTC time zone: the result's
    tz-aware `ts` goes through the driver and must come back unshifted."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from geoproc_spark.streaming import stateful

    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    shutil.copy(f"{SF_DIR}/events.parquet", f"{events_dir}/a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", f"{events_dir}/b.parquet")
    batch = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .dropDuplicates(["event_id"])
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = stateful.dedup_stream(spark, events_dir, str(tmp_path / "ckpt"))
        assert got.schema.simpleString() == batch.schema.simpleString()
        key = lambda r: r["event_id"]  # noqa: E731
        g, w = sorted(got.collect(), key=key), sorted(batch.collect(), key=key)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert len(g) > 0 and g == w


# ------------------------------------------------------- property-based-lite
@settings(max_examples=200, deadline=None)
@given(
    lat=st.floats(min_value=-85.0, max_value=85.0, allow_nan=False),
    lon=st.floats(min_value=-179.999, max_value=179.999, allow_nan=False),
    zoom=st.integers(min_value=0, max_value=22),
)
def test_quadkey_cell_contains_point(lat, lon, zoom):
    xt, yt = cells.tile_xy_np(np.array([lat]), np.array([lon]), zoom)
    w, s_, e, n = cells.tile_bounds_np(np.array([zoom]), xt, yt)
    assert w[0] - 1e-9 <= lon <= e[0] + 1e-9
    assert s_[0] - 1e-6 <= lat <= n[0] + 1e-6


@settings(max_examples=200, deadline=None)
@given(
    lat=st.floats(min_value=-85.0, max_value=85.0, allow_nan=False),
    lon=st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    parent_zoom=st.integers(min_value=0, max_value=11),
)
def test_quadkey_parent_consistency(lat, lon, parent_zoom):
    child_zoom = parent_zoom + 7
    child = cells.cell_id_np(np.array([lat]), np.array([lon]), child_zoom)
    direct = cells.cell_id_np(np.array([lat]), np.array([lon]), parent_zoom)
    z, x, y = cells.cell_to_zxy_np(child)
    d = child_zoom - parent_zoom
    derived = (
        (np.int64(parent_zoom) << (2 * cells.Z_BITS)) | ((x >> d) << cells.Z_BITS) | (y >> d)
    )
    assert derived[0] == direct[0]


@settings(max_examples=150, deadline=None)
@given(
    lat=st.floats(min_value=-89.0, max_value=89.0, allow_nan=False),
    lon=st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    level=st.integers(min_value=1, max_value=29),
)
def test_s2_parent_always_contains_leaf(lat, lon, level):
    leaf = s2.cell_id(np.array([lat]), np.array([lon]))
    p = s2.parent(leaf, level)
    assert s2.contains(p, leaf).all()
    assert s2.cell_level(p)[0] == level

def test_ivf_index_table_partition_pruning(spark, tmp_path):
    """The IVF index as table layout: probing nprobe lists scans ONLY those
    list_id partitions (static PartitionFilters), and results equal the
    in-memory ivf_topk exactly."""
    from geoproc_spark import synth
    from tests.conftest import SF_DIR_MED

    synth.load_tables(spark, SF_DIR_MED, ["embeddings"])
    emb = spark.table("embeddings")
    cents = sim.ivf_centroids(emb, n_lists=16)
    path = str(tmp_path / "ivf_index")
    sim.write_ivf_index(emb, cents, path)

    queries = emb.filter("vec_id < 10").selectExpr("vec_id AS qid", "embedding")
    got = sim.probe_ivf_index(spark, path, queries, cents, k=5, nprobe=4)
    plan = got._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:200]
    want = sorted(map(tuple, sim.ivf_topk(queries, emb, cents, k=5, nprobe=4).collect()))
    assert sorted(map(tuple, got.collect())) == want


def test_probe_ivf_index_reads_without_inference_job(spark, tmp_path):
    """probe_ivf_index reads the index with its footer's schema plus the
    `list_id` partition column, the schema Spark infers: the call runs
    only the query-table collect, no schema-inference job."""
    from geoproc_spark.sources.tableformat import parquet_schema, read_back_schema

    synth.load_tables(spark, SF_DIR, ["embeddings"])
    emb = spark.table("embeddings")
    cents = sim.ivf_centroids(emb, n_lists=4)
    path = str(tmp_path / "ivf_index")
    sim.write_ivf_index(emb, cents, path)
    queries = emb.filter("vec_id < 5").selectExpr("vec_id AS qid", "embedding")

    sc = spark.sparkContext
    sc.setJobGroup("ivf_index_probe", "probe_ivf_index")
    try:
        got = sim.probe_ivf_index(spark, path, queries, cents, k=3, nprobe=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("ivf_index_probe")) == 1
    inferred = spark.read.parquet(path).schema
    assert read_back_schema(parquet_schema(path), ["list_id"]) == inferred
    assert got.count() == 5 * 3
