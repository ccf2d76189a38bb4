"""S2-style cell invariants (property tests) + batch/stream equality."""

import numpy as np

from geoproc_spark.functions import s2

RNG = np.random.default_rng(123)
N = 5000
LATS = RNG.uniform(-89.9, 89.9, N)
LNGS = RNG.uniform(-180.0, 180.0, N)


def test_hilbert_bijective():
    order = 12
    n = 1 << order
    i = RNG.integers(0, n, 20000)
    j = RNG.integers(0, n, 20000)
    d = s2.hilbert_pos(i, j, order)
    ii, jj = s2.hilbert_xy(d, order)
    assert (ii == i).all() and (jj == j).all()
    # full small-grid check: every position hit exactly once
    gi, gj = np.meshgrid(np.arange(16), np.arange(16))
    dd = s2.hilbert_pos(gi.ravel(), gj.ravel(), 4)
    assert sorted(dd.tolist()) == list(range(256))


def test_hilbert_locality():
    """Consecutive curve positions are adjacent grid cells (the defining
    Hilbert property — what makes id-ranges spatially compact)."""
    order = 8
    d = np.arange((1 << (2 * order)) - 1)
    x, y = s2.hilbert_xy(d, order)
    x2, y2 = s2.hilbert_xy(d + 1, order)
    step = np.abs(x2 - x) + np.abs(y2 - y)
    assert (step == 1).all()


def test_cell_id_deterministic_and_distinct():
    c1 = s2.cell_id(LATS, LNGS)
    c2 = s2.cell_id(LATS, LNGS)
    assert (c1 == c2).all()
    # leaf marker bit set, face in range
    assert (c1 & 1).all()
    assert ((c1 >> s2.FACE_SHIFT) < 6).all() and (c1 > 0).all()
    # 30-level leaves over random points: collisions ~ impossible
    assert len(np.unique(c1)) == N


def test_parent_nesting_and_containment():
    leaf = s2.cell_id(LATS, LNGS)
    for level in (5, 10, 20):
        p = s2.parent(leaf, level)
        assert (s2.cell_level(p) == level).all()
        assert s2.contains(p, leaf).all()
        # grandparent contains parent
        gp = s2.parent(leaf, level - 3)
        assert s2.contains(gp, p).all()
    # distinct branches are disjoint: ranges of distinct level-10 cells
    p10 = np.unique(s2.parent(leaf, 10))
    lo, hi = s2.range_min_max(p10)
    order = np.argsort(lo)
    assert (lo[order][1:] > hi[order][:-1]).all()


def test_nearby_points_share_coarse_cell():
    lat = np.full(100, 48.8566) + RNG.uniform(-0.001, 0.001, 100)
    lng = np.full(100, 2.3522) + RNG.uniform(-0.001, 0.001, 100)
    p = s2.parent(s2.cell_id(lat, lng), 10)
    assert len(np.unique(p)) <= 4  # a ~10km cell: tight cluster spans few


def test_stream_equals_batch(spark, tmp_path):
    import shutil

    from geoproc_spark.streaming import windowed
    from tests.conftest import SF_DIR

    events_dir = str(tmp_path / "events_in")
    import os

    os.makedirs(events_dir)
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir)

    got = windowed.run_hourly_stream(spark, events_dir, str(tmp_path / "ckpt"))
    want = windowed.hourly_agg(spark.read.parquet(events_dir))
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_hourly_stream_calls_leave_no_sink_view(spark):
    """Each events_hourly_stream call drops its memory-sink view and returns
    a result that owns its rows; every result still equals the batch
    hourly_agg."""
    from geoproc_spark import queries as Q
    from geoproc_spark.streaming import windowed
    from tests.conftest import SF_DIR

    batch = windowed.hourly_agg(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = sorted(map(tuple, batch.collect()))
    before = sorted(t.name for t in spark.catalog.listTables())
    results = [Q.SPARK_QUERIES["events_hourly_stream"](spark, SF_DIR) for _ in range(3)]
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    for got in results:
        assert sorted(map(tuple, got.collect())) == want


def test_stream_append_watermark_closes_windows(spark, tmp_path):
    """VERDICT r04 #2 — the production shape: watermarked APPEND-mode agg
    into a file sink over SEVERAL micro-batches (time-ordered files +
    maxFilesPerTrigger=1, so the watermark genuinely advances batch by
    batch). On the drained bounded input the emitted rows must equal the
    batch aggregate restricted to CLOSED windows (end <= max ts - delay),
    the open tail must be withheld, and the state metrics must show the
    eviction (bounded state — the thing complete mode cannot do)."""
    from pyspark.sql import functions as F

    from geoproc_spark.streaming import windowed
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events_dir = str(tmp_path / "events_in")
    # 4 time-ordered ARRIVALS: the file source replays files in
    # modification-time order, so each slice is written as its own commit
    # with a distinct mtime (a slice arriving after the watermark passed it
    # would be dropped as late — correct streaming semantics, wrong test
    # fixture). Each micro-batch then advances the watermark past the
    # previous slice's windows.
    import time

    lo, q1, q2, q3, hi = ev.select(
        F.col("ts").cast("timestamp").cast("double").alias("tsd")
    ).approxQuantile("tsd", [0.0, 0.25, 0.5, 0.75, 1.0], 0.0)
    edges = [lo - 1, q1, q2, q3, hi + 1]
    for i in range(4):
        ev.filter(
            (F.col("ts").cast("timestamp").cast("double") > edges[i])
            & (F.col("ts").cast("timestamp").cast("double") <= edges[i + 1])
        ).coalesce(1).write.mode("append").parquet(events_dir)
        time.sleep(1.1)

    got, metrics = windowed.run_hourly_stream_append(
        spark, events_dir, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    mx = ev.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    closed = windowed.hourly_agg(ev).filter(
        F.col("hour") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(mx) - F.expr("INTERVAL 2 HOURS")
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, closed.collect()))
    assert g == w and len(g) > 0
    # the open tail exists and was withheld
    n_all = windowed.hourly_agg(ev).count()
    assert len(g) < n_all
    # state is bounded: evicted rows reported, retained rows = open tail
    assert metrics.get("numRowsRemoved", 0) == len(g)
    assert 0 < metrics.get("numRowsTotal", 0) == n_all - len(g)


def test_stateful_user_profile_equals_batch(spark, tmp_path):
    """applyInPandasWithState custom operator: after the stream drains, the
    LATEST state version per user equals the batch aggregate exactly —
    and multiple versions exist, proving state persisted across
    micro-batches."""
    from pyspark.sql import functions as F

    from geoproc_spark import synth
    from geoproc_spark.streaming import stateful
    from tests.conftest import SF_DIR

    synth.load_tables(spark, SF_DIR, ["events"])
    ev = spark.table("events")
    events_dir = str(tmp_path / "events")
    # several files -> several micro-batches (maxFilesPerTrigger=1)
    ev.repartition(4).write.mode("overwrite").parquet(events_dir)

    got = stateful.user_profile_stream(spark, events_dir, str(tmp_path / "ckpt"))
    assert got.agg(F.max("version")).first()[0] >= 2  # state actually reused
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("version").desc())
    latest = (
        got.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events", "sum_cents", "max_cents")
    )
    batch = ev.withColumn(
        "value_cents", F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    ).groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("sum_cents"),
        F.max("value_cents").alias("max_cents"),
    )
    assert sorted(map(tuple, latest.collect())) == sorted(map(tuple, batch.collect()))


def test_memory_sink_runners_leave_no_view(spark, tmp_path):
    """Each memory-sink runner replays a single parquet file, names its own
    sink and drops its view: the session's full table and view list reads
    the same after every call, and no streaming query is left active."""
    from geoproc_spark.streaming import stateful, windowed
    from tests.conftest import SF_DIR

    runners = [
        windowed.run_hourly_stream,
        stateful.dedup_stream,
        stateful.user_profile_stream,
    ]
    for i, run in enumerate(runners):
        before = sorted(t.name for t in spark.catalog.listTables())
        got = run(spark, f"{SF_DIR}/events.parquet", str(tmp_path / f"ckpt{i}"))
        assert sorted(t.name for t in spark.catalog.listTables()) == before, run.__name__
        assert spark.streams.active == [], run.__name__
        assert got.count() > 0, run.__name__


def test_hourly_streams_keep_state_in_one_partition(spark, tmp_path):
    """Both hourly streams pin their state store to one partition for the
    query's lifetime only: `<checkpoint>/state/0` holds one partition
    directory, and the session's shuffle-partition count is unchanged."""
    import os

    from geoproc_spark.streaming import windowed
    from tests.conftest import SF_DIR

    events = f"{SF_DIR}/events.parquet"
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "1"
    runs = {
        "complete": lambda ckpt: windowed.run_hourly_stream(spark, events, ckpt),
        "append": lambda ckpt: windowed.run_hourly_stream_append(
            spark, events, ckpt, str(tmp_path / "out")
        ),
    }
    for mode, run in runs.items():
        ckpt = str(tmp_path / f"ckpt_{mode}")
        run(ckpt)
        state = os.path.join(ckpt, "state", "0")
        parts = [d for d in os.listdir(state) if d.isdigit()]
        assert parts == ["0"], (mode, sorted(os.listdir(state)))
        assert spark.conf.get(key) == before, mode
