"""Physical-plan audits (pushdown, pruning, broadcast) and skew-balance
assertions — the 'would this survive 100x scale-up' checks (SURVEY.md §4.2,
FIXTURES.md T4)."""

import re

import numpy as np
from pyspark.sql import functions as F

from geoproc_spark import queries as Q
from geoproc_spark import synth
from geoproc_spark.functions import cells
from geoproc_spark.operators import spatial_join as sj
from geoproc_spark.plans import geo_run
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_all(df) -> str:
    return df._jdf.queryExecution().toString()


def test_geo_run_extract_single_python_pass(spark):
    """The extract stage ships each page to Python once: one mapInArrow node
    and no ArrowEvalPython (a lat IS NOT NULL filter pushed under a pandas
    UDF's projection makes the plan evaluate the UDF twice)."""
    pages = geo_run.stage_pages(SF_DIR).fn(spark, {})
    plan = _plan(geo_run.stage_extract().fn(spark, {"pages": pages}))
    assert re.findall(r"\b(\w*EvalPython|MapIn\w+|\w+InPandas)\b", plan) == ["MapInArrow"], plan


def test_tpch_q6_filters_pushed_to_scan(spark):
    df = Q.SPARK_QUERIES["tpch_q6"](spark, SF_DIR)
    plan = _explain_all(df)
    # filters reach the parquet reader (plan string elides the full list,
    # so assert on the visible DataFilters + PushedFilters prefix)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "(l_shipdate#" in plan and ">= 19" in plan  # scan-level range filter


def test_tpch_q1_column_pruning(spark):
    df = Q.SPARK_QUERIES["tpch_q1"](spark, SF_DIR)
    plan = _explain_all(df)
    scan = plan[plan.index("ReadSchema:") :].splitlines()[0]
    # only the 8 needed columns are read, not the full 11-column table
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_pip_join_broadcasts_polygon_side(spark):
    pts = synth.pages_df(spark, SF_DIR).select(
        "page_id",
        (F.col("lat_s") / 10000.0).alias("lat"),
        (F.col("lon_s") / 10000.0).alias("lon"),
    )
    j = sj.spatial_join(pts, sj.polygons_df(spark))
    plan = _plan(j)
    # the points are neither shuffled nor broadcast: one probe pass over
    # them, with the polygon index riding along as a broadcast variable
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_tile_lookup_partition_pruning(spark, tmp_path):
    """The PNG-tile-sink analog (reference app.py:125-178): a single-tile
    fetch from a cell-prefix-partitioned table must scan ONE partition."""
    pts = synth.pages_df(spark, SF_DIR).filter("has_geo = 1")
    t = pts.select(
        "page_id",
        "lat_s",
        "lon_s",
        cells.cell_id_col(F.col("lat_s") / 10000.0, F.col("lon_s") / 10000.0, 6).alias(
            "cell"
        ),
    )
    path = str(tmp_path / "tiles_table")
    t.write.partitionBy("cell").parquet(path)
    back = spark.read.parquet(path)
    one = back.filter(F.col("cell") == t.first()["cell"])
    plan = _explain_all(one)
    assert "PartitionFilters: [isnotnull(cell" in plan
    assert one.count() > 0


def test_salting_balances_hot_cells(spark):
    """FIXTURES.md T4: hot-spot pages pile into a handful of cells; the
    salted join key must spread them within ~4x of the median bucket."""
    pts = (
        synth.pages_df(spark, SF_DIR, replicate=20)
        .filter("has_geo = 1")
        .select(
            "page_id",
            (F.col("lat_s") / 10000.0).alias("lat"),
            (F.col("lon_s") / 10000.0).alias("lon"),
        )
    )
    cell = cells.cell_id_col(F.col("lat"), F.col("lon"), sj.DEFAULT_JOIN_ZOOM)
    unsalted = (
        pts.withColumn("k", cell).groupBy("k").count().orderBy(F.desc("count"))
    )
    sizes = [r["count"] for r in unsalted.collect()]
    top, med = sizes[0], int(np.median(sizes))
    assert top > 20 * med, f"fixture not skewed enough: top={top} med={med}"

    n_salt = 16
    salted = (
        pts.withColumn("k", cell)
        .withColumn("s", F.pmod(F.xxhash64("page_id"), F.lit(n_salt)))
        .groupBy("k", "s")
        .count()
    )
    ssizes = sorted((r["count"] for r in salted.collect()), reverse=True)
    smed = int(np.median(ssizes))
    assert ssizes[0] <= 4 * max(smed, top // n_salt), (
        f"salted top bucket {ssizes[0]} vs median {smed} (unsalted top {top})"
    )
    # and the salted join itself stays semantically identical (pinned also
    # by the geo_pip_join_salted oracle): spot-check row counts here
    poly = sj.polygons_df(spark)
    plain_n = sj.spatial_join(pts, poly).count()
    salted_n = sj.spatial_join(
        pts, poly, salt_buckets=n_salt, broadcast_poly=False
    ).count()
    assert plain_n == salted_n

def test_bucketed_join_no_exchange_on_pages_side(spark, tmp_path):
    """SURVEY §4.2 storage-partitioned join claim, plan-asserted: pages
    bucketed on cell_p join/aggregate with NO Exchange on the pages side —
    the big side never moves; only the (small) other side shuffles into
    place. Stand-in for Iceberg bucket(N, cell_p) + storage-partitioned
    joins at 100 TB."""
    from geoproc_spark.sources import bucketed as bk

    # (managed tables land in the session's default warehouse dir —
    # spark.sql.warehouse.dir is static config; DROP TABLE cleans up)
    pts = synth.pages_df(spark, SF_DIR).filter("has_geo = 1").select(
        "page_id",
        (F.col("lat_s") / 10000.0).alias("lat"),
        (F.col("lon_s") / 10000.0).alias("lon"),
    )
    pts = pts.withColumn("cell", cells.cell_id_col(F.col("lat"), F.col("lon"), 12))
    pts = pts.withColumn("cell_p", cells.parent_cell_col(F.col("cell"), 12, 3))
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        bk.write_bucketed(pts, "pages_bkt", ["cell_p"], n_buckets=8)
        bk.write_bucketed(
            pts.groupBy("cell_p").count().withColumnRenamed("count", "n"),
            "cellagg_bkt",
            ["cell_p"],
            n_buckets=8,
        )
        t = bk.read_bucketed(spark, "pages_bkt")

        # (a) aggregate on the bucket key: zero Exchange anywhere
        agg_plan = _plan(t.groupBy("cell_p").agg(F.count("*").alias("n")))
        assert "Exchange" not in agg_plan, agg_plan

        # (b) bucketed-x-bucketed equi-join on the bucket key: zero Exchange.
        # Disable auto-broadcast — at test scale Catalyst would otherwise
        # broadcast the tiny side (also pages-shuffle-free, but then the
        # planner disables bucketing and the co-location claim goes untested;
        # at 100 TB neither side fits a broadcast).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        other = bk.read_bucketed(spark, "cellagg_bkt")
        join_plan = _plan(t.join(other, "cell_p"))
        assert "Exchange" not in join_plan, join_plan
        assert "SortMergeJoin" in join_plan or "ShuffledHashJoin" in join_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS pages_bkt")
        spark.sql("DROP TABLE IF EXISTS cellagg_bkt")


def test_bucketed_spatial_join_pages_side_exchange_free(spark):
    """The registered geo_pip_join_bucketed path: ONE Exchange total (the
    small exploded polygon side shuffling into the bucket partitioning);
    the bucketed+sorted pages side joins in place with no Exchange and no
    Sort of its own, and the result equals the plain spatial join."""
    from geoproc_spark.operators import spatial_join as sjo

    pts = synth.pages_df(spark, SF_DIR).filter("has_geo = 1").select(
        "page_id",
        (F.col("lat_s") / 10000.0).alias("lat"),
        (F.col("lon_s") / 10000.0).alias("lon"),
    )
    poly = sjo.polygons_df(spark)
    try:
        df = sjo.bucketed_spatial_join(pts, poly, table="pages_bkt_sj_test")
        plan = _plan(df.select("page_id", "feature_id"))
        assert plan.count("Exchange") == 1, plan
        assert "SortMergeJoin" in plan, plan
        got = {tuple(r) for r in df.select("page_id", "feature_id").collect()}
        want = {
            tuple(r)
            for r in sjo.spatial_join(pts, poly).select("page_id", "feature_id").collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bkt_sj_test")


def test_dedup_signatures_zero_shuffle(spark):
    """The zero-shuffle claim, plan-asserted: MinHash and SimHash signature
    passes contain NO Exchange — pure projection over the scan."""
    from geoproc_spark.operators import dedup as dd

    docs = synth.pages_df(spark, SF_DIR).selectExpr("page_id AS doc_id", "text")
    for df in (dd.minhash_signatures(docs, synth.minhash_perms()), dd.simhash(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan, plan


def test_pyramid_single_shuffle(spark):
    """Overview build = exactly one Exchange (children -> parent key);
    the pixel gather itself is a projection."""
    from geoproc_spark.image import Image

    a = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX)
    plan = _plan(a.build_overview().df)
    assert plan.count("Exchange") == 1, plan


def test_spatial_join_shuffle_path_without_broadcast(spark):
    """broadcast_poly=False (continent-scale layers): the covering-cell
    equi-join plans as a shuffle join, not a broadcast."""
    pts = synth.pages_df(spark, SF_DIR).select(
        "page_id",
        (F.col("lat_s") / 10000.0).alias("lat"),
        (F.col("lon_s") / 10000.0).alias("lon"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = sj.spatial_join(pts, sj.polygons_df(spark), broadcast_poly=False)
        plan = _plan(j)
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # and the result is still correct
        got = sorted(map(tuple, j.select("page_id", "feature_id").collect()))
        want = sorted(
            map(
                tuple,
                sj.spatial_join(pts, sj.polygons_df(spark))
                .select("page_id", "feature_id")
                .collect(),
            )
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_asof_join_single_shuffle_no_join_node(spark):
    """The as-of join plans as union + ONE Exchange + window — no join
    operator at all (the sort-merge as-of shape)."""
    df = Q.SPARK_QUERIES["events_asof_join"](spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    # sanity: unmatched lefts carry NULLs, matched carry prior-or-equal ts
    rows = df.collect()
    assert any(r["asof_event_id"] is None for r in rows)
    assert any(r["asof_event_id"] is not None for r in rows)


def test_ann_paths_are_one_probe(spark):
    """The bucketed ANN queries are one broadcast probe, like ann_cosine_topk:
    a mapInPandas pass over the corpus and the rank window, with no bucket
    join and no per-pair pandas UDF."""
    for name in ("ann_lsh_topk", "ann_ivf_topk"):
        df = Q.SPARK_QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = _plan(df)
        assert "MapInPandas" in plan, plan
        assert "Join" not in plan and "ArrowEvalPython" not in plan, plan


def test_asof_join_atomic_carry_and_null_guards(spark):
    """Review-fix pins: (a) right id + values are carried ATOMICALLY (a
    NULL right value must not tear the row by pulling an older value);
    (b) NULL-ts rights never match; (c) non-numeric left ids survive;
    (d) the SQL NULL contract (ADVICE r02): NULL-ts / NULL-key LEFTS get
    NULL matches, and NULL-key rights never match NULL-key lefts."""
    from geoproc_spark.operators import asof

    right = spark.createDataFrame(
        [(1, 1.0, 2, 10), (1, 2.0, 4, None), (2, None, 6, 7), (None, 0.5, 8, 9)],
        "k long, ts double, rid long, v long",
    )
    left = spark.createDataFrame(
        [(1, 3.0, "a"), (2, 5.0, "b"), (1, None, "c"), (None, 9.0, "d")],
        "k long, ts double, lid string",
    )
    out = {
        r["lid"]: (r["asof_rid"], r["asof_v"])
        for r in asof.asof_join(
            left, right, key_col="k", ts_col="ts", right_id_col="rid",
            right_value_cols=["v"], left_id_col="lid",
        ).collect()
    }
    assert len(out) == 4  # every left row comes back exactly once
    assert out["a"] == (4, None)  # matched row id=4 carries ITS null value
    assert out["b"] == (None, None)  # NULL-ts right is not a match
    assert out["c"] == (None, None)  # NULL-ts left: no right.ts <= NULL
    assert out["d"] == (None, None)  # NULL keys never join-equal (rid=8 excluded)


def test_range_join_plans_as_equi_join(spark):
    """The bucketized range join must plan as a hash equi-join, never the
    BroadcastNestedLoop/cartesian a raw inequality condition produces —
    that is its entire reason to exist. Rows must equal the naive join."""
    from geoproc_spark.operators import rangejoin as rj

    left = spark.range(2000).select(
        F.col("id").alias("event_id"), (F.col("id") * 7 % 5000).alias("vc")
    )
    tiers = spark.createDataFrame(
        [(i, i * 300, i * 300 + 700) for i in range(16)], "tier_id int, lo long, hi long"
    )
    out = rj.range_join(left, tiers, "vc", "lo", "hi", bucket_width=256)
    plan = _plan(out)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan

    got = {(r.event_id, r.tier_id) for r in out.select("event_id", "tier_id").collect()}
    naive = left.join(
        tiers, (F.col("vc") >= F.col("lo")) & (F.col("vc") <= F.col("hi"))
    )
    want = {(r.event_id, r.tier_id) for r in naive.select("event_id", "tier_id").collect()}
    assert got == want and len(got) > 2000  # overlapping tiers: many-to-many


def test_events_funnel_strict_order_semantics(spark):
    """The funnel fold advances only on strictly later timestamps and in
    stage order: a click BEFORE the first view doesn't count, an
    equal-timestamp click can't advance, and out-of-order purchases wait
    for a click."""
    from datetime import datetime as dt

    from geoproc_spark import queries as Q

    rows = [
        # u1: full ordered funnel -> depth 3
        (1, dt(2024, 1, 1, 10), 1, "view"),
        (2, dt(2024, 1, 1, 11), 1, "click"),
        (3, dt(2024, 1, 1, 12), 1, "purchase"),
        # u2: click precedes the first view -> stuck at depth 1
        (4, dt(2024, 1, 1, 9), 2, "click"),
        (5, dt(2024, 1, 1, 10), 2, "view"),
        # u3: click at EXACTLY the view ts -> strict > blocks it
        (6, dt(2024, 1, 1, 10), 3, "view"),
        (7, dt(2024, 1, 1, 10), 3, "click"),
        # u4: purchase before click -> depth 2 only (view+click)
        (8, dt(2024, 1, 1, 10), 4, "view"),
        (9, dt(2024, 1, 1, 11), 4, "purchase"),
        (10, dt(2024, 1, 1, 12), 4, "click"),
        # u5: no view at all -> excluded
        (11, dt(2024, 1, 1, 10), 5, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    got = {
        r.user_id: r.funnel_depth for r in Q.funnel_from_events(ev).collect()
    }
    assert got == {1: 3, 2: 1, 3: 1, 4: 2}


def test_projected_windows_one_gather_pass_over_one_tile_scan(spark, tmp_path):
    """Tile-less windows reach the gather kernel through the window grid
    unioned into its stream: the plan is the broadcast window->tile join
    feeding ONE FlatMapGroupsInPandas, with no semi/anti join and one scan
    of the tile table, and a warm tile_export_projected call runs fewer
    jobs than the 7 of the semi/anti-join plan."""
    from geoproc_spark.image import Image

    path = str(tmp_path / "tiles_a")
    synth.tiles_df(spark, "A").write.parquet(path)
    img = Image.from_df(
        spark.read.parquet(path), synth.TILE_BANDS["A"], synth.TILE_PX,
        max_zoom=synth.TILE_Z,
    )
    wdf, _ = img.projected_windows(scale=400000.0, crs="epsg:4326", window_size=32)
    plan = _plan(wdf)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan

    sc = spark.sparkContext
    run = Q.SPARK_QUERIES["tile_export_projected"]
    run(spark, SF_DIR).collect()  # cold call: session and Python workers warm up
    sc.setJobGroup("projected_export_jobs", "warm tile_export_projected")
    try:
        assert len(run(spark, SF_DIR).collect()) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("projected_export_jobs"))
    assert n_jobs < 7, n_jobs


# Driver queries whose plans carry no per-call literal. Together they
# generate more classes than Spark's default codegen cache (100 entries)
# holds, so under the default a second pass recompiles its own classes.
_CODEGEN_WORKING_SET = [
    "tpch_q1", "tpch_q3", "tpch_q5", "events_hourly", "events_funnel",
    "events_sessions", "events_asof_join", "dedup_minhash_pairs",
    "ngram_jaccard", "embedding_neardup", "corpus_chunk_dedup",
]


def test_warm_repeat_compiles_nothing(spark):
    """A warm repeat of a working set larger than Spark's default codegen
    cache compiles no class: the session's cache holds every class the
    first pass compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compilations_in_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in _CODEGEN_WORKING_SET:
            Q.SPARK_QUERIES[name](spark, SF_DIR).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compilations_in_pass()
    assert compilations_in_pass() == 0


def test_helper_column_collisions_rejected(spark):
    """Operators that add helper columns must refuse inputs already carrying
    them (withColumn silently overwrites) — range_join's '_rb', the spatial
    joins' '_cell'/'ring'/'feature_id' (ADVICE r03)."""
    import pytest

    from geoproc_spark.operators import rangejoin as rj
    from geoproc_spark.operators import spatial_join as sj

    left = spark.createDataFrame([(1, 10, 99)], "event_id int, vc long, _rb long")
    tiers = spark.createDataFrame([(1, 0, 100)], "tier_id int, lo long, hi long")
    with pytest.raises(ValueError, match="_rb"):
        rj.range_join(left, tiers, "vc", "lo", "hi")

    pts = spark.createDataFrame(
        [(1, 10.0, 10.0, 7)], "page_id int, lat double, lon double, feature_id int"
    )
    poly = spark.createDataFrame(
        [(1, [0.0, 0.0, 20.0, 0.0, 20.0, 20.0, 0.0, 20.0, 0.0, 0.0],
          0.0, 0.0, 20.0, 20.0)],
        "feature_id int, ring array<double>, minx double, miny double, "
        "maxx double, maxy double",
    )
    with pytest.raises(ValueError, match="feature_id"):
        sj.spatial_join(pts, poly)


def test_write_bucketed_guards_destructive_cleanup(spark, tmp_path):
    """write_bucketed must reject qualified names (its derelict-dir guess
    would be wrong) and refuse to rmtree a directory containing entries it
    did not write (ADVICE r03)."""
    import os

    import pytest

    from geoproc_spark.sources import bucketed as bk

    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
    with pytest.raises(ValueError, match="unqualified"):
        bk.write_bucketed(df, "somedb.mytable", ["k"])

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "guard_tbl")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "precious_user_data.csv"), "w") as fh:
        fh.write("keep me\n")
    try:
        with pytest.raises(ValueError, match="refusing"):
            bk.write_bucketed(df, "guard_tbl", ["k"])
        assert os.path.exists(os.path.join(loc, "precious_user_data.csv"))
    finally:
        import shutil

        shutil.rmtree(loc, ignore_errors=True)


def test_tile_algebra_is_image_ops_over_one_join(spark):
    """tile_algebra is written with Image ops: its four results over A and
    B share one alignment, a single full outer join, and the query holds
    no join of its own."""
    import inspect

    plan = _plan(Q.SPARK_QUERIES["tile_algebra"](spark, SF_DIR))
    assert len(re.findall(r"\b\w+Join\b", plan)) == 1, plan
    assert "FullOuter" in plan, plan
    assert ".join(" not in inspect.getsource(Q.tile_algebra)
