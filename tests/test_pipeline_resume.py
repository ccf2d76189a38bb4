"""Table format + checkpointed pipeline: snapshots, time travel, resume
equivalence (FIXTURES.md T7)."""

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geoproc_spark.plans import geo_run
from geoproc_spark.plans.pipeline import Pipeline, Stage
from geoproc_spark.sources import tableformat as tf
from tests.conftest import SF_DIR


def test_tableformat_snapshots_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    df1 = spark.range(10).selectExpr("id", "id % 3 AS k")
    m1 = tf.write_table(df1, p, partition_by=["k"])
    assert m1["snapshot_id"] == 1 and m1["total_rows"] == 10
    assert sum(f["rows"] for f in m1["files"]) == 10

    df2 = spark.range(25).selectExpr("id", "id % 3 AS k")
    m2 = tf.write_table(df2, p, partition_by=["k"])
    assert m2["snapshot_id"] == 2 and m2["parent_id"] == 1

    assert tf.read_table(spark, p).count() == 25
    # snapshot data dirs are immutable: time-travel back to snap 1 reads
    # its full data (write-data-then-commit — snap 2 never touched snap 1)
    assert tf.read_manifest(p, 1)["total_rows"] == 10
    t1 = tf.read_table(spark, p, snapshot=1)
    assert t1.count() == 10
    # partition columns are inferred on time-travel reads too (basePath)
    assert "k" in t1.columns and t1.select("k").distinct().count() == 3
    assert tf.current_snapshot_id(p) == 2


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_pipeline_resume_skips_completed(spark, tmp_path):
    calls = {"a": 0, "b": 0}

    def fa(s, _):
        calls["a"] += 1
        return s.range(100).selectExpr("id", "id * 2 AS v")

    def fb(s, ins):
        calls["b"] += 1
        return ins["a"].groupBy((F.col("id") % 10).alias("g")).agg(F.sum("v").alias("sv"))

    stages = [Stage("a", fa), Stage("b", fb, inputs=["a"])]
    pipe = Pipeline("run1", str(tmp_path))
    out1 = pipe.run(spark, stages)
    r1 = _sorted(out1["b"])
    assert calls == {"a": 1, "b": 1}

    # full rerun: everything resumed from snapshots, no recomputation
    out2 = Pipeline("run1", str(tmp_path)).run(spark, stages)
    assert calls == {"a": 1, "b": 1}
    assert _sorted(out2["b"]) == r1

    # kill-after-stage-k: drop b's snapshot; only b recomputes
    shutil.rmtree(str(tmp_path / "run1" / "b"))
    out3 = Pipeline("run1", str(tmp_path)).run(spark, stages)
    assert calls == {"a": 1, "b": 2}
    assert _sorted(out3["b"]) == r1

    # metrics journal carries per-file lineage for every attempt
    m = Pipeline("run1", str(tmp_path)).metrics(spark)
    assert m.filter("output_rows <= 0").count() == 0
    assert m.filter("stage = 'b' AND NOT resumed").count() >= 2  # initial + recompute
    assert m.filter("resumed").count() >= 3


def test_geo_pipeline_end_to_end_resume_identical(spark, tmp_path):
    base = str(tmp_path)
    out = geo_run.run_geo_pipeline(spark, SF_DIR, "geo", base)
    joined = _sorted(out["pip_join"])
    stats = _sorted(out["tile_stats"])
    assert len(joined) > 0 and len(stats) > 0

    # interrupted rerun: wipe the last two stages, resume must reproduce
    shutil.rmtree(f"{base}/geo/pip_join")
    shutil.rmtree(f"{base}/geo/tile_stats")
    out2 = geo_run.run_geo_pipeline(spark, SF_DIR, "geo", base)
    assert _sorted(out2["pip_join"]) == joined
    assert _sorted(out2["tile_stats"]) == stats

    # and the checkpointed result equals the direct (uncheckpointed) query
    from geoproc_spark import queries as Q

    direct = _sorted(Q.geo_pip_join(spark, SF_DIR))
    assert sorted(joined) == direct

    # extract stage is unpartitioned and clustered by cell: every file's
    # cell column is non-decreasing, so parquet min/max on it are tight
    mext = tf.read_manifest(f"{base}/geo/extract")
    assert mext["partition_spec"] == []
    for f in mext["files"]:
        cell = pq.read_table(os.path.join(f"{base}/geo/extract", f["path"]), columns=["cell"])
        c = cell.column("cell").to_numpy()
        assert (c[1:] >= c[:-1]).all(), f["path"]
    # ...and cell_p is still a column, on a time-travel read too
    tt = tf.read_table(spark, f"{base}/geo/extract", snapshot=mext["snapshot_id"])
    assert "cell_p" in tt.columns


def _parquet_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_extract_snapshot_one_file_per_partition_value(spark, tmp_path):
    """Partitioned snapshot writes are hash-distributed by the partition
    column first: written partitioned by cell_p, every cell_p= directory of
    an extract snapshot holds exactly one parquet file, with the rows and
    partition values of the extract DataFrame, however many tasks produce
    those rows."""
    pages = geo_run.stage_pages(SF_DIR)
    stages = [Stage("pages", lambda s, i: pages.fn(s, i).repartition(4))]
    out = Pipeline("one", str(tmp_path)).run(spark, stages)
    direct = geo_run.stage_extract().fn(spark, {"pages": out["pages"]})
    p = str(tmp_path / "one" / "extract")
    tf.write_table(direct, p, partition_by=["cell_p"])
    got = tf.read_table(spark, p)
    snap_dir = os.path.join(p, tf.read_manifest(p)["base"])
    parts = [d for d in os.listdir(snap_dir) if d.startswith("cell_p=")]
    assert len(parts) > 1
    for d in parts:
        assert len(_parquet_files(os.path.join(snap_dir, d))) == 1, d
    assert _sorted(got) == _sorted(direct.select(*got.columns))
    want = {f"cell_p={r.cell_p}" for r in direct.select("cell_p").distinct().collect()}
    assert set(parts) == want


def test_extract_snapshot_is_one_file_read_without_jobs(spark, tmp_path):
    """At fixture scale the cell-clustered extract snapshot is one file, so
    reading it lists no paths with a distributed job: Spark lists a file
    list longer than parallelPartitionDiscovery.threshold (32) with one
    task per path, and the schema comes from the manifest."""
    geo_run.run_geo_pipeline(spark, SF_DIR, "flat", str(tmp_path))
    p = str(tmp_path / "flat" / "extract")
    m = tf.read_manifest(p)
    assert len(m["files"]) == 1, len(m["files"])
    sc = spark.sparkContext
    sc.setJobGroup("extract_snapshot_read", "read_table")
    try:
        df = tf.read_table(spark, p)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("extract_snapshot_read")) == []
    assert "cell_p" in df.columns


def test_read_table_schema_from_manifest_matches_inferred(spark, tmp_path):
    """read_table takes its schema from the manifest instead of inferring
    it from parquet footers; column order and types (the cell_p partition
    column included) equal the inferred read's, for the current snapshot
    and for a time-travel read."""
    out = Pipeline("sch", str(tmp_path)).run(spark, geo_run.geo_stages(SF_DIR)[:2])
    p = str(tmp_path / "sch" / "extract")
    tf.write_table(out["extract"].limit(50), p, partition_by=["cell_p"])
    for snap in (None, 1):
        m = tf.read_manifest(p, snap)
        base = os.path.join(p, m["base"])
        files = [os.path.join(p, f["path"]) for f in m["files"]]
        inferred = spark.read.option("basePath", base).parquet(*files)
        got = tf.read_table(spark, p, snapshot=snap)
        assert got.schema == inferred.schema
        assert got.columns[-1] == "cell_p"
        assert got.count() == m["total_rows"]

def test_metrics_record_input_rows_lineage(spark, tmp_path):
    """north_rule lineage: each stage's recorded input_rows equals its
    parent stages' output_rows — manifest-to-manifest, no extra jobs —
    and survives the resume path."""
    out = geo_run.run_geo_pipeline(spark, SF_DIR, "lin", str(tmp_path))
    assert out  # pipeline ran
    m = Pipeline("lin", str(tmp_path)).metrics(spark)
    # metrics are per output FILE: stage totals = sum(file rows); input_rows
    # is stage-level (repeated per file) -> max == the single value
    agg = (
        m.groupBy("stage")
        .agg(F.max("input_rows").alias("inp"), F.sum("output_rows").alias("out"))
        .collect()
    )
    rows = {r["stage"]: r for r in agg}
    assert rows["pages"]["inp"] == 0  # source stage
    assert rows["extract"]["inp"] == rows["pages"]["out"]
    assert rows["pip_join"]["inp"] == rows["extract"]["out"]
    assert rows["tile_stats"]["inp"] == rows["extract"]["out"]

    # resumed rerun records the same lineage
    out2 = geo_run.run_geo_pipeline(spark, SF_DIR, "lin", str(tmp_path))
    assert out2
    m2 = Pipeline("lin", str(tmp_path)).metrics(spark)
    resumed = {
        r["stage"]: r
        for r in m2.filter("resumed").select("stage", "input_rows").distinct().collect()
    }
    assert resumed["pip_join"]["input_rows"] == rows["extract"]["out"]


def test_expire_snapshots(spark, tmp_path):
    """Iceberg-style maintenance: old snapshots' data+metadata go away, the
    kept ones stay fully readable, the current pointer is untouched."""
    p = str(tmp_path / "t")
    for n in (10, 20, 30):
        tf.write_table(spark.range(n).selectExpr("id", "id % 3 AS k"), p, partition_by=["k"])
    assert tf.current_snapshot_id(p) == 3

    expired = tf.expire_snapshots(p, keep_last=2)
    assert expired == [1]
    assert tf.read_manifest(p, 1) is None
    assert not os.path.exists(os.path.join(p, "data", "snap-1"))
    # survivors fully readable, incl. time travel to snapshot 2
    assert tf.read_table(spark, p).count() == 30
    assert tf.read_table(spark, p, snapshot=2).count() == 20
    # keep_last never expires the current snapshot
    assert tf.expire_snapshots(p, keep_last=1) == [2]
    assert tf.read_table(spark, p).count() == 30
