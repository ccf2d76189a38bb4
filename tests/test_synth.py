"""The synthesis layer must produce identical rows in Spark SQL and DuckDB —
this is the foundation of every oracle comparison the driver runs."""

import duckdb

from geoproc_spark import synth
from tests.conftest import SF_DIR, SF_DIR_MED, ddb_rows, spark_rows


def test_pages_sql_parity(spark, ddb):
    synth.load_tables(spark, SF_DIR, ["documents"])
    q = synth.pages_sql()
    got = spark_rows(spark.sql(q))
    want = ddb_rows(ddb, q)
    assert got == want
    assert len(got) > 0


def test_pages_fractions(spark):
    df = synth.pages_df(spark, SF_DIR)
    n = df.count()
    geo = df.filter("has_geo = 1").count()
    hot = df.filter("is_hot = 1").count()
    assert abs(geo / n - 0.6) < 0.05
    assert abs(hot / n - 0.2) < 0.05


def test_polygons_values_parity(spark, ddb):
    q = synth.polygons_values_sql()
    assert spark_rows(spark.sql(q)) == ddb_rows(ddb, q)
    assert len(synth.polygon_rings()) == 15


def test_knn_values_parity(spark, ddb):
    q = synth.knn_queries_values_sql()
    assert spark_rows(spark.sql(q)) == ddb_rows(ddb, q)


def test_tile_math_parity_with_duckdb(spark, ddb):
    """Tile x/y of every geotagged page: Spark SQL vs DuckDB, exact."""
    from geoproc_spark.functions import cells

    synth.load_tables(spark, SF_DIR, ["documents"])
    xt, yt = cells.tile_sql("lat_s / 10000.0", "lon_s / 10000.0", 12)
    q = (
        f"WITH pages AS ({synth.pages_sql()}) "
        f"SELECT page_id, {xt} AS xt, {yt} AS yt FROM pages WHERE has_geo = 1"
    )
    assert spark_rows(spark.sql(q)) == ddb_rows(ddb, q)


def test_replicated_pages(spark):
    df = synth.pages_df(spark, SF_DIR, replicate=3)
    base = synth.pages_df(spark, SF_DIR)
    assert df.count() == 3 * base.count()
    assert df.select("page_id").distinct().count() == df.count()


def test_load_tables_runs_no_job_and_keeps_inferred_schema(spark):
    """Each table read carries its footer schema: registering the tables
    starts no Spark job, and every view's schema (types, NTZ timestamps
    and nullability) equals the one Spark infers from the same file."""
    sc = spark.sparkContext
    for sf in (SF_DIR_MED, SF_DIR):  # SF_DIR last: the views other tests read
        group = f"load_tables_{sf.rsplit('/', 1)[-1]}"
        sc.setJobGroup(group, "load_tables")
        try:
            synth.load_tables(spark, sf)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        for name in synth.TABLES:
            inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
            assert spark.table(name).schema == inferred, (sf, name)
