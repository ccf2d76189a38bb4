"""The production geo pipeline as checkpointed stages.

scan -> extract (mapInArrow + RE2) -> cell encode, clustered by cell ->
covering-cell PIP join -> per-tile stats, each stage a resumable snapshot.
The extract snapshot is clustered, not partitioned: a `rebalance` hint
lets AQE size its files by bytes (one file at fixture scale), and rows
are sorted by `cell` within each file, so parquet page and row-group
min/max on `cell` are tight once a file holds several of them. Files are
not disjoint in `cell`: the rebalance is round-robin.
This is the spark-submit entry path; `bench.py` times the same stages
un-checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import synth
from ..functions import cells, extract
from ..operators import spatial_join as sj
from ..operators import tiles as tiles_op
from .pipeline import Pipeline, Stage

EXTRACT_ZOOM = 12
PREFIX_ZOOM = 3  # zoom of the cell_p column (a coarse cell prefix, <= 64 values)
TILE_ZOOM = 6


def stage_pages(sf_dir: str, replicate: int = 1):
    def fn(spark: SparkSession, _inputs) -> DataFrame:
        # snapshot only the columns downstream stages read — in production
        # the input table already exists; synthesizing AND persisting the
        # fat html BINARY column here would double the stage's bytes for a
        # column no stage scans
        return synth.pages_df(spark, sf_dir, replicate=replicate).select(
            "page_id", "url", "lang", "text"
        )

    return Stage("pages", fn)


def stage_extract():
    def fn(spark: SparkSession, inputs) -> DataFrame:
        pages = inputs["pages"]
        pts = extract.with_coords_arrow(pages, keep=["page_id", "url"])
        pts = pts.filter(F.col("lat").isNotNull())
        cell = cells.cell_id_col(F.col("lat"), F.col("lon"), EXTRACT_ZOOM)
        return (
            pts.withColumn("cell", cell)
            .withColumn("cell_p", cells.parent_cell_col(F.col("cell"), EXTRACT_ZOOM, PREFIX_ZOOM))
            .hint("rebalance")
            .sortWithinPartitions("cell")
        )

    return Stage("extract", fn, inputs=["pages"])


def stage_pip_join():
    def fn(spark: SparkSession, inputs) -> DataFrame:
        pts = inputs["extract"].select("page_id", "lat", "lon")
        poly = sj.polygons_df(spark)
        return sj.spatial_join(pts, poly).select("page_id", "feature_id")

    return Stage("pip_join", fn, inputs=["extract"])


def stage_tile_stats():
    def fn(spark: SparkSession, inputs) -> DataFrame:
        pts = inputs["extract"].select(
            "page_id",
            F.round(F.col("lat") * 10000).cast("bigint").alias("lat_s"),
            F.round(F.col("lon") * 10000).cast("bigint").alias("lon_s"),
            (F.col("page_id") % 100).alias("m100"),
        )
        return tiles_op.tile_stats(pts, TILE_ZOOM, measure_col="m100")

    return Stage("tile_stats", fn, inputs=["extract"])


def geo_stages(sf_dir: str, replicate: int = 1) -> list[Stage]:
    return [stage_pages(sf_dir, replicate), stage_extract(), stage_pip_join(), stage_tile_stats()]


def run_geo_pipeline(
    spark: SparkSession, sf_dir: str, run_id: str, base_dir: str, replicate: int = 1
) -> dict[str, DataFrame]:
    return Pipeline(run_id, base_dir).run(spark, geo_stages(sf_dir, replicate))
