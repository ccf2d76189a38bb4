#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The geo pipeline runs on a replicated corpus (REPLICATE x documents ->
pages) so the work is measured in hundreds of thousands of pages, not the
raw 5k documents of sf0.1. Results materialize through the noop sink —
full execution, no driver collect.

This file is the per-round throughput probe; `perfbench/run.py` is the
closed-loop benchmark with per-layer metrics.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "400"))


def materialize(df) -> int:
    """Run the full plan without collecting to the driver; return row count
    via a single count on the materialized plan."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    from pyspark.sql import functions as F

    from geoproc_spark import queries as Q
    from geoproc_spark import synth
    from geoproc_spark.functions import cells, extract
    from geoproc_spark.operators import spatial_join as sj
    from geoproc_spark.operators import tiles as tiles_op
    from geoproc_spark.session import get_spark

    spark = get_spark(app_name="geoproc-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    # warmup: class loading / codegen paths, excluded from timings
    spark.range(1000).select(F.sum("id")).collect()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # ---------------- geo pipeline on the replicated corpus (the headline)
    # The metric (BASELINE.json) is spatial-join + tiling throughput OVER a
    # Common-Crawl-style table — the table pre-exists, so corpus synthesis
    # is untimed input prep; the timed phase is scan -> extract -> join ->
    # tile stats.
    # Mirrors the checkpointed pipeline (plans/geo_run.py): the extracted
    # skeleton materializes to parquet once and every consumer scans that —
    # measured 3x faster than reusing a deserialized .persist() cache, and
    # it is the pattern that holds at 100 TB (stage boundary = columnar
    # snapshot, not executor memory).
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="geoproc_bench_")
    synth.pages_df(spark, SF_DIR, replicate=REPLICATE).select(
        "page_id", "text"
    ).write.mode("overwrite").parquet(f"{work}/pages")

    import pyarrow.parquet as pq
    from pyspark import InheritableThread

    from geoproc_spark.operators import knn as knn_op

    def run_geo_pipeline() -> float:
        t0 = time.time()
        pages = spark.read.parquet(f"{work}/pages")
        pts_raw = extract.with_coords_arrow(
            pages.select("page_id", "text"), keep=["page_id"]
        ).filter(F.col("lat").isNotNull())
        pts_raw.write.mode("overwrite").parquet(f"{work}/pts")
        pts = spark.read.parquet(f"{work}/pts")
        joined = sj.spatial_join(pts, sj.polygons_df(spark)).select("page_id", "feature_id")
        stats_in = pts.select(
            "page_id",
            F.round(F.col("lat") * 10000).cast("bigint").alias("lat_s"),
            F.round(F.col("lon") * 10000).cast("bigint").alias("lon_s"),
            (F.col("page_id") % 100).alias("m100"),
        )
        tstats = tiles_op.tile_stats(stats_in, 8, measure_col="m100")
        # join and tiling run as CONCURRENT jobs (threads) — the scheduler
        # fills one job's stage-boundary idle gaps with the other's tasks.
        # Job groups and tags are thread-local: InheritableThread starts
        # each thread with the caller's
        res = {}

        def _join():
            materialize(joined)

        def _tiles():
            res["n_tiles"] = tstats.count()

        ts = [InheritableThread(target=_join), InheritableThread(target=_tiles)]
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        extras["tiles"] = res["n_tiles"]
        return time.time() - t0

    def run_geo_knn() -> float:
        queries_df = spark.createDataFrame(
            synth.knn_query_points(), "qid long, qlat_s long, qlon_s long, k int"
        )
        pts = spark.read.parquet(f"{work}/pts")
        rep_pages = pts.select(
            "page_id",
            F.round(F.col("lat") * 10000).cast("bigint").alias("lat_s"),
            F.round(F.col("lon") * 10000).cast("bigint").alias("lon_s"),
        )
        spark.catalog.clearCache()
        t0 = time.time()
        materialize(knn_op.knn_join(queries_df, rep_pages, k_max=5))
        return time.time() - t0

    # ---------------- the suite: repeats INTERLEAVED across queries
    # (VERDICT r03 #3). Back-to-back repeats of one query sit inside the
    # same host-interference burst, so its min stays polluted; a full pass
    # between repeats separates them by minutes.
    SUITE = [
        "corpus_chunk_dedup",
        "corpus_url_dedup",
        "dedup_minhash_pairs",
        "dedup_simhash",
        "doc_fingerprint",
        "dedup_components",
        "corpus_quality_filter",
        "embedding_neardup",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "tile_algebra",
        "tile_render",
        "tile_export_projected",
        "tile_export_utm",
        "geo_extract_html",
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q6",
        "events_hourly",
        "events_hourly_stream",
        "events_hourly_stream_append",
        "events_funnel",
        "events_sessions",
        "events_top3_per_user",
        "events_rollup",
        "events_range_join",
        "text_repetition_filter",
        "corpus_split_assign",
    ]
    walls: dict[str, list[float]] = {n: [] for n in ["geo_pipeline", "geo_knn", *SUITE]}
    for _rep in range(2):
        walls["geo_pipeline"].append(run_geo_pipeline())
        walls["geo_knn"].append(run_geo_knn())
        for name in SUITE:
            spark.catalog.clearCache()  # isolate per-query timings
            t0 = time.time()
            materialize(Q.SPARK_QUERIES[name](spark, SF_DIR))
            walls[name].append(time.time() - t0)
    for name, ws in walls.items():
        # min over interleaved repeats: the interference-free estimate
        timings[name] = round(min(ws), 2)
    shutil.rmtree(work, ignore_errors=True)

    # corpus cardinality is exact by construction (docs x replicate): a
    # count() here would re-run the whole synthesis subtree a second time
    n_pages = (
        pq.ParquetFile(f"{SF_DIR}/documents.parquet").metadata.num_rows * REPLICATE
    )
    extras["pages"] = n_pages
    extras["pages_per_sec"] = round(n_pages / timings["geo_pipeline"], 1)
    extras["tiles_per_sec"] = round(extras["tiles"] / timings["geo_pipeline"], 2)

    total = round(sum(timings.values()), 2)
    print(
        json.dumps(
            {
                "metric": "geoproc_spark bench suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cpus": CPUS,
                "replicate": REPLICATE,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
