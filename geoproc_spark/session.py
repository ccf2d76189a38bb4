"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses local[$SPARK_GRAFT_CPUS]; on a real cluster the
same code runs via `spark-submit --py-files geoproc_spark.zip` with no
changes (all parallelism comes from partitioning, never from local
assumptions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    # AQE: runtime coalescing + skew-join splitting are part of the
    # engine's skew story (explicit salting is the other part).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF boundary (input_hint: no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # Deterministic parquet scans regardless of file layout.
    "spark.sql.files.maxPartitionBytes": "128m",
    # zstd parquet (guide §6/§9): ~40% smaller than snappy on this text
    # corpus (139 -> 84 MB at sf0.1 pages) at neutral local wall — fewer
    # bytes through disk, page cache and network at every scale. A/B'd
    # interleaved: extract+write and join||tiles within noise, strictly
    # less I/O.
    "spark.sql.parquet.compression.codec": "zstd",
    # Long-lived sessions run MANY queries: unreferenced broadcasts,
    # shuffle files, RDD metadata and the localCheckpoints that back
    # returned results (they belong to the result, see operators/_cache)
    # are only released when the ContextCleaner sees a JVM GC — it is the
    # release path for result-owned checkpoints. The default periodic-GC interval
    # (30 min) exceeds a whole bench/pipeline session — profiled as a
    # monotonic repeat-over-repeat slowdown that a forced System.gc()
    # reproducibly removed (r6). 2 min keeps the cleaner's backlog bounded
    # (vs a whole session under the default) without firing a full GC
    # inside every short query; the same setting is standard hygiene for
    # long-running drivers on real clusters.
    "spark.cleaner.periodicGC.interval": "2min",
    # One compile per plan per session. Spark keeps the classes that
    # codegen compiles in a cache of 100 entries by default. It is a Guava
    # cache split into 4 segments that each evict on their own share of
    # the limit, so it needs about 2x headroom over the working set. The
    # 50 driver queries generate 477 distinct classes (sf0.01, one
    # session), and the first tiles_and_queries benchmark round compiles
    # 96, so under the default each warm round evicted and recompiled
    # 30-45 of its own classes (Janino, then the JIT again). 1024 holds the 477: a warm pass
    # over the 50 compiles 0 (499 under the default). Cost: 2-3 MB more
    # Metaspace after a full GC (about 200 MB in all).
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "geoproc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Start (or return) the session with `ENGINE_CONF`, overridden by
    `extra_conf`.

    Static SQL confs such as `spark.sql.codegen.cache.maxEntries` are
    fixed by the first session in a JVM: `getOrCreate` on a running
    session does not change them. The builder sets them here, before any
    codegen runs."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
