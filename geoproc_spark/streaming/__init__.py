"""Structured Streaming replays of the events table.

Every runner reads the table as a stream of its files (`_replay`) and
drains it with an availableNow trigger: process what is there, then stop,
checkpointed. The memory-sink runners return their rows through
`_drain_to_memory`; `windowed.run_hourly_stream_append` writes a file sink.

At scale: swap the parquet file source for a Kafka source; the queries
are unchanged.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import _small
from ..sources.tableformat import parquet_schema

# How late an event may arrive, in event time, for every watermarked
# runner; the events_hourly_stream_append oracle closes windows at
# max(ts) minus this delay.
WATERMARK = "2 hours"


def _replay(spark: SparkSession, events_dir: str, one_file_per_batch: bool) -> DataFrame:
    """The parquet file or directory `events_dir` as a stream, with the
    schema of its footer (no inference job). The file source only takes
    directories, so a file streams its parent through a glob filter pinned
    to its name. `one_file_per_batch` sets maxFilesPerTrigger=1: one
    micro-batch per file, so state is carried and re-read across batches."""
    reader = spark.readStream.schema(parquet_schema(events_dir))
    if os.path.isfile(events_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(events_dir))
        events_dir = os.path.dirname(events_dir)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(events_dir)


def _watermarked(stream: DataFrame) -> DataFrame:
    """`stream` with a WATERMARK on `ts`. Watermarks need a tz-aware
    TIMESTAMP and parquet carries NTZ; the session time zone is UTC, so
    the cast keeps every wall-clock value."""
    return stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", WATERMARK
    )


def _drain_to_memory(df: DataFrame, mode: str, checkpoint_dir: str, what: str) -> DataFrame:
    """Run the streaming `df` to completion into a memory sink in output
    `mode` and return its rows as a local relation that owns them.

    The sink's rows already live on the driver, so taking them runs no
    Spark job; its view is dropped before returning, also on failure, so a
    call leaves no view or rows behind in the session. Raises ValueError
    above `_small.MAX_ROWS` rows."""
    spark = df.sparkSession
    name = f"stream_sink_{uuid.uuid4().hex}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    instead = "write the stream to a file sink, as run_hourly_stream_append does"
    try:
        q.awaitTermination()
        sink = spark.table(name)
        rows = _small.collect(sink, what, instead)
    finally:
        spark.catalog.dropTempView(name)
    return _small.frame(spark, rows, sink.schema, what, instead)
