"""Structured Streaming twins of the batch windowed aggregates.

The reference has no streaming (request/response only, SURVEY.md §2.6) and
north_rule asks for resumable *batch* checkpoints — but the engine's
windowed aggregates are written so the same expressions run on a stream:
`hourly_stream` is the streaming twin of queries.events_hourly, file-source
+ availableNow trigger + checkpointed sink. Tests assert batch/stream
result equality (the real guarantee a lakehouse pipeline cares about).

At scale: swap the file source for Kafka, add
`withWatermark("ts", "2 hours")` and append mode; the aggregation
expressions are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import _small
from ..sources.tableformat import parquet_schema


def hourly_agg(ev: DataFrame) -> DataFrame:
    """The shared aggregation — identical for batch and streaming inputs."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("sum_cents"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_cents")
    )


class _scoped_conf:
    """Temporarily pin session confs for a streaming query's lifetime (r6).

    Used for spark.sql.shuffle.partitions: a stateful stream's state-store
    partition count is the shuffle-partition value at first checkpoint.
    For a windowed aggregate the state keys are (window, event_type)
    pairs: the append stream's watermark bounds them to tens of rows, and
    the complete stream's state is what its memory sink collects, which
    `_small.collect` bounds. Every state partition writes a delta and a
    checksum file per micro-batch, so the session default (sized for
    corpus-wide shuffles) pays that I/O per partition for a handful of
    rows. Both streams default to 1 partition. Profiled (sf0.01 events,
    4 cores, rows identical to the batch aggregate): 32 -> 8 partitions
    took a call from 3.4 s to 1.9 s; 8 -> 1 took a warm complete-mode call
    from 1.11 to 0.74 s wall and 2.44 to 1.47 CPU-s (medians of 6
    interleaved calls). The pre-shuffle partial aggregation still runs at
    full input parallelism. The RocksDB state store at 1 partition read
    0.80 s and 1.29 CPU-s, better than the default provider in 3 of 6
    pairs either way: no gain, so it is not used.

    Also raises spark.sql.streaming.numRecentProgressUpdates where metrics
    are summed from recentProgress (ADVICE r05 low #2: the default keeps
    only 100 entries, silently undercounting numRowsRemoved/Updated on
    runs with >100 micro-batches)."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.prev = {}
        for k, v in self.confs.items():
            self.prev[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, old in self.prev.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)
        return False


def _stream_confs(state_partitions: int | None) -> dict[str, str]:
    confs = {"spark.sql.streaming.numRecentProgressUpdates": "10000"}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    return confs


def run_hourly_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_table: str = "hourly_stream_result",
    state_partitions: int | None = 1,
) -> DataFrame:
    """Run the hourly aggregate as a stream over a parquet directory with an
    availableNow trigger (process-everything-then-stop), checkpointed.

    Returns the result as a local relation that owns its rows: the memory
    sink's rows are taken (no Spark job — they already live on the
    driver) and its `out_table` view is dropped, so repeated calls leave
    no sink behind."""
    import os

    schema = parquet_schema(events_dir)
    if os.path.isfile(events_dir):
        # the streaming file source only takes directories: stream the
        # parent with a glob filter pinned to this one file
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", os.path.basename(events_dir))
            .parquet(os.path.dirname(events_dir))
        )
    else:
        stream = spark.readStream.schema(schema).parquet(events_dir)
    with _scoped_conf(spark, _stream_confs(state_partitions)):
        q = (
            hourly_agg(stream)
            .writeStream.format("memory")
            .queryName(out_table)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sink = spark.table(out_table)
    what, instead = "hourly stream result", "use run_hourly_stream_append"
    rows = _small.collect(sink, what, instead)
    spark.catalog.dropTempView(out_table)
    return _small.frame(spark, rows, sink.schema, what, instead)


def run_hourly_stream_append(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 hours",
    state_partitions: int | None = 1,
):
    """The PRODUCTION streaming shape (VERDICT r04 #2): watermarked
    APPEND-mode hourly aggregate into a file sink.

    Complete mode + memory sink (run_hourly_stream) is correct for a
    bounded replay but holds every window in the state store forever and
    collects results to the driver — both scale-killers on an unbounded
    feed. This variant bounds state with `withWatermark(ts, delay)`:
    a window is emitted EXACTLY ONCE when the watermark (max event time
    seen in completed micro-batches, minus the delay) passes its end, and
    its state is evicted. The file sink appends closed windows
    distributed, nothing transits the driver. availableNow still runs a
    trailing no-data micro-batch, so on a bounded input every window whose
    end <= max(ts) - delay is closed and emitted; younger windows stay in
    state (exactly what a live feed would do).

    Returns (result DataFrame, state_metrics dict from the final progress:
    numRowsTotal / numRowsRemoved etc. — the observability a capacity plan
    needs)."""
    import os

    schema = parquet_schema(events_dir)
    if os.path.isfile(events_dir):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", os.path.basename(events_dir))
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.dirname(events_dir))
        )
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_dir)
        )
    # watermarks need tz-aware TIMESTAMP; parquet carries NTZ. Session TZ
    # is UTC, so the cast (and the cast back on `hour` below) is wall-clock
    # exact and the batch oracle's buckets are unchanged.
    ev = stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    with _scoped_conf(spark, _stream_confs(state_partitions)):
        q = (
            hourly_agg(ev)
            .select(
                F.col("hour").cast("timestamp_ntz").alias("hour"),
                "event_type",
                "n_events",
                "sum_cents",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # numRowsTotal is a point-in-time gauge (last batch wins); the
    # removal/update counts are per-batch and must SUM across the run —
    # eviction happens in every micro-batch whose watermark closed windows
    state_metrics = {"numRowsRemoved": 0, "numRowsUpdated": 0}
    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        if ops:
            state_metrics["numRowsTotal"] = ops[0].get("numRowsTotal", 0)
            state_metrics["numRowsRemoved"] += ops[0].get("numRowsRemoved", 0)
            state_metrics["numRowsUpdated"] += ops[0].get("numRowsUpdated", 0)
    out_schema = (
        "hour timestamp_ntz, event_type string, n_events bigint, sum_cents bigint"
    )
    # eager localCheckpoint: materialize off the sink files so the caller
    # may delete out_dir/checkpoint_dir before consuming the result
    result = spark.read.schema(out_schema).parquet(out_dir).localCheckpoint()
    return result, state_metrics
