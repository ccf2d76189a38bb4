"""Structured Streaming twins of the batch windowed aggregates.

The reference has no streaming (request/response only, SURVEY.md §2.6) and
north_rule asks for resumable *batch* checkpoints — but the engine's
windowed aggregates are written so the same expressions run on a stream:
`run_hourly_stream` is the streaming twin of queries.events_hourly
(complete mode, memory sink) and `run_hourly_stream_append` its
production shape (watermark, append mode, file sink). Tests assert
batch/stream result equality (the real guarantee a lakehouse pipeline
cares about).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _drain_to_memory, _replay, _watermarked


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
    rows. Both hourly streams use 1 partition. Profiled (sf0.01 events,
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


_STREAM_CONFS = {
    "spark.sql.streaming.numRecentProgressUpdates": "10000",
    "spark.sql.shuffle.partitions": "1",
}


def run_hourly_stream(spark: SparkSession, events_dir: str, checkpoint_dir: str) -> DataFrame:
    """Run the hourly aggregate in complete mode as a stream over a parquet
    file or directory, and return the result as a local relation that owns
    its rows (`_drain_to_memory`)."""
    agg = hourly_agg(_replay(spark, events_dir, one_file_per_batch=False))
    with _scoped_conf(spark, _STREAM_CONFS):
        return _drain_to_memory(agg, "complete", checkpoint_dir, "hourly stream result")


def run_hourly_stream_append(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, out_dir: str
):
    """The PRODUCTION streaming shape (VERDICT r04 #2): watermarked
    APPEND-mode hourly aggregate into a file sink.

    Complete mode + memory sink (run_hourly_stream) is correct for a
    bounded replay but holds every window in the state store forever and
    collects results to the driver — both scale-killers on an unbounded
    feed. This variant bounds state with the WATERMARK on `ts`: a window
    is emitted EXACTLY ONCE when the watermark (max event time seen in
    completed micro-batches, minus the delay) passes its end, and its
    state is evicted. The file sink appends closed windows distributed,
    nothing transits the driver. One file per micro-batch; availableNow
    still runs a trailing no-data micro-batch, so on a bounded input every
    window whose end <= max(ts) - delay is closed and emitted; younger
    windows stay in state (exactly what a live feed would do).

    Returns (result DataFrame, state_metrics dict from the final progress:
    numRowsTotal / numRowsRemoved etc. — the observability a capacity plan
    needs)."""
    ev = _watermarked(_replay(spark, events_dir, one_file_per_batch=True))
    with _scoped_conf(spark, _STREAM_CONFS):
        q = (
            hourly_agg(ev)
            # back to the batch aggregate's NTZ type; wall-clock exact in UTC
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
