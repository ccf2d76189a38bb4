"""Stateful streaming: exactly-once event dedup via the state store.

`dropDuplicates` on a stream keeps seen keys in the checkpointed state
store; with a watermark the state is bounded (keys older than the watermark
age out). The batch twin is a plain `dropDuplicates` — tests pin equality.

At scale: the state store shards by key hash across executors and
checkpoints incrementally (RocksDB provider on a real cluster); the same
code handles a Kafka source by swapping `readStream.parquet` for
`readStream.format("kafka")`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tableformat import parquet_schema


def dedup_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_table: str = "dedup_stream_result",
    watermark: str = "2 hours",
) -> DataFrame:
    schema = parquet_schema(events_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches -> real state reuse
        .parquet(events_dir)
    )
    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (tz-aware); parquet delivers NTZ
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = stream.withWatermark("ts", watermark).dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


def user_profile_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_table: str = "user_profile_stream_result",
) -> DataFrame:
    """CUSTOM stateful operator via applyInPandasWithState: a running
    per-user profile (event count, value sum in exact cents, max value)
    carried in the checkpointed state store across micro-batches
    (maxFilesPerTrigger=1 forces several, so state genuinely persists and
    is re-read). Each batch emits the user's updated totals stamped with a
    monotonically increasing state version; the LATEST version per user
    must equal the batch groupBy exactly (pinned in tests).

    This is the applyInPandasWithState shape any custom streaming operator
    here takes (cell-level rollups, per-host crawl budgets): state is an
    explicit tuple the operator owns, not an aggregate Catalyst chose.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = parquet_schema(events_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("value_cents", F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .select("user_id", "value_cents")
    )

    out_schema = "user_id bigint, version int, n_events bigint, sum_cents bigint, max_cents bigint"
    state_schema = "n bigint, s bigint, m bigint, v int"

    def update(key, pdfs, state: GroupState):
        n, s, m, v = state.get if state.exists else (0, 0, None, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            s += int(pdf["value_cents"].sum())
            batch_max = int(pdf["value_cents"].max())
            m = batch_max if m is None else max(m, batch_max)
        v += 1
        state.update((n, s, m, v))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "version": [v],
                "n_events": [n],
                "sum_cents": [s],
                "max_cents": [m],
            }
        )

    profiled = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        profiled.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)
