"""Stateful streaming: exactly-once event dedup and a custom per-user
operator, both over the checkpointed state store.

`dropDuplicates` on a stream keeps seen keys in the state store; with a
watermark the state is bounded (keys older than the watermark age out).
The batch twin is a plain `dropDuplicates` — tests pin equality.

At scale: the state store shards by key hash across executors and
checkpoints incrementally (RocksDB provider on a real cluster). Both
runners keep the session's shuffle-partition count as their state
partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _drain_to_memory, _replay, _watermarked


def dedup_stream(spark: SparkSession, events_dir: str, checkpoint_dir: str) -> DataFrame:
    """The events with duplicate `event_id`s dropped, one file per
    micro-batch so seen keys are carried across batches; `ts` comes back
    as a tz-aware TIMESTAMP (the watermark's type)."""
    deduped = _watermarked(_replay(spark, events_dir, one_file_per_batch=True))
    return _drain_to_memory(
        deduped.dropDuplicates(["event_id"]), "append", checkpoint_dir, "stream dedup result"
    )


def user_profile_stream(spark: SparkSession, events_dir: str, checkpoint_dir: str) -> DataFrame:
    """CUSTOM stateful operator via applyInPandasWithState: a running
    per-user profile (event count, value sum in exact cents, max value)
    carried in the checkpointed state store across micro-batches (one
    file per batch, so state genuinely persists and is re-read). Each
    batch emits the user's updated totals stamped with a monotonically
    increasing state version; the LATEST version per user must equal the
    batch groupBy exactly (pinned in tests).

    This is the applyInPandasWithState shape any custom streaming operator
    here takes (cell-level rollups, per-host crawl budgets): state is an
    explicit tuple the operator owns, not an aggregate Catalyst chose.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _replay(spark, events_dir, one_file_per_batch=True).select(
        "user_id", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("value_cents")
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
    return _drain_to_memory(profiled, "update", checkpoint_dir, "user profile stream result")
