"""Who releases what an operator call materializes.

One ownership rule, by what the returned DataFrame still reads:

1. An intermediate the result does not reference (a persisted edge list,
   the near/exact pair checkpoints, a superseded loop batch) is released
   by the call before it returns: `DataFrame.unpersist()` for a cache,
   `release_checkpoint_df` for a localCheckpoint.
2. A cache the result references lazily (LSH bands, cell-keyed pages, the
   dedup base table) goes through `swap_cache`: ONE cached lineage per
   operator key, each call unpersisting the previous call's cache. Evicting
   a cache only drops data that can be recomputed, so a result from an
   earlier call stays correct; it just recomputes.
3. A checkpoint that backs the result belongs to that DataFrame and is
   never released by a later call. Spark's ContextCleaner reclaims its
   blocks once the caller drops the result (see session.ENGINE_CONF's
   periodicGC interval).

Thread safety (ADVICE r02): bench.py and real pipelines run jobs on
threads, so the swap_cache registry swap is guarded by a lock — without it
two concurrent callers could both persist and leak one lineage, or one
could unpersist the other's cache mid-swap.
"""

from __future__ import annotations

import threading
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_LAST: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def swap_cache(key: str, df: DataFrame) -> DataFrame:
    # unpersist BEFORE persist: Spark keys its cache by plan, so when a
    # repeat call hands in the same plan, persist() is a no-op and a later
    # prev.unpersist() would evict the cache this call just asked for
    with _LOCK:
        prev = _LAST.get(key)
        _LAST[key] = df
        if prev is not None and prev is not df:
            try:
                prev.unpersist()
            except Py4JError:
                pass  # session stopped: its cache is gone with it
        return df.persist()


def release_checkpoint_df(df: DataFrame) -> None:
    """Drop the storage blocks behind a localCheckpointed DataFrame.

    localCheckpoint truncates lineage to an RDD leaf, so unlike a cache
    eviction this is TERMINAL: the blocks cannot be recomputed and any
    later action on a plan referencing them fails. Only call it on
    checkpoints that nothing can read anymore (rule 1 above).
    A DataFrame whose analyzed root is not a LogicalRDD (not a checkpoint,
    or a checkpoint with operators on top) releases nothing and warns.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() != "LogicalRDD":
            warnings.warn(
                f"release_checkpoint_df: analyzed root is {plan.nodeName()}, "
                "not a checkpoint's LogicalRDD; nothing released",
                stacklevel=2,
            )
            return
        plan.rdd().unpersist(False)
    except Py4JError:
        pass  # session stopped: its blocks are gone with it
