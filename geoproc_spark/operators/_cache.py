"""Who releases what an operator call materializes.

One ownership rule, by what the returned DataFrame still reads:

1. An intermediate the result does not reference (dedup_components'
   persisted LSH bands) is released by the call before it returns, with
   `DataFrame.unpersist()`.
2. A cache the result references lazily (lsh_candidate_pairs' LSH bands,
   the dedup_components base table) goes through `swap_cache`: ONE cached
   lineage per operator key, each call unpersisting the previous call's
   cache. Evicting a cache only drops data that can be recomputed, so a
   result from an earlier call stays correct; it just recomputes.
3. A checkpoint that backs the result (windowed.run_hourly_stream_append's
   localCheckpoint of its sink files) belongs to that DataFrame and is
   never released by a later call. Spark's ContextCleaner reclaims its
   blocks once the caller drops the result (see session.ENGINE_CONF's
   periodicGC interval). The memory-sink streams return a local relation
   that holds its own rows, so nothing is left to release.

Thread safety (ADVICE r02): bench.py and real pipelines run jobs on
threads, so the swap_cache registry swap is guarded by a lock — without it
two concurrent callers could both persist and leak one lineage, or one
could unpersist the other's cache mid-swap.
"""

from __future__ import annotations

import threading

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

