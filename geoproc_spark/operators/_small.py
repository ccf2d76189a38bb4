"""The bounded "small side" of a join, held on the driver.

Operators collect a side that is small by construction (a polygon layer,
a kNN or ANN query table, an export window grid, a near-dup pair graph),
expand it in numpy on the driver and ship the result back: spatial_join's
cell index and the query state of every top-k probe as broadcast
variables, projected_windows' window and window->tile tables and
connected_components' labels as local relations. A broadcast would
collect that side to the driver anyway, so there is no distributed
fallback; instead every such prep goes through this module and fails
loudly above one bound.

`ranked_probe` is the one top-k tail of knn_join and the four ANN
operators: one mapInPandas pass keeps a partial top-k per query and Arrow
batch, and one row_number window ranks the union. A scorer never holds
more than PAIR_BUDGET (row, query) values at once (`blocks`).

`frame` builds every driver-side table of the operator and plan layers as
ONE Arrow table: a JVM `LocalRelation` (`LocalTableScan`), where
`createDataFrame(list)` would scan a Python RDD through Python workers.

The bound is checked AFTER a plain collect(): `limit(MAX_ROWS + 1)` would
launch a second Spark job per call. The bytes of the collect itself are
already bounded by `spark.driver.maxResultSize` (1g default); MAX_ROWS
bounds the driver-side expansion and the broadcast relation that follow.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# A million rows of the widest prep table (7 ints) hold ~260 MB of Python
# tuples on the driver, and broadcast far below Spark's 8 GB build limit.
MAX_ROWS = 1_000_000

# (row, query) values one scorer block may hold: 4M float64/int64 cells are
# 32 MB per array, whatever the batch size and the query count.
PAIR_BUDGET = 4_000_000


def check(n: int, what: str, instead: str) -> None:
    """Raise ValueError when `n` rows of `what` exceed MAX_ROWS."""
    if n > MAX_ROWS:
        raise ValueError(
            f"{what}: {n:,} rows exceed the driver-side bound of "
            f"{MAX_ROWS:,} rows (operators._small.MAX_ROWS); {instead}"
        )


def collect(df: DataFrame, what: str, instead: str) -> list[Row]:
    """Collect a small input to the driver, bounded by MAX_ROWS."""
    rows = df.collect()
    check(len(rows), what, instead)
    return rows


def frame(
    spark: SparkSession, rows: list, ddl: str | T.StructType, what: str, instead: str
) -> DataFrame:
    """The local relation of driver-built `rows` (tuples or dicts keyed by
    field name), bounded by MAX_ROWS.

    No broadcast hint here: callers add F.broadcast at the join site,
    because a side that is preserved by an outer or anti join cannot be
    the broadcast build side."""
    check(len(rows), what, instead)
    schema = ddl if isinstance(ddl, T.StructType) else T.StructType.fromDDL(ddl)
    if rows and isinstance(rows[0], dict):
        rows = [tuple(r[n] for n in schema.names) for r in rows]
    cols = list(zip(*rows)) or [()] * len(schema)
    # collect() hands back a TIMESTAMP as a naive datetime in the driver's
    # local time zone, which pa.array would read as UTC: pass epoch micros
    ts = T.TimestampType()
    cols = [
        [ts.toInternal(v) for v in c] if isinstance(f.dataType, T.TimestampType) else c
        for c, f in zip(cols, schema)
    ]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


def blocks(n_rows: int, n_queries: int, budget: int) -> Iterator[tuple[slice, slice]]:
    """(row slice, query slice) blocks tiling an n_rows x n_queries score
    matrix, none larger than `budget` cells."""
    r = max(1, min(n_rows, budget))
    q = max(1, budget // r)
    for i in range(0, n_rows, r):
        for j in range(0, n_queries, q):
            yield slice(i, i + r), slice(j, j + q)


def ranked_probe(
    data: DataFrame,
    state: tuple,
    score: Callable[[tuple, pd.DataFrame, int], Iterator[pd.DataFrame]],
    schema: str,
    order: list[Column],
    k: int | Column,
) -> DataFrame:
    """Top-k per query of a broadcast probe over `data`.

    `state` (query ids first) is broadcast; every Arrow batch of `data` maps
    through `score(state, pdf, PAIR_BUDGET)` to frames of `schema` holding
    a partial top-k per query in `order`; one row_number window over
    `order` per query keeps rank <= k (a literal, or a column of `schema`).
    The first two fields of `schema` name the query and the row id, and the
    result is (query id, row id, rank). Exact whenever `order` is a total
    order: the union of the per-batch top-ks holds the global top-k."""
    spark = data.sparkSession
    qcol, rcol = T.StructType.fromDDL(schema).names[:2]
    if not len(state[0]):
        return frame(spark, [], f"{qcol} bigint, {rcol} bigint, rank int", "top-k", "")
    bc = spark.sparkContext.broadcast(state)
    budget = PAIR_BUDGET  # read on the driver: the workers see this value

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        for pdf in batches:
            yield from score(st, pdf, budget)

    w = Window.partitionBy(qcol).orderBy(*order)
    return (
        data.mapInPandas(probe, schema)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qcol, rcol, "rank")
    )
