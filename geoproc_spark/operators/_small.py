"""The bounded "small side" of a join, held on the driver.

Three operators collect a side that is small by construction (a polygon
layer, a kNN query table, an export window grid), expand it in numpy on
the driver and ship the result back: spatial_join's cell index as a
broadcast variable, knn_join's ring and cover cells and projected_windows'
window and window->tile tables as local relations. A broadcast would
collect that side to the driver anyway, so there is no distributed
fallback; instead every such prep goes through this module and fails
loudly above one bound.

`frame` builds every driver-side table of the operator and plan layers as
ONE Arrow table: a JVM `LocalRelation` (`LocalTableScan`), where
`createDataFrame(list)` would scan a Python RDD through Python workers.

The bound is checked AFTER a plain collect(): `limit(MAX_ROWS + 1)` would
launch a second Spark job per call. The bytes of the collect itself are
already bounded by `spark.driver.maxResultSize` (1g default); MAX_ROWS
bounds the driver-side expansion and the broadcast relation that follow.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# A million rows of the widest prep table (7 ints) hold ~260 MB of Python
# tuples on the driver, and broadcast far below Spark's 8 GB build limit.
MAX_ROWS = 1_000_000


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
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
