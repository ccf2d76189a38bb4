"""geoproc_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch distributed re-imagining of the capabilities of
munshkr/geoproc (reference: /root/reference — a single-node lazy
raster-algebra client/server) as an idiomatic Spark DataFrame system
over web-page corpora:

- deterministic coordinate extraction from text (Arrow-vectorized UDFs)
- Web-Mercator quadkey + S2-style cell encoding (closed-form numpy / JVM
  column expressions)
- point-in-polygon spatial joins (covering-cell equi-join + exact
  ray-cast refine, salting for hot cells)
- exact kNN as one broadcast top-k pass (partition-local top-k, one merge)
- raster<->vector tiling with geoproc-parity image algebra
  (float64 promotion, mask union via np.maximum — see
  /root/reference/geoproc/server/image.py:295-315)
- training-data pipeline ops: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), ANN similarity search, text
  quality scoring, language id, document fingerprinting
- checkpointed, resumable batch stages with per-partition lineage and
  metrics (Iceberg-style table layout: partitioned parquet +
  snapshot/manifest JSON)
"""

__version__ = "0.1.0"

import sys as _sys

if _sys.version_info < (3, 13):
    from pyspark import TaskContext as _TaskContext

    # Inside a Python worker task: each library UDF imports this package
    # when the worker unpickles it, so this runs once per worker process and
    # never on the driver. See `_worker.py` for what it saves.
    if _TaskContext.get() is not None:
        from geoproc_spark._worker import install as _install

        _install()
