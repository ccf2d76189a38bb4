"""Iceberg-style table layout: partitioned parquet + snapshot/manifest JSON.

No Iceberg runtime jar is installable in this sandbox (offline), so this is
a thin, honest stand-in with the metadata features the engine needs —
snapshot ids, schema, partition spec, per-file row counts, and time-travel
by snapshot — behind a two-function API (`write_table`/`read_table`) that a
real `spark.read.format("iceberg")` catalog can replace verbatim. The
analog of the reference's Redis map registry
(/root/reference/geoproc/server/app.py:22,30-52): durable named state
keyed by id, readable without recomputation.

Layout:
    <path>/data/snap-<n>/...        parquet (optionally partitioned), one
                                    immutable directory per snapshot
    <path>/metadata/snap-<n>.json   {schema, partition_spec, base, files[], summary}
    <path>/metadata/version-hint.text   latest snapshot number

Partitioned writes are hash-distributed by the partition columns (a
`rebalance` hint; Iceberg's default `write.distribution-mode=hash`), so
each partition value gets about one file, not one per upstream task: AQE
coalesces small partitions and splits skewed ones (hot cells). Reads take
the schema from the manifest, so no footer-inference job runs. That is
not the same as no job: when a snapshot has more files than
`spark.sql.sources.parallelPartitionDiscovery.threshold` (32), Spark
lists the file list with a distributed job of one task per path.

Commit ordering is Iceberg's write-data-then-commit: data files land in a
fresh snapshot-scoped directory first, the manifest second, the
version-hint pointer LAST — a crash at any point leaves the previous
snapshot fully readable (old snapshots are never touched; reclaiming them
is an expire-snapshots job, like Iceberg's).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, IntegerType, StructField, StructType


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _list_parquet(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def current_snapshot_id(path: str) -> int | None:
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    if not os.path.exists(hint):
        return None
    with open(hint) as fh:
        return int(fh.read().strip())


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    summary: dict[str, Any] | None = None,
) -> dict:
    """Write a snapshot; returns the manifest dict.

    Per-file row counts come from the parquet footers (no extra Spark job) —
    they are the per-partition lineage the pipeline layer records.

    Data files go to a fresh `data/snap-<n>/` directory BEFORE any metadata
    is written, and the version-hint pointer flips last — a forced re-run
    that crashes mid-write can never corrupt the currently-committed
    snapshot (the Iceberg commit protocol this layer emulates).

    Every snapshot is an overwrite: its file list is exactly this write's
    output. Append is not offered because it would need to merge the
    parent snapshot's file list into the new manifest (Iceberg's append
    commit) — without that merge, an append would silently produce a
    snapshot holding ONLY the appended rows (latent data loss, ADVICE r02).
    """
    prev = current_snapshot_id(path)
    snap_id = (prev or 0) + 1
    data = os.path.join(_data_dir(path), f"snap-{snap_id}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = df.hint("rebalance", *partition_by).write.mode("overwrite")
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data)

    files = []
    for f in _list_parquet(data):
        files.append(
            {
                "path": os.path.relpath(f, path),
                "rows": pq.ParquetFile(f).metadata.num_rows,
                "bytes": os.path.getsize(f),
            }
        )
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": prev,
        "created_ms": int(time.time() * 1000),
        "schema": df.schema.jsonValue(),
        "partition_spec": partition_by or [],
        "base": os.path.relpath(data, path),
        "files": files,
        "total_rows": sum(f["rows"] for f in files),
        "summary": summary or {},
    }
    os.makedirs(_meta_dir(path), exist_ok=True)
    with open(os.path.join(_meta_dir(path), f"snap-{snap_id}.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    # the commit point: everything above is invisible until this write
    with open(os.path.join(_meta_dir(path), "version-hint.text"), "w") as fh:
        fh.write(str(snap_id))
    return manifest


def parquet_schema(path: str) -> StructType:
    """The Spark schema of a parquet file or directory, read from a footer
    on the driver: handing it to `spark.read.schema(...)` or
    `spark.readStream.schema(...)` spares Spark its schema-inference job.

    A tz-less Arrow timestamp maps to `timestamp_ntz`, as Spark infers it.
    Directories are read as a dataset, which skips `_`/`.` files such as
    `_SUCCESS` and checksums; Hive-style `key=value` directories are not
    turned into columns, so use it on flat layouts only (snapshot tables
    take their schema from the manifest)."""
    schema = pads.dataset(path, format="parquet").schema
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def read_back_schema(schema: StructType, partition_by: list[str]) -> StructType:
    """The schema Spark infers for a parquet table written from `schema`
    with `partition_by` as `key=value` directories: a file source reads
    every field and array element as nullable, and the partition columns
    come last, typed int (the type of integer partition values). Handing
    it to `spark.read.schema(...)` spares Spark its inference job."""

    def nullable(t: DataType) -> DataType:
        return ArrayType(nullable(t.elementType), True) if isinstance(t, ArrayType) else t

    fields = [
        StructField(f.name, nullable(f.dataType), True, f.metadata)
        for f in schema
        if f.name not in partition_by
    ]
    return StructType(fields + [StructField(c, IntegerType(), True) for c in partition_by])


def read_manifest(path: str, snapshot: int | None = None) -> dict | None:
    snap_id = snapshot if snapshot is not None else current_snapshot_id(path)
    if snap_id is None:
        return None
    f = os.path.join(_meta_dir(path), f"snap-{snap_id}.json")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def read_table(spark: SparkSession, path: str, snapshot: int | None = None) -> DataFrame:
    """Read a snapshot (the current one, or `snapshot` for time travel).

    Always reads exactly the manifest's file list with `basePath` set to the
    snapshot's data directory, so Hive-style partition columns come back
    on current and time-travel reads.
    The schema, partition columns included, is the manifest's: Spark
    infers nothing from the parquet footers."""
    m = read_manifest(path, snapshot)
    if m is None:
        raise FileNotFoundError(f"no snapshot metadata under {path}")
    base = os.path.join(path, m.get("base", "data"))
    files = [os.path.join(path, f["path"]) for f in m["files"]]
    schema = StructType.fromJson(m["schema"])
    return spark.read.schema(schema).option("basePath", base).parquet(*files)


def table_exists(path: str) -> bool:
    return current_snapshot_id(path) is not None


def expire_snapshots(path: str, keep_last: int = 1) -> list[int]:
    """Delete data + metadata of all but the newest `keep_last` snapshots —
    the Iceberg expire_snapshots maintenance job. The current snapshot is
    always kept; returns the expired snapshot ids. Safe w.r.t. the commit
    protocol: the version-hint is never touched, and expired snapshots are
    removed metadata-first so a crash mid-expire leaves dangling data files
    (harmless garbage) rather than a manifest pointing at deleted data."""
    import shutil

    cur = current_snapshot_id(path)
    if cur is None:
        return []
    keep_last = max(1, keep_last)
    expired = []
    for snap_id in range(1, cur - keep_last + 1):
        meta = os.path.join(_meta_dir(path), f"snap-{snap_id}.json")
        if not os.path.exists(meta):
            continue
        with open(meta) as fh:
            m = json.load(fh)
        os.remove(meta)
        base = os.path.join(path, m.get("base", "data"))
        if os.path.realpath(base) != os.path.realpath(_data_dir(path)):
            shutil.rmtree(base, ignore_errors=True)
        expired.append(snap_id)
    return expired
