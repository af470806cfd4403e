"""Checkpoint/resume manifests with per-partition lineage + metrics.

North-rule requirement: every stage checkpoint-resumable with per-partition
lineage and rollup-point-count metrics. Design (Iceberg-degraded, works on
plain parquet):

- Each stage writes its output parquet under ``<root>/<stage>/data`` and a
  JSON manifest ``<root>/<stage>/manifest.json`` recording: stage name,
  input lineage (paths + row counts + upstream stage manifests' digests),
  output row count, per-partition row counts, and free-form metrics
  (e.g. DTW prune counters).
- ``run_stage`` skips recomputation when a manifest exists and its lineage
  digest matches — resume = rerun the driver; completed stages no-op.
  At 100 TB this is the difference between a 10h rerun and a 10s one.
- The manifest records the output's schema (DDL), and both the fresh and
  the resumed read use it: parquet inference would cost a job and retype
  partition directories (a string ``"007"`` reads back as the int 7). A
  manifest without a schema is recomputed, never read by inference.
- Row counts come from the footers of the files the write left, read on
  the driver, never from a re-read of the stage (a count job per stage).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

__all__ = ["CheckpointManager"]


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest plumbing -------------------------------------------------
    def _paths(self, stage: str):
        d = os.path.join(self.root, stage)
        return os.path.join(d, "data"), os.path.join(d, "manifest.json")

    def manifest(self, stage: str) -> Optional[dict]:
        _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    @staticmethod
    def _digest(obj) -> str:
        return hashlib.sha256(
            json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]

    # -- the stage runner --------------------------------------------------
    def run_stage(self, stage: str, fn: Callable[[], DataFrame],
                  lineage: dict | None = None,
                  metrics: dict | None = None,
                  partition_by: list | None = None) -> DataFrame:
        """Compute-or-resume: if a manifest for ``stage`` exists with the
        same lineage digest, read the checkpoint instead of recomputing.

        ``partition_by`` writes the checkpoint hive-partitioned (e.g.
        tier tables by day) so downstream retention/time-range predicates
        prune whole directories instead of scanning them."""
        data, mpath = self._paths(stage)
        lineage = lineage or {}
        ldigest = self._digest(lineage)
        m = self.manifest(stage)
        if (m is not None and m.get("lineage_digest") == ldigest
                and "schema" in m):
            return self.spark.read.schema(m["schema"]).parquet(data)
        if m is not None:
            # lineage changed: invalidate the OLD manifest before the
            # data dir is overwritten — a crash mid-write must not leave
            # a stale manifest pointing at the new lineage's (possibly
            # partial) data, which a later run with the old lineage
            # would silently resume from
            os.remove(mpath)
        t0 = time.time()
        df = fn()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data)
        schema = df.schema.toNullable().toDDL()
        per_part = _written_rows(data)
        man = {
            "stage": stage,
            "lineage": lineage,
            "lineage_digest": ldigest,
            "schema": schema,
            "rows": sum(per_part.values()),
            "partitions": [{"partition_id": n, "rows": rows}
                           for n, rows in sorted(per_part.items())],
            "metrics": metrics or {},
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1)
        os.replace(tmp, mpath)  # atomic publish = the _SUCCESS analog
        return self.spark.read.schema(schema).parquet(data)


_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _written_rows(data: str) -> dict:
    """Rows per write task of the parquet output under ``data``, from the
    footers of its ``part-NNNNN-*.parquet`` files (NNNNN the task number;
    ``partitionBy`` directories included). Tasks that wrote no rows are
    left out."""
    import pyarrow.parquet as pq

    rows: dict = {}
    for d, _, files in os.walk(data):
        for f in files:
            m = _PART_FILE.match(f)
            if m:
                n = int(m.group(1))
                rows[n] = rows.get(n, 0) + pq.read_metadata(
                    os.path.join(d, f)).num_rows
    return {n: r for n, r in rows.items() if r}
