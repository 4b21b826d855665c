"""Checkpoint/resume manager for iterative kernels.

Spark analog of the reference's file-based resume machinery
(src/citations/data_sources/utils.py:23-121 ``load_authors_state`` +
:234-269 ``save_checkpoint``; embed/openai.py:255-280 skip-done): each
durable checkpoint is a parquet snapshot of the vertex-state DataFrame
plus a JSON manifest recording iteration number and kernel metadata.
A killed job relaunches, reads the newest manifest, and continues from
that iteration — final results are identical (north rule: "resumable
from any checkpoint with per-partition lineage and iteration metrics").

Two truncation mechanisms, used together:
- ``localCheckpoint(eager=True)`` every iteration — cuts the logical
  plan so it doesn't grow O(iterations) (Catalyst has no fixpoint
  operator; unbounded lineage is the classic iterative-Spark failure).
- durable parquet every ``interval`` iterations — survives process
  death, enables resume.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    def __init__(self, root: str, kernel: str):
        self.root = os.path.join(root, kernel)
        os.makedirs(self.root, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def save(self, df: DataFrame, iteration: int, meta: dict | None = None) -> str:
        path = os.path.join(self.root, f"iter_{iteration:06d}")
        df.write.mode("overwrite").parquet(path)
        manifest = {
            "iteration": iteration,
            "path": path,
            "meta": meta or {},
            "partitions": df.rdd.getNumPartitions(),
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic publish
        # keep only the two newest durable snapshots
        snaps = sorted(d for d in os.listdir(self.root) if d.startswith("iter_"))
        for old in snaps[:-2]:
            shutil.rmtree(os.path.join(self.root, old), ignore_errors=True)
        return path

    def latest(self) -> dict | None:
        if not os.path.exists(self._manifest_path()):
            return None
        with open(self._manifest_path()) as f:
            return json.load(f)

    def load(self, spark: SparkSession) -> tuple[DataFrame, dict] | None:
        m = self.latest()
        if m is None or not os.path.exists(m["path"]):
            return None
        return spark.read.parquet(m["path"]), m

    def restore(
        self, spark: SparkSession, key: str, num_partitions: int
    ) -> tuple[DataFrame | None, int]:
        """Resume point: the newest snapshot hash-partitioned on ``key``
        at the kernel's width with its lineage cut, and the iteration it
        was saved at — ``(None, 0)`` when there is nothing to resume."""
        loaded = self.load(spark)
        if loaded is None:
            return None, 0
        df, manifest = loaded
        df = df.repartition(num_partitions, key).localCheckpoint(eager=True)
        return df, manifest["iteration"]
