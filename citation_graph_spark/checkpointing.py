"""Checkpoint/resume manager and the round loop of the iterative kernels.

Spark analog of the reference's file-based resume machinery
(src/citations/data_sources/utils.py:23-121 ``load_authors_state`` +
:234-269 ``save_checkpoint``; embed/openai.py:255-280 skip-done): each
durable checkpoint is a parquet snapshot of the vertex-state DataFrame
plus a JSON manifest recording iteration number and the kernel's
result-defining parameters. A killed job relaunches, reads the newest
manifest, and continues from that iteration — final results are
identical (north rule: "resumable from any checkpoint with
per-partition lineage and iteration metrics").

``run_rounds`` is the one fixpoint loop: a kernel hands it its round
function and it owns everything around the round — the in-loop shuffle
width, the per-round timing and metrics record, the summary record and
the durable-snapshot cadence. ``resume_point`` opens a kernel's
manager and its restored state in one call.

Two truncation mechanisms, used together:
- ``localCheckpoint`` every round (inside the kernel's round function)
  — cuts the logical plan so it doesn't grow O(iterations) (Catalyst
  has no fixpoint operator; unbounded lineage is the classic
  iterative-Spark failure).
- durable parquet every ``interval`` rounds and at loop exit — survives
  process death, enables resume.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import shuffle_partitions_conf

log = logging.getLogger(__name__)

S = TypeVar("S")


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
        self,
        spark: SparkSession,
        key: str,
        num_partitions: int,
        params: dict | None = None,
    ) -> tuple[DataFrame | None, int]:
        """Resume point: the newest snapshot hash-partitioned on ``key``
        at the kernel's width with its lineage cut, and the iteration it
        was saved at — ``(None, 0)`` when there is nothing to resume, or
        when the snapshot was taken under other values of ``params``
        (the state would answer a different question; logged)."""
        loaded = self.load(spark)
        if loaded is None:
            return None, 0
        df, manifest = loaded
        saved = manifest["meta"]
        stale = {
            k: (saved.get(k), v)
            for k, v in (params or {}).items()
            if saved.get(k) != v
        }
        if stale:
            log.warning(
                "%s: snapshot at iteration %d has other parameters "
                "(saved, requested): %s; starting cold",
                self.root, manifest["iteration"], stale,
            )
            return None, 0
        df = df.repartition(num_partitions, key).localCheckpoint(eager=True)
        return df, manifest["iteration"]


def resume_point(
    spark: SparkSession,
    checkpoint_dir: str | None,
    kernel: str,
    resume: bool,
    key: str,
    num_partitions: int,
    params: dict | None = None,
) -> tuple[CheckpointManager | None, DataFrame | None, int]:
    """``(manager, restored state, start iteration)`` for a kernel
    call: no manager without ``checkpoint_dir``, and ``(None, 0)`` for
    the state unless ``resume`` finds a snapshot taken under the same
    ``params`` (see ``CheckpointManager.restore``)."""
    ckpt = CheckpointManager(checkpoint_dir, kernel) if checkpoint_dir else None
    if ckpt is None or not resume:
        return ckpt, None, 0
    return (ckpt, *ckpt.restore(spark, key, num_partitions, params))


def run_rounds(
    step: Callable[[int, S], tuple[S, dict, bool]],
    state: S,
    *,
    kernel: str,
    num_partitions: int,
    max_iter: int,
    start: int = 0,
    metrics_path: str | None = None,
    ckpt: CheckpointManager | None = None,
    interval: int = 1,
    params: dict | None = None,
    snapshot: Callable[[S, int], DataFrame] = lambda s, it: s,
    throughput: str | None = None,
) -> tuple[S, int, bool]:
    """Run ``step(it, state) -> (state, fields, done)`` for rounds
    ``start + 1 .. max_iter`` until it reports ``done``; returns the
    final state, the last round number and ``done``.

    ``step`` does the round's Spark work; everything around it lives
    here:
    - the loop runs under ``shuffle_partitions_conf(num_partitions)``,
      so in-loop groupBys and joins shuffle at the kernel's
      data-proportional width (restored on return or raise);
    - each round is timed and logged as one ``kernel`` metrics record
      ``(iteration, wall_s, **fields)`` — plus ``<throughput>_per_sec``
      when ``throughput`` names a round field — and the loop ends with
      one ``iteration=-1`` summary record (``iterations`` run by this
      call, ``total_wall_s``, ``iters_per_sec``);
    - with a ``ckpt``, ``snapshot(state, it)`` (default: the state
      itself) is saved durably as round ``it`` at every
      ``interval``-th round and at loop exit — at most once per round —
      with ``params`` and ``converged`` (= ``done``) in the manifest.

    The helper adds no Spark action: the round's actions are the
    step's own. A step that cuts its state's lineage AND collects a
    convergence statistic should checkpoint lazily
    (``localCheckpoint(eager=False)``) so that the statistic's action
    materializes it — one action per round instead of two. An action
    is not one job: on the batch benchmark (seed 201) pagerank runs 39
    jobs for 14 rounds, because tables under the session's 32 MB
    ``spark.sql.autoBroadcastJoinThreshold`` are broadcast every round.
    """
    metrics = MetricsLogger(metrics_path, kernel)
    it, done, total = start, False, 0.0
    with shuffle_partitions_conf(SparkSession.active(), num_partitions):
        while it < max_iter and not done:
            t0 = time.monotonic()
            state, fields, done = step(it + 1, state)
            it += 1
            wall = time.monotonic() - t0
            total += wall
            rec = {**fields, "wall_s": round(wall, 4)}
            if throughput is not None:
                rec[f"{throughput}_per_sec"] = (
                    round(fields[throughput] / wall, 1) if wall > 0 else None
                )
            metrics.log(it, **rec)
            if ckpt and (it % interval == 0 or done or it == max_iter):
                meta = {**(params or {}), "converged": bool(done)}
                ckpt.save(snapshot(state, it), it, meta)
    rounds = it - start
    metrics.log(
        -1,
        iterations=rounds,
        total_wall_s=round(total, 4),
        iters_per_sec=round(rounds / total, 3) if total else None,
    )
    return state, it, done
