"""SparkSession factory with scale-oriented defaults.

Single place where engine-relevant Spark configuration lives so tests,
bench harness and spark-submit entry points agree. Defaults are tuned
for correctness-at-scale first:

- AQE on (runtime re-planning, skew-join splitting) — power-law vertex
  degree is a first-class concern for link graphs.
- Arrow transport on for every pandas UDF (the extraction stage is a
  vectorized pandas UDF; per-row Python is banned by design).
- shuffle partitions sized to the parallelism level, not the 200
  default: the iterative kernels repartition edges ONCE and keep vertex
  state co-partitioned, so oversized shuffles only add task overhead.
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def shuffle_partitions_conf(spark: SparkSession, num_partitions: int):
    """Pin ``spark.sql.shuffle.partitions`` for a kernel's duration.

    The iterative kernels repartition their big frames to a
    data-proportional count (graph.degrees.auto_partitions), but every
    groupBy/join INSIDE the round still shuffles at the session default
    — on a small graph that misaligns partitioning (forcing an extra
    exchange per join) and pays a session-width task launch per tiny
    shuffle.  Setting the session value to the kernel's own count for
    the loop's duration aligns both; restored on exit.  At scale
    auto_partitions caps at the session setting, so this is a no-op on
    a big graph."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextmanager
def iterative_kernel_conf(spark: SparkSession):
    """AQE off for the duration of an iterative kernel.

    AQE re-plans every stage at runtime; on a fixpoint loop that is a
    per-round scheduling tax with nothing to re-plan (both join sides
    are cached with known sizes, partitioning is pinned by the kernel).
    Measured: 13% per-round win on the 346k-edge bench graph; the
    standalone-cluster scaling job ships with the same setting. Restored
    on exit so interactive/one-shot queries keep runtime re-planning."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def iterative_kernel(fn):
    """Decorator: run a graph kernel under ``iterative_kernel_conf``,
    on the session of the kernel's first DataFrame argument — the one
    place the kernels' conf policy is applied."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        df = next(
            a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)
        )
        with iterative_kernel_conf(df.sparkSession):
            return fn(*args, **kwargs)

    return run


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "citation-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    under ``spark-submit --py-files`` on a real cluster the master is
    inherited from the launch environment and ``master=None`` leaves it
    alone.
    """
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # JVM memory flags are EMPIRICAL on this sandbox host and the host
    # changes regimes. History: an early regime had a slow page-fault
    # path (a growing 24g heap made a 1s job take 46s), fixed then by
    # -Xms == -Xmx + AlwaysPreTouch (fault every page once at start).
    # The late-round-4 regime INVERTED that: pre-touched pages appear
    # to be reclaimed/deduplicated behind the guest's back (zero-page
    # KSM-style), so first REAL writes re-fault through the slow path
    # mid-job — a controlled A/B (bench_out/extract_ab_jvm.json) put
    # the 32-thread extraction stage at 66-109 s with
    # -Xms24g+AlwaysPreTouch vs 18-19 s with a plain -Xmx24g heap,
    # proportional to heap size (12g pre-touch: 38-61 s). Default is
    # therefore a plain grow-on-demand heap; set SPARK_GRAFT_JVM_OPTS
    # to override (e.g. restore pre-touch if the host regime flips
    # back). ParallelGC stays: it does not uncommit, so pages fault at
    # most once either way.
    java_opts = os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC")
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE coalescing collapses post-shuffle partitions to a 64MB
        # byte target that doesn't model Arrow/Python stage cost —
        # measured 2.9x extraction slowdown (86s -> 30s on the 300k-doc
        # corpus). Skew-join and runtime re-planning stay on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # iterative kernels re-join the same cached sides every round;
        # hash join skips SMJ's per-round re-sort of 10^7-row inputs
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # iterative kernels checkpoint through this dir (lineage truncation)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
