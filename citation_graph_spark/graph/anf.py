"""Approximate neighborhood function (ANF / HyperBall) and its exact
small-scale twin.

The reference serves interactive "how far does this paper's influence
reach" exploration (Bloom scene expansion, neo4j/loader.py fan-out);
the batch-analytics generalization over the whole graph is the
*neighborhood function* N(v, r) = |{u : dist(v, u) <= r}| — the
primitive behind effective-diameter and centrality estimates on
web-scale graphs.

Two implementations with identical row contracts ``(vid, r, ...)``:

- :func:`exact_balls` — the exact ball sizes by iterated distinct
  frontier expansion. Quadratic state (up to n^2 (v, u) pairs), so it
  is the CORRECTNESS twin: fine at oracle scale, not the 100-TB path.
- :func:`hyperball` — the HyperBall algorithm (Boldi & Vigna, "In-Core
  Computation of Geometric Centralities with HyperBall", 2013; public
  WebGraph literature): one HyperLogLog counter per vertex, advanced
  per round by taking the register-wise max over out-neighbors'
  counters. State is O(n * m_registers), per-round work is
  O(E * m_registers) rows with the vertex id as the only shuffle key —
  the canonical 10^12-edge neighborhood-function algorithm. Counters
  are kept SPARSE (one row per non-zero register) and entirely in
  built-in column expressions — no Python in the loop.

Determinism: the register hash is an explicit integer mix mod the
Mersenne prime 2^61 - 1 (not Spark's internal hash), so the pytest
oracle (tests/test_topology.py) replays the whole fixpoint bit-exactly
in numpy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import CheckpointManager, run_rounds
from citation_graph_spark.graph.degrees import auto_partitions
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import (
    iterative_kernel,
    shuffle_partitions_conf,
)

# HLL needs genuinely mixed bits: a linear map (v*A + B mod P) over
# DENSE vertex ids biases the trailing-zero distribution ~2x (measured
# in tests/test_topology.py's development history), so the register
# hash is Spark's built-in xxhash64 (seed 42, JVM-side, avalanching).
# The pytest replay re-implements xxHash64-of-one-long from the public
# spec and is asserted bit-equal to F.xxhash64.
_RHO_CAP = 40
_SIGN_MASK = 0x7FFFFFFFFFFFFFFF


def _register_cols(vid_col, log2m: int):
    """(idx, rho) register assignment for a vertex id column."""
    m = 1 << log2m
    # clear the sign bit -> uniform 63-bit value; idx from the low
    # bits, rho from the trailing-zero run of the rest
    h = F.xxhash64(vid_col.cast("long")).bitwiseAND(F.lit(_SIGN_MASK))
    idx = F.pmod(h, F.lit(m)).cast("int")
    z = F.shiftright(h, log2m)
    # rho = 1 + (# trailing zero bits of z); z & -z isolates the lowest
    # set bit, an exact power of two, so log2 of it is float-exact
    lowbit = z.bitwiseAND(-z)
    rho = F.when(z == 0, F.lit(_RHO_CAP)).otherwise(
        F.least(
            (F.log2(lowbit.cast("double")) + F.lit(1.0)).cast("int"),
            F.lit(_RHO_CAP),
        )
    )
    return idx, rho


@iterative_kernel
def exact_balls(
    edges: DataFrame,
    radius: int,
) -> DataFrame:
    """Exact out-ball sizes ``(vid, r, ball)`` for r = 0..radius over
    the DIRECTED edge set. State is the full reached-pair set — the
    oracle-scale twin of :func:`hyperball`, not a 100-TB operator."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct().persist()
    n_edges = e.count()
    num_partitions = auto_partitions(spark, n_edges)

    verts = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    ball = (
        verts.select(F.col("vid").alias("v"), F.col("vid").alias("u"))
        .repartition(num_partitions, "v")
        .localCheckpoint(eager=True)
    )

    def counts(ball: DataFrame, r: int) -> DataFrame:
        return ball.groupBy(F.col("v").alias("vid")).agg(
            F.count(F.lit(1)).alias("ball")
        ).withColumn("r", F.lit(r))

    def step(r: int, st: tuple[DataFrame, DataFrame]):
        ball, out = st
        grown = (
            ball.join(e, ball["u"] == e["src"])
            .select("v", F.col("dst").alias("u"))
        )
        ball = (
            ball.unionByName(grown)
            .distinct()
            .repartition(num_partitions, "v")
            .localCheckpoint(eager=True)
        )
        return (ball, out.unionByName(counts(ball, r))), {}, False

    (_, out), _, _ = run_rounds(
        step, (ball, counts(ball, 0)), kernel="exact_balls",
        num_partitions=num_partitions, max_iter=radius,
    )
    e.unpersist()
    return out.select("vid", "r", "ball")


def hyperball_round_lineage(e: DataFrame, regs: DataFrame) -> DataFrame:
    """One HyperBall round (pre-checkpoint lineage): pull successor
    registers across each edge, keep the register-wise max. Exposed
    for the plan-regression suite — the round must stay an equi-join
    plus one grouped max, never a cartesian shape."""
    pulled = e.join(regs, e["dst"] == regs["vid"]).select(
        e["src"].alias("vid"), "idx", "rho"
    )
    return (
        regs.unionByName(pulled)
        .groupBy("vid", "idx")
        .agg(F.max("rho").alias("rho"))
    )


@iterative_kernel
def hyperball(
    edges: DataFrame,
    radius: int,
    log2m: int = 6,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 2,
    resume: bool = False,
) -> DataFrame:
    """HyperBall: HLL-approximate out-ball sizes ``(vid, r, est)`` for
    r = 0..radius. Counters are sparse (vid, idx, rho) rows; one round
    is: join counters to in-edges of each vertex, union own counters,
    groupBy (vid, idx) max — vertex id is the only shuffle key, per
    round bytes are O(E * m) with m = 2^log2m registers.

    ``checkpoint_dir`` makes the run resumable (north rule): every
    ``checkpoint_interval`` rounds BOTH state tables — the sparse
    registers and the estimates accumulated so far — are snapshotted
    to parquet under paired manifests; ``resume=True`` reloads the
    newest pair and replays only the remaining rounds. Registers are
    integers, so the round-trip is exact and the resumed output is
    bit-identical to an uninterrupted run."""
    spark = edges.sparkSession
    metrics = MetricsLogger(metrics_path, "hyperball")
    ck_regs = (
        CheckpointManager(checkpoint_dir, "hyperball_regs")
        if checkpoint_dir
        else None
    )
    ck_est = (
        CheckpointManager(checkpoint_dir, "hyperball_est")
        if checkpoint_dir
        else None
    )
    m = 1 << log2m
    e = edges.select("src", "dst").distinct().persist()
    n_edges = e.count()
    num_partitions = auto_partitions(spark, n_edges)

    verts = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    idx, rho = _register_cols(F.col("vid"), log2m)

    # alpha_m * m^2 for the raw HLL estimate (Flajolet et al. 2007
    # constants; m >= 64 here so the m<64 special cases don't apply)
    alpha = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else 0.709
    regs = None

    def estimates(r: int) -> DataFrame:
        agg = regs.groupBy("vid").agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_nz"),
        )
        zeros = F.lit(m) - F.col("nnz")
        raw = F.lit(alpha * m * m) / (zeros + F.col("s_nz"))
        # linear-counting small-range correction
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
        ).otherwise(raw)
        return agg.select(
            "vid",
            F.lit(r).alias("r"),
            F.round(est).cast("long").alias("est"),
        )

    import time as _time

    start_r = 0
    out = None
    if ck_regs and resume:
        lr = ck_regs.load(spark)
        le = ck_est.load(spark)
        if (
            lr is not None
            and le is not None
            and lr[1]["iteration"] == le[1]["iteration"]
        ):
            start_r = lr[1]["iteration"]
            regs = (
                lr[0]
                .select("vid", "idx", "rho")
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )
            out = (
                le[0].select("vid", "r", "est").localCheckpoint(eager=True)
            )
            if start_r >= radius:
                e.unpersist()
                return out
    if out is None:
        regs = (
            verts.select("vid", idx.alias("idx"), rho.alias("rho"))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        out = estimates(0)
    with shuffle_partitions_conf(spark, num_partitions):
        for r in range(start_r + 1, radius + 1):
            t0 = _time.monotonic()
            regs = (
                hyperball_round_lineage(e, regs)
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )
            out = out.unionByName(estimates(r))
            metrics.log(
                r,
                wall_s=round(_time.monotonic() - t0, 4),
                msgs=n_edges,
            )
            if ck_regs and (
                r % checkpoint_interval == 0 or r == radius
            ):
                meta = {"log2m": log2m, "radius": radius}
                ck_regs.save(regs, r, meta=meta)
                ck_est.save(out, r, meta=meta)
                # reading the just-written estimates back caps the
                # union lineage at checkpoint_interval rounds
                le = ck_est.load(spark)
                out = le[0].select("vid", "r", "est")
    e.unpersist()
    return out.select("vid", "r", "est")
