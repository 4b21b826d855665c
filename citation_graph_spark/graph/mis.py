"""Maximal independent set — deterministic-priority Luby rounds.

Luby's algorithm (1986): each round every active vertex draws a
priority; a vertex whose priority beats all active neighbors joins the
MIS, and it plus its neighbors leave the active set. Expected
O(log n) rounds. MIS is the building block for distributed symmetry
breaking — conflict-free scheduling, graph coloring seeds, landmark
selection — none of which the single-node reference can express over
its graph (its Neo4j layer serves lookups, not fixpoints).

Determinism contract (cross-engine, float-free): round r's priority is

    q_r(v) = (((v % P) * A_r + B_r) % P % M) * S + v
    P = 2147483647 (2^31-1),  A_r = 48271*r % P,  B_r = 16807*r % P,
    M = 2^23,  S = 2^40

— a Lehmer-style per-round hash folded to 23 bits, then made INJECTIVE
by packing the vid into the low 40 bits (assumes vid < 2^40, i.e. up
to ~10^12 vertices — the north-rule scale). All intermediates fit
int64 ((P-1)·(P-1) < 2^62; M·S = 2^63 is never reached since the hash
is < M), so the DuckDB recursive-CTE oracle replays the schedule
bit-exactly.

Scale posture: edges hash-partitioned on ``src`` once; each round is
two semi-joins of the edge set against the shrinking active set, one
neighbor-min groupBy (the round's shuffle), one anti-join. Winner
rows accumulate via per-round localCheckpoint; driver sees only
scalar counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import pin_edges, undirect
from citation_graph_spark.session import iterative_kernel

_P = 2147483647
_M = 8388608  # 2^23
_S = 1099511627776  # 2^40


def _q(col: F.Column, r: int) -> F.Column:
    a = 48271 * r % _P
    b = 16807 * r % _P
    return ((col % _P) * F.lit(a) + F.lit(b)) % _P % _M * F.lit(_S) + col


def mis_round_lineage(e: DataFrame, active: DataFrame, it: int) -> DataFrame:
    """One Luby round's winner plan — two semi-joins of the edge set
    against the active set, one neighbor-min groupBy, one left join —
    exposed so the plan audit / regressions can pin the shape the
    kernel loop materializes."""
    e_act = e.join(
        active.select(F.col("vid").alias("src")), "src", "left_semi"
    ).join(active.select(F.col("vid").alias("dst")), "dst", "left_semi")
    nbmin = e_act.groupBy("src").agg(
        F.min(_q(F.col("dst"), it)).alias("minq")
    )
    return (
        active.join(nbmin, active["vid"] == nbmin["src"], "left")
        .filter(F.col("minq").isNull() | (_q(F.col("vid"), it) < F.col("minq")))
        .select("vid")
    )


@iterative_kernel
def maximal_independent_set(
    edges: DataFrame,
    max_iter: int = 100,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(vid, in_mis, mis_round)`` over the edge-derived
    vertex set: ``in_mis`` 1 for members, ``mis_round`` the Luby round
    that admitted them (0 for non-members). Independence and
    maximality hold at the fixpoint; with a ``max_iter`` cap the
    result is the state after exactly that many synchronous rounds
    (which the SQL oracle mirrors)."""
    e, _, num_partitions = pin_edges(undirect(edges).select("src", "dst"))

    verts = (
        e.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    def step(it: int, st: tuple[DataFrame | None, DataFrame, int]):
        mis, active, n_active = st
        e_act = e.join(
            active.select(F.col("vid").alias("src")), "src", "left_semi"
        ).join(active.select(F.col("vid").alias("dst")), "dst", "left_semi")
        winners = mis_round_lineage(e, active, it).localCheckpoint(
            eager=True
        )
        n_win = winners.count()
        won = winners.withColumn("mis_round", F.lit(it).cast("long"))
        mis = won if mis is None else mis.unionByName(won)
        mis = mis.localCheckpoint(eager=True)
        removed_nb = (
            e_act.join(
                winners.select(F.col("vid").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("vid"))
            .distinct()
        )
        active = (
            active.join(winners, "vid", "left_anti")
            .join(removed_nb, "vid", "left_anti")
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_next = active.count()
        fields = {
            "winners": n_win,
            "active": n_next,
            "removed": n_active - n_next,
        }
        return (mis, active, n_next), fields, n_next == 0

    (mis, _, _), _, _ = run_rounds(
        step, (None, verts, verts.count()), kernel="mis",
        num_partitions=num_partitions, max_iter=max_iter,
        metrics_path=metrics_path,
    )

    e.unpersist()
    return verts.join(mis, "vid", "left").select(
        "vid",
        F.when(F.col("mis_round").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("in_mis"),
        F.coalesce("mis_round", F.lit(0)).cast("long").alias("mis_round"),
    )
