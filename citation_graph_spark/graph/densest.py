"""Densest-subgraph peeling — parallel Charikar (Bahmani et al. 2012).

Charikar's peel gives a 2-approximation of the maximum-density
subgraph (density rho = |E|/|V|) by repeatedly removing the minimum-
degree vertex; Bahmani, Kumar & Vassilvitskii's MapReduce variant
removes ALL vertices with degree <= 2(1+eps)·rho per round, keeps the
2(1+eps) guarantee, and terminates in O(log_{1+eps} n) synchronous
rounds — exactly the shape a 1000-executor cluster wants. The densest
core of a citation graph is its review/textbook nucleus; on a web
link graph it is the spam-farm detector (Gibson et al. 2005).

Determinism contract: every round's threshold test is pure int64
arithmetic — keep v iff ``10·deg(v)·V > 11·E_sym`` (eps = 1/10,
E_sym = 2·|E|) — so the DuckDB recursive-CTE oracle replays the
schedule bit-exactly; densities are micro-quantized by integer
division.

Scale posture: state is the shrinking symmetric edge set, hash-
partitioned on ``src`` once per round via localCheckpoint; each round
is one degree groupBy (the round's shuffle) + two semi-joins of edges
against the surviving-vertex set. Driver sees only 3 scalars per
round (V, E, density). Rounds are O(log n) by construction — at
10^12 edges with eps=0.1 that is ~300 rounds worst case, typically
tens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import auto_partitions, undirect
from citation_graph_spark.session import iterative_kernel

# eps = 1/10: keep v iff EPS_NUM * deg(v) * V > EPS_DEN * E_sym,
# i.e. deg(v) > 2(1+eps) * |E|/|V|  with  2(1+eps) = 22/10 = EPS_DEN/EPS_NUM
_EPS_NUM = 10
_EPS_DEN = 11  # NB: vs E_sym = 2|E|, so the pair encodes 22/10 vs |E|


def peel_round_lineage(
    alive: DataFrame, deg: DataFrame, n_v: int, n_sym: int
) -> DataFrame:
    """One peel round's surviving-edge plan — int64-threshold filter
    over the (already materialized) degree table + two semi-joins —
    exposed for the plan audit / regressions."""
    keep = deg.filter(
        F.col("deg") * F.lit(_EPS_NUM * n_v) > F.lit(_EPS_DEN * n_sym)
    ).select("src")
    return alive.join(keep, "src", "left_semi").join(
        keep.select(F.col("src").alias("dst")), "dst", "left_semi"
    )


def densest_subgraph_rounds(
    edges: DataFrame,
    max_iter: int = 100,
    metrics_path: str | None = None,
) -> DataFrame:
    """Run the peel to exhaustion (or ``max_iter``) and return one row
    per round: ``(round, n_vertices, n_edges, density_micro, is_best)``
    where the metrics describe the surviving subgraph at the START of
    the round and ``is_best`` marks the first round achieving the
    maximum density — the 2(1+eps)-approximate densest subgraph is the
    survivor set entering that round (see
    :func:`densest_subgraph_vertices`)."""
    rows, _ = _peel(edges, max_iter, metrics_path, keep_snapshots=False)
    spark = edges.sparkSession
    best_density = max(r[3] for r in rows)
    best_round = min(r[0] for r in rows if r[3] == best_density)
    out = [(r[0], r[1], r[2], r[3], 1 if r[0] == best_round else 0) for r in rows]
    return spark.createDataFrame(
        out,
        "round long, n_vertices long, n_edges long, "
        "density_micro long, is_best long",
    )


def densest_subgraph_vertices(
    edges: DataFrame,
    max_iter: int = 100,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(vid: long)`` — the survivor set at the best-density
    round (the 2(1+eps)-approximate densest subgraph)."""
    rows, snapshots = _peel(edges, max_iter, metrics_path, keep_snapshots=True)
    best_density = max(r[3] for r in rows)
    best_round = min(r[0] for r in rows if r[3] == best_density)
    return snapshots[best_round]


@iterative_kernel
def _peel(
    edges: DataFrame,
    max_iter: int,
    metrics_path: str | None,
    keep_snapshots: bool,
):
    spark = edges.sparkSession
    und0 = undirect(edges).select("src", "dst").persist()
    n_sym = und0.count()
    num_partitions = auto_partitions(spark, n_sym)
    alive = (
        und0.repartition(num_partitions, "src").localCheckpoint(eager=True)
    )
    und0.unpersist()

    rows: list[tuple[int, int, int, int]] = []
    snapshots: dict[int, DataFrame] = {}

    def step(it: int, alive: DataFrame):
        # the round's one aggregation: surviving degree + V in one pass
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        deg = deg.localCheckpoint(eager=True)
        n_v = deg.count()
        if n_v == 0:
            return alive, {"vertices": 0}, True
        n_sym = alive.count()
        density_micro = 1_000_000 * (n_sym // 2) // n_v
        rows.append((it, n_v, n_sym // 2, density_micro))
        if keep_snapshots:
            snapshots[it] = deg.select(F.col("src").alias("vid"))
        # keep v iff 10*deg*V > 11*E_sym — pure int64, oracle-identical
        alive = (
            peel_round_lineage(alive, deg, n_v, n_sym)
            .repartition(num_partitions, "src")
            .localCheckpoint(eager=True)
        )
        n_next = alive.count()
        fields = {
            "vertices": n_v,
            "sym_edges": n_sym,
            "density_micro": density_micro,
        }
        return alive, fields, n_next == 0

    run_rounds(
        step, alive, kernel="densest_subgraph", num_partitions=num_partitions,
        max_iter=max_iter, metrics_path=metrics_path,
    )
    return rows, snapshots
