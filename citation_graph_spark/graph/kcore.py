"""k-core decomposition — synchronous peeling.

The k-core of a graph is the maximal subgraph in which every vertex
has degree ≥ k; it is the standard structural filter for link graphs
(dense-community extraction, spam/boilerplate pruning in web-scale
citation and hyperlink graphs). The reference surfaces graph density
only through its clustering views; k-core makes it a first-class
result table, consistent with the engine's other fixpoint kernels.

Algorithm: synchronous peel rounds. Each round computes every
surviving vertex's degree counting only surviving neighbors, then
drops all vertices below k at once. The surviving set shrinks
monotonically; the fixpoint is the k-core. Synchronous rounds (rather
than sequential peeling) make the result independent of any vertex
order and let both engines (Spark and the DuckDB recursive-CTE
oracle in operators/graphq.py) run the identical schedule.

Scale posture: edges cached hash-partitioned on ``src`` once; each
round is two semi-joins against the shrinking alive set (alive is
vertex-sized and shrinks — the cheap side) plus one groupBy count (the
round's one shuffle). Per-round ``localCheckpoint`` truncates lineage;
the driver-side value per round is the survivor count — the
termination decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import pin_edges, undirect
from citation_graph_spark.session import iterative_kernel


@iterative_kernel
def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(vid: long)`` — the vertices of the k-core (undirected
    closure of ``edges``), i.e. the fixpoint of synchronous
    remove-all-below-k rounds. ``max_iter`` caps the rounds; with a cap
    the result is the (still well-defined) state after exactly that
    many synchronous peels, which the SQL oracle mirrors."""
    e, _, num_partitions = pin_edges(undirect(edges).select("src", "dst"))

    alive = (
        e.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )
    n_alive = alive.count()

    def step(it: int, st: tuple[DataFrame, int]):
        alive, n_alive = st
        # edges whose BOTH endpoints survive, then surviving degree
        e_alive = e.join(
            alive.select(F.col("vid").alias("src")), "src", "left_semi"
        ).join(alive.select(F.col("vid").alias("dst")), "dst", "left_semi")
        survivors = (
            e_alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("vid"))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_new = survivors.count()
        fields = {"alive": n_new, "dropped": n_alive - n_new}
        return (survivors, n_new), fields, n_new in (n_alive, 0)

    (alive, _), _, _ = run_rounds(
        step, (alive, n_alive), kernel="k_core", num_partitions=num_partitions,
        max_iter=max_iter, metrics_path=metrics_path,
    )
    e.unpersist()
    return alive
