"""k-truss decomposition — synchronous edge peeling.

The k-truss of a graph is the maximal subgraph in which every edge is
supported by at least k−2 triangles. It is the standard cohesive-
subgraph refinement of k-core for link graphs (a k-truss is always a
subgraph of the (k−1)-core but far denser), used to extract citation
cliques and filter spurious co-occurrence edges. The reference
surfaces cohesion only through clustering views (clustering/
hdbscan.py:36-42); k-truss makes edge-level cohesion a first-class
result table, consistent with the engine's other fixpoint kernels
(kcore.py, components.py).

Algorithm: synchronous peel rounds. Each round computes every
surviving edge's support (the number of triangles it closes within
the surviving edge set) via the degree-oriented wedge join from
triangles.py — each triangle is enumerated exactly once, hub fan-out
bounded by orientation — then drops ALL edges below k−2 at once.
Synchronous rounds make the fixpoint independent of edge order and
let the DuckDB oracle (an unrolled fixed-round SQL pipeline in
operators/graphq.py) run the identical schedule: the engine breaks
early at the fixpoint, post-fixpoint oracle rounds are no-ops, so the
capped states agree.

Scale posture: the per-round cost is one triangle enumeration over
the shrinking edge set — wedges shuffle on the shared lower endpoint,
closure is an equi-join on the (v, w) pair, support is one groupBy on
the canonical edge. The edge set only shrinks, so the most expensive
round is the first (same bill as one triangle_counts run). Per-round
``localCheckpoint`` truncates lineage; the driver-side value per
round is the surviving-edge count — the termination decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import auto_partitions
from citation_graph_spark.graph.triangles import oriented_edges
from citation_graph_spark.session import iterative_kernel


def _support_from_oriented(o: DataFrame) -> DataFrame:
    """Per-edge triangle support given a MATERIALIZED degree-oriented
    edge set (u, v) — the orientation subtree is referenced four times
    below (both wedge arms and both closure directions), so the caller
    must checkpoint it first or the whole degree computation re-runs
    four-fold.

    Enumerates each triangle once via the degree-oriented wedge join
    (triangles.py rationale: a hub's oriented out-neighborhood holds
    only higher-degree vertices, so no vertex fans out O(deg²)
    wedges), then charges each triangle to its three edges as
    canonical (least, greatest) pairs. Edges in no triangle get no
    row — the caller treats absence as support 0.
    """
    e1 = o.select(F.col("u").alias("w0"), F.col("v").alias("w1"))
    e2 = o.select(F.col("u").alias("w0"), F.col("v").alias("w2"))
    # merge hints — same rationale as triangles.py: wedge/closure join
    # volume grows super-linearly with hub degree; sort-merge spills
    # where a shuffled-hash build OOMs at link-graph scale
    wedges = e1.hint("merge").join(e2, "w0").filter(F.col("w1") < F.col("w2"))
    closer = o.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    ).unionByName(o.select(F.col("u").alias("w2"), F.col("v").alias("w1")))
    tri = wedges.hint("merge").join(closer, ["w1", "w2"])
    sides = (
        tri.select(
            F.least("w0", "w1").alias("a"), F.greatest("w0", "w1").alias("b")
        )
        .unionByName(
            tri.select(
                F.least("w0", "w2").alias("a"),
                F.greatest("w0", "w2").alias("b"),
            )
        )
        .unionByName(
            tri.select(
                F.least("w1", "w2").alias("a"),
                F.greatest("w1", "w2").alias("b"),
            )
        )
    )
    return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


@iterative_kernel
def k_truss(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(a: long, b: long, support: long)`` with a < b — the
    edges of the k-truss (undirected closure of ``edges``) and their
    triangle support at the fixpoint, i.e. the fixpoint of synchronous
    drop-all-below-(k−2) rounds. ``max_iter`` caps the rounds; with a
    cap the result is the (still well-defined) state after exactly
    that many synchronous peels, which the SQL oracle mirrors."""
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    spark = edges.sparkSession

    canon = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    n_edges = canon.count()
    num_partitions = auto_partitions(spark, n_edges)
    alive = canon.repartition(num_partitions, "a").localCheckpoint(eager=True)
    canon.unpersist()
    n_alive = alive.count()

    def step(it: int, st: tuple[DataFrame, int]):
        alive, n_alive = st
        survivors = (
            _edge_support(alive, num_partitions)
            .filter(F.col("support") >= k - 2)
            .repartition(num_partitions, "a")
            .localCheckpoint(eager=True)
        )
        n_new = survivors.count()
        fields = {"edges": n_new, "dropped": n_alive - n_new}
        return (survivors, n_new), fields, n_new in (n_alive, 0)

    (alive, _), _, converged = run_rounds(
        step, (alive, n_alive), kernel="k_truss",
        num_partitions=num_partitions, max_iter=max_iter,
        metrics_path=metrics_path,
    )
    if converged:
        # this round's support is the fixpoint support — reuse it
        # instead of one more enumeration
        return alive.select("a", "b", "support")
    # round cap hit: report the capped state with its support
    alive = alive.select("a", "b")
    return (
        alive.join(
            _edge_support(alive, num_partitions), ["a", "b"], "left"
        ).select(
            "a", "b", F.coalesce("support", F.lit(0)).alias("support")
        )
    )


def _edge_support(canon: DataFrame, width: int) -> DataFrame:
    """Orient, MATERIALIZE the orientation (it is read four times by
    the wedge/closure joins) hash-partitioned ``width`` ways on ``u``,
    then count per-edge support."""
    o = (
        oriented_edges(
            canon.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        .repartition(width, "u")
        .localCheckpoint(eager=True)
    )
    return _support_from_oriented(o)
