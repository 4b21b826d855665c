"""Deterministic random-walk sampling over the directed edge table.

Random walks are the standard graph-embedding / training-data prep
primitive (DeepWalk/node2vec corpus generation) and the reference's
interactive "follow the citation chain" exploration (Bloom scene
expansion) generalized to batch. To keep the kernel cross-engine
hash-checkable, the next-step choice is DERANDOMIZED: from vertex u at
step t the walk moves to the out-neighbor w minimizing an explicit
integer hash H(u, t, w) — a fixed pseudo-random priority, so the walk
distribution is hash-uniform over neighbors while both engines (and a
recursive-CTE SQL oracle) reproduce it exactly. Swapping the priority
for a true RNG changes one column expression, not the shape.

Scale posture: walk state is one row per live walk; each round joins
the frontier against the cached src-partitioned edge table and picks
the argmin by a per-walk window — shuffle keys are ``src`` (reused
layout) then ``wid``, per-round bytes proportional to the frontier's
out-degree sum, the same discipline as graph/traversal.py BFS. Walks
at dead ends (no out-edges) simply stop emitting rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import pin_edges
from citation_graph_spark.session import iterative_kernel

# shared with the SQL oracle and the python replay (tests): int64-safe
# for dense vids up to ~2^40
WALK_HASH_A = 1315423911
WALK_HASH_B = 2654435761
WALK_HASH_C = 97531
WALK_HASH_P = 2147483647


def walk_priority(u_col, step_col, w_col):
    """H(u, t, w) — the walk's deterministic next-step priority."""
    return F.pmod(
        u_col * F.lit(WALK_HASH_A)
        + step_col * F.lit(WALK_HASH_B)
        + w_col * F.lit(WALK_HASH_C),
        F.lit(WALK_HASH_P),
    )


def walk_round_lineage(e: DataFrame, frontier: DataFrame, t: int) -> DataFrame:
    """One walk step (pre-checkpoint lineage): frontier⨝edges equi-join
    then per-walk hash-argmin window. Exposed for the plan-regression
    suite."""
    cand = frontier.join(e, frontier["v"] == e["src"]).select(
        "wid",
        F.lit(t).alias("step"),
        F.col("dst").alias("v"),
        walk_priority(F.col("v"), F.lit(t), F.col("dst")).alias("h"),
    )
    w = Window.partitionBy("wid").orderBy("h", "v")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("wid", "step", "v")
    )


@iterative_kernel
def deterministic_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int,
) -> DataFrame:
    """One walk per seed vertex: ``(wid, step, vid)`` rows for
    step = 0..steps (fewer if the walk hits a sink). ``wid`` is the
    seed's vid; ``seeds`` is a DataFrame with a ``vid`` column."""
    e, _, num_partitions = pin_edges(edges.select("src", "dst").distinct())

    frontier = (
        seeds.select("vid")
        .distinct()
        .select(
            F.col("vid").alias("wid"),
            F.lit(0).alias("step"),
            F.col("vid").alias("v"),
        )
        .localCheckpoint(eager=True)
    )

    def step(t: int, st: tuple[DataFrame, DataFrame]):
        out, frontier = st
        frontier = walk_round_lineage(e, frontier, t).localCheckpoint(
            eager=True
        )
        if frontier.isEmpty():
            return st, {}, True
        return (out.unionByName(frontier), frontier), {}, False

    (out, _), _, _ = run_rounds(
        step, (frontier, frontier), kernel="deterministic_walks",
        num_partitions=num_partitions, max_iter=steps,
    )
    e.unpersist()
    return out.select("wid", "step", F.col("v").alias("vid"))


@iterative_kernel
def neighbor_sample(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int],
) -> DataFrame:
    """GraphSAGE-style deterministic multi-hop neighbor sampling —
    the minibatch-subgraph prep primitive of GNN training pipelines
    (Hamilton et al. 2017 §3.1, public GraphSAGE). Returns
    ``(seed, hop, src, dst)`` sampled-adjacency rows: hop h's ``src``
    set is hop h-1's sampled ``dst`` set (hop 1 starts at the seeds)
    and every ``src`` keeps its ``fanouts[h-1]`` out-neighbors of
    lowest priority ``H(src, h, dst)`` (ties by dst) — the same
    derandomized hash the walks use, so a SQL oracle and a python
    replay reproduce the sample exactly.

    Per-(vertex, hop) sampling (not per-seed): the sampled adjacency
    for hop h is computed ONCE per vertex by a src-partitioned window
    over the edge table, then frontiers equi-join against it — work is
    O(E) + O(frontier) per hop regardless of how many seeds share a
    neighborhood, the layer-shared-sample variant GraphSAGE itself
    uses for minibatch efficiency. Shuffle keys: ``src`` for the
    window (layout reused from the edge repartition), ``v`` for the
    frontier join; frontier is distinct-(seed, v) so hop h emits at
    most Π fanouts rows per seed."""
    if not fanouts:
        raise ValueError("fanouts must name at least one hop")
    e, _, num_partitions = pin_edges(edges.select("src", "dst").distinct())

    frontier = seeds.select(
        F.col("vid").alias("seed"), F.col("vid").alias("v")
    ).distinct()
    w = Window.partitionBy("src").orderBy("h_pri", "dst")

    def step(hop: int, st: tuple[DataFrame | None, DataFrame]):
        out, frontier = st
        samp = (
            e.withColumn(
                "h_pri",
                walk_priority(F.col("src"), F.lit(hop), F.col("dst")),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= fanouts[hop - 1])
            .select("src", "dst")
        )
        rows = (
            frontier.join(samp, frontier["v"] == samp["src"])
            .select("seed", F.lit(hop).alias("hop"), "src", "dst")
            .localCheckpoint(eager=True)
        )
        out = rows if out is None else out.unionByName(rows)
        frontier = rows.select("seed", F.col("dst").alias("v")).distinct()
        # every branch hit a sink: later hops would rank O(E) rows for
        # nothing
        return (out, frontier), {}, frontier.isEmpty()

    (out, _), _, _ = run_rounds(
        step, (None, frontier), kernel="neighbor_sample",
        num_partitions=num_partitions, max_iter=len(fanouts),
    )
    e.unpersist()
    return out
