"""Connected components — min-label exchange to fixpoint.

The reference shows graph connectivity only visually (Bloom scenes);
the north rule makes it a first-class result table
``components(vid, component)`` with component = min vid reachable.

Algorithm: synchronous min-label propagation over the undirected edge
closure. Each round every vertex takes the min of its own label and its
neighbors' labels; converged when zero labels change. Rounds are pure
join/groupBy — one shuffle per round (the groupBy on dst) because edges
stay cached hash-partitioned on src and labels on vid, mirroring the
PageRank layout.

Scale path: plain min-label needs O(diameter) rounds. For long-chain
graphs enable ``star_contraction=True`` — alternating large-star /
small-star rounds (Kiveris et al., "Connected components in MapReduce
and beyond", cf. PAPERS.md "Finding connected components in map-reduce
in logarithmic rounds") converge in O(log² n) rounds by rewiring edges
toward each component's minimum instead of only propagating labels.
Both variants return identical assignments (tests assert so).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import resume_point, run_rounds
from citation_graph_spark.graph.degrees import auto_partitions, undirect
from citation_graph_spark.session import iterative_kernel


# Below this many collected edge rows the component computation runs as
# one vectorized driver-side union-find instead of O(rounds) distributed
# jobs.  This is the "filtering" endgame of the MapReduce graph
# literature (Lattanzi et al., SPAA'11: shrink distributedly, finish
# locally once the live graph fits one machine): the tail rounds of any
# contraction algorithm are driver-bottlenecked anyway — each is a
# full job-scheduling round trip over kilobytes of data.  500k rows is
# ~8 MB via Arrow, trivially safe for the driver at any cluster size
# (the vectorized union-find itself is milliseconds at this size), and
# both kernels (min-label, star) route through the same helper so the
# labels stay bit-identical to the distributed fixpoint.
_LOCAL_FINISH_UND_ROWS = 500_000


def _local_components(und: DataFrame, vertices: DataFrame) -> DataFrame:
    """Exact min-vid component labels for a graph small enough to
    collect — vectorized hook-and-compress union-find (numpy), no
    Python per-edge loop.  Returns the same ``(vid, component)`` frame
    as the distributed kernels: labels for edge-incident vertices are
    computed locally; isolated vertices coalesce to their own vid via
    the (distributed) left join, so ``vertices`` may be arbitrarily
    large."""
    import numpy as np

    spark = und.sparkSession
    pdf = und.select("src", "dst").toPandas()
    if len(pdf):
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        a, b = inv[: len(src)], inv[len(src):]
        # hook (adopt the min parent across each edge) + full pointer
        # compression per round; monotone non-increasing and bounded, so
        # the fixpoint — parent == min index in the component, constant
        # along every edge — is reached in O(log n) vectorized rounds
        parent = np.arange(len(nodes))
        while True:
            prev = parent
            parent = parent.copy()
            np.minimum.at(parent, a, prev[b])
            np.minimum.at(parent, b, prev[a])
            parent = parent[parent[parent]]
            if np.array_equal(parent, prev):
                break
        import pandas as pd

        lab = spark.createDataFrame(
            pd.DataFrame({"vid": nodes, "component": nodes[parent]}),
            "vid long, component long",
        )
    else:
        lab = spark.createDataFrame([], "vid long, component long")
    return (
        vertices.select("vid")
        .join(lab.withColumnRenamed("component", "_c"), "vid", "left")
        .select("vid", F.coalesce("_c", F.col("vid")).alias("component"))
    )


@iterative_kernel
def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    metrics_path: str | None = None,
    star_contraction: bool | None = None,
    star_threshold: int = 10_000_000,
    init_labels: DataFrame | None = None,
    local_finish_edges: int | None = None,
) -> DataFrame:
    """Returns ``(vid: long, component: long)``; component = min vid in
    the component (deterministic, order-insensitive reducer — min —
    per SURVEY.md §7.2(c)).

    ``local_finish_edges`` — undirected-row count at or below which the
    computation runs as one vectorized driver union-find instead of
    distributed rounds (None → module default ``_LOCAL_FINISH_UND_ROWS``;
    0 forces the distributed kernels, used by their equality tests).
    Identical labels either way.

    ``init_labels`` — warm start for APPEND-ONLY graph growth (the
    incremental-ingest model): a ``(vid, label)`` DataFrame from a
    previous snapshot seeds the labels; vertices absent from it start
    at their own vid. Min-label propagation is monotone, and under
    pure growth every old label is the vid of a vertex still in the
    (possibly merged) component, so the fixpoint is identical to a
    cold run — just reached in O(merge-diameter) rounds instead of
    O(full diameter). NOT valid if edges/vertices were REMOVED (stale
    labels could be lower than any surviving member); rerun cold then.

    ``star_contraction=None`` (default) auto-enables the O(log² n)-round
    large/small-star variant when the undirected edge count exceeds
    ``star_threshold`` — min-label's O(diameter) rounds are the safe
    small-graph default, but at web scale a high-diameter graph would
    crawl. ``True``/``False`` force the choice. The auto route is
    suppressed when ``checkpoint_dir``/``resume`` are set: the star
    variant carries no CheckpointManager, and the durable kill+resume
    contract always wins over the round-count optimization."""
    if local_finish_edges is None:
        local_finish_edges = _LOCAL_FINISH_UND_ROWS
    if star_contraction:
        # _star_components supports none of the warm-start / durable-
        # checkpoint contract; routing those callers there silently
        # would drop the kill+resume guarantee (the auto path below
        # already guards this — the forced path must too)
        conflicts = [
            name
            for name, val in (
                ("init_labels", init_labels is not None),
                ("checkpoint_dir", checkpoint_dir is not None),
                ("resume", resume),
            )
            if val
        ]
        if conflicts:
            raise ValueError(
                "star_contraction=True is incompatible with "
                + "/".join(conflicts)
                + ": the star-contraction kernel has no checkpoint or "
                "warm-start support; use star_contraction=None (auto) "
                "or False"
            )
        return _star_components(
            edges, vertices, max_iter, metrics_path, local_finish_edges
        )

    spark = edges.sparkSession
    und0 = undirect(edges).persist()
    n_und = und0.count()
    # driver-trivial graph and no durable-checkpoint / warm-start
    # contract → vectorized local union-find (identical labels, one job
    # instead of O(rounds); see _LOCAL_FINISH_UND_ROWS)
    if (
        n_und <= local_finish_edges
        and not checkpoint_dir
        and not resume
        and init_labels is None
    ):
        if vertices is None:
            vertices = und0.select(F.col("src").alias("vid")).distinct()
        out = _local_components(und0, vertices)
        out = out.localCheckpoint(eager=True)
        und0.unpersist()
        return out
    # auto star-contraction only when no durable-checkpoint contract is
    # in play: _star_components has no CheckpointManager, so routing a
    # checkpoint_dir/resume caller there would silently drop the
    # kill+resume guarantee (and resume=True would restart from round 0)
    if (
        star_contraction is None
        and n_und > star_threshold
        and not checkpoint_dir
        and not resume
        and init_labels is None
    ):
        und0.unpersist()
        return _star_components(
            edges, vertices, max_iter, metrics_path, local_finish_edges
        )
    num_partitions = auto_partitions(spark, n_und)
    und = und0.repartition(num_partitions, "src").persist()
    und.count()
    und0.unpersist()

    if vertices is None:
        vertices = und.select(F.col("src").alias("vid")).distinct()
    vertices = vertices.select("vid")

    ckpt, labels, start_iter = resume_point(
        spark, checkpoint_dir, "components", resume, "vid", num_partitions
    )
    if labels is None:
        if init_labels is not None:
            labels = (
                vertices.join(
                    init_labels.select("vid", F.col("label").alias("_seed")),
                    "vid",
                    "left",
                )
                .select("vid", F.coalesce("_seed", F.col("vid")).alias("label"))
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )
        else:
            labels = (
                vertices.select("vid", F.col("vid").alias("label"))
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )

    def step(it: int, labels: DataFrame):
        msgs = und.join(labels, und["src"] == labels["vid"]).select(
            F.col("dst"), F.col("label").alias("nbr_label")
        )
        nbr_min = msgs.groupBy("dst").agg(F.min("nbr_label").alias("nbr_min"))
        new_labels = (
            labels.join(nbr_min, labels["vid"] == nbr_min["dst"], "left")
            .select(
                labels["vid"],
                F.least(
                    labels["label"], F.coalesce("nbr_min", labels["label"])
                ).alias("label"),
                labels["label"].alias("_prev"),
            )
            # lazy: the convergence count below materializes it
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        return new_labels.drop("_prev"), {"changed": changed}, changed == 0

    # resumed at (or past) the round cap: no round runs and the
    # snapshot is the answer
    labels, _, _ = run_rounds(
        step, labels, kernel="connected_components",
        num_partitions=num_partitions, start=start_iter, max_iter=max_iter,
        metrics_path=metrics_path, ckpt=ckpt, interval=checkpoint_interval,
    )
    und.unpersist()
    return labels.select("vid", F.col("label").alias("component"))


def _star_components(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iter: int,
    metrics_path: str | None,
    local_finish_edges: int | None = None,
) -> DataFrame:
    """Alternating large-star/small-star contraction (logarithmic rounds).

    Maintains a parent pointer per vertex; each round:
      large-star: for each edge (u,v) with v > u's current min-neighbor m,
                  link v → m   (parents of big endpoints jump to minima)
      small-star: symmetric for v ≤ u.
    Implemented as the standard pair of groupBy-min + re-link rounds on
    the edge list itself; converges when the edge list is a star forest.
    """
    spark = edges.sparkSession
    und = undirect(edges)
    if vertices is None:
        vertices = und.select(F.col("src").alias("vid")).distinct()
    vertices = vertices.select("vid")

    # edge list in canonical (big, small) orientation; parent init = self
    e = und.filter(F.col("src") > F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).localCheckpoint(eager=True)
    n_e = e.count()
    if local_finish_edges is None:
        local_finish_edges = _LOCAL_FINISH_UND_ROWS
    # driver-trivial graph → vectorized local union-find (identical
    # min-vid labels, one job instead of O(log² n) self-join rounds)
    if 2 * n_e <= local_finish_edges:
        return _local_components(
            e.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            vertices,
        ).localCheckpoint(eager=True)

    # Each round SELF-JOINS the evolving edge list twice (nbrs with its
    # own groupBy-min), which SQUARES Catalyst's sizeInBytes estimate —
    # and localCheckpoint PRESERVES stats through the LogicalRDD, so an
    # unpinned loop doubles the estimate's BigInteger bit-length twice
    # per round until the driver melts in BigInteger.multiply during
    # planning.  Overlaying persist on the round-boundary checkpoint
    # and materializing it pins the REAL cached size each round (same
    # medicine as msf.contract_nominations), so within-round products
    # stay bounded; caches are freed after the loop — the checkpoint
    # underneath keeps the final edge list recomputable.
    handles = []

    def step(it: int, e: DataFrame):
        # large-star: γ(u) ∪ {u} grouped by u → link every w > u to min
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        with_min = nbrs.join(
            nbrs.groupBy("u").agg(F.min("v").alias("m")), "u"
        ).withColumn("m", F.least("m", "u"))
        large = (
            with_min.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the result
        nbrs2 = large.unionByName(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).filter(F.col("u") > F.col("v"))
        with_min2 = nbrs2.join(
            nbrs2.groupBy("u").agg(F.min("v").alias("m")), "u"
        )
        small = (
            with_min2.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(with_min2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # lazy: the star-forest check below materializes it
            .localCheckpoint(eager=False)
            .persist()
        )
        handles.append(small)
        # converged when small-star output is stable star forest:
        # every u appears with exactly one v and v is a root (not a
        # u); this count also materializes small's checkpoint + cache
        non_star = (
            small.alias("a")
            .join(small.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi")
            .count()
        )
        return small, {"non_star": non_star}, non_star == 0

    try:
        e, _, _ = run_rounds(
            step, e, kernel="connected_components_star",
            num_partitions=auto_partitions(spark, n_e), max_iter=max_iter,
            metrics_path=metrics_path,
        )
    finally:
        for h in handles:
            h.unpersist()

    comp = e.select(F.col("u").alias("vid"), F.col("v").alias("component"))
    return (
        vertices.join(comp, "vid", "left")
        .select("vid", F.coalesce("component", "vid").alias("component"))
    )
