"""Seed-set traversal kernels: BFS hop distance and personalized
PageRank.

The reference serves neighborhood expansion interactively — Bloom's
'Find papers citing $title' / 'Find coauthors of $person_name' scene
actions expand 1-2 hops from a picked node (reference
bloom/perspective.json search phrases; neo4j/loader.py relationship
fan-out). These kernels are the batch-analytics generalization: the
full hop-distance table from a seed set (multi-source BFS to a round
cap) and the seed-biased rank vector (personalized PageRank), both as
the same cached-edges + per-round join/groupBy message passing the
other kernels use.

Scale posture (both kernels):
- edges normalized/cached hash-partitioned on ``src`` ONCE; every
  round's join reuses that layout, so the only per-round shuffle is
  the groupBy on ``dst``;
- BFS is frontier-based — per-round work is proportional to the
  frontier's out-edges, not the reached set, so expanding a small seed
  neighborhood on a 10^12-edge graph touches only what it reaches;
- per-round ``localCheckpoint`` truncates lineage (the iterative
  kernels' shared discipline);
- the one driver-side value per round is the frontier count — the
  loop-termination decision, same shape as PageRank's convergence
  stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import pin_edges, undirect
from citation_graph_spark.session import iterative_kernel


@iterative_kernel
def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """Multi-source BFS: ``(vid: long, dist: int)`` for every vertex
    reachable from ``seeds`` (a DataFrame with a ``vid`` column) within
    ``max_iter`` hops; unreached vertices emit no row.

    Level-synchronous frontier algorithm: on an unweighted graph the
    first round that touches a vertex fixes its distance, so each round
    joins only the NEW frontier against the cached edges and anti-joins
    already-settled vertices away.
    """
    e0 = edges.select("src", "dst") if directed else undirect(edges).select(
        "src", "dst"
    )
    e, _, num_partitions = pin_edges(e0)

    dist = (
        seeds.select("vid")
        .distinct()
        .withColumn("dist", F.lit(0))
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    def step(it: int, st: tuple[DataFrame, DataFrame]):
        dist, frontier = st
        reached = (
            e.join(frontier, e["src"] == frontier["vid"])
            .select(F.col("dst").alias("vid"))
            .distinct()
        )
        new = (
            reached.join(dist.select("vid"), "vid", "left_anti")
            .withColumn("dist", F.lit(it))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_new = new.count()
        if n_new == 0:
            return st, {"frontier": 0}, True
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        return (dist, new.select("vid")), {"frontier": n_new}, False

    (dist, _), _, _ = run_rounds(
        step, (dist, dist.select("vid")), kernel="bfs",
        num_partitions=num_partitions, max_iter=max_iter,
        metrics_path=metrics_path,
    )
    e.unpersist()
    return dist


@iterative_kernel
def bfs_per_source(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
) -> DataFrame:
    """Per-source BFS: ``(seed: long, vid: long, dist: int)`` — the
    full distance table from EACH seed separately (the multi-source
    ``bfs_distances`` collapses to the min). Same frontier algorithm
    in the (seed × vertex) product space: state is keyed (seed, vid),
    the per-round edge join still keys on vid alone, so the cached
    src-partitioned edge layout is reused and per-round work is
    proportional to Σ frontier out-edges across seeds.

    This is the sampled-source primitive behind centrality estimation
    on web-scale graphs: exact per-source distances for a K-seed
    sample instead of O(n) BFS runs (cf. the harmonic-centrality query
    built on it)."""
    e0 = edges.select("src", "dst") if directed else undirect(edges).select(
        "src", "dst"
    )
    e, _, num_partitions = pin_edges(e0)

    dist = (
        seeds.select("vid")
        .distinct()
        .select(
            F.col("vid").alias("seed"),
            F.col("vid"),
            F.lit(0).alias("dist"),
        )
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    def step(it: int, st: tuple[DataFrame, DataFrame]):
        dist, frontier = st
        reached = (
            e.join(frontier, e["src"] == frontier["vid"])
            .select("seed", F.col("dst").alias("vid"))
            .distinct()
        )
        new = (
            reached.join(dist.select("seed", "vid"), ["seed", "vid"], "left_anti")
            .withColumn("dist", F.lit(it))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_new = new.count()
        if n_new == 0:
            return st, {"frontier": 0}, True
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        return (dist, new.select("seed", "vid")), {"frontier": n_new}, False

    (dist, _), _, _ = run_rounds(
        step, (dist, dist.select("seed", "vid")), kernel="bfs_per_source",
        num_partitions=num_partitions, max_iter=max_iter,
    )
    e.unpersist()
    return dist


@iterative_kernel
def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """Multi-source weighted shortest paths (non-negative integer edge
    lengths in the ``weight`` column): ``(vid: long, dist: long)`` for
    every vertex reachable from ``seeds`` within ``max_iter``
    relaxation rounds — i.e. exactly the shortest distance using at
    most ``max_iter`` edges, the state the round-capped SQL oracle
    mirrors.

    Delta-optimized Bellman-Ford: each round relaxes only the
    out-edges of vertices whose distance improved last round. This
    computes the identical per-round state as full synchronous
    relaxation (a vertex unimproved in round r-1 contributes nothing
    new in round r) while doing frontier-proportional work — the same
    property that makes BFS above scale.
    """
    e0 = edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
    if not directed:
        e0 = e0.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("weight").cast("long").alias("w"),
            )
        )
    e, _, num_partitions = pin_edges(e0)

    dist = (
        seeds.select("vid")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    def step(it: int, st: tuple[DataFrame, DataFrame]):
        dist, frontier = st
        cand = (
            e.join(frontier, e["src"] == frontier["vid"])
            .select(
                F.col("dst").alias("vid"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("vid")
            .agg(F.min("cand").alias("cand"))
        )
        merged = (
            dist.join(cand, "vid", "full")
            .select(
                "vid",
                # least() skips NULLs (returns NULL only if both are),
                # exactly min-ignoring-infinity
                F.least("dist", "cand").alias("new_dist"),
                F.col("dist").alias("old_dist"),
            )
        )
        improved = (
            merged.filter(
                F.col("old_dist").isNull()
                | (F.col("new_dist") < F.col("old_dist"))
            )
            .select("vid", F.col("new_dist").alias("dist"))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_improved = improved.count()
        if n_improved == 0:
            return st, {"improved": 0}, True
        dist = (
            merged.select("vid", F.col("new_dist").alias("dist"))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        return (dist, improved), {"improved": n_improved}, False

    (dist, _), _, _ = run_rounds(
        step, (dist, dist), kernel="sssp", num_partitions=num_partitions,
        max_iter=max_iter, metrics_path=metrics_path,
    )
    e.unpersist()
    return dist


@iterative_kernel
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    metrics_path: str | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to
    the seed set instead of the whole vertex universe. Fixed
    ``max_iter`` synchronous rounds (cross-engine determinism — same
    posture as the fixed-round global PageRank oracle). Returns
    ``(vid: long, score: double)`` over all vertices that appear as an
    edge endpoint or a seed; Σ score = 1.
    """
    spark = edges.sparkSession

    seed_set = seeds.select("vid").distinct()
    n_seeds = seed_set.count()
    if n_seeds == 0:
        # no teleport targets: PPR is undefined; empty result, not a
        # ZeroDivisionError — checked BEFORE any edge caching so
        # nothing is left persisted
        return spark.createDataFrame([], "vid long, score double")

    out_deg = edges.groupBy("src").agg(F.sum("weight").alias("_wout"))
    e0 = (
        edges.join(out_deg, "src")
        .select("src", "dst", (F.col("weight") / F.col("_wout")).alias("wnorm"))
    )
    e, n_edges, num_partitions = pin_edges(e0)

    vertices = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .unionByName(seeds.select("vid"))
        .distinct()
    )
    # teleport vector s(v): 1/|S| on seeds, 0 elsewhere, and the
    # dangling flag — both carried as state columns (the pagerank.py
    # pattern) so no per-round plan rebuilds anything
    dangling_flags = vertices.join(
        edges.select("src").distinct(),
        vertices["vid"] == F.col("src"),
        "left_anti",
    ).withColumn("is_dangling", F.lit(True))
    ranks = (
        vertices.join(
            seed_set.withColumn("_is_seed", F.lit(True)), "vid", "left"
        )
        .join(dangling_flags.select("vid", "is_dangling"), "vid", "left")
        .select(
            "vid",
            F.when(F.col("_is_seed"), 1.0 / n_seeds)
            .otherwise(0.0)
            .alias("s"),
            F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"),
        )
        .withColumn("rank", F.col("s"))
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )
    has_dangling = ranks.filter(F.col("is_dangling")).limit(1).count() > 0

    def step(it: int, ranks: DataFrame):
        d_mass = 0.0
        if has_dangling:
            # one small agg over the checkpointed state — no recompute
            d_mass = (
                ranks.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("is_dangling"), F.col("rank"))),
                        F.lit(0.0),
                    )
                ).collect()[0][0]
            )
        contribs = e.join(
            ranks.select("vid", "rank"), e["src"] == F.col("vid")
        ).select(F.col("dst"), (F.col("rank") * F.col("wnorm")).alias("c"))
        sums = contribs.groupBy("dst").agg(F.sum("c").alias("m"))
        ranks = (
            ranks.join(sums, ranks["vid"] == sums["dst"], "left")
            .select(
                ranks["vid"],
                ranks["s"],
                ranks["is_dangling"],
                (
                    F.lit(1.0 - alpha) * F.col("s")
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("m"), F.lit(0.0))
                        + F.lit(d_mass) * F.col("s")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        return ranks, {"edges": n_edges}, False

    ranks, _, _ = run_rounds(
        step, ranks, kernel="personalized_pagerank",
        num_partitions=num_partitions, max_iter=max_iter,
        metrics_path=metrics_path,
    )
    e.unpersist()
    return ranks.select("vid", F.col("rank").alias("score"))


_WIDEST_INF = 4611686018427387904  # 2^62 — internal "unbounded" capacity


@iterative_kernel
def widest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """Multi-source widest (bottleneck / maximum-capacity) paths over
    positive integer edge capacities in the ``weight`` column:
    ``(vid: long, width: long)`` for every vertex reachable from
    ``seeds`` within ``max_iter`` relaxation rounds — the maximum over
    paths of the minimum edge capacity along the path, using at most
    ``max_iter`` edges (the state the round-capped SQL oracle
    mirrors). Seeds report the documented sentinel ``width = -1``
    (unbounded). The max-bandwidth-route / percolation primitive over
    the same edge table SSSP runs on.

    Delta-optimized max-min Bellman-Ford — the dual of ``sssp`` above
    (max/least instead of min/plus; both are semiring relaxations, so
    the frontier argument carries over verbatim): each round relaxes
    only the out-edges of vertices whose width improved last round.
    """
    e0 = edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
    if not directed:
        e0 = e0.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("weight").cast("long").alias("w"),
            )
        )
    e, _, num_partitions = pin_edges(e0)

    cap = (
        seeds.select("vid")
        .distinct()
        .withColumn("width", F.lit(_WIDEST_INF).cast("long"))
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    def step(it: int, st: tuple[DataFrame, DataFrame]):
        cap, frontier = st
        cand = (
            e.join(frontier, e["src"] == frontier["vid"])
            .select(
                F.col("dst").alias("vid"),
                F.least("width", "w").alias("cand"),
            )
            .groupBy("vid")
            .agg(F.max("cand").alias("cand"))
        )
        merged = cap.join(cand, "vid", "full").select(
            "vid",
            # greatest() skips NULLs: max-ignoring-unreached
            F.greatest("width", "cand").alias("new_w"),
            F.col("width").alias("old_w"),
        )
        improved = (
            merged.filter(
                F.col("old_w").isNull()
                | (F.col("new_w") > F.col("old_w"))
            )
            .select("vid", F.col("new_w").alias("width"))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_improved = improved.count()
        if n_improved == 0:
            return st, {"improved": 0}, True
        cap = (
            merged.select("vid", F.col("new_w").alias("width"))
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        return (cap, improved), {"improved": n_improved}, False

    (cap, _), _, _ = run_rounds(
        step, (cap, cap), kernel="widest", num_partitions=num_partitions,
        max_iter=max_iter, metrics_path=metrics_path,
    )
    e.unpersist()
    return cap.select(
        "vid",
        F.when(F.col("width") == _WIDEST_INF, F.lit(-1))
        .otherwise(F.col("width"))
        .cast("long")
        .alias("width"),
    )
