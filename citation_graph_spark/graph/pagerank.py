"""PageRank as join/groupBy message-passing rounds.

The reference serves vertex importance as raw citation counts
(src/citations/neo4j/loader.py:376-390 ``num_articles_cite``; Article
``citations`` property, schemas.py:28). The north rule upgrades this to
full PageRank over the extracted edge table, computed Spark-first:

    contribs = edges ⨝ ranks on src        (co-partitioned, no exchange)
    sums     = contribs.groupBy(dst).sum   (THE one shuffle per round)
    new_rank = (1-α)/N + α·(sums + dangling_mass/N)

Physical-plan invariants this module maintains (SURVEY.md §4.3):
- ``edges`` are hash-repartitioned on ``src`` ONCE and cached; every
  iteration's join reuses that partitioning (no per-round edge shuffle).
- vertex state is always hash-partitioned on ``vid`` (inherited from
  the previous round's aggregation) → the rank-update join is
  exchange-free as well.
- ``localCheckpoint(eager=True)`` per round truncates lineage; durable
  parquet checkpoints every ``checkpoint_interval`` rounds make the run
  resumable (CheckpointManager manifest).
- map-side partial aggregation already collapses power-law in-degree
  hubs to ≤ one row per (partition, dst) before the shuffle — the same
  effect explicit salting buys for algebraic aggregates. For
  demonstration and for non-algebraic payloads ``salt_buckets > 0``
  switches to an explicit two-phase salted aggregation
  groupBy(dst, salt)→groupBy(dst).

Weighted semantics: contribution of src→dst is
``rank(src) · weight(src,dst) / Σ_d' weight(src,d')`` — with unit
weights this is classic PageRank. Dangling vertices (zero out-degree)
redistribute their rank mass uniformly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import resume_point, run_rounds
from citation_graph_spark.graph.degrees import auto_partitions
from citation_graph_spark.session import iterative_kernel, shuffle_partitions_conf


@iterative_kernel
def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    metrics_path: str | None = None,
    salt_buckets: int = 0,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(vid: long, score: double)``; Σ score = 1.

    ``vertices`` (a DataFrame with a ``vid`` column) defines the vertex
    universe — isolated vertices still receive teleport + dangling mass.
    If omitted it is derived from edge endpoints.

    ``init_ranks`` — warm start: a ``(vid, score)`` DataFrame (e.g. the
    converged ranks of a previous, smaller snapshot of the graph) used
    as the starting vector instead of uniform 1/n. Vertices absent from
    it get 1/n; the vector is renormalized to Σ=1 and dangling flags
    are recomputed against the CURRENT edge set, so a grown graph is
    handled correctly. Unlike ``resume`` (same graph, same iteration
    counter), warm start begins at iteration 0 with a full budget —
    convergence just arrives in far fewer rounds because the start is
    already near the fixpoint. This is the incremental-refresh path for
    a continuously ingested graph (the reference re-runs analyses from
    scratch after each ingest batch — data_sources/utils.py:23-121;
    warm start is the Spark-native O(drift) version of that refresh).
    """
    spark = edges.sparkSession

    # ONE pass over the (possibly expensively derived) input edge table:
    # cache it raw, count it for partition sizing, then build the
    # normalized co-partitioned loop table with a single shuffle. The
    # out-degree side is computed under the kernel's shuffle width, so
    # the normalize join is co-partitioned — no second edge exchange —
    # and its src set doubles as the dangling-vertex detector (replacing
    # a from-scratch edges.select(src).distinct() scan). At 100 TB the
    # edge table is the big object; setup must not materialize it twice.
    edges_p = edges.persist()
    edge_count = edges_p.count()
    if num_partitions is None:
        num_partitions = auto_partitions(spark, edge_count)

    if vertices is None:
        vertices = (
            edges_p.select(F.col("src").alias("vid"))
            .unionByName(edges_p.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vertices = vertices.select("vid")

    with shuffle_partitions_conf(spark, num_partitions):
        out_deg = (
            edges_p.groupBy("src").agg(F.sum("weight").alias("_wout")).persist()
        )
        # pin the co-partitioning every round reuses (SURVEY §4.3)
        edges_n = (
            edges_p.repartition(num_partitions, "src")
            .join(out_deg, "src")
            .select(
                "src", "dst", (F.col("weight") / F.col("_wout")).alias("wnorm")
            )
            .persist()
        )
        edges_n.count()
    # edges_p stays cached until the initial rank vector is materialized:
    # the derived-vertices lineage and the dangling anti-join read it.

    n = vertices.count()
    if n == 0:
        for df in (edges_n, out_deg, edges_p):
            df.unpersist()
        return spark.createDataFrame([], "vid long, score double")

    ckpt, ranks, start_iter = resume_point(
        spark, checkpoint_dir, "pagerank", resume, "vid", num_partitions
    )
    saved = ckpt.latest()["meta"] if ranks is not None else {}
    if (
        saved.get("converged")
        and saved.get("alpha") == alpha
        and saved.get("tol", float("inf")) <= tol
    ):
        # already at this call's fixpoint — identical results, no extra
        # rounds. Any other snapshot (another alpha, a looser tol) is
        # only a start vector: the rounds below continue from it.
        for df in (edges_n, out_deg, edges_p):
            df.unpersist()
        return ranks.select("vid", F.col("rank").alias("score"))
    if ranks is None:
        dangling_flags = vertices.join(
            out_deg.select("src"),
            vertices["vid"] == F.col("src"),
            "left_anti",
        ).withColumn("is_dangling", F.lit(True))
        base = vertices.join(
            dangling_flags.select("vid", "is_dangling"), "vid", "left"
        )
        if init_ranks is not None:
            # warm start: seed from prior scores, 1/n for new vertices,
            # renormalize so Σ rank = 1 exactly
            seeded = base.join(
                init_ranks.select("vid", F.col("score").alias("_seed")),
                "vid",
                "left",
            ).select(
                "vid",
                F.coalesce("_seed", F.lit(1.0 / n)).alias("rank"),
                F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"),
            )
            total = seeded.agg(F.sum("rank")).collect()[0][0]
            ranks = (
                seeded.withColumn("rank", F.col("rank") / F.lit(float(total)))
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )
        else:
            ranks = (
                base.select(
                    "vid",
                    F.lit(1.0 / n).alias("rank"),
                    F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"),
                )
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )

    # ranks is eagerly checkpointed — lineage cut; release the setup caches
    out_deg.unpersist()
    edges_p.unpersist()

    teleport = (1.0 - alpha) / n
    # dangling mass for the first round; later rounds get it for free
    # from the same single-pass stats aggregation that computes Σ|Δ|
    d_mass = (
        ranks.filter(F.col("is_dangling"))
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
        .collect()[0][0]
    )
    # with no dangling mass and no convergence test (tol<=0, fixed
    # iteration count) the per-round stats collect is pure driver
    # latency — skip it; d_mass stays 0 and l1 stays inf
    need_stats = (tol > 0.0) or (d_mass > 0.0)

    def one_round(cur: DataFrame) -> DataFrame:
        contribs = edges_n.join(
            cur.select(F.col("vid"), F.col("rank")),
            edges_n["src"] == F.col("vid"),
        ).select(F.col("dst"), (F.col("rank") * F.col("wnorm")).alias("c"))
        if salt_buckets > 0:
            # explicit two-phase salted aggregation for hub dst keys
            salted = contribs.withColumn(
                "_salt", F.pmod(F.xxhash64("dst", "c"), F.lit(salt_buckets))
            )
            sums = (
                salted.groupBy("dst", "_salt")
                .agg(F.sum("c").alias("_partial"))
                .groupBy("dst")
                .agg(F.sum("_partial").alias("s"))
            )
        else:
            sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        return cur.join(sums, cur["vid"] == sums["dst"], "left").select(
            cur["vid"],
            (
                F.lit(teleport)
                + F.lit(alpha)
                * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(d_mass / n))
            ).alias("rank"),
            cur["rank"].alias("_prev"),
            cur["is_dangling"],
        )

    def step(it: int, cur: DataFrame):
        nonlocal d_mass
        # rounds are not fused: an A/B measured unroll 4 slower than 1
        # (8.6 s vs 7.3 s) as unmaterialized state re-plans exchanges.
        # Lazy checkpoint when the stats collect below materializes it.
        new_ranks = one_round(cur).localCheckpoint(eager=not need_stats)
        l1 = float("inf")
        if need_stats:
            stats = new_ranks.agg(
                F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("l1"),
                F.coalesce(
                    F.sum(F.when(F.col("is_dangling"), F.col("rank"))),
                    F.lit(0.0),
                ).alias("d_mass"),
            ).collect()[0]
            l1, d_mass = stats["l1"], stats["d_mass"]
        fields = {
            "l1_delta": l1 if l1 != float("inf") else None,
            "edges": edge_count,
            "vertices": n,
        }
        return new_ranks.drop("_prev"), fields, l1 < tol

    ranks, _, _ = run_rounds(
        step, ranks, kernel="pagerank", num_partitions=num_partitions,
        start=start_iter, max_iter=max_iter, metrics_path=metrics_path,
        ckpt=ckpt, interval=checkpoint_interval,
        params={"alpha": alpha, "tol": tol}, throughput="edges",
    )
    edges_n.unpersist()
    return ranks.select("vid", F.col("rank").alias("score"))
