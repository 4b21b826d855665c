"""HITS (hubs & authorities) — synchronous Jacobi rounds.

For a citation graph the authority score is the natural "cited by good
surveys" measure and the hub score the "surveys citing good work"
measure — the classic complement to PageRank on exactly this kind of
directed link graph. The reference serves citation counts and PageRank
proxies through Neo4j (neo4j/loader.py degree fan-outs); HITS extends
the served kernel family with no new infrastructure.

Update rule (Jacobi / simultaneous, both scores advanced from the
PREVIOUS round's values):

    a'(v) = Σ_{u→v} h(u)      h'(v) = Σ_{v→w} a(w)

then L1-normalize each vector. The simultaneous variant (rather than
the Gauss-Seidel a-then-h sweep) is chosen deliberately: one pass over
the previous state produces both message types, which keeps the round
a single join + single groupBy in Spark AND lets the DuckDB oracle
express the round with a single recursive self-reference (the same
augmented-edge/self-message device as the k-core oracle). Both
engines run the identical schedule, so scores agree to summation
order (~1e-15), floored at 1e-9 for the gate.

Scale posture: the doubled edge table (fwd + rev rows) is cached
hash-partitioned on the message source once; each round is one join
(exchange-free against the pinned layout) + one groupBy (the round's
shuffle) + a 2-value driver collect for the L1 totals; state is
vertex-sized and localCheckpointed per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import pin_edges
from citation_graph_spark.session import iterative_kernel


@iterative_kernel
def hits(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 15,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(vid: long, authority: double, hub: double)``;
    Σ authority = Σ hub = 1 (L1 normalization each round). Fixed
    ``max_iter`` synchronous rounds."""
    spark = edges.sparkSession

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vertices = vertices.select("vid")
    n = vertices.count()
    if n == 0:
        return spark.createDataFrame(
            [], "vid long, authority double, hub double"
        )

    # augmented message table: fwd rows carry h(src)→a(dst), rev rows
    # carry a(dst)→h(src); one join serves both score updates
    fwd = edges.select(
        F.col("src").alias("mfrom"), F.col("dst").alias("mto"), F.lit(True).alias("is_fwd")
    )
    rev = edges.select(
        F.col("dst").alias("mfrom"), F.col("src").alias("mto"), F.lit(False).alias("is_fwd")
    )
    e, n_msgs, num_partitions = pin_edges(fwd.unionByName(rev), "mfrom")

    state = (
        vertices.select(
            "vid",
            F.lit(1.0 / n).alias("a"),
            F.lit(1.0 / n).alias("h"),
        )
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    def step(it: int, state: DataFrame):
        msgs = e.join(state, e["mfrom"] == state["vid"]).select(
            F.col("mto"),
            F.when(F.col("is_fwd"), F.col("h")).otherwise(0.0).alias("ca"),
            F.when(~F.col("is_fwd"), F.col("a")).otherwise(0.0).alias("ch"),
        )
        sums = msgs.groupBy("mto").agg(
            F.sum("ca").alias("a_raw"), F.sum("ch").alias("h_raw")
        )
        # join onto the checkpointed state (it carries the identical
        # vertex universe) — joining the derived `vertices` here would
        # recompute its distinct-union-of-edges shuffle every round
        raw = (
            state.select("vid")
            .join(sums, F.col("vid") == sums["mto"], "left")
            .select(
                "vid",
                F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"),
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
            )
            .repartition(num_partitions, "vid")
            .persist()
        )
        tot = raw.agg(F.sum("a_raw"), F.sum("h_raw")).collect()[0]
        ta, th = float(tot[0] or 0.0), float(tot[1] or 0.0)
        if ta == 0.0 or th == 0.0:
            # edgeless (or one-directional degenerate) graph: scores
            # cannot renormalize — keep the current state rather than
            # dividing by zero
            raw.unpersist()
            return state, {"msgs": n_msgs}, True
        state = raw.select(
            "vid",
            (F.col("a_raw") / F.lit(ta)).alias("a"),
            (F.col("h_raw") / F.lit(th)).alias("h"),
        ).localCheckpoint(eager=True)
        raw.unpersist()
        return state, {"msgs": n_msgs}, False

    state, _, _ = run_rounds(
        step, state, kernel="hits", num_partitions=num_partitions,
        max_iter=max_iter, metrics_path=metrics_path,
    )
    e.unpersist()
    return state.select(
        "vid", F.col("a").alias("authority"), F.col("h").alias("hub")
    )
