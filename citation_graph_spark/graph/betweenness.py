"""Sampled betweenness centrality — distributed Brandes from K pivots.

Exact betweenness is O(n·m) (one Brandes sweep per vertex) — at link-
graph scale nobody runs it; the standard estimator (Brandes/Pich) runs
the sweep from a deterministic pivot set and reports the partial
dependency sum. The reference ranks vertices only by degree/PageRank-
style scores; betweenness adds the path-centrality axis (bridge/
gatekeeper detection in citation flows) as a first-class result table.

Algorithm (per pivot set, all pivots swept TOGETHER — one job, K-fold
rows, not K jobs):
1. forward: level-synchronous multi-source BFS carrying per-(pivot,
   vertex) shortest-path counts ``sigma`` (exact int64 — path counts,
   summed over frontier in-neighbors, never floats);
2. backward: process levels in descending global order; the dependency
   ``delta(s,v) = Σ_{w: succ} sigma(v)/sigma(w) · (1 + delta(w))``
   accumulates one level per round — each round is one join of the
   just-finalized level against the cached edge set plus one groupBy;
3. bc(v) = Σ_{s ≠ v} delta(s, v), floored to micro-integers so the
   cross-engine comparison is exact (float summation order differs
   between engines; the per-term values are rationals of magnitude
   O(n), double error ~1e-12 ≪ the 0.5e-6 rounding slack).

The DuckDB oracle (operators/graphq.py) runs the IDENTICAL schedule:
a full-state recursive CTE with self-messages for the forward pass
(kcore-oracle pattern) and a persist-or-update recursive CTE walking
levels top-down for the backward pass.

Scale posture: edges cached hash-partitioned on ``src`` once; rounds
shuffle on (pivot, vertex); per-round ``localCheckpoint`` truncates
lineage; driver-side values are frontier counts and the max level —
scalars. K pivots multiply message volume K-fold, independent of n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import pin_edges, undirect
from citation_graph_spark.session import iterative_kernel


def forward_round_lineage(
    e: DataFrame, frontier: DataFrame, reach: DataFrame, it: int
) -> DataFrame:
    """One forward BFS round (unmaterialized lineage, exposed for the
    plan-regression suite): fan the frontier over the cached edges,
    drop already-settled (pivot, vertex) pairs, sum path counts."""
    msgs = e.join(frontier, e["src"] == frontier["vid"]).select(
        "s", F.col("dst").alias("vid"), "sigma"
    )
    return (
        msgs.join(reach.select("s", "vid"), ["s", "vid"], "left_anti")
        .groupBy("s", "vid")
        .agg(F.sum("sigma").alias("sigma"))
        .select("s", "vid", F.lit(it).alias("dist"), "sigma")
    )


def backward_round_lineage(
    e: DataFrame, done: DataFrame, cur: DataFrame, lvl: int
) -> DataFrame:
    """One backward dependency round (unmaterialized lineage): the
    just-finalized level lvl+1 fans its (1+delta)/sigma ratios over
    the edges; level-lvl receivers sum them and scale by their own
    sigma."""
    m = (
        done.filter(F.col("dist") == lvl + 1)
        .join(e, done["vid"] == e["src"])
        .select(
            "s",
            F.col("dst").alias("vid"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"),
        )
    )
    contrib = m.groupBy("s", "vid").agg(
        F.sum(
            (F.lit(1.0) + F.col("delta_w")) / F.col("sigma_w").cast("double")
        ).alias("ratio_sum")
    )
    return cur.join(contrib, ["s", "vid"], "left").select(
        "s",
        "vid",
        "dist",
        "sigma",
        (
            F.col("sigma").cast("double")
            * F.coalesce(F.col("ratio_sum"), F.lit(0.0))
        ).alias("delta"),
    )


@iterative_kernel
def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 30,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(vid: long, bc_micro: long)`` for every vertex that
    appears in ``edges`` (undirected closure): the Brandes dependency
    sum over the pivot set ``sources`` (a DataFrame with a ``vid``
    column), floored to micro-integers. ``max_iter`` caps the BFS
    levels; with a cap the result is the dependency sum over the
    ≤max_iter-hop shortest-path DAG — the (still well-defined) state
    the SQL oracle mirrors."""
    e, verts, done = _brandes_state(edges, sources, max_iter, metrics_path)
    bc = (
        done.filter(F.col("vid") != F.col("s"))
        .groupBy("vid")
        .agg(F.sum("delta").alias("bc"))
    )
    out = verts.join(bc, "vid", "left").select(
        "vid",
        F.floor(F.coalesce(F.col("bc"), F.lit(0.0)) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("bc_micro"),
    )
    e.unpersist()
    return out


@iterative_kernel
def edge_betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 30,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(a: long, b: long, eb_micro: long)`` for every
    canonical (a<b) undirected edge: the Brandes *edge* dependency sum
    over the pivot set — the Girvan–Newman edge score. On the
    shortest-path DAG of pivot s, the dependency routed through edge
    v→w (dist(w)=dist(v)+1) is ``sigma_v · (1+delta_w) / sigma_w``
    (Brandes 2001, Theorem 6 applied edge-wise), so the whole edge
    table falls out of the SAME forward/backward state as the vertex
    score — one extra edge join and groupBy, no extra rounds. Floored
    to micro-integers for exact cross-engine comparison (per-term
    formula identical on both sides; only summation order floats)."""
    e, verts, done = _brandes_state(edges, sources, max_iter, metrics_path)
    out = edge_dependency_lineage(e, done)
    e.unpersist()
    return out


def edge_dependency_lineage(e: DataFrame, done: DataFrame) -> DataFrame:
    """Final edge aggregation over the Brandes state (unmaterialized
    lineage, exposed for the plan-regression suite): canonical edges
    joined twice against the per-(pivot, vertex) state, per-DAG-edge
    dependency term, (a, b) groupBy, left join back to the canonical
    edge set."""
    if True:  # (kept block-indented to minimize the extraction diff)
        v_side = done.select(
            "s",
            F.col("vid").alias("v"),
            F.col("dist").alias("dist_v"),
            F.col("sigma").alias("sigma_v"),
        )
        w_side = done.select(
            F.col("s").alias("s_w"),
            F.col("vid").alias("w"),
            F.col("dist").alias("dist_w"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"),
        )
        terms = (
            e.join(v_side, e["src"] == F.col("v"))
            .join(
                w_side,
                (F.col("dst") == F.col("w"))
                & (F.col("s_w") == F.col("s"))
                & (F.col("dist_w") == F.col("dist_v") + 1),
            )
            .select(
                F.least("v", "w").alias("a"),
                F.greatest("v", "w").alias("b"),
                (
                    F.col("sigma_v").cast("double")
                    * (F.lit(1.0) + F.col("delta_w"))
                    / F.col("sigma_w").cast("double")
                ).alias("term"),
            )
        )
        eb = terms.groupBy("a", "b").agg(F.sum("term").alias("eb"))
        canon = e.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
        out = canon.join(eb, ["a", "b"], "left").select(
            "a",
            "b",
            F.floor(F.coalesce(F.col("eb"), F.lit(0.0)) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("eb_micro"),
        )
        return out


def _brandes_state(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int,
    metrics_path: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Forward + backward Brandes passes; returns ``(e, verts, done)``
    where ``e`` is the cached undirected edge closure (caller
    unpersists), ``verts`` its vertex set, and ``done`` the full
    per-(pivot, vertex) state (s, vid, dist, sigma, delta)."""
    e, _, num_partitions = pin_edges(undirect(edges).select("src", "dst"))

    verts = (
        e.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )

    # ---- forward: multi-source BFS with exact path counts ----------
    reach = (
        sources.select("vid")
        .distinct()
        .join(verts, "vid", "left_semi")  # pivots outside the graph: no-op
        .select(
            F.col("vid").alias("s"),
            F.col("vid"),
            F.lit(0).alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
        .repartition(num_partitions, "s", "vid")
        .localCheckpoint(eager=True)
    )

    def forward(it: int, st: tuple[DataFrame, DataFrame]):
        reach, frontier = st
        new = (
            forward_round_lineage(e, frontier, reach, it)
            .repartition(num_partitions, "s", "vid")
            .localCheckpoint(eager=True)
        )
        n_new = new.count()
        if n_new == 0:
            return st, {"frontier": 0}, True
        reach = reach.unionByName(new).localCheckpoint(eager=True)
        return (reach, new), {"frontier": n_new}, False

    (reach, _), it, stalled = run_rounds(
        forward, (reach, reach), kernel="betweenness",
        num_partitions=num_partitions, max_iter=max_iter,
        metrics_path=metrics_path,
    )
    lmax = it - 1 if stalled else it  # deepest level reached

    # ---- backward: descending-level dependency accumulation --------
    done = (
        reach.filter(F.col("dist") == lmax)
        .withColumn("delta", F.lit(0.0))
        .localCheckpoint(eager=True)
    )

    def backward(it: int, done: DataFrame):
        lvl = lmax - it
        cur = reach.filter(F.col("dist") == lvl)
        lvl_rows = backward_round_lineage(e, done, cur, lvl).repartition(
            num_partitions, "s", "vid"
        )
        done = done.unionByName(lvl_rows).localCheckpoint(eager=True)
        return done, {"level": lvl}, False

    done, _, _ = run_rounds(
        backward, done, kernel="betweenness", num_partitions=num_partitions,
        max_iter=lmax, metrics_path=metrics_path,
    )

    return e, verts, done
