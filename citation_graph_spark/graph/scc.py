"""Strongly connected components — forward-backward coloring.

Citation graphs between code modules are NOT acyclic (mutual includes
are routine: the synthesized corpus has a giant SCC), and the
condensation into SCCs is the standard first step before any
DAG-shaped analysis (topological layering, longest-chain citation
depth). The reference's Cypher serving layer can express mutual
reachability only pairwise; this kernel makes the full partition a
first-class result table ``(vid, scc)`` with scc = MAX vid in the
component — completing the kernel family (PageRank / CC / LP /
triangles / BFS / SSSP / k-core / HITS / Katz) with the directed
analog of connected components.

Algorithm — the coloring method of the distributed-SCC literature
(Orzan 2004; the FB-trim family of Hong et al. / Slota et al.):

    repeat until no live vertices:
      1. FORWARD max-color propagation to fixpoint:
         color(v) = max(v, max_{u->v} color(u))  — after convergence
         color(v) is the largest vid that can reach v.
      2. Roots: vertices with color(v) == v (nobody larger reaches
         them). BACKWARD flag propagation restricted to the
         same-color subgraph: flag(root) = true;
         flag(u) |= flag(x) for edges u->x with color(u) == color(x).
         A flagged vertex both reaches its root (backward walk) and
         is reached by it (color), hence is in the root's SCC.
      3. Emit flagged vertices with scc = color; delete them; loop.

Every round removes at least every current root's SCC, so the live
set strictly shrinks; the number of outer rounds is bounded by the
depth of the SCC condensation (1 for a DAG — every vertex is its own
root after one coloring — and small for real link graphs). Both
inner fixpoints are O(diameter) one-shuffle rounds, the same cost
shape as min-label connected components; the same star-contraction /
checkpoint treatments apply.

Endgame: below ``local_finish_rows`` live edge rows the remaining
graph is collected and finished with a VECTORIZED numpy replica of
the identical coloring iteration (np.maximum.at / logical_or.at — no
Python per-edge loop), the same "filtering" endgame as
components.py (Lattanzi et al., SPAA'11). Labels are bit-identical
to the distributed fixpoint because the algorithm is the same;
tests additionally check both against an independent Tarjan oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import run_rounds
from citation_graph_spark.graph.degrees import auto_partitions
from citation_graph_spark.session import iterative_kernel

_LOCAL_FINISH_EDGE_ROWS = 50_000


def _local_scc_arrays(src, dst, vids):
    """Vectorized local coloring on numpy arrays → (vids, scc)."""
    import numpy as np

    order = np.unique(np.concatenate([src, dst, vids]))
    s = np.searchsorted(order, src)
    d = np.searchsorted(order, dst)
    n = len(order)
    alive = np.ones(n, dtype=bool)
    scc = order.copy()

    while alive.any():
        live_e = alive[s] & alive[d]
        se, de = s[live_e], d[live_e]
        # forward max-color propagation
        color = np.where(alive, order, np.int64(-1))
        while True:
            new = color.copy()
            np.maximum.at(new, de, color[se])
            if (new == color).all():
                break
            color = new
        # roots + backward flags within same color
        flag = alive & (color == order)
        mask = color[se] == color[de]
        se2, de2 = se[mask], de[mask]
        while True:
            new = flag.copy()
            np.logical_or.at(new, se2, flag[de2])
            if (new == flag).all():
                break
            flag = new
        take = alive & flag
        scc[take] = color[take]
        alive &= ~flag

    return order, scc


@iterative_kernel
def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    metrics_path: str | None = None,
    local_finish_rows: int = _LOCAL_FINISH_EDGE_ROWS,
    max_outer: int = 64,
    max_inner: int = 10_000,
) -> DataFrame:
    """Returns ``(vid: long, scc: long)``; scc = max vid in the
    strongly connected component (isolated vertices are their own)."""
    spark = edges.sparkSession

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vertices = vertices.select("vid")

    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    e = e.distinct().localCheckpoint(eager=True)
    n_edges = e.count()
    num_partitions = auto_partitions(spark, max(n_edges, 1))

    if n_edges <= local_finish_rows:
        return _finish_local(e, vertices)

    def step(outer: int, st: tuple):
        e, live, done = st
        n_live_e = e.count()
        if n_live_e == 0:
            return st, {}, True
        if n_live_e <= local_finish_rows:
            # filtering endgame: identical algorithm, numpy
            local = _finish_local(e, live)
            done = local if done is None else done.unionByName(local)
            return (e, None, done), {}, True

        # ---- 1) forward max-color propagation to fixpoint
        colors = live.select(
            "vid", F.col("vid").alias("color")
        ).repartition(num_partitions, "vid").localCheckpoint(eager=True)
        for _ in range(max_inner):
            upd = (
                e.join(colors, e["src"] == colors["vid"])
                .select(F.col("dst"), F.col("color").alias("cin"))
                .groupBy("dst")
                .agg(F.max("cin").alias("cin"))
            )
            new = (
                colors.join(upd, colors["vid"] == upd["dst"], "left")
                .select(
                    "vid",
                    F.greatest(
                        "color", F.coalesce("cin", F.lit(-1))
                    ).alias("ncolor"),
                )
                .repartition(num_partitions, "vid")
                .localCheckpoint(eager=True)
            )
            changed = (
                new.join(colors, "vid")
                .filter(F.col("ncolor") != F.col("color"))
                .count()
            )
            colors = new.select("vid", F.col("ncolor").alias("color"))
            if changed == 0:
                break
        else:
            raise RuntimeError("scc: color propagation did not converge")

        # ---- 2) backward flag propagation in the same-color graph
        csrc = colors.select(
            F.col("vid").alias("src"), F.col("color").alias("c_src")
        )
        cdst = colors.select(
            F.col("vid").alias("dst"), F.col("color").alias("c_dst")
        )
        same = (
            e.join(csrc, "src")
            .join(cdst, "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst")
            .repartition(num_partitions, "dst")
            .localCheckpoint(eager=True)
        )
        flagged = (
            colors.filter(F.col("vid") == F.col("color"))
            .select("vid")
            .localCheckpoint(eager=True)
        )
        for _ in range(max_inner):
            grown = (
                same.join(flagged, same["dst"] == flagged["vid"])
                .select(F.col("src").alias("vid"))
                .distinct()
                .join(flagged, "vid", "left_anti")
                .localCheckpoint(eager=True)
            )
            if grown.count() == 0:
                break
            flagged = flagged.unionByName(grown).localCheckpoint(
                eager=True
            )
        else:
            raise RuntimeError("scc: backward flags did not converge")

        # ---- 3) emit + remove
        part = colors.join(flagged, "vid").select(
            "vid", F.col("color").alias("scc")
        )
        done = part if done is None else done.unionByName(part)
        done = done.localCheckpoint(eager=True)
        live = live.join(flagged, "vid", "left_anti").localCheckpoint(
            eager=True
        )
        e = (
            e.join(
                flagged.select(F.col("vid").alias("src")), "src", "left_anti"
            )
            .join(
                flagged.select(F.col("vid").alias("dst")), "dst", "left_anti"
            )
            .localCheckpoint(eager=True)
        )
        return (e, live, done), {"removed": part.count()}, False

    (_, live, done), _, finished = run_rounds(
        step, (e, vertices.localCheckpoint(eager=True), None), kernel="scc",
        num_partitions=num_partitions, max_iter=max_outer,
        metrics_path=metrics_path,
    )
    if not finished:
        raise RuntimeError("scc: outer loop exceeded max_outer")
    if live is not None and done is not None:
        # any still-live vertices are edge-free singletons
        rest = live.select("vid", F.col("vid").alias("scc"))
        done = done.unionByName(rest)
    elif done is None:
        done = vertices.select("vid", F.col("vid").alias("scc"))

    # vertices never touched by an edge keep their own vid
    return (
        vertices.join(done, "vid", "left")
        .select("vid", F.coalesce("scc", F.col("vid")).alias("scc"))
    )


def _finish_local(e: DataFrame, vertices: DataFrame) -> DataFrame:
    """Collect the (small) live edge set, run the vectorized local
    coloring, and join labels back onto the distributed vertex set so
    ``vertices`` itself may be arbitrarily large."""
    import pandas as pd

    spark = e.sparkSession
    pdf = e.toPandas()
    if len(pdf) == 0:
        return vertices.select("vid", F.col("vid").alias("scc"))
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    order, scc = _local_scc_arrays(src, dst, src[:0])
    labels = spark.createDataFrame(
        pd.DataFrame({"vid": order, "scc": scc})
    )
    return (
        vertices.join(labels, "vid", "left")
        .select("vid", F.coalesce("scc", F.col("vid")).alias("scc"))
    )
