"""Greedy graph coloring — Jones–Plassmann deterministic-priority rounds.

Jones & Plassmann (1993): each round every uncolored vertex draws a
priority; a vertex beating all uncolored neighbors colors itself with
the minimum color absent from its already-colored neighborhood (the
"mex"). Winners of one round are pairwise non-adjacent (strict-minimum
argument, as in Luby MIS — graph/mis.py), so the coloring is proper;
with per-round rehash the schedule finishes in O(log n) rounds w.h.p.
Colors used ≤ degeneracy-ish greedy bound (≤ Δ+1 always). Coloring is
THE conflict-free scheduling primitive over an edge table — register
allocation, parallel sweep ordering, mutual-exclusion batching — and
the single-node reference has nothing like it (its Neo4j layer serves
lookups, not fixpoints).

Determinism contract (cross-engine, float-free): the round-r priority
is the MIS kernel's injective Lehmer hash ``q_r(v)`` verbatim
(mis.py:45-53 — folded 23-bit hash, vid packed in the low 40 bits),
and the mex is a fold over the sorted distinct neighbor colors — both
exactly replayable in the DuckDB recursive-CTE oracle
(operators/graphq.py), which carries vertex cards + the symmetric
adjacency and computes winner flags and the mex with stacked window
functions over that one working set.

Scale posture: adjacency hash-partitioned on ``src`` once and
persisted (it never shrinks — colored vertices keep serving their
color to neighbors); each round is the MIS winner plan (two semi-joins
+ neighbor-min groupBy) plus one winner-keyed neighbor-color groupBy
for the mex. Colored rows accumulate via per-round localCheckpoint;
the driver sees only scalar counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import resume_point, run_rounds
from citation_graph_spark.graph.degrees import pin_edges, undirect
from citation_graph_spark.graph.mis import mis_round_lineage
from citation_graph_spark.session import iterative_kernel

# mex of a sorted ascending distinct color array: first gap, else size
_MEX_FOLD = (
    "aggregate(cs, cast(0 as bigint),"
    " (acc, c) -> if(c = acc, acc + cast(1 as bigint), acc))"
)

# incident-row count at or below which the remaining schedule replays
# as one vectorized driver pass (the CC "filtering" endgame precedent,
# components.py:41) — the JP tail is many tiny synchronous rounds whose
# per-round scheduling overhead dwarfs their work
_LOCAL_FINISH_ROWS = 500_000

_P = 2147483647
_M = 8388608
_S = 1099511627776


def _q_py(v: int, r: int) -> int:
    """Python twin of mis._q — the identical injective Lehmer hash."""
    a = 48271 * r % _P
    b = 16807 * r % _P
    return ((v % _P) * a + b) % _P % _M * _S + v


def _finish_local_coloring(
    inc_rows, active_vids, colored_rows, start_it, max_iter
):
    """Exact driver replay of the remaining JP rounds: identical
    per-round priorities and mex, so the result is bit-identical to
    the distributed rounds it replaces. ``inc_rows`` are (src, dst)
    with src active; ``colored_rows`` maps already-colored vid→color."""
    color = dict(colored_rows)
    active = set(active_vids)
    adj_act: dict[int, set] = {v: set() for v in active}
    nb_cols: dict[int, set] = {v: set() for v in active}
    for src, dst in inc_rows:
        if dst in active:
            adj_act[src].add(dst)
        else:
            c = color.get(dst)
            if c is not None:
                nb_cols[src].add(c)
    out = []
    for it in range(start_it, max_iter + 1):
        if not active:
            break
        qs = {v: _q_py(v, it) for v in active}
        winners = [
            v
            for v in active
            if all(qs[v] < qs[n] for n in adj_act[v] if n in active)
        ]
        for w in winners:
            used = sorted(nb_cols[w])
            mex = 0
            for c in used:
                if c == mex:
                    mex += 1
                elif c > mex:
                    break
            color[w] = mex
            out.append((w, mex, it))
        ws = set(winners)
        active -= ws
        for w in winners:
            for n in adj_act[w]:
                if n in active:
                    nb_cols[n].add(color[w])
    return out


@iterative_kernel
def greedy_coloring(
    edges: DataFrame,
    max_iter: int = 100,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 4,
    resume: bool = False,
    local_finish_rows: int | None = None,
) -> DataFrame:
    """Returns ``(vid, color, color_round)`` over the edge-derived
    vertex set: a proper coloring (no edge joins equal colors) that is
    exactly the greedy mex along the deterministic priority schedule.
    With a ``max_iter`` cap the result is the state after exactly that
    many synchronous rounds — still-uncolored vertices report
    ``color = -1, color_round = 0`` (which the SQL oracle mirrors).

    ``checkpoint_dir`` persists the colored set every
    ``checkpoint_interval`` rounds (CheckpointManager manifest);
    ``resume=True`` continues from the newest snapshot with the
    IDENTICAL final coloring — the uncolored frontier is exactly
    vertices-minus-colored and the schedule is a pure function of
    (vid, round), and the state is int64, so the parquet round-trip is
    exact by construction.

    ``local_finish_rows`` — incident-row count at or below which the
    remaining rounds replay as one exact driver pass (None → module
    default ``_LOCAL_FINISH_ROWS``; 0 forces the distributed rounds,
    used by their equality tests). Identical colors either way."""
    if local_finish_rows is None:
        local_finish_rows = _LOCAL_FINISH_ROWS
    spark = edges.sparkSession

    e, _, num_partitions = pin_edges(undirect(edges).select("src", "dst"))

    verts = (
        e.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )
    ckpt, colored, start_iter = resume_point(
        spark, checkpoint_dir, "coloring", resume, "vid", num_partitions
    )
    if colored is None:
        colored = spark.createDataFrame(
            [], "vid long, color long, color_round long"
        ).localCheckpoint(eager=True)
    active = verts.join(colored, "vid", "left_anti").repartition(
        num_partitions, "vid"
    ).localCheckpoint(eager=True)
    n_active = active.count()

    def step(it: int, st: tuple[DataFrame, DataFrame, int]):
        colored, active, n_active = st
        if local_finish_rows:
            inc = e.join(
                active.select(F.col("vid").alias("src")),
                "src",
                "left_semi",
            )
            if inc.count() <= local_finish_rows:
                # the endgame replays every remaining round at once
                inc_rows = [(r["src"], r["dst"]) for r in inc.collect()]
                act_vids = [r["vid"] for r in active.collect()]
                col_rows = [(r["vid"], r["color"]) for r in colored.collect()]
                new = _finish_local_coloring(
                    inc_rows, act_vids, col_rows, it, max_iter
                )
                if new:
                    colored = colored.unionByName(
                        spark.createDataFrame(
                            new, "vid long, color long, color_round long"
                        )
                    ).localCheckpoint(eager=True)
                fields = {
                    "winners": len(new),
                    "active": len(act_vids) - len(new),
                    "endgame": 1,
                }
                return (colored, active, 0), fields, True
        winners = mis_round_lineage(e, active, it).localCheckpoint(eager=True)
        # mex over already-colored neighbors of each winner
        nb_colors = (
            e.join(
                winners.select(F.col("vid").alias("src")),
                "src",
                "left_semi",
            )
            .join(
                colored.select(F.col("vid").alias("dst"), "color"),
                "dst",
            )
            .groupBy("src")
            .agg(F.sort_array(F.collect_set("color")).alias("cs"))
            .select(
                F.col("src").alias("vid"),
                F.expr(_MEX_FOLD).alias("mex"),
            )
        )
        won = winners.join(nb_colors, "vid", "left").select(
            "vid",
            F.coalesce("mex", F.lit(0)).cast("long").alias("color"),
            F.lit(it).cast("long").alias("color_round"),
        )
        colored = (
            colored.unionByName(won)
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        active = (
            active.join(winners, "vid", "left_anti")
            .repartition(num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        n_next = active.count()
        fields = {"winners": n_active - n_next, "active": n_next}
        return (colored, active, n_next), fields, n_next == 0

    # the snapshot of round ``it`` holds the vertices colored up to it: an
    # endgame round also holds the later rounds it replayed
    if n_active:
        (colored, _, _), _, _ = run_rounds(
            step, (colored, active, n_active), kernel="coloring",
            num_partitions=num_partitions, start=start_iter, max_iter=max_iter,
            metrics_path=metrics_path, ckpt=ckpt, interval=checkpoint_interval,
            snapshot=lambda st, it: st[0].filter(F.col("color_round") <= it),
        )

    return verts.join(colored, "vid", "left").select(
        "vid",
        F.coalesce("color", F.lit(-1)).cast("long").alias("color"),
        F.coalesce("color_round", F.lit(0)).cast("long").alias("color_round"),
    )
