"""Maximal matching — deterministic-priority parallel greedy rounds.

Israeli–Itai-style synchronous matching (the edge analog of Luby MIS,
graph/mis.py): each round every active edge draws a priority; an edge
that is the strict lexicographic minimum among all edges sharing either
endpoint joins the matching, and both its endpoints (with every
incident edge) leave the active set. Expected O(log n) rounds with
per-round rehash (Blelloch–Fineman–Shun 2012 analyze the identical
random-priority schedule). The matched-vertex set is the classic
2-approximate minimum vertex cover (Gavril) — served as its own query.

The single-node reference has no matching/cover primitive at all (its
Neo4j layer serves lookups, not fixpoints — loader.py:50-74); this is
the curation rung that pairs near-duplicate documents one-to-one
(each doc consumed by at most one pair) instead of transitively
(dedup_groups_minhash), and the seed structure for conflict-free
pairwise scheduling over the citation graph.

Determinism contract (cross-engine, float-free): round r's priority of
canonical edge e = (a, b), a < b, is the pair

    ( q_r(e), eid(e) )   compared lexicographically, with
    m(e)   = ((a % P) * 1000003 + b % P) % P
    q_r(e) = (m(e) * A_r + B_r) % P,  A_r = 48271*r % P, B_r = 16807*r % P
    eid(e) = a * 2^31 + b            (injective for dense vids < 2^31;
                                      beyond that, substitute a catalog
                                      edge id — same role as the
                                      vid < 2^40 assumption in mis.py)

All intermediates fit int64 ((P-1)² < 2^62; eid < 2^62), so the DuckDB
recursive-CTE oracle (operators/graphq.py) replays the schedule
bit-exactly. Hash ties in q_r are broken by the injective eid, so the
globally minimal edge always wins — every round matches at least one
edge and the fixpoint is a maximal matching.

Scale posture: canonical edges hash-partitioned on ``a`` once; each
round is one endpoint-keyed window pass (the round's shuffle), one
(a, b) groupBy to conjoin the two endpoint verdicts, two anti-joins to
retire matched vertices. Winner rows accumulate via per-round
localCheckpoint; the driver sees only scalar counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import resume_point, run_rounds
from citation_graph_spark.graph.degrees import auto_partitions, undirect
from citation_graph_spark.session import iterative_kernel

_P = 2147483647
_EID_S = 2147483648  # 2^31: eid = a * 2^31 + b, injective for vid < 2^31

# active-edge count at or below which the remaining schedule replays
# as one exact driver pass (the CC "filtering" endgame precedent,
# components.py:41) — the tail is many tiny synchronous rounds whose
# scheduling overhead dwarfs their work
_LOCAL_FINISH_ROWS = 500_000


def _finish_local_matching(act_rows, start_it, max_iter):
    """Exact driver replay of the remaining matching rounds —
    identical (q, eid) priorities, so the result is bit-identical to
    the distributed rounds it replaces."""
    act = [(int(a), int(b), int(m)) for a, b, m in act_rows]
    out = []
    for it in range(start_it, max_iter + 1):
        if not act:
            break
        ar, br = 48271 * it % _P, 16807 * it % _P
        pri = {}
        for a, b, m in act:
            pri[(a, b)] = ((m * ar + br) % _P, a * _EID_S + b)
        vmin: dict[int, tuple] = {}
        for a, b, _m in act:
            p = pri[(a, b)]
            for v in (a, b):
                if v not in vmin or p < vmin[v]:
                    vmin[v] = p
        winners = [
            (a, b)
            for a, b, _m in act
            if pri[(a, b)] == vmin[a] and pri[(a, b)] == vmin[b]
        ]
        mv = {v for e in winners for v in e}
        out.extend((a, b, it) for a, b in winners)
        act = [e for e in act if e[0] not in mv and e[1] not in mv]
    return out


def _q(m: F.Column, r: int) -> F.Column:
    a = 48271 * r % _P
    b = 16807 * r % _P
    return (m * F.lit(a) + F.lit(b)) % _P


def matching_round_lineage(act: DataFrame, it: int) -> DataFrame:
    """One matching round's winner plan — endpoint expansion, two
    stacked windows per endpoint (min priority, then min eid at that
    priority), an (a, b) groupBy conjoining the endpoint verdicts —
    exposed for the plan audit / regressions. ``act`` carries
    (a, b, m) canonical active edges."""
    qq = _q(F.col("m"), it)
    eid = F.col("a") * F.lit(_EID_S) + F.col("b")
    base = act.select("a", "b", qq.alias("q"), eid.alias("eid"))
    inc = base.withColumn("v", F.col("a")).unionByName(
        base.withColumn("v", F.col("b"))
    )
    w = Window.partitionBy("v")
    inc = inc.withColumn("mn1", F.min("q").over(w))
    inc = inc.withColumn(
        "mn2", F.min(F.when(F.col("q") == F.col("mn1"), F.col("eid"))).over(w)
    )
    winrow = (
        (F.col("q") == F.col("mn1")) & (F.col("eid") == F.col("mn2"))
    ).cast("int")
    return (
        inc.select("a", "b", winrow.alias("wr"))
        .groupBy("a", "b")
        .agg(F.min("wr").alias("w"))
        .filter(F.col("w") == 1)
        .select("a", "b")
    )


@iterative_kernel
def maximal_matching(
    edges: DataFrame,
    max_iter: int = 100,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 4,
    resume: bool = False,
    local_finish_rows: int | None = None,
) -> DataFrame:
    """Returns ``(vid, mate, matched, match_round)`` over the
    edge-derived vertex set: ``mate`` the partner vid (-1 when
    unmatched), ``matched`` 0/1, ``match_round`` the round that paired
    them (0 when unmatched). Maximality holds at the fixpoint; with a
    ``max_iter`` cap the result is the state after exactly that many
    synchronous rounds (which the SQL oracle mirrors).

    ``checkpoint_dir`` persists the matched-pair set every
    ``checkpoint_interval`` rounds; ``resume=True`` continues from the
    newest snapshot with the IDENTICAL final matching — the active
    edge set is exactly canonical-edges-minus-matched-endpoints and
    the schedule is a pure function of (edge, round); the int64 state
    round-trips parquet exactly.

    ``local_finish_rows`` — active-edge count at or below which the
    remaining rounds replay as one exact driver pass (None → module
    default ``_LOCAL_FINISH_ROWS``; 0 forces the distributed rounds,
    used by their equality tests). Identical matching either way."""
    if local_finish_rows is None:
        local_finish_rows = _LOCAL_FINISH_ROWS
    spark = edges.sparkSession

    und0 = undirect(edges).select("src", "dst").persist()
    n_sym = und0.count()
    num_partitions = auto_partitions(spark, n_sym)

    m = ((F.col("a") % _P) * F.lit(1000003) + F.col("b") % _P) % _P
    act = (
        und0.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .withColumn("m", m)
        .repartition(num_partitions, "a")
        .localCheckpoint(eager=True)
    )
    verts = (
        und0.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(num_partitions, "vid")
        .localCheckpoint(eager=True)
    )
    und0.unpersist()

    ckpt, matched, start_iter = resume_point(
        spark, checkpoint_dir, "matching", resume, "a", num_partitions
    )
    if matched is None:
        matched = spark.createDataFrame(
            [], "a long, b long, match_round long"
        ).localCheckpoint(eager=True)
    mv0 = (
        matched.select(F.col("a").alias("vid"))
        .unionByName(matched.select(F.col("b").alias("vid")))
        .distinct()
    )
    act = (
        act.join(mv0.withColumnRenamed("vid", "a"), "a", "left_anti")
        .join(mv0.withColumnRenamed("vid", "b"), "b", "left_anti")
        .select("a", "b", "m")
        .repartition(num_partitions, "a")
        .localCheckpoint(eager=True)
    )
    n_active = act.count()

    def step(it: int, st: tuple[DataFrame, DataFrame, int]):
        matched, act, n_active = st
        if local_finish_rows and n_active <= local_finish_rows:
            # the endgame replays every remaining round at once
            act_rows = [(r["a"], r["b"], r["m"]) for r in act.collect()]
            new = _finish_local_matching(act_rows, it, max_iter)
            if new:
                matched = matched.unionByName(
                    spark.createDataFrame(
                        new, "a long, b long, match_round long"
                    )
                ).localCheckpoint(eager=True)
            fields = {"winners": len(new), "active": 0, "endgame": 1}
            return (matched, act, 0), fields, True
        winners = matching_round_lineage(act, it).localCheckpoint(eager=True)
        n_win = winners.count()
        won = winners.withColumn("match_round", F.lit(it).cast("long"))
        matched = matched.unionByName(won).localCheckpoint(eager=True)
        mv = (
            winners.select(F.col("a").alias("vid"))
            .unionByName(winners.select(F.col("b").alias("vid")))
            .distinct()
        )
        act = (
            act.join(mv.withColumnRenamed("vid", "a"), "a", "left_anti")
            .join(mv.withColumnRenamed("vid", "b"), "b", "left_anti")
            .select("a", "b", "m")
            .repartition(num_partitions, "a")
            .localCheckpoint(eager=True)
        )
        n_next = act.count()
        fields = {
            "winners": n_win,
            "active": n_next,
            "removed": n_active - n_next,
        }
        return (matched, act, n_next), fields, n_next == 0

    # the snapshot of round ``it`` holds the pairs matched up to it: an
    # endgame round also holds the later rounds it replayed
    if n_active:
        (matched, _, _), _, _ = run_rounds(
            step, (matched, act, n_active), kernel="matching",
            num_partitions=num_partitions, start=start_iter, max_iter=max_iter,
            metrics_path=metrics_path, ckpt=ckpt, interval=checkpoint_interval,
            snapshot=lambda st, it: st[0].filter(F.col("match_round") <= it),
        )

    mates = matched.select(
        F.col("a").alias("vid"), F.col("b").alias("mate"), "match_round"
    ).unionByName(
        matched.select(
            F.col("b").alias("vid"), F.col("a").alias("mate"), "match_round"
        )
    )
    return verts.join(mates, "vid", "left").select(
        "vid",
        F.coalesce("mate", F.lit(-1)).cast("long").alias("mate"),
        F.when(F.col("mate").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("matched"),
        F.coalesce("match_round", F.lit(0)).cast("long").alias("match_round"),
    )
