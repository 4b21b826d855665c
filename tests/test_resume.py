"""Resumability (north rule): kill at iteration k, relaunch, identical
final scores; converged checkpoints return without extra rounds."""

from __future__ import annotations

import numpy as np

from citation_graph_spark.graph import connected_components, pagerank
from tests.conftest import edges_df, vertices_df
from tests.oracles import random_graph


def test_pagerank_kill_resume_identical(spark, tmp_path):
    el = random_graph(300, 1500, seed=3)
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 300)

    full = (
        pagerank(edges, verts).orderBy("vid").toPandas()["score"].to_numpy()
    )
    ck = str(tmp_path / "ck")
    pagerank(edges, verts, max_iter=6, checkpoint_dir=ck, checkpoint_interval=3)
    resumed = (
        pagerank(edges, verts, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert np.allclose(full, resumed, atol=1e-12, rtol=0)

    again = (
        pagerank(edges, verts, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert (again == resumed).all()


def test_components_kill_resume_identical(spark, tmp_path):
    el = random_graph(300, 900, seed=5)
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 300)

    full = (
        connected_components(edges, verts)
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    ck = str(tmp_path / "ck")
    connected_components(
        edges, verts, max_iter=2, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = (
        connected_components(edges, verts, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    assert resumed == full


def test_components_resume_at_round_cap_returns_snapshot(spark, tmp_path):
    # a 10-vertex path needs 9 min-label rounds; the capped run stops at
    # 3 with a durable snapshot, and resuming under the same cap runs no
    # round — the snapshot itself is the answer
    el = [(i, i + 1) for i in range(9)]
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 10)
    ck = str(tmp_path / "ck")
    kw = dict(max_iter=3, checkpoint_dir=ck, local_finish_edges=0)

    capped = (
        connected_components(edges, verts, checkpoint_interval=1, **kw)
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    resumed = (
        connected_components(edges, verts, resume=True, **kw)
        .orderBy("vid")
        .toPandas()["component"]
        .tolist()
    )
    assert resumed == capped == [0, 0, 0, 0, 1, 2, 3, 4, 5, 6]


def test_katz_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph.katz import katz_centrality

    el = random_graph(300, 1500, seed=7)
    edges = edges_df(spark, el)
    verts = vertices_df(spark, 300)

    full = (
        katz_centrality(edges, verts, max_iter=6)
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    ck = str(tmp_path / "ck")
    # "killed" run: only 3 of 6 rounds, durable snapshot at round 2 + 3
    katz_centrality(
        edges, verts, max_iter=3, checkpoint_dir=ck, checkpoint_interval=2
    )
    resumed = (
        katz_centrality(
            edges, verts, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    # doubles round-trip parquet exactly and the remaining schedule is
    # identical, so resume is bit-identical, not merely allclose
    assert (full == resumed).all()

    # manifest at max_iter: a second resume replays zero rounds
    again = (
        katz_centrality(
            edges, verts, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score"]
        .to_numpy()
    )
    assert (again == resumed).all()


def test_hyperball_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph.anf import hyperball

    el = random_graph(200, 800, seed=9)
    edges = edges_df(spark, el)

    full = (
        hyperball(edges, radius=4, log2m=6)
        .orderBy("vid", "r")
        .toPandas()
    )
    ck = str(tmp_path / "ck")
    hyperball(
        edges, radius=2, log2m=6, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = (
        hyperball(
            edges, radius=4, log2m=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid", "r")
        .toPandas()
    )
    # registers are integers: the parquet round-trip is exact, so the
    # resumed estimates match the uninterrupted run row-for-row
    assert (full.to_numpy() == resumed.to_numpy()).all()


def test_louvain_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph.louvain import louvain_local_moves

    el = random_graph(200, 900, seed=11)
    edges = edges_df(spark, el)

    full = (
        louvain_local_moves(edges, rounds=4)
        .orderBy("vid")
        .toPandas()["community"]
        .tolist()
    )
    ck = str(tmp_path / "ck")
    louvain_local_moves(
        edges, rounds=2, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = (
        louvain_local_moves(edges, rounds=4, checkpoint_dir=ck, resume=True)
        .orderBy("vid")
        .toPandas()["community"]
        .tolist()
    )
    # integer community ids round-trip exactly; the synchronous rounds
    # are deterministic, so the resumed fixpoint is bit-identical
    assert resumed == full


def test_eigenvector_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph import eigenvector_centrality

    el = random_graph(300, 1500, seed=7)
    edges = edges_df(spark, el)

    full = (
        eigenvector_centrality(edges, max_iter=6)
        .orderBy("vid")
        .toPandas()["score_ppm"]
        .to_numpy()
    )
    ck = str(tmp_path / "ck")
    eigenvector_centrality(
        edges, max_iter=3, checkpoint_dir=ck, checkpoint_interval=2
    )
    resumed = (
        eigenvector_centrality(
            edges, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score_ppm"]
        .to_numpy()
    )
    # int64 state round-trips parquet exactly; identical remaining
    # schedule => bit-identical, not merely allclose
    assert (full == resumed).all()

    again = (
        eigenvector_centrality(
            edges, max_iter=6, checkpoint_dir=ck, resume=True
        )
        .orderBy("vid")
        .toPandas()["score_ppm"]
        .to_numpy()
    )
    assert (again == resumed).all()


def test_coloring_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph import greedy_coloring

    el = random_graph(300, 1500, seed=9)
    edges = edges_df(spark, el)

    # local_finish_rows=0 forces the distributed rounds — the endgame
    # would otherwise finish round 1 before any checkpoint lands
    full = (
        greedy_coloring(edges, local_finish_rows=0).orderBy("vid").collect()
    )
    ck = str(tmp_path / "ck")
    # "kill" after 2 rounds (checkpoint every round), then resume
    greedy_coloring(
        edges,
        max_iter=2,
        checkpoint_dir=ck,
        checkpoint_interval=1,
        local_finish_rows=0,
    )
    resumed = (
        greedy_coloring(
            edges, checkpoint_dir=ck, resume=True, local_finish_rows=0
        )
        .orderBy("vid")
        .collect()
    )
    assert [tuple(r) for r in full] == [tuple(r) for r in resumed]


def test_matching_kill_resume_identical(spark, tmp_path):
    from citation_graph_spark.graph import maximal_matching

    el = random_graph(300, 1500, seed=10)
    edges = edges_df(spark, el)

    full = (
        maximal_matching(edges, local_finish_rows=0).orderBy("vid").collect()
    )
    ck = str(tmp_path / "ck")
    maximal_matching(
        edges,
        max_iter=2,
        checkpoint_dir=ck,
        checkpoint_interval=1,
        local_finish_rows=0,
    )
    resumed = (
        maximal_matching(
            edges, checkpoint_dir=ck, resume=True, local_finish_rows=0
        )
        .orderBy("vid")
        .collect()
    )
    assert [tuple(r) for r in full] == [tuple(r) for r in resumed]
