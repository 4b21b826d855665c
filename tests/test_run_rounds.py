"""``checkpointing.run_rounds`` — the one round loop of the iterative
kernels — on a toy one-row state: snapshot cadence, the summary
record, and the shuffle width restored when a round raises."""

from __future__ import annotations

import json

import pytest

from citation_graph_spark.checkpointing import CheckpointManager, run_rounds

WIDTH = "spark.sql.shuffle.partitions"


def _saves(monkeypatch) -> list[tuple[int, bool]]:
    """Record (iteration, converged) of every durable save."""
    saved: list[tuple[int, bool]] = []
    real = CheckpointManager.save

    def spy(self, df, iteration, meta=None):
        saved.append((iteration, meta["converged"]))
        return real(self, df, iteration, meta)

    monkeypatch.setattr(CheckpointManager, "save", spy)
    return saved


def _run(spark, tmp_path, *, stop_at, max_iter, start=0, interval=3):
    ckpt = CheckpointManager(str(tmp_path / "ck"), "toy")
    metrics = tmp_path / "toy.jsonl"

    def step(it, st):
        return st, {"x": it}, it == stop_at

    state = spark.range(1).withColumnRenamed("id", "x")
    _, last, done = run_rounds(
        step,
        state,
        kernel="toy",
        num_partitions=2,
        start=start,
        max_iter=max_iter,
        metrics_path=str(metrics),
        ckpt=ckpt,
        interval=interval,
        params={"alpha": 0.5},
    )
    records = [json.loads(ln) for ln in metrics.read_text().splitlines()]
    return last, done, records, ckpt.latest()


@pytest.mark.parametrize(
    "stop_at, max_iter, start, want",
    [
        (7, 10, 0, [(3, False), (6, False), (7, True)]),  # stops between
        (6, 10, 0, [(3, False), (6, True)]),  # stops on a multiple: once
        (None, 6, 0, [(3, False), (6, False)]),  # round cap on a multiple
        (None, 7, 4, [(6, False), (7, False)]),  # resumed at round 4
    ],
)
def test_saves_at_interval_multiples_and_exit(
    spark, tmp_path, monkeypatch, stop_at, max_iter, start, want
):
    saved = _saves(monkeypatch)
    last, done, records, manifest = _run(
        spark, tmp_path, stop_at=stop_at, max_iter=max_iter, start=start
    )
    assert saved == want
    assert last == want[-1][0] and done == want[-1][1]
    assert manifest["iteration"] == last
    assert manifest["meta"] == {"alpha": 0.5, "converged": done}


def test_one_record_per_round_and_one_summary(spark, tmp_path):
    last, _, records, _ = _run(spark, tmp_path, stop_at=5, max_iter=10)
    rounds = [r for r in records if r["iteration"] >= 0]
    summary = [r for r in records if r["iteration"] == -1]
    assert [r["iteration"] for r in rounds] == [1, 2, 3, 4, 5]
    assert all(r["x"] == r["iteration"] and r["wall_s"] >= 0 for r in rounds)
    assert len(summary) == 1 and summary[0]["iterations"] == last == 5
    assert summary[0]["total_wall_s"] >= 0
    assert all(r["kernel"] == "toy" for r in records)


def test_restores_shuffle_width_when_step_raises(spark):
    prev = spark.conf.get(WIDTH)
    seen = []

    def step(it, st):
        seen.append(spark.conf.get(WIDTH))
        raise RuntimeError("round failed")

    with pytest.raises(RuntimeError, match="round failed"):
        run_rounds(step, None, kernel="toy", num_partitions=3, max_iter=5)
    assert seen == ["3"]
    assert spark.conf.get(WIDTH) == prev
