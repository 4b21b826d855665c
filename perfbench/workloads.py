"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

Every call into the engine goes through a public function of one of its
modules and is timed together with the action that materializes its
result (``persist().count()`` or the kernel's own eager checkpoint),
because Spark is lazy. Inputs are generated from the seed and written to
parquet before any timing starts; a pass reads only that table.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracles

from citation_graph_spark.checkpointing import CheckpointManager
from citation_graph_spark.extraction import build_edges, extract_references
from citation_graph_spark.fixtures.corpus import generate_documents
from citation_graph_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_counts,
)
from citation_graph_spark.graph.ids import build_vertices
from citation_graph_spark.graph.triangles import oriented_edges
from citation_graph_spark.streaming.incremental import (
    DOC_SCHEMA,
    ingest_reference_stream,
    refresh_pagerank,
    resolve_edges,
)
import citation_graph_spark.extraction as extraction_mod
import citation_graph_spark.graph as graph_mod

from spans import Tracer

TOL = 1e-6
FIXPOINT_TOL = 1e-13
LPA_ROUNDS = 10
CHECKPOINT_EVERY = 5

# corpus sizes: (normal, smoke)
BATCH_DOCS = (3000, 200)
# triangle counting gets its own small corpus, whose graph is built and
# checkpointed in set-up: on an edge table built in the same pass it plans
# ~270 Spark jobs (~15 s even at 16 documents) and grows steeply with hub
# degree; on the checkpointed graph it runs ~20 jobs
HUB_DOCS = (300, 100)
REFRESH_BASE_DOCS = (2000, 300)
REFRESH_BATCH_DOCS = (100, 50)
REFRESH_MAX_BATCHES = (12, 6)


@dataclass
class Ctx:
    spark: object
    cores: int
    work: str
    seed: int
    smoke: bool

    def size(self, pair: tuple[int, int]) -> int:
        return pair[1] if self.smoke else pair[0]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Checks:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(name)

    def raised(self, name: str, n_outputs: int, err: BaseException) -> None:
        self.attempted += n_outputs
        self.failed += n_outputs
        self.notes.append(f"{name}: {type(err).__name__}: {err}")


def _jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        os.remove(path)
    return path


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _materialize(df):
    df = df.persist()
    df.count()
    return df


def _pr_iterations(records: list[dict]) -> int:
    """Rounds run, from the summary record of a pagerank metrics JSONL."""
    return next(r["iterations"] for r in records if r["iteration"] < 0)


def _round_walls(records: list[dict]) -> list[float]:
    return [r["wall_s"] for r in records if r["iteration"] >= 0]


def _check_ids(checks: Checks, label: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    got = got.sort_values("vid", ignore_index=True)[["vid", "repo", "path"]]
    checks.check(
        f"ids ({label}): dense vid in (repo, path) order",
        got.equals(want[["vid", "repo", "path"]]),
    )


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and that
    percentile; with fewer than eleven samples, the maximum (100)."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# --------------------------------------------------------------------------
# batch_pipeline: corpus table → ids → edges → CC → PageRank → LPA, then
# triangle counts on a small hub graph built in set-up


class BatchPipeline:
    name = "batch_pipeline"
    outputs_per_pass = 6
    trace_order = "UT"  # untraced, then traced pass

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.docs = generate_documents(ctx.size(BATCH_DOCS), seed=ctx.seed)
        self.hub_docs = generate_documents(ctx.size(HUB_DOCS), seed=ctx.seed)
        self.table = ctx.path("documents.parquet")
        _write_parquet(self.docs, self.table)
        self.results: list[dict] = []
        self._oracles: dict[str, dict] = {}

    def warm_up(self) -> None:
        """Build the hub graph, then run the whole pass once on a tiny
        corpus (one kernel round, a durable checkpoint after it, triangle
        counts on the hub graph), so class loading, code generation and
        Python worker start-up are paid before timing."""
        spark = self.ctx.spark
        hub_docs = spark.createDataFrame(self.hub_docs)
        verts = build_vertices(hub_docs).localCheckpoint(eager=True)
        self.hub = (verts, build_edges(hub_docs, verts).localCheckpoint(eager=True))
        self.hub_out = {
            "verts": verts.select("vid", "repo", "path").toPandas(),
            "edges": self.hub[1].toPandas(),
        }
        self.hub_checked = False
        tiny = self.ctx.path("warmup.parquet")
        _write_parquet(generate_documents(64, seed=self.ctx.seed), tiny)
        self._pass(Tracer("warmup"), tiny, max_iter=1, checkpoint_every=1)
        spark.catalog.clearCache()

    def _pass(
        self, tracer: Tracer, table: str, max_iter: int = 200,
        checkpoint_every: int = CHECKPOINT_EVERY,
    ) -> dict:
        spark = self.ctx.spark
        ck = _fresh(self.ctx.path("checkpoints"))
        m = {k: _fresh(self.ctx.path(f"{k}.jsonl")) for k in ("cc", "pr", "lpa")}
        t0 = time.monotonic()
        docs = spark.read.parquet(table)
        with tracer.span("ids"):
            verts = _materialize(build_vertices(docs))
        with tracer.span("extraction"):
            edges = _materialize(build_edges(docs, verts))
        with tracer.span("components"):
            cc = _materialize(connected_components(edges, verts, metrics_path=m["cc"]))
        with tracer.span("pagerank") as pr_span:
            pr = _materialize(
                pagerank(
                    edges, verts, tol=TOL, max_iter=max_iter, checkpoint_dir=ck,
                    checkpoint_interval=checkpoint_every, metrics_path=m["pr"],
                )
            )
        with tracer.span("communities"):
            lpa = _materialize(
                label_propagation(
                    edges, verts, max_iter=min(LPA_ROUNDS, max_iter), metrics_path=m["lpa"]
                )
            )
        with tracer.span("triangles"):
            tri = _materialize(triangle_counts(self.hub[1], self.hub[0]))
        wall = time.monotonic() - t0
        return {
            "wall": wall,
            "pr_wall": pr_span.wall,
            "pr_self": pr_span.self_s,
            "main": {
                "verts": verts.select("vid", "repo", "path").toPandas(),
                "edges": edges.toPandas(),
            },
            "cc": cc.toPandas(),
            "pr": pr.toPandas(),
            "lpa": lpa.toPandas(),
            "tri": tri.toPandas(),
            "pr_log": _jsonl(m["pr"]),
            "cc_log": _jsonl(m["cc"]),
            "lpa_log": _jsonl(m["lpa"]),
        }

    def run_pass(self, tracer: Tracer) -> dict:
        out = self._pass(tracer, self.table)
        if tracer.enabled:
            out["refs"] = extract_references(self.ctx.spark.read.parquet(self.table)).count()
            deg = oriented_edges(self.hub[1]).groupBy("u").count().toPandas()["count"]
            out["wedges"] = int((deg * (deg - 1) // 2).sum())
        self.ctx.spark.catalog.clearCache()
        self.results.append(out)
        return out

    def oracle(self, which: str) -> dict:
        if which not in self._oracles:
            docs = self.docs if which == "main" else self.hub_docs
            verts = oracles.vertex_ids(docs)
            e = oracles.edges(docs, verts)
            n = len(verts)
            s, d, w = (e[c].to_numpy() for c in ("src", "dst", "weight"))
            o = {"verts": verts, "edges": e}
            if which == "main":
                o["cc"] = oracles.components(n, s, d)
                # same stopping rule as the engine: on slowly converging
                # graphs the tol-1e-6 result is >1e-6 from the fixpoint
                o["pr"], _ = oracles.pagerank(n, s, d, w, tol=TOL)
                o["lpa"] = oracles.label_propagation(n, s, d, LPA_ROUNDS)
            else:
                o["tri"] = oracles.triangles(n, s, d)
            self._oracles[which] = o
        return self._oracles[which]

    def check(self, checks: Checks, out: dict) -> None:
        graphs = [("main", out["main"])]
        if not self.hub_checked:  # the hub graph is built once, in set-up
            graphs.append(("hub", self.hub_out))
            self.hub_checked = True
        for which, got in graphs:
            o = self.oracle(which)
            _check_ids(checks, which, got["verts"], o["verts"])
            e = got["edges"].sort_values(["src", "dst"], ignore_index=True)
            checks.check(
                f"extraction ({which}): edge table",
                e[["src", "dst", "weight"]].equals(o["edges"][["src", "dst", "weight"]]),
            )

        def by_vid(which, pdf, col):
            pdf = pdf.sort_values("vid")
            ok = pdf["vid"].tolist() == list(range(len(self.oracle(which)["verts"])))
            return ok, pdf[col].to_numpy()

        o = self.oracle("main")
        ok, cc = by_vid("main", out["cc"], "component")
        checks.check("components: min-vid labels", ok and np.array_equal(cc, o["cc"]))
        ok, pr = by_vid("main", out["pr"], "score")
        checks.check(
            "pagerank: allclose 1e-6 and sum 1",
            ok and np.allclose(pr, o["pr"], rtol=0, atol=1e-6) and abs(pr.sum() - 1) < 1e-9,
        )
        ok, lpa = by_vid("main", out["lpa"], "label")
        checks.check("communities: label propagation labels", ok and np.array_equal(lpa, o["lpa"]))
        ok, tri = by_vid("hub", out["tri"], "n_triangles")
        checks.check(
            "triangles: per-vertex counts", ok and np.array_equal(tri, self.oracle("hub")["tri"])
        )

    def describe(self) -> dict:
        return {
            "docs": len(self.docs),
            "vertices": len(self.oracle("main")["verts"]),
            "edges": len(self.oracle("main")["edges"]),
            "hub_docs": len(self.hub_docs),
            "hub_edges": len(self.oracle("hub")["edges"]),
        }

    def end_to_end(self) -> dict:
        pr_rates = [
            _pr_iterations(r["pr_log"]) * len(r["main"]["edges"]) / r["pr_wall"]
            for r in self.results
        ]
        return {
            "wall_s": statistics.median(r["wall"] for r in self.results),
            "pagerank_edge_msgs_per_s": statistics.median(pr_rates),
        }

    def more(self) -> bool:
        return True

    def layer_specific(self, outs: list[dict], counters: dict) -> dict:
        out = outs[0]
        iters, rounds = _pr_iterations(out["pr_log"]), _round_walls(out["pr_log"])
        n_edges = len(out["main"]["edges"])
        tri_total = int(out["tri"]["n_triangles"].sum()) // 3
        return {
            "extraction.refs": out["refs"],
            "extraction.resolved_frac": float(out["main"]["edges"]["weight"].sum()) / out["refs"],
            "pagerank.iterations": iters,
            "pagerank.round_p50_s": statistics.median(rounds),
            "pagerank.setup_s": out["pr_self"] - sum(rounds),
            "pagerank.shuffle_bytes_per_edge_round": (
                counters["pagerank.shuffle_write_bytes"] / (n_edges * iters)
            ),
            "components.rounds": sum(1 for r in out["cc_log"] if r["iteration"] >= 0),
            "communities.rounds": sum(1 for r in out["lpa_log"] if r["iteration"] >= 0),
            "triangles.wedges": out["wedges"],
            "triangles.closed_frac": tri_total / out["wedges"] if out["wedges"] else 0.0,
        }


# --------------------------------------------------------------------------
# refresh_append: base graph ranked in set-up, then appended batches, each
# stream ingest → ids → resolve_edges → warm-started refresh_pagerank


class RefreshAppend:
    name = "refresh_append"
    outputs_per_pass = 3
    # untraced and traced batches alternate so that graph growth does not
    # bias the overhead estimate
    trace_order = "UTTU"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        base = ctx.size(REFRESH_BASE_DOCS)
        step = ctx.size(REFRESH_BATCH_DOCS)
        self.max_batches = ctx.size(REFRESH_MAX_BATCHES)
        self.docs = generate_documents(base + step * self.max_batches, seed=ctx.seed)
        self.bounds = [base + step * i for i in range(self.max_batches + 1)]
        self.src = _fresh(ctx.path("landing"))
        self.staging = _fresh(ctx.path("staging"))
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.refs = _fresh(ctx.path("refs"))
        self.stream_ck = _fresh(ctx.path("stream_checkpoint"))
        # every batch file is written before timing; landing is a rename
        for i in range(self.max_batches + 1):
            lo = 0 if i == 0 else self.bounds[i - 1]
            _write_parquet(self.docs.iloc[lo:self.bounds[i]], self._staged(i))
        self.landed = 0
        self.prior = None
        self.results: list[dict] = []
        self._oracles: dict[int, dict] = {}

    def _staged(self, i: int) -> str:
        return os.path.join(self.staging, f"batch_{i:04d}.parquet")

    def _land(self) -> None:
        name = os.path.basename(self._staged(self.landed))
        os.replace(self._staged(self.landed), os.path.join(self.src, name))
        self.landed += 1

    def warm_up(self) -> None:
        """Land the base corpus and the first batch, and refresh them
        warm-started from the base graph's PageRank, so every code path of
        a pass has run once before timing. The base ranks come from the
        numpy oracle: the engine's cold rank is what batch_pipeline
        measures, and running it here would only lengthen set-up."""
        base = self.oracle_for(self.bounds[0])
        ranked = base["verts"].assign(score=base["pr"])[["repo", "path", "score"]]
        self.prior = self.ctx.spark.createDataFrame(ranked).localCheckpoint(eager=True)
        self._land()
        self._land()
        self._refresh(Tracer("warmup"))

    def more(self) -> bool:
        return self.landed <= self.max_batches

    def _refresh(self, tracer: Tracer) -> dict:
        spark = self.ctx.spark
        m = _fresh(self.ctx.path("refresh.jsonl"))
        t0 = time.monotonic()
        with tracer.span("incremental"):
            ingest_reference_stream(spark, self.src, self.refs, self.stream_ck)
        docs = spark.read.schema(DOC_SCHEMA).parquet(self.src)
        with tracer.span("ids"):
            verts = _materialize(build_vertices(docs))
        with tracer.span("incremental"):
            edges = _materialize(resolve_edges(spark, self.refs, verts))
        keyed = verts.select("vid", "repo", "path")
        prior = None
        if self.prior is not None:
            prior = self.prior.join(keyed, ["repo", "path"]).select("vid", "score")
        with tracer.span("incremental") as sp:
            scores = _materialize(
                refresh_pagerank(edges, verts, prior_scores=prior, tol=TOL, metrics_path=m)
            )
        new_prior = (
            scores.join(keyed, "vid").select("repo", "path", "score").localCheckpoint(eager=True)
        )
        wall = time.monotonic() - t0
        out = {
            "wall": wall,
            "pr_wall": sp.wall,
            "landed_docs": self.bounds[self.landed - 1],
            "verts": keyed.toPandas(),
            "scores": scores.toPandas(),
            "pr_log": _jsonl(m),
        }
        if tracer.enabled:
            out["resolved"] = edges.agg({"weight": "sum"}).collect()[0][0]
            out["refs"] = spark.read.parquet(self.refs).count()
        spark.catalog.clearCache()
        self.prior = new_prior
        return out

    def run_pass(self, tracer: Tracer) -> dict:
        self._land()
        out = self._refresh(tracer)
        self.results.append(out)
        return out

    def oracle_for(self, n_docs: int) -> dict:
        """Oracle results for the graph of the first ``n_docs`` documents."""
        if n_docs not in self._oracles:
            docs = self.docs.iloc[:n_docs]
            verts = oracles.vertex_ids(docs)
            e = oracles.edges(docs, verts)
            s, d, w = (e[c].to_numpy() for c in ("src", "dst", "weight"))
            # the warm result is compared with the fixpoint, which it
            # approaches from the prior scores rather than from uniform
            fixpoint, _ = oracles.pagerank(len(verts), s, d, w, tol=FIXPOINT_TOL)
            _, cold_rounds = oracles.pagerank(len(verts), s, d, w, tol=TOL)
            self._oracles[n_docs] = {
                "verts": verts, "n_edges": len(e), "pr": fixpoint, "cold_rounds": cold_rounds
            }
        return self._oracles[n_docs]

    def check(self, checks: Checks, out: dict) -> None:
        o = self.oracle_for(out["landed_docs"])
        _check_ids(checks, "grown graph", out["verts"], o["verts"])
        logged = [r["edges"] for r in out["pr_log"] if r["iteration"] >= 0]
        checks.check(
            "incremental: resolved edge count", bool(logged) and logged[0] == o["n_edges"]
        )
        sc = out["scores"].sort_values("vid")
        ok = sc["vid"].tolist() == list(range(len(o["verts"])))
        score = sc["score"].to_numpy()
        checks.check(
            "incremental: warm refresh allclose 1e-6 to cold oracle, sum 1",
            ok and np.allclose(score, o["pr"], rtol=0, atol=1e-6) and abs(score.sum() - 1) < 1e-9,
        )

    def describe(self) -> dict:
        last = self.results[-1]["landed_docs"] if self.results else self.bounds[0]
        o = self.oracle_for(last)
        return {"docs": last, "vertices": len(o["verts"]), "edges": o["n_edges"]}

    def end_to_end(self) -> dict:
        walls = [r["wall"] for r in self.results]
        t, pct = tail(walls)
        rates = [
            _pr_iterations(r["pr_log"]) * r["pr_log"][0]["edges"] / r["pr_wall"]
            for r in self.results
        ]
        return {
            "wall_s": statistics.median(walls),
            "pagerank_edge_msgs_per_s": statistics.median(rates),
            "extra": {
                "refresh_p50_s": statistics.median(walls),
                "refresh_tail_s": t,
                "refresh_samples": len(walls),
                "tail_percentile": pct,
            },
        }

    def layer_specific(self, outs: list[dict], counters: dict) -> dict:
        iters, rounds, edge_rounds = 0, [], 0
        for out in outs:
            it = _pr_iterations(out["pr_log"])
            iters += it
            rounds += _round_walls(out["pr_log"])
            edge_rounds += it * out["pr_log"][0]["edges"]
        refs = outs[-1]["refs"]
        return {
            "extraction.refs": refs,
            "extraction.resolved_frac": outs[-1]["resolved"] / refs,
            "pagerank.iterations": iters,
            "pagerank.round_p50_s": statistics.median(rounds),
            "pagerank.setup_s": counters["pagerank.s"] - sum(rounds),
            "pagerank.shuffle_bytes_per_edge_round": (
                counters["pagerank.shuffle_write_bytes"] / edge_rounds
            ),
            "incremental.warm_iterations": iters,
            "incremental.cold_iterations": sum(
                self.oracle_for(out["landed_docs"])["cold_rounds"] for out in outs
            ),
        }


WORKLOADS = {w.name: w for w in (BatchPipeline, RefreshAppend)}


def install_inner_spans(tracer: Tracer, saves: list[tuple[float, int]]) -> list:
    """Trace-only spans for layer calls the engine makes itself: durable
    checkpoint saves inside the kernels (appending (wall, bytes) to
    ``saves``), the pagerank call inside refresh_pagerank and the
    resolution joins inside resolve_edges. Returns the undo functions."""

    def record_save(sp, path):
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        )
        saves.append((sp.wall, size))

    return [
        tracer.wrap(CheckpointManager, "save", "checkpointing", after=record_save),
        tracer.wrap(graph_mod, "pagerank", "pagerank"),
        tracer.wrap(extraction_mod, "resolve_refs", "extraction"),
    ]

