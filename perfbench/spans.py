"""Spans around the benchmark's calls into each layer, and the Spark
counters behind them.

A span records name (the layer), start, end, parent span and run id.
Spans are kept in memory and written once, at the end. With tracing on,
every span runs its Spark jobs under its own job group; afterwards the
group's jobs and stages are read from ``statusTracker`` and the stage
metrics (executor run time, shuffle fetch wait, shuffle write, spill)
from the UI's REST stage API. Jobs Spark runs under a group of its own
(a streaming query's micro-batches) go to the span open when they were
submitted. With tracing off a span is two clock reads.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

LAYERS = (
    "session",
    "ids",
    "extraction",
    "pagerank",
    "components",
    "communities",
    "triangles",
    "checkpointing",
    "incremental",
)

# conf the traced run passes to get_spark(extra_conf=...): the UI (and its
# REST API) on a free port, and enough retained jobs/stages that none of a
# traced pass's are evicted before they are read
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000",
}


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    group: str | None
    end: float = 0.0
    children_s: float = 0.0
    epoch: float = 0.0  # wall-clock start, to place jobs of other threads

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s


@dataclass
class Tracer:
    run_id: str
    spark_context: object | None = None  # set when tracing is on
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @property
    def enabled(self) -> bool:
        return self.spark_context is not None

    def current(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"{self.run_id}-{sid}" if self.enabled else None
        sp = Span(sid, name, 0.0, parent.span_id if parent else None, self.run_id, group)
        self.spans.append(sp)
        self._stack.append(sp)
        if group:
            self.spark_context.setJobGroup(group, name, interruptOnCancel=False)
        sp.epoch = time.time()
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.wall
            if group:
                if parent is not None and parent.group:
                    self.spark_context.setJobGroup(
                        parent.group, parent.name, interruptOnCancel=False
                    )
                else:
                    self.spark_context.setLocalProperty("spark.jobGroup.id", None)
                    self.spark_context.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, layer: str, after=None):
        """Replace ``owner.attr`` by a version that opens a ``layer`` span
        unless the innermost open span already is that layer. ``after``
        is called with (span, result) when the call returns.
        Returns a function that restores the original."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if tracer.current() == layer:
                return original(*args, **kwargs)
            with tracer.span(layer) as sp:
                result = original(*args, **kwargs)
            if after is not None:
                after(sp, result)
            return result

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": sp.run_id,
                            "span_id": sp.span_id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "job_group": sp.group,
                        }
                    )
                    + "\n"
                )


def _drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every finished job's events."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _rest(sc, what: str) -> list[dict]:
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{what}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def _epoch(stamp: str) -> float:
    """REST time stamp ('2026-01-02T03:04:05.678GMT') → seconds since the epoch."""
    t = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


def _foreign_jobs(sc, tracer: Tracer, spans: list[Span]) -> dict[int, list[int]]:
    """Jobs Spark ran under a job group of its own — a streaming query's
    micro-batches run on the query's thread under the query's run id —
    assigned by submission time to the innermost traced span open then.
    Returns span_id → job ids."""
    timed = [sp for sp in spans if sp.group]
    out: dict[int, list[int]] = {}
    for job in _rest(sc, "jobs"):
        if (job.get("jobGroup") or "").startswith(tracer.run_id + "-"):
            continue
        t = _epoch(job["submissionTime"])
        inside = [sp for sp in timed if sp.epoch <= t <= sp.epoch + sp.wall]
        if inside:
            innermost = max(inside, key=lambda sp: sp.epoch)
            out.setdefault(innermost.span_id, []).append(job["jobId"])
    return out


def layer_counters(tracer: Tracer, spans: list[Span], cores: int) -> dict[str, float]:
    """``L.s``, ``L.jobs``, ``L.tasks``, ``L.failed_tasks``, ``L.busy_frac``,
    ``L.fetch_wait_s``, ``L.shuffle_write_bytes`` and ``L.spill_bytes`` for
    every layer, summed over ``spans``. Time is self time: a span's wall
    minus its child spans, whose jobs run under the child's own group."""
    sc = tracer.spark_context
    _drain_listener_bus(sc)
    st = sc.statusTracker()
    rest: dict[int, list[dict]] = {}
    for stage in _rest(sc, "stages"):
        rest.setdefault(stage["stageId"], []).append(stage)
    foreign = _foreign_jobs(sc, tracer, spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.name == layer]
        jobs: set[int] = set()
        for sp in mine:
            if sp.group:
                jobs.update(st.getJobIdsForGroup(sp.group))
            jobs.update(foreign.get(sp.span_id, []))
        stage_ids: set[int] = set()
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = failed = 0
        run_ms = fetch_ms = shuffle_w = spill = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
            for attempt in rest.get(sid, []):
                run_ms += attempt.get("executorRunTime", 0)
                fetch_ms += attempt.get("shuffleFetchWaitTime", 0)
                shuffle_w += attempt.get("shuffleWriteBytes", 0)
                spill += attempt.get("diskBytesSpilled", 0)
        self_s = sum(sp.self_s for sp in mine)
        out[f"{layer}.s"] = self_s
        out[f"{layer}.jobs"] = len(jobs)
        out[f"{layer}.tasks"] = tasks
        out[f"{layer}.failed_tasks"] = failed
        out[f"{layer}.busy_frac"] = (run_ms / 1000.0) / (self_s * cores) if self_s > 0 else 0.0
        out[f"{layer}.fetch_wait_s"] = fetch_ms / 1000.0
        out[f"{layer}.shuffle_write_bytes"] = shuffle_w
        out[f"{layer}.spill_bytes"] = spill
    return out
