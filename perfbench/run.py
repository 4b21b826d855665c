"""Benchmark of the corpus → edge table → graph kernel pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one process each
    python3 perfbench/run.py --workload all --smoke    # tiny inputs, under two minutes

One process runs one workload on a fresh Spark session (``local[N]``, N
= usable cores). It generates the inputs from ``--seed``, sets up, warms
up, then repeats the workload's pass for ``--seconds`` (at least once)
and checks every output against the numpy oracles in ``oracles.py``,
outside the timed window. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced pass with ``--trace 1``.

Everything the run writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOAD_NAMES = ("batch_pipeline", "refresh_append")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _confine_to_checkout(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into ``work``.

    The benchmark may write only inside its checkout, so Spark's local
    dir moves from the engine's default ``/dev/shm`` (a tmpfs) to disk;
    every other engine default is kept."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _import_engine():
    """The engine must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import citation_graph_spark
    except ImportError as err:
        sys.exit(f"perfbench: cannot import citation_graph_spark from {ROOT}: {err}")
    origin = os.path.realpath(os.path.dirname(citation_graph_spark.__file__))
    if not origin.startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(f"perfbench: citation_graph_spark found outside the checkout: {origin}")


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(args) -> dict:
    t_setup = time.monotonic()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _confine_to_checkout(work)
    _import_engine()

    from citation_graph_spark.session import get_spark

    import spans
    import workloads

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    t0 = time.monotonic()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf=spans.TRACE_CONF if args.trace else None,
    )
    session_span = spans.Span(0, "session", t0, None, run_id, None, end=time.monotonic())
    try:
        ctx = workloads.Ctx(spark, cores, work, args.seed, args.smoke)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.warm_up()
        setup_s = time.monotonic() - t_setup

        checks = workloads.Checks()
        extra: dict = {}
        if args.trace:
            metrics = _traced(ctx, wl, checks, run_id, session_span)
        else:
            untraced = spans.Tracer(run_id)
            start = time.monotonic()
            while True:
                try:
                    wl.run_pass(untraced)
                except Exception as err:  # a failed pass counts against failed_frac
                    traceback.print_exc()
                    checks.raised(wl.name, wl.outputs_per_pass, err)
                if time.monotonic() - start >= args.seconds or not wl.more():
                    break
            for out in wl.results:
                wl.check(checks, out)
            e2e = wl.end_to_end() if wl.results else {}
            extra = e2e.pop("extra", {})
            extra["failed_frac"] = checks.failed / max(checks.attempted, 1)
            rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(_jvm_pid(spark))) / 1024.0
            metrics = {
                "wall_s": (e2e.get("wall_s", 0.0), "s"),
                "pagerank_edge_msgs_per_s": (e2e.get("pagerank_edge_msgs_per_s", 0.0), "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        info = wl.describe() if wl.results else {}
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"checks": checks, "metrics": metrics, "extra": extra, "info": info}


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _traced(ctx, wl, checks, run_id, session_span) -> dict:
    """Untraced (U) and traced (T) passes of the same work in the
    workload's ``trace_order``; per-layer counters come from the traced
    ones, trace.overhead_frac from both."""
    import spans
    import workloads

    tracer = spans.Tracer(run_id, spark_context=ctx.spark.sparkContext)
    tracer.spans.append(session_span)
    walls = {"U": [], "T": []}
    traced_outs, saves = [], []
    for mode in wl.trace_order:
        if mode == "U":
            walls["U"].append(wl.run_pass(spans.Tracer(run_id))["wall"])
            continue
        restore = workloads.install_inner_spans(tracer, saves)
        try:
            out = wl.run_pass(tracer)
        finally:
            for undo in restore:
                undo()
        walls["T"].append(out["wall"])
        traced_outs.append(out)
    for out in wl.results:
        wl.check(checks, out)
    counters = spans.layer_counters(tracer, tracer.spans, ctx.cores)
    counters.update(wl.layer_specific(traced_outs, counters))
    counters["checkpointing.saves"] = len(saves)
    counters["checkpointing.bytes_per_save"] = (
        statistics.mean(size for _, size in saves) if saves else 0.0
    )
    counters["trace.overhead_frac"] = sum(walls["T"]) / sum(walls["U"]) - 1.0
    tracer.write(os.path.join(WORK_ROOT, f"spans-{run_id}.jsonl"))
    # every per-layer metric of BENCHMARK.json; a layer the workload does
    # not call reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    return {name: (counters.get(name, 0.0), unit) for name, unit in units.items()}


def main_one(args) -> int:
    res = run_workload(args)
    checks, metrics, extra, info = res["checks"], res["metrics"], res["extra"], res["info"]
    print(
        f"# workload={args.workload} seed={args.seed} trace={args.trace} "
        + " ".join(f"{k}={v}" for k, v in info.items())
    )
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    for name, value in extra.items():
        print(f"# {name} = {value:.6g}")
    for note in checks.notes:
        print(f"# FAILED CHECK: {note}")
    print(
        json.dumps(
            {
                "correct": checks.failed == 0 and checks.attempted > 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main_all(args) -> int:
    """Each workload in its own process with a fresh Spark session."""
    status = 0
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        status = status or proc.returncode
    return status


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one pass")
    args = p.parse_args()
    if args.workload == "all":
        return main_all(args)
    return main_one(args)


if __name__ == "__main__":
    sys.exit(main())
