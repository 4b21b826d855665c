"""Static guard: the iterative-kernel execution policy lives in one
place.

Every graph kernel states it with the ``session.iterative_kernel``
decorator (AQE off, restored on exit) and sizes its shuffles from its
input through ``degrees.auto_partitions`` / ``degrees.pin_edges``. A
module that calls ``iterative_kernel_conf(`` itself, or a kernel that
grows a ``num_partitions`` knob again, is a copy of that policy that
can drift from it. ``pagerank`` keeps its knob (the scaling tools pin
the width) and ``ids.py`` is a table-building stage, not a kernel.

The round loop lives in one place too: ``checkpointing.run_rounds``
owns the in-loop shuffle width, the per-round metrics records and the
durable-snapshot cadence. A ``graph/`` module that logs metrics, saves
a checkpoint or opens ``shuffle_partitions_conf`` itself is a copy of
that loop, unless ``OWN_LOOP`` names the site with its reason.

No Spark session needed — pure AST analysis, runs in milliseconds.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
MODULES = sorted((ROOT / "citation_graph_spark" / "graph").glob("*.py"))
KNOB_ALLOWED = {
    ("pagerank.py", "pagerank"),
    ("ids.py", "assign_dense_ids"),
    ("ids.py", "build_vertices"),
}

# (module, policy) → why that module keeps the policy in its own code
_HYPERBALL = (
    "hyperball snapshots two tables under paired manifests and re-reads "
    "the estimates after each save; run_rounds saves one snapshot"
)
OWN_LOOP = {
    ("anf.py", "metrics"): _HYPERBALL,
    ("anf.py", "checkpoint save"): _HYPERBALL,
    ("anf.py", "shuffle width"): _HYPERBALL,
    ("pagerank.py", "shuffle width"): "set-up, not a round: the out-degree "
    "aggregate and the normalize join run at the kernel's width so the "
    "cached edge table is co-partitioned with it",
}


def _call_name(node: ast.Call) -> str | None:
    return getattr(node.func, "id", getattr(node.func, "attr", None))


def _receiver(node: ast.Call) -> str | None:
    value = getattr(node.func, "value", None)
    return getattr(value, "id", None)


POLICIES = {
    # a MetricsLogger is only built to log rounds
    "metrics": lambda c: _call_name(c) == "MetricsLogger"
    or (_call_name(c) == "log" and _receiver(c) == "metrics"),
    "checkpoint save": lambda c: _call_name(c) in ("save", "CheckpointManager"),
    "shuffle width": lambda c: _call_name(c) == "shuffle_partitions_conf",
}


def _sites(path: pathlib.Path, policy: str) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(_tree(path))
        if isinstance(node, ast.Call) and POLICIES[policy](node)
    ]


def _tree(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


@pytest.mark.parametrize("path", MODULES, ids=lambda p: p.name)
def test_no_direct_kernel_conf(path):
    calls = [
        node.lineno
        for node in ast.walk(_tree(path))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None))
        == "iterative_kernel_conf"
    ]
    assert not calls, (
        f"{path.name} calls iterative_kernel_conf( at lines {calls}; "
        "decorate the kernel with session.iterative_kernel instead"
    )


@pytest.mark.parametrize("path", MODULES, ids=lambda p: p.name)
def test_no_num_partitions_knob(path):
    knobs = [
        f"{fn.name} (line {fn.lineno})"
        for fn in ast.walk(_tree(path))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and (path.name, fn.name) not in KNOB_ALLOWED
        and any(
            a.arg == "num_partitions"
            for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
        )
    ]
    assert not knobs, (
        f"{path.name} declares a num_partitions parameter in {knobs}; "
        "derive the width from the input (degrees.pin_edges / "
        "auto_partitions)"
    )


def test_guard_sees_the_kernels():
    # the scan must cover the package, not an empty glob
    names = {p.name for p in MODULES}
    assert {"pagerank.py", "components.py", "communities.py"} <= names


@pytest.mark.parametrize("policy", sorted(POLICIES))
@pytest.mark.parametrize("path", MODULES, ids=lambda p: p.name)
def test_round_loop_policy_only_in_run_rounds(path, policy):
    sites = _sites(path, policy)
    assert not sites or (path.name, policy) in OWN_LOOP, (
        f"{path.name} handles the {policy} policy itself at lines {sites}; "
        "run the loop through checkpointing.run_rounds, or name the site "
        "and its reason in OWN_LOOP"
    )


@pytest.mark.parametrize("entry", sorted(OWN_LOOP), ids="/".join)
def test_own_loop_entries_are_live(entry):
    # an entry whose site is gone would silently allow a new copy
    name, policy = entry
    assert _sites(ROOT / "citation_graph_spark" / "graph" / name, policy)
