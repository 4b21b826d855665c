"""Static guard: the iterative-kernel execution policy lives in one
place.

Every graph kernel states it with the ``session.iterative_kernel``
decorator (AQE off, restored on exit) and sizes its shuffles from its
input through ``degrees.auto_partitions`` / ``degrees.pin_edges``. A
module that calls ``iterative_kernel_conf(`` itself, or a kernel that
grows a ``num_partitions`` knob again, is a copy of that policy that
can drift from it. ``pagerank`` keeps its knob (the scaling tools pin
the width) and ``ids.py`` is a table-building stage, not a kernel.

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
