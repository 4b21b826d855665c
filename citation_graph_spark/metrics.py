"""Per-iteration metrics/lineage log (JSONL).

Spark analog of the reference's run counters and checkpoint state
(src/citations/neo4j/utils.py:11-44 count reports;
scripts/combine_serp.py:495-511 summary logging). Every iterative
kernel appends one JSON line per round: iteration, wall seconds, rows
processed, convergence residual, rows changed — the raw material for
the bench harness's iterations/sec and edges/sec figures.
"""

from __future__ import annotations

import json
import os


class MetricsLogger:
    def __init__(self, path: str | None, kernel: str):
        self.path = path
        self.kernel = kernel
        self.records: list[dict] = []
        if path:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def log(self, iteration: int, **fields) -> dict:
        rec = {"kernel": self.kernel, "iteration": iteration, **fields}
        self.records.append(rec)
        if self.path:
            with open(self.path, "a") as f:
                f.write(json.dumps(rec) + "\n")
        return rec
