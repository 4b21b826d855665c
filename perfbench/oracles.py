"""Vectorized numpy/pandas reference results for the benchmark's checks.

Independent of the engine: every function here works from the generated
documents table (pandas) and plain numpy arrays, never from Spark or the
``citation_graph_spark`` modules. Each one restates the semantics the
engine documents for the matching public function:

- ``vertex_ids``      — graph.ids.build_vertices: dense vid in (repo, path) order
- ``edges``           — extraction.build_edges: quoted references resolved to
                        module keys, dangling and self references dropped,
                        weight = multiplicity
- ``pagerank``        — graph.pagerank: weighted, uniform dangling mass,
                        stop after the first round whose L1 change is below tol
- ``components``      — graph.connected_components: min vid per component
- ``label_propagation`` — graph.label_propagation: synchronous rounds on the
                        deduplicated undirected graph, most frequent neighbour
                        label wins, ties to the smallest label
- ``triangles``       — graph.triangle_counts: per-vertex triangle counts
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_REF_RE = r'"([^"]+)"'


def vertex_ids(docs: pd.DataFrame) -> pd.DataFrame:
    """(repo, path) → vid, 0..n-1 in lexicographic (repo, path) order."""
    v = docs[["repo", "path"]].sort_values(["repo", "path"], kind="stable")
    return v.reset_index(drop=True).rename_axis("vid").reset_index()


def references(docs: pd.DataFrame) -> pd.DataFrame:
    """Every quoted reference as (src_path, ref_key), header suffix stripped."""
    hits = docs.set_index("path")["content"].str.extractall(_REF_RE)
    out = hits.reset_index(level=0).rename(columns={"path": "src_path", 0: "ref_key"})
    out["ref_key"] = out["ref_key"].str.replace(r"\.(h|hpp)$", "", regex=True)
    return out.reset_index(drop=True)


def edges(docs: pd.DataFrame, verts: pd.DataFrame) -> pd.DataFrame:
    """Resolved edge table (src, dst, weight) sorted by (src, dst)."""
    refs = references(docs)
    by_path = pd.Series(verts["vid"].to_numpy(), index=verts["path"].to_numpy())
    keys = verts["path"].str.replace(r"\.[A-Za-z0-9]+$", "", regex=True)
    by_key = pd.Series(verts["vid"].to_numpy(), index=keys.to_numpy())
    src = refs["src_path"].map(by_path)
    dst = refs["ref_key"].map(by_key)
    ok = src.notna() & dst.notna()
    e = pd.DataFrame(
        {"src": src[ok].astype(np.int64), "dst": dst[ok].astype(np.int64)}
    )
    e = e[e["src"] != e["dst"]]
    e = e.groupby(["src", "dst"], as_index=False).size()
    e = e.rename(columns={"size": "weight"})
    e["weight"] = e["weight"].astype(np.float64)
    return e.sort_values(["src", "dst"], ignore_index=True)


def pagerank(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray,
    tol: float,
    alpha: float = 0.85,
    max_iter: int = 5000,
) -> tuple[np.ndarray, int]:
    """Scores from a uniform start after the first round whose L1 change is
    below ``tol`` — the engine's stopping rule — and the rounds run."""
    wout = np.bincount(src, weights=weight, minlength=n)
    dangling = wout == 0
    wnorm = weight / wout[src]
    r = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        contrib = np.bincount(dst, weights=r[src] * wnorm, minlength=n)
        new = (1.0 - alpha) / n + alpha * (contrib + r[dangling].sum() / n)
        l1 = np.abs(new - r).sum()
        r = new
        if l1 < tol:
            break
    return r, it


def _undirected(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric closure without duplicates or self loops: (u, v) both ways."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    pairs = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
    u = np.concatenate([pairs[:, 0], pairs[:, 1]])
    v = np.concatenate([pairs[:, 1], pairs[:, 0]])
    return u, v


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Min-vid component label per vertex (label propagation + pointer jumping)."""
    label = np.arange(n)
    while True:
        prev = label
        label = label.copy()
        np.minimum.at(label, src, prev[dst])
        np.minimum.at(label, dst, prev[src])
        label = label[label]
        if np.array_equal(label, prev):
            return label


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, max_iter: int = 10) -> np.ndarray:
    """Labels after synchronous rounds (or an earlier fixpoint)."""
    u, v = _undirected(src, dst)
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        # (receiver, neighbour label) pairs with their multiplicity
        pair, count = np.unique(np.stack([v, label[u]], axis=1), axis=0, return_counts=True)
        # per receiver: highest count first, then smallest label
        order = np.lexsort((pair[:, 1], -count, pair[:, 0]))
        pair = pair[order]
        first = np.ones(len(pair), dtype=bool)
        first[1:] = pair[1:, 0] != pair[:-1, 0]
        new = label.copy()
        new[pair[first, 0]] = pair[first, 1]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return label


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-vertex triangle counts: every wedge of the (degree, vid)-oriented
    graph, closed or not by an edge."""
    u, v = _undirected(src, dst)
    fwd = u < v
    a, b = u[fwd], v[fwd]
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo = np.where(a_first, a, b)
    hi = np.where(a_first, b, a)
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    out_deg = np.bincount(lo, minlength=n)
    # every pair (i, j), i < j, of positions inside one source's run
    start = np.concatenate([[0], np.cumsum(out_deg)])[lo]
    end = start + out_deg[lo]
    reps = end - np.arange(len(lo)) - 1
    i = np.repeat(np.arange(len(lo)), reps)
    offs = np.arange(len(i)) - np.repeat(np.cumsum(reps) - reps, reps)
    j = i + 1 + offs
    w0, w1, w2 = lo[i], hi[i], hi[j]
    keys = np.sort(np.minimum(a, b) * n + np.maximum(a, b))
    probe = np.minimum(w1, w2) * n + np.maximum(w1, w2)
    pos = np.clip(np.searchsorted(keys, probe), 0, max(len(keys) - 1, 0))
    closed = keys[pos] == probe if len(keys) else np.zeros(len(probe), bool)
    corners = np.concatenate([w0[closed], w1[closed], w2[closed]])
    return np.bincount(corners, minlength=n).astype(np.int64)
