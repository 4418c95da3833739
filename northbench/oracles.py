"""Vectorized NumPy oracles for the benchmark's correctness gates.

Each function takes a node count ``n`` and two int64 arrays ``src``/``dst``
(one arc per position, duplicates allowed) and reproduces the engine's
semantics exactly:

- PageRank: power method, damping 0.85, uniform preference, dangling mass
  redistributed by the preference ("strongly preferential", the engine
  default), run to ``alpha / (1 - alpha) * ||x' - x||_1 <= 1e-12``;
- connected components of the symmetrized graph, labelled by min node id;
- synchronous label propagation over the symmetrized, loop-free, deduped
  graph: max neighbour count, then min label; stop at the first round that
  changes nothing or at ``max_iter``;
- triangle count of the undirected simple graph, plus the size of the
  degree-oriented wedge join the engine evaluates.

``tests/oracles.py`` holds the loop-per-edge references these are checked
against (see ``northbench/tests/test_oracles.py``); those are too slow at
benchmark size.
"""

from __future__ import annotations

import numpy as np


def dedup(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct arcs, sorted by (src, dst)."""
    key = np.unique(np.asarray(src, np.int64) * n + np.asarray(dst, np.int64))
    return key // n, key % n


def pagerank(
    n: int, src: np.ndarray, dst: np.ndarray, alpha: float = 0.85, tol: float = 1e-12
) -> np.ndarray:
    src, dst = dedup(n, src, dst)
    out_deg = np.bincount(src, minlength=n)
    dangling = out_deg == 0
    inv_deg = np.zeros(n)
    inv_deg[~dangling] = 1.0 / out_deg[~dangling]
    v = np.full(n, 1.0 / n)
    x = v.copy()
    for _ in range(100_000):
        contrib = np.bincount(dst, weights=(x * inv_deg)[src], minlength=n)
        new = (1.0 - alpha) * v + alpha * (contrib + x[dangling].sum() * v)
        delta = np.abs(new - x).sum()
        x = new
        if alpha / (1.0 - alpha) * delta <= tol:
            break
    return x


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Min-id label per node: min-label hooking plus pointer jumping.

    Labels only ever take the id of a node in the same component and only
    decrease, so the fixpoint (equal labels across every edge, ``lab[lab] ==
    lab``) labels each component with its minimum id.
    """
    src = np.asarray(src, np.int64)
    dst = np.asarray(dst, np.int64)
    lab = np.arange(n, dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, dst, lab[src])
        np.minimum.at(new, src, lab[dst])
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def _symmetric_simple(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    s = np.concatenate([src, dst]).astype(np.int64)
    d = np.concatenate([dst, src]).astype(np.int64)
    keep = s != d
    return dedup(n, s[keep], d[keep])


def label_propagation(
    n: int, src: np.ndarray, dst: np.ndarray, max_iter: int = 30
) -> tuple[np.ndarray, int]:
    """(labels, rounds); ``rounds`` counts the final no-change round, as the
    engine's iteration driver does."""
    s, d = _symmetric_simple(n, src, dst)
    lab = np.arange(n, dtype=np.int64)
    for it in range(1, max_iter + 1):
        keys, cnt = np.unique(d * n + lab[s], return_counts=True)
        node, label = keys // n, keys % n
        order = np.lexsort((label, -cnt, node))
        node, label = node[order], label[order]
        first = np.ones(len(node), dtype=bool)
        first[1:] = node[1:] != node[:-1]
        new = lab.copy()
        new[node[first]] = label[first]
        changed = np.count_nonzero(new != lab)
        lab = new
        if changed == 0:
            return lab, it
    return lab, max_iter


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[int, int]:
    """(triangles, wedges) of the undirected simple graph.

    Edges are oriented from the (degree, id)-smaller endpoint to the larger,
    as the engine does; ``wedges`` is the number of out-neighbour pairs over
    all pivots, i.e. the row count of the engine's wedge join.
    """
    s, d = _symmetric_simple(n, src, dst)
    lo, hi = s[s < d], d[s < d]
    deg = np.bincount(s, minlength=n)
    flip = (deg[lo] > deg[hi]) | ((deg[lo] == deg[hi]) & (lo > hi))
    a = np.where(flip, hi, lo)
    b = np.where(flip, lo, hi)
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    out_deg = np.bincount(a, minlength=n)
    offsets = np.concatenate([[0], np.cumsum(out_deg)])
    wedges = int((out_deg * (out_deg - 1) // 2).sum())
    undirected = np.minimum(a, b) * n + np.maximum(a, b)
    undirected.sort()
    count = 0
    for k in np.unique(out_deg[out_deg >= 2]):
        pivots = np.nonzero(out_deg == k)[0]
        nbrs = b[offsets[pivots][:, None] + np.arange(k)]
        i, j = np.triu_indices(k, 1)
        x, y = nbrs[:, i].ravel(), nbrs[:, j].ravel()
        keys = np.minimum(x, y) * n + np.maximum(x, y)
        pos = np.minimum(np.searchsorted(undirected, keys), len(undirected) - 1)
        count += int(np.count_nonzero(undirected[pos] == keys))
    return count, wedges
