"""Numpy oracles for the benchmark's output checks.

Each oracle restates one program result over the generated graph with plain
numpy, independent of Spark. The checks run after timing stops.

- PageRank: weighted, damping d, uniform teleport, dangling mass spread
  uniformly, stop when the L1 change drops below tol.
- Components: component id = the smallest vertex id in the weakly connected
  component; isolated vertices map to themselves.
- Label propagation: synchronous; a vertex adopts the most frequent label
  among its undirected neighbours, ties to the smallest label; isolated
  vertices keep their own; stop when nothing changes or after max_iter.
- Triangles: exact count over the undirected simple graph.
"""

from __future__ import annotations

import numpy as np


def _index(ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Positions of ``values`` in the sorted id array ``ids``."""
    pos = np.searchsorted(ids, values)
    if pos.size and (pos.max() >= ids.size or not np.array_equal(ids[pos], values)):
        raise ValueError("oracle: edge endpoint missing from the vertex set")
    return pos


def _undirected_pairs(ids, src, dst) -> tuple[np.ndarray, np.ndarray]:
    """Both directions of every distinct non-loop edge, as vertex positions."""
    s, d = _index(ids, src), _index(ids, dst)
    keep = s != d
    a = np.concatenate([s[keep], d[keep]])
    b = np.concatenate([d[keep], s[keep]])
    key = np.unique(a * ids.size + b)
    return key // ids.size, key % ids.size


def pagerank(ids, src, dst, weight, damping=0.85, tol=1e-6, max_iter=100):
    """(ranks aligned with sorted ``ids``, supersteps)."""
    n = ids.size
    s, d = _index(ids, src), _index(ids, dst)
    out_w = np.bincount(s, weights=weight, minlength=n)
    frac = weight / out_w[s]
    dangling = out_w == 0
    rank = np.full(n, 1.0 / n)
    steps = 0
    for steps in range(1, max_iter + 1):
        contrib = np.bincount(d, weights=rank[s] * frac, minlength=n)
        base = (1.0 - damping) / n + damping * rank[dangling].sum() / n
        new = base + damping * contrib
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < tol:
            break
    return rank, steps


def components(ids, src, dst) -> np.ndarray:
    """Component label per sorted id (min id of the component)."""
    a, b = _undirected_pairs(ids, src, dst)
    label = np.arange(ids.size)
    while True:
        new = label.copy()
        np.minimum.at(new, a, label[b])
        new = new[new]  # pointer jumping
        if np.array_equal(new, label):
            return ids[label]
        label = new


def label_propagation(ids, src, dst, max_iter=10) -> np.ndarray:
    """LPA label per sorted id."""
    a, b = _undirected_pairs(ids, src, dst)
    label = ids.copy()
    for _ in range(max_iter):
        # count (vertex, neighbour label) pairs, pick max count, min label
        pair = np.stack([a, label[b]], axis=1)
        uniq, cnt = np.unique(pair, axis=0, return_counts=True)
        order = np.lexsort((uniq[:, 1], -cnt, uniq[:, 0]))
        v = uniq[order, 0]
        first = np.ones(v.size, dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = uniq[order, 1][first]
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangles(ids, src, dst) -> int:
    """Exact triangle count: orient each edge low→high by (degree, id) and
    close every wedge u→v1, u→v2 with the edge v1→v2."""
    a, b = _undirected_pairs(ids, src, dst)
    n = ids.size
    deg = np.bincount(a, minlength=n)
    order_key = deg.astype(np.int64) * n + np.arange(n)
    fwd = order_key[a] < order_key[b]
    u, v = a[fwd], b[fwd]
    srt = np.lexsort((v, u))
    u, v = u[srt], v[srt]
    edge_keys = u * n + v  # sorted
    starts = np.searchsorted(u, np.arange(n))
    ends = np.searchsorted(u, np.arange(n), side="right")
    total = 0
    # wedges grouped by out-degree so each group is one vectorised pass
    outdeg = ends - starts
    for k in np.unique(outdeg[outdeg >= 2]):
        us = np.flatnonzero(outdeg == k)
        nb = v[starts[us][:, None] + np.arange(k)]  # (len(us), k)
        i, j = np.triu_indices(k, 1)
        x, y = nb[:, i].ravel(), nb[:, j].ravel()
        lo = np.where(order_key[x] < order_key[y], x, y)
        hi = np.where(order_key[x] < order_key[y], y, x)
        keys = lo * n + hi
        pos = np.searchsorted(edge_keys, keys)
        pos = np.minimum(pos, edge_keys.size - 1)
        total += int((edge_keys[pos] == keys).sum())
    return total
