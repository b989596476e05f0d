"""Vectorized numpy oracles for the benchmark's correctness checks.

Every oracle takes edge arrays ``src``/``dst`` (int64, the graph's stored
edge rows) and returns ``(ids, values)`` with ``ids`` the sorted distinct
vertex ids of the edge table, which is the vertex set ``Graph`` derives.
Semantics follow ``tests/oracles.py``; ``perfbench/tests`` checks each
one against it on small graphs.
"""

from __future__ import annotations

import numpy as np


def _dense(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src, dst, rounds: int, alpha: float = 0.85):
    """Fixed-round power iteration; dangling mass is spread uniformly."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(rounds):
        base = (1 - alpha) / n + alpha * r[dangling].sum() / n
        contrib = np.where(dangling, 0.0, r / np.maximum(outdeg, 1.0))
        r = alpha * np.bincount(d, weights=contrib[s], minlength=n) + base
    return ids, r


def wcc(src, dst):
    """Weakly connected components labelled by their minimum vertex id."""
    ids, s, d = _dense(src, dst)
    lab = np.arange(len(ids))
    while True:
        m = np.minimum(lab[s], lab[d])
        new = lab.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, d, m)
        while True:  # pointer jumping: a label's label is in the same component
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def cdlp(src, dst, rounds: int, directed: bool):
    """LDBC CDLP: synchronous rounds, each vertex takes its neighbours' most
    frequent label, ties to the smallest. Directed graphs count in- and
    out-neighbours; undirected edge tables already hold both directions."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    recv, send = (np.concatenate([d, s]), np.concatenate([s, d])) if directed else (d, s)
    lab = np.arange(n)  # dense index; min index == min id since ids are sorted
    for _ in range(rounds):
        keys, counts = np.unique(recv * n + lab[send], return_counts=True)
        v, label = keys // n, keys % n
        # per vertex: highest count first, then smallest label
        order = np.lexsort((label, -counts, v))
        v, label = v[order], label[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = lab.copy()
        new[v[first]] = label[first]
        lab = new
    return ids, ids[lab]


def triangles(src, dst):
    """Per-vertex triangle counts on the simple undirected graph."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    keep = s != d
    u, v = np.minimum(s[keep], d[keep]), np.maximum(s[keep], d[keep])
    key = np.unique(u * n + v)
    u, v = key // n, key % n
    # orient each edge from lower to higher (degree, index) rank so every
    # vertex's out-list is short, then close each wedge with a lookup
    deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    lo = np.where(rank[u] < rank[v], u, v)
    hi = np.where(rank[u] < rank[v], v, u)
    order = np.lexsort((rank[hi], lo))
    lo, hi = lo[order], hi[order]
    oriented = np.sort(lo * n + hi)
    ends = np.searchsorted(lo, lo, side="right")
    later = ends - np.arange(len(lo)) - 1  # later neighbours in the same list
    tri = np.zeros(n, dtype=np.int64)
    # wedge (a, b, c): b, c two out-neighbours of a with rank[b] < rank[c];
    # edge position i pairs with the j-th later neighbour of its list
    i = np.nonzero(later > 0)[0]
    j = 0
    while len(i):
        j += 1
        i = i[later[i] >= j]
        a, b, c = lo[i], hi[i], hi[i + j]
        probe = b * n + c
        pos = np.minimum(np.searchsorted(oriented, probe), len(oriented) - 1)
        hit = oriented[pos] == probe
        for x in (a[hit], b[hit], c[hit]):
            tri += np.bincount(x, minlength=n)
    return ids, tri
