"""Independent numpy computations the benchmark checks the program against.

Each function restates an algorithm's documented rule from scratch over
plain arrays. Nothing here imports pcd_spark or pyspark.
"""

from __future__ import annotations

import numpy as np


def _index(src: np.ndarray, dst: np.ndarray):
    vids = np.unique(np.concatenate([src, dst]))
    return vids, np.searchsorted(vids, src), np.searchsorted(vids, dst)


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray | None = None,
    damping: float = 0.85,
    tol: float = 1e-12,
    max_iter: int = 100_000,
) -> tuple[np.ndarray, np.ndarray]:
    """Power iteration: uniform teleport, dangling mass spread uniformly,
    per-source weight normalisation, stop when the L1 step is below tol.
    Returns (vids sorted, ranks)."""
    vids, s, t = _index(src, dst)
    n = vids.size
    w = np.ones(s.size) if weight is None else np.asarray(weight, dtype=np.float64)
    out = np.bincount(s, weights=w, minlength=n)
    p = w / out[s]
    dangling = out == 0
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.bincount(t, weights=p * r[s], minlength=n)
        nr = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
        delta = np.abs(nr - r).sum()
        r = nr
        if delta < tol:
            break
    return vids, r


def undirected_pairs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (min, max) pairs without self-loops."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.column_stack([a, b]), axis=0)
    return pairs[:, 0], pairs[:, 1]


def label_propagation(
    src: np.ndarray, dst: np.ndarray, supersteps: int
) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous LPA on the undirected simple graph: the first label of a
    vertex is its id; each superstep it takes the most frequent label among
    its neighbours' previous labels, ties to the smallest label."""
    a, b = undirected_pairs(src, dst)
    vids, ia, ib = _index(a, b)
    to = np.concatenate([ib, ia])  # message receiver
    frm = np.concatenate([ia, ib])  # message sender
    label = vids.copy()
    for _ in range(supersteps):
        msg = label[frm]
        order = np.lexsort((msg, to))
        d, lab = to[order], msg[order]
        start = np.flatnonzero(
            np.concatenate([[True], (d[1:] != d[:-1]) | (lab[1:] != lab[:-1])])
        )
        cnt = np.diff(np.append(start, d.size))
        gd, gl = d[start], lab[start]
        # per receiver: highest count, then smallest label
        best = np.lexsort((gl, -cnt, gd))
        first = best[np.concatenate([[True], gd[best][1:] != gd[best][:-1]])]
        new = label.copy()
        new[gd[first]] = gl[first]
        label = new
    return vids, label


class _UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, x: int) -> int:
        parent = self.parent
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(self, x: int, y: int) -> None:
        rx, ry = self.find(x), self.find(y)
        if rx != ry:
            # the smaller index becomes the root, so a root is its set's
            # smallest index and, vids being sorted, its smallest vid
            if rx < ry:
                self.parent[ry] = rx
            else:
                self.parent[rx] = ry

    def roots(self) -> np.ndarray:
        return np.array([self.find(i) for i in range(len(self.parent))], dtype=np.int64)


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the undirected graph. Returns (vids, component id =
    smallest vid of the component)."""
    vids, s, t = _index(src, dst)
    uf = _UnionFind(vids.size)
    for x, y in zip(s.tolist(), t.tolist()):
        uf.union(x, y)
    return vids, vids[uf.roots()]


def triangles(
    src: np.ndarray, dst: np.ndarray, chunk: int = 4_000_000
) -> tuple[np.ndarray, np.ndarray]:
    """Per-vertex triangle counts of the undirected simple graph. Edges are
    oriented from the lower (degree, index) end; each triangle is found once,
    at its source, by testing every out-wedge for its closing edge."""
    a, b = undirected_pairs(src, dst)
    vids, ia, ib = _index(a, b)
    n = vids.size
    deg = np.bincount(ia, minlength=n) + np.bincount(ib, minlength=n)
    fwd = (deg[ia] < deg[ib]) | ((deg[ia] == deg[ib]) & (ia < ib))
    u = np.where(fwd, ia, ib)
    v = np.where(fwd, ib, ia)
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    start = np.searchsorted(u, np.arange(n + 1))
    outdeg = np.diff(start)
    keys = u * n + v  # sorted, since (u, v) is sorted
    tri = np.zeros(n, dtype=np.int64)
    # wedge (u -> v, u -> w) closes when v -> w is an oriented edge
    reps = outdeg[u]
    bounds = np.concatenate([[0], np.cumsum(reps)])
    e0 = 0
    while e0 < u.size:
        e1 = int(np.searchsorted(bounds, bounds[e0] + chunk, side="right")) - 1
        e1 = max(e1, e0 + 1)
        eu, ev, er = u[e0:e1], v[e0:e1], reps[e0:e1]
        wu = np.repeat(eu, er)
        wv = np.repeat(ev, er)
        off = np.arange(wu.size) - np.repeat(np.cumsum(er) - er, er)
        ww = v[start[wu] + off]
        probe = wv * n + ww
        pos = np.minimum(np.searchsorted(keys, probe), keys.size - 1)
        hit = keys[pos] == probe
        for side in (wu[hit], wv[hit], ww[hit]):
            tri += np.bincount(side, minlength=n)
        e0 = e1
    return vids, tri


def undirected_weights(
    src: np.ndarray, dst: np.ndarray, weight: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Undirected weighted graph: parallel and reverse edges sum their
    weights into one (min, max) pair."""
    w = np.ones(src.size) if weight is None else np.asarray(weight, dtype=np.float64)
    a = np.minimum(src, dst)
    b = np.maximum(src, dst)
    pairs, inv = np.unique(np.column_stack([a, b]), axis=0, return_inverse=True)
    return pairs[:, 0], pairs[:, 1], np.bincount(inv.ravel(), weights=w)


def modularity(
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray | None,
    vids: np.ndarray,
    labels: np.ndarray,
) -> float:
    """Newman modularity of a labelling on the undirected weighted graph:
    Q = sum over communities of in(c)/2m - (tot(c)/2m)^2, a self-loop
    counting twice."""
    a, b, w = undirected_weights(src, dst, weight)
    pos_a, pos_b = np.searchsorted(vids, a), np.searchsorted(vids, b)
    _, comm = np.unique(labels, return_inverse=True)
    comm = comm.ravel()
    k = comm.max() + 1
    two_m = 2.0 * w.sum()
    strength = np.bincount(pos_a, weights=w, minlength=vids.size) + np.bincount(
        pos_b, weights=w, minlength=vids.size
    )
    tot = np.bincount(comm, weights=strength, minlength=k)
    same = comm[pos_a] == comm[pos_b]
    inside = np.bincount(comm[pos_a][same], weights=2.0 * w[same], minlength=k)
    return float(np.sum(inside / two_m - (tot / two_m) ** 2))


def induced_components(
    src: np.ndarray, dst: np.ndarray, vids: np.ndarray, labels: np.ndarray
) -> int:
    """Number of connected pieces when every community keeps only its
    internal edges. Equals the community count iff each is connected."""
    pos_s, pos_d = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    keep = labels[pos_s] == labels[pos_d]
    uf = _UnionFind(vids.size)
    for x, y in zip(pos_s[keep].tolist(), pos_d[keep].tolist()):
        uf.union(x, y)
    return int(np.unique(uf.roots()).size)
