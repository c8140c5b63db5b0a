"""Independent numpy/networkx re-computations of every checked result.

They run on collected edge lists after the timed region and share no code
with ``engine/``.
"""

from __future__ import annotations

from collections import deque

import networkx as nx
import numpy as np


class Graph:
    """A collected (vids, src, dst, weight, vtype) snapshot of one graph."""

    def __init__(self, vids, src, dst, weight, vtype=None):
        self.vids = np.asarray(vids, dtype=np.int64)
        self.src = np.asarray(src, dtype=np.int64)
        self.dst = np.asarray(dst, dtype=np.int64)
        self.weight = np.asarray(weight, dtype=np.float64)
        self.vtype = vtype or {}

    @classmethod
    def collect(cls, vertices, edges, with_types: bool = False) -> "Graph":
        vcols = ["vid", "vtype"] if with_types else ["vid"]
        v = vertices.select(*vcols).toPandas()
        e = edges.select("src", "dst", "weight").toPandas()
        vtype = dict(zip(v["vid"].tolist(), v["vtype"].tolist())) if with_types else None
        return cls(v["vid"].to_numpy(), e["src"].to_numpy(), e["dst"].to_numpy(),
                   e["weight"].to_numpy(), vtype)

    def undirected(self) -> nx.Graph:
        """Simple undirected view: no self-loops, parallel edges merged."""
        g = nx.Graph()
        g.add_nodes_from(self.vids.tolist())
        keep = self.src != self.dst
        g.add_edges_from(zip(self.src[keep].tolist(), self.dst[keep].tolist()))
        return g


def pagerank(g: Graph, alpha: float = 0.85, tol: float = 1e-6,
             max_iter: int = 10_000, init: dict[int, float] | None = None):
    """Damped weighted PageRank with dangling mass spread uniformly.

    Returns ``({vid: rank}, iterations)``. Iterates from the uniform vector
    (or ``init``, missing vids at 1/n, L1-normalised) until the L1 change of
    one update drops below ``tol``; ``iterations`` counts the updates.
    """
    vids = np.sort(g.vids)
    n = len(vids)
    s = np.searchsorted(vids, g.src)
    d = np.searchsorted(vids, g.dst)
    out_w = np.bincount(s, weights=g.weight, minlength=n)
    cw = g.weight / out_w[s]
    dangling = out_w == 0
    if init is None:
        x = np.full(n, 1.0 / n)
    else:
        x = np.array([init.get(int(v), 1.0 / n) for v in vids])
        x /= x.sum()
    for it in range(1, max_iter + 1):
        c = np.bincount(d, weights=cw * x[s], minlength=n)
        new = (1.0 - alpha) / n + alpha * (c + x[dangling].sum() / n)
        delta = np.abs(new - x).sum()
        x = new
        if delta < tol:
            return dict(zip(vids.tolist(), x.tolist())), it
    raise RuntimeError(f"oracle PageRank did not reach {tol} in {max_iter} iterations")


def ranks_match(got: dict[int, float], want: dict[int, float], atol: float = 1e-6) -> bool:
    """Same vertex set, every rank within ``atol``, ranks summing to 1."""
    if set(got) != set(want):
        return False
    keys = sorted(want)
    a = np.array([got[k] for k in keys])
    b = np.array([want[k] for k in keys])
    return bool(np.allclose(a, b, rtol=0.0, atol=atol) and abs(a.sum() - 1.0) < atol)


def components(g: Graph) -> dict[int, int]:
    """vid -> minimum vid of its undirected connected component."""
    out: dict[int, int] = {}
    for comp in nx.connected_components(g.undirected()):
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def triangles(g: Graph) -> int:
    return sum(nx.triangles(g.undirected()).values()) // 3


def context(g: Graph, seeds: list[int], max_depth: int,
            dont_follow: tuple[str, ...]) -> dict[int, int]:
    """vid -> hop depth of an undirected BFS from ``seeds`` that includes
    vertices typed in ``dont_follow`` but never expands through them."""
    adj: dict[int, set[int]] = {}
    for a, b in zip(g.src.tolist(), g.dst.tolist()):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    depth = {v: 0 for v in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if depth[u] == max_depth or g.vtype.get(u) in dont_follow:
            continue
        for w in adj.get(u, ()):
            if w not in depth:
                depth[w] = depth[u] + 1
                q.append(w)
    return depth


def induced_edges(g: Graph, keep: set[int]) -> int:
    k = np.array(sorted(keep), dtype=np.int64)
    return int((np.isin(g.src, k) & np.isin(g.dst, k)).sum())
