"""Reference results computed outside Spark, from the same generated inputs.

numpy for the iterative algorithms (written from their textbook
definitions with the engine's documented conventions: min-label
components, synchronous LPA with min-label tie-break, fixed-round power
iterations, 6-dp outputs) and networkx for the paper's graph metrics.
"""

from __future__ import annotations

import numpy as np


def _sym(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vertex ids and the deduplicated symmetric arc list as dense indices."""
    e = edges[edges[:, 0] != edges[:, 1]]
    ids, inv = np.unique(e, return_inverse=True)
    inv = inv.reshape(e.shape)
    arcs = np.unique(np.concatenate([inv, inv[:, ::-1]]), axis=0)
    return ids, arcs[:, 0], arcs[:, 1]


def components(edges: np.ndarray) -> dict[int, int]:
    """``{vertex: min vertex id of its component}`` by union-find."""
    ids, src, dst = _sym(edges)
    parent = np.arange(len(ids))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # ids are sorted, so the smallest index of a component is its min id
    return {int(ids[i]): int(ids[find(i)]) for i in range(len(ids))}


def label_propagation(edges: np.ndarray, max_iter: int) -> dict[int, int]:
    """Synchronous LPA: each round every vertex takes the most frequent
    neighbour label, ties to the smallest label; stops early at a fixed
    point."""
    ids, src, dst = _sym(edges)
    labels = ids.copy()
    for _ in range(max_iter):
        pair_lab = labels[dst]
        keys, counts = np.unique(
            np.stack([src, pair_lab], axis=1), axis=0, return_counts=True
        )
        # per source vertex: highest count first, then smallest label
        order = np.lexsort((keys[:, 1], -counts, keys[:, 0]))
        keys = keys[order]
        first = np.ones(len(keys), dtype=bool)
        first[1:] = keys[1:, 0] != keys[:-1, 0]
        new = labels.copy()
        new[keys[first, 0]] = keys[first, 1]
        if np.array_equal(new, labels):
            break
        labels = new
    return dict(zip(ids.tolist(), labels.tolist()))


def _spmv(src: np.ndarray, dst: np.ndarray, x: np.ndarray) -> np.ndarray:
    """y[v] = Σ over arcs (v, u) of x[u]."""
    return np.bincount(src, weights=x[dst], minlength=len(x))


def pagerank(
    edges: np.ndarray, damping: float, max_iter: int, sources: list[int] | None = None
) -> dict[int, float]:
    """Undirected (personalized when ``sources`` is given) PageRank,
    exactly ``max_iter`` power iterations from the reset vector."""
    ids, src, dst = _sym(edges)
    n = len(ids)
    out_deg = np.bincount(src, minlength=n).astype(float)
    if sources is None:
        reset = np.full(n, 1.0 / n)
        pr = reset.copy()
    else:
        reset = np.zeros(n)
        reset[np.searchsorted(ids, sorted(set(sources)))] = 1.0 / len(set(sources))
        pr = reset.copy()
    for _ in range(max_iter):
        inflow = _spmv(src, dst, pr / out_deg)
        pr = (1.0 - damping) * reset + damping * inflow
    return dict(zip(ids.tolist(), np.round(pr, 6).tolist()))


def spectral_radius(edges: np.ndarray, n_iter: int = 200) -> float:
    """Largest adjacency eigenvalue of the undirected graph (power method)."""
    ids, src, dst = _sym(edges)
    x = np.ones(len(ids))
    lam = 0.0
    for _ in range(n_iter):
        y = _spmv(src, dst, x)
        lam = float(np.linalg.norm(y))
        x = y / lam
    return lam


def katz(edges: np.ndarray, alpha: float, beta: float, max_iter: int) -> dict[int, float]:
    """``x ← α·A·x + β`` from x = 0, exactly ``max_iter`` rounds."""
    ids, src, dst = _sym(edges)
    x = np.zeros(len(ids))
    for _ in range(max_iter):
        x = alpha * _spmv(src, dst, x) + beta
    return dict(zip(ids.tolist(), np.round(x, 6).tolist()))


def hits(edges: np.ndarray, n_iter: int) -> dict[int, tuple[float, float]]:
    """Directed HITS, ``n_iter`` rounds, each half-step L2-normalized and
    rounded to 6 dp: ``{vertex: (hub, auth)}``."""
    e = np.unique(edges, axis=0)
    ids, inv = np.unique(e, return_inverse=True)
    inv = inv.reshape(e.shape)
    s, d = inv[:, 0], inv[:, 1]
    n = len(ids)
    hub = np.ones(n)
    auth = np.zeros(n)
    for _ in range(n_iter):
        a = np.bincount(d, weights=hub[s], minlength=n)
        auth = np.round(a / np.linalg.norm(a), 6)
        h = np.bincount(s, weights=auth[d], minlength=n)
        hub = np.round(h / np.linalg.norm(h), 6)
    return {int(v): (float(h), float(a)) for v, h, a in zip(ids, hub, auth)}


def graph_report(edges: np.ndarray) -> dict:
    """The pipeline's ``GraphReport`` fields (|V|, |E|, average degree,
    average clustering, transitivity) from networkx."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges[edges[:, 0] != edges[:, 1]].tolist())
    n_v, n_e = g.number_of_nodes(), g.number_of_edges()
    return {
        "n_vertices": n_v,
        "n_edges": n_e,
        "avg_degree": round(2.0 * n_e / n_v, 4),
        "avg_clustering": round(nx.average_clustering(g), 4),
        "transitivity": round(nx.transitivity(g), 4),
    }
