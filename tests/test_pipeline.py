"""``pipeline.run_pipeline`` end to end on a small seeded graph.

The pipeline builds the original graph's degree, orientation and triangle
tables once (``metrics.triangle_basis``) and derives the sample's from that
orientation restricted to the sampled vertices. These tests pin both
reports to ``measure()`` and networkx, the restriction to ``measure()`` of
the induced subgraph on edge-case vertex sets, and the report's
independence from the shuffle-partition count.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pytest

from sna_pyspark_graphframes_spark import pipeline
from sna_pyspark_graphframes_spark.graph import build, metrics, sampling
from sna_pyspark_graphframes_spark.plans.iterate import checkpointed

ONLY_LOOP = 9  # a vertex whose one edge is a self-loop: in no metric


def _raw_edges() -> np.ndarray:
    """Six planted 50-vertex communities (300 vertices) plus duplicate,
    reversed and self-loop rows, shuffled."""
    rng = np.random.default_rng(20261019)
    comm = np.repeat(np.arange(6), 50)
    iu, ju = np.triu_indices(len(comm), 1)
    p = np.where(comm[iu] == comm[ju], 0.15, 0.004)
    keep = rng.random(len(p)) < p
    e = np.stack([iu[keep], ju[keep]], axis=1) + 100
    dup = e[rng.choice(len(e), 25, replace=False)]
    rev = e[rng.choice(len(e), 25, replace=False)][:, ::-1]
    loops = np.repeat(rng.choice(np.unique(e), 5, replace=False)[:, None], 2, axis=1)
    out = np.concatenate([e, dup, rev, loops, [[ONLY_LOOP, ONLY_LOOP]]])
    rng.shuffle(out)
    return out


RAW = _raw_edges()


def _nx_graph(edges) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from((int(a), int(b)) for a, b in edges if a != b)
    return g


def _nx_report(g: nx.Graph) -> dict:
    n_v, n_e = g.number_of_nodes(), g.number_of_edges()
    return {
        "n_vertices": n_v,
        "n_edges": n_e,
        "avg_degree": round(2.0 * n_e / n_v, 4),
        "avg_clustering": round(nx.average_clustering(g), 4),
        "transitivity": round(nx.transitivity(g), 4),
    }


def _assert_matches_nx(got: dict, g: nx.Graph) -> None:
    for k, v in _nx_report(g).items():
        assert got[k] == pytest.approx(v, abs=1e-4), k


def _run_at(spark, edges, partitions: int):
    """``run_pipeline`` at ``partitions`` shuffle partitions, returning the
    report and the ``SampleResult`` of its one ``sample_graph`` call."""
    captured = []
    real = sampling.sample_graph

    def capture(*args, **kwargs):
        captured.append(real(*args, **kwargs))
        return captured[-1]

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    sampling.sample_graph = capture
    try:
        report = pipeline.run_pipeline(edges, alpha=2.0, max_iter=5, seed=3)
    finally:
        sampling.sample_graph = real
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(captured) == 1
    return report, captured[0]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(RAW.tolist(), "src long, dst long")


@pytest.fixture(scope="module")
def run7(spark, edges):
    return _run_at(spark, edges, 7)


def test_reports_equal_measure_and_networkx(edges, run7):
    report, result = run7
    assert report["original"] == pipeline.measure(edges).__dict__
    assert report["sample"] == pipeline.measure(result.sampled_edges).__dict__
    g = _nx_graph(RAW)
    assert ONLY_LOOP not in g
    _assert_matches_nx(report["original"], g)
    sampled = result.sampled_edges.toPandas()[["src", "dst"]].to_numpy()
    _assert_matches_nx(report["sample"], _nx_graph(sampled))
    assert report["n_sampled_vertices"] == result.sampled_vertices.count()


def _triangle_free_subset(g: nx.Graph) -> list[int]:
    """Greedy: add a vertex when its neighbours already chosen are
    pairwise non-adjacent, so the induced subgraph has no triangle."""
    chosen: set[int] = set()
    for v in sorted(g):
        inside = [u for u in g[v] if u in chosen]
        pairs = ((a, b) for i, a in enumerate(inside) for b in inside[i + 1:])
        if not any(g.has_edge(a, b) for a, b in pairs):
            chosen.add(v)
    return sorted(chosen)


def test_restricted_basis_equals_measure_of_induced_subgraph(spark, edges, run7):
    g = _nx_graph(RAW)
    community0 = list(range(100, 150))
    # a vertex of another community with no neighbour in community 0
    lone = next(v for v in sorted(g) if v >= 150 and not set(g[v]) & set(community0))
    free = _triangle_free_subset(g)
    cases = {
        "empty": [],
        "lone_vertex": community0 + [lone],
        "triangle_free": free,
        "full": sorted(set(RAW.ravel().tolist())),
    }
    sym = checkpointed(build.symmetrize(edges, dedup=True))
    basis = metrics.triangle_basis(sym)
    for name, ids in cases.items():
        s = spark.createDataFrame([(int(v),) for v in ids], "id long")
        restricted = basis.restrict(s)
        got = pipeline._report(restricted.deg, restricted.tri).__dict__
        if name == "full":
            # the induced subgraph on every vertex is the graph itself,
            # whose measure() the report's original block is pinned to
            want = run7[0]["original"]
        else:
            want = pipeline.measure(build.induced_subgraph(sym, s)).__dict__
        assert got == want, name
        sub = g.subgraph(ids).copy()
        sub.remove_nodes_from([v for v in list(sub) if sub.degree(v) == 0])
        if name == "empty":
            assert got["n_vertices"] == got["n_edges"] == 0
            continue
        _assert_matches_nx(got, sub)
        if name == "lone_vertex":
            assert lone not in sub and got["n_vertices"] == len(sub)
        if name == "triangle_free":
            assert got["n_edges"] > 0 and got["transitivity"] == 0.0


def test_report_independent_of_shuffle_partitions(spark, edges, run7):
    assert _run_at(spark, edges, 1)[0] == run7[0]
