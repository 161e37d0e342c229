"""Contracts of the superstep loops that the oracle sweep cannot see.

At sf0.001 every data-sized edge layout collapses to one partition, so a
loop whose answer depends on how its layout is partitioned, or on input
row order, still matches its oracle there. These tests force the layout
partition count instead. They also pin the edge-layout lifetime: a loop
that fails after building its own layout must not leave it cached."""

from __future__ import annotations

import random

import pytest

import sna_pyspark_graphframes_spark.graph.algorithms as alg

# 20 vertices: a directed ring 0→…→18 with chords and one parallel arc,
# plus vertex 19 reached from 4 and 11 and pointing nowhere (the one
# dangling vertex).
_RING = [(i, (i + 1) % 19) for i in range(19)]
_CHORDS = [(0, 7), (3, 12), (5, 1), (8, 15), (13, 2), (16, 9), (4, 19), (11, 19)]
_ARCS = _RING + _CHORDS + [(3, 12)]
_WEIGHTED = [(s, d, float(1 + (3 * s + d) % 4)) for s, d in _ARCS]


def _run_family(spark, shuffled):
    rows = list(_WEIGHTED)
    if shuffled:
        random.Random(7).shuffle(rows)
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    arcs = e.select("src", "dst")
    return {
        "pagerank": alg.pagerank(
            arcs, max_iter=3, directed=True, tol=None, round_dp=6
        ),
        "personalized_pagerank": alg.personalized_pagerank(
            arcs, [0, 19], max_iter=3, directed=True, tol=None, round_dp=6
        ),
        "pagerank_weighted": alg.pagerank_weighted(e, "w", max_iter=3),
    }


def test_pagerank_family_is_layout_and_order_invariant(spark, monkeypatch):
    # each call pays ~20 Spark jobs of layout and setup, so the shuffled
    # row order rides the 3- and 17-partition runs instead of a 4th run
    runs = {}
    for parts, shuffled in ((1, False), (3, True), (17, True)):
        monkeypatch.setattr(alg, "_adaptive_edge_parts", lambda n, s, p=parts: p)
        runs[parts] = {
            name: sorted(map(tuple, df.collect()))
            for name, df in _run_family(spark, shuffled).items()
        }
    reference = runs[1]
    for name, rows in reference.items():
        assert len(rows) == 20, name
        assert abs(sum(r[1] for r in rows) - 1.0) < 1e-4, name
    for parts, got in runs.items():
        assert got == reference, parts


@pytest.mark.parametrize("n_iter", [0, -1])
def test_hits_rejects_no_rounds(spark, n_iter):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="n_iter"):
        alg.hits(e, n_iter=n_iter)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _widest_reference(source):
    """Max-min Bellman-Ford over ``_WEIGHTED`` in plain Python (the
    source row is dropped, as in ``widest_path``)."""
    cap = {}
    while True:
        nxt = dict(cap)
        for s, d, w in _WEIGHTED:
            if d == source:
                continue
            if s == source:
                nxt[d] = max(nxt.get(d, w), w)
            elif s in cap:
                nxt[d] = max(nxt.get(d, 0.0), min(cap[s], w))
        if nxt == cap:
            return sorted(cap.items())
        cap = nxt


def test_frontier_loops_are_layout_and_order_invariant(spark, monkeypatch):
    """CC and LPA give identical rows at 1, 3 and 17 forced layout
    partitions (shuffled rows on the 3- and 17-partition runs), and
    ``max_iter=0`` returns their initial labels. SSSP, widest path and
    SCC on shuffled rows give the rows of a plain-Python reference (each
    call pays tens of Spark jobs, so the reference replaces an ordered
    Spark run)."""
    import networkx as nx

    def frame(shuffled):
        rows = list(_WEIGHTED)
        if shuffled:
            random.Random(7).shuffle(rows)
        return spark.createDataFrame(rows, "src long, dst long, weight double")

    runs = {}
    for parts, shuffled in ((1, False), (3, True), (17, True)):
        monkeypatch.setattr(alg, "_adaptive_edge_parts", lambda n, s, p=parts: p)
        arcs = frame(shuffled).select("src", "dst")
        runs[parts] = {
            "cc": _rows(alg.connected_components(arcs)),
            "lpa": _rows(alg.label_propagation(arcs, max_iter=5)),
        }
    assert runs[1]["cc"] == [(v, 0) for v in range(20)]
    assert len(runs[1]["lpa"]) == 20
    for parts, got in runs.items():
        assert got == runs[1], parts
    identity = [(v, v) for v in range(20)]
    assert _rows(alg.connected_components(arcs, max_iter=0)) == identity
    assert _rows(alg.label_propagation(arcs, max_iter=0)) == identity

    e = frame(shuffled=True)
    g = nx.DiGraph()
    g.add_weighted_edges_from(_WEIGHTED)
    dist = nx.single_source_dijkstra_path_length(g, 0)
    assert _rows(alg.weighted_sssp(e, 0)) == [
        (v, round(d, 4)) for v, d in sorted(dist.items())
    ]
    assert _rows(alg.widest_path(e, 0)) == _widest_reference(0)
    # the ring 0→…→18 is one SCC; the sink 19 is its own
    assert _rows(alg.strongly_connected_components(e.select("src", "dst"))) == [
        (v, 0) for v in range(19)
    ] + [(19, 19)]


def test_rejected_init_ranks_release_the_layout(spark, monkeypatch):
    """``init_ranks`` is validated after the loop has built (and
    materialized) its own edge layout; the rejection must unpersist it.
    The suite shares one session whose registry memos stay cached, so the
    order-independent check is that the captured layout has left the
    CacheManager; run alone, the CacheManager is empty again as well."""
    built = []
    real = alg._edges_partitioned

    def capture(*a, **kw):
        built.append(real(*a, **kw))
        return built[-1]

    monkeypatch.setattr(alg, "_edges_partitioned", capture)
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    one_column = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="init_ranks"):
        alg.pagerank(e, max_iter=3, init_ranks=one_column)
    assert len(built) == 1
    assert not built[0].storageLevel.useMemory
    assert not built[0].storageLevel.useDisk
    if was_empty:
        assert cache.isEmpty()
