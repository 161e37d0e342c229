"""Contracts of the power-iteration loops that the oracle sweep cannot see.

At sf0.001 every data-sized edge layout collapses to one partition, so a
loop whose answer depends on how its layout is partitioned, or on input
row order, still matches its oracle there. These tests force the layout
partition count instead."""

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
