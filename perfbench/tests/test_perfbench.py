"""Self-tests of the benchmark: seeded generators, references against the
engine on tiny generated inputs, and the metric names against
BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import gen
import oracles
import run
import spans
import workloads
from conftest import ROOT


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators ---------------------------------------------------------------


def test_graph_generators_are_deterministic_per_seed():
    a = gen.planted_partition(3, n_comm=5, comm_size=20, deg_in=6.0, deg_out=1.0)
    assert np.array_equal(a, gen.planted_partition(3, n_comm=5, comm_size=20, deg_in=6.0, deg_out=1.0))
    assert not np.array_equal(a, gen.planted_partition(4, n_comm=5, comm_size=20, deg_in=6.0, deg_out=1.0))
    assert (a[:, 0] < a[:, 1]).all()
    b = gen.chung_lu(3, n=500, avg_deg=6.0, gamma=2.3)
    assert np.array_equal(b, gen.chung_lu(3, n=500, avg_deg=6.0, gamma=2.3))
    assert not np.array_equal(b, gen.chung_lu(4, n=500, avg_deg=6.0, gamma=2.3))
    assert (b[:, 0] != b[:, 1]).all() and len(np.unique(b, axis=0)) == len(b)


def test_table_generator_is_deterministic_per_seed():
    a, b, c = gen.tables(3, 0.001), gen.tables(3, 0.001), gen.tables(4, 0.001)
    assert list(a) == list(gen.TABLE_NAMES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_snap_file_round_trips(tmp_path):
    e = gen.planted_partition(1, n_comm=3, comm_size=10, deg_in=4.0, deg_out=1.0)
    path = str(tmp_path / "g.txt")
    gen.write_snap(e, path, "test")
    with open(path) as f:
        assert f.readline().startswith("#")
    assert np.array_equal(np.loadtxt(path, dtype=np.int64, comments="#"), e)


# -- references agree with the engine -----------------------------------------


@pytest.fixture(scope="module")
def powerlaw(spark):
    raw = gen.chung_lu(5, n=300, avg_deg=5.0, gamma=2.3)
    e = np.unique(np.stack([raw.min(axis=1), raw.max(axis=1)], axis=1), axis=0)
    return e, spark.createDataFrame(e.tolist(), "src long, dst long")


def _as_dict(df):
    return {int(r[0]): r[1] for r in df.collect()}


def test_component_and_lpa_references_match_engine(powerlaw):
    from sna_pyspark_graphframes_spark.graph import algorithms

    e, df = powerlaw
    assert _as_dict(algorithms.connected_components(df)) == oracles.components(e)
    assert _as_dict(algorithms.label_propagation(df, max_iter=5)) == oracles.label_propagation(e, 5)


def test_rank_references_match_engine(powerlaw):
    from sna_pyspark_graphframes_spark.graph import algorithms

    e, df = powerlaw
    tol = workloads.RANK_TOL
    alpha = 0.5 / oracles.spectral_radius(e)
    src = [int(v) for v in np.unique(e)[:2]]
    cases = [
        (algorithms.pagerank(df, max_iter=6, tol=None), oracles.pagerank(e, 0.85, 6)),
        (
            algorithms.personalized_pagerank(df, src, max_iter=6, tol=None),
            oracles.pagerank(e, 0.85, 6, src),
        ),
        (
            algorithms.katz_centrality(df, alpha=alpha, max_iter=6, tol=None),
            oracles.katz(e, alpha, 1.0, 6),
        ),
    ]
    for got, want in cases:
        assert workloads._close(_as_dict(got), want, tol)
    hubs = {int(r[0]): (r[1], r[2]) for r in algorithms.hits(df, n_iter=3).collect()}
    ref = oracles.hits(e, 3)
    assert hubs.keys() == ref.keys()
    assert all(abs(hubs[k][i] - ref[k][i]) <= tol for k in ref for i in (0, 1))


def test_graph_report_reference_matches_engine(spark):
    from sna_pyspark_graphframes_spark import pipeline

    e = gen.planted_partition(2, n_comm=4, comm_size=20, deg_in=6.0, deg_out=1.0)
    got = pipeline.measure(spark.createDataFrame(e.tolist(), "src long, dst long")).__dict__
    for k, v in oracles.graph_report(e).items():
        assert abs(got[k] - v) <= 1e-4, k


def test_query_oracles_match_engine(spark, tmp_path):
    from tests.oracle import compare, duckdb_connection

    from sna_pyspark_graphframes_spark import registry

    gen.write_tables(2, 0.001, str(tmp_path))
    con = duckdb_connection(str(tmp_path))
    for name in ("pricing_summary", "event_sessionization", "lang_id"):
        q = registry.REGISTRY[name]
        ok, msg = compare(q.fn(spark, str(tmp_path)), con, q.sql)
        assert ok, f"{name}: {msg}"


def test_pinned_queries_are_registered_with_oracles():
    from sna_pyspark_graphframes_spark import registry

    for name in workloads.QUERIES:
        assert registry.REGISTRY[name].sql, name


# -- the contract with BENCHMARK.json -----------------------------------------


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert list(layer) == spans.per_layer_names()
    assert all(layer[n] == spans.unit(n) for n in layer)


def test_benchmark_workloads_exist():
    for w in _benchmark()["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run._tail([1.0] * 10) is None
    pct, value, n = run._tail([float(i) for i in range(1, 101)])
    assert (pct, n) == (90, 100) and value == 90.0
    pct, value, n = run._tail([float(i) for i in range(1, 12)])
    assert pct == 9 and value == 1.0 and n == 11
