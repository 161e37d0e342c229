"""The three benchmark workloads.

Each workload generates its input from the seed (``prepare``), loads it as
part of set-up (``load``), checks the engine's output once against an
independent reference (``check``, untimed; it also warms the code paths the
timed passes use), and yields the operations of one timed pass (``ops``).
Package functions are always called through their module, so the traced
run's wrappers see every call.
"""

from __future__ import annotations

import os
import traceback

import numpy as np

import gen
import oracles
from sna_pyspark_graphframes_spark import pipeline, registry
from sna_pyspark_graphframes_spark import sources
from sna_pyspark_graphframes_spark.graph import algorithms, build, sampling

# sample_planted: the paper's Algorithm 1 with its default parameters
PLANTED = dict(n_comm=60, comm_size=100, deg_in=16.0, deg_out=4.0)
ALPHA, LPA_ITER = 2.0, 5

# loops_powerlaw: heavy-tailed graph; fixed round counts (tol=None)
POWERLAW = dict(n=10_000, avg_deg=10.0, gamma=2.3)
RANK_ROUNDS, HITS_ROUNDS, DAMPING = 8, 4, 0.85
RANK_TOL = 1e-6 + 1e-9  # outputs are rounded to 6 dp on both sides

# query_board: the per-query floor. Relational, text/dedup, similarity,
# statistics, event and ML queries; no graph-loop queries.
QUERY_SF = 0.01
QUERIES = (
    "pricing_summary",
    "revenue_per_nation",
    "top_order_per_customer",
    "dedup_exact",
    "minhash_near_dup",
    "lang_id",
    "similarity_topk",
    "price_quantiles",
    "welch_price_returnflag",
    "event_tumbling_window",
    "event_sessionization",
    "linreg_price_model",
)


def force(df) -> None:
    """Run a frame's full plan and discard the rows (``count()`` would let
    Catalyst prune columns)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str, tracer=None):
        self.seed = seed
        self.dir = os.path.join(work_dir, "inputs", f"{self.name}-{seed}")
        self.tracer = tracer
        self.spark = None

    def prepare(self) -> None:
        """Generate inputs and reference results (excluded from set-up)."""

    def load(self, spark) -> None:
        """Input load, part of set-up."""
        self.spark = spark

    def check(self) -> list[str]:
        """Untimed correctness check; returns failure messages."""
        return []

    def ops(self, pass_no: int) -> list[tuple[str, callable]]:
        """``(name, fn)`` per operation; ``fn()`` is True when the output
        is right."""
        return []

    def end_pass(self) -> None:
        """Clean-up at the end of each timed pass (inside its timing)."""


def _close(a: dict, b: dict, tol: float) -> bool:
    return a.keys() == b.keys() and all(abs(a[k] - b[k]) <= tol for k in a)


def _report_diff(block: str, got: dict, ref: dict) -> list[str]:
    """Differences between a ``GraphReport`` block and the networkx
    reference; the float fields are rounded to 4 dp on both sides."""
    out = []
    for k, v in ref.items():
        tol = 0 if k in ("n_vertices", "n_edges") else 1e-4
        if got[k] is None or abs(got[k] - v) > tol:
            out.append(f"{block} {k}: engine {got[k]} vs networkx {v}")
    return out


class SamplePlanted(Workload):
    name = "sample_planted"

    def prepare(self) -> None:
        self.edges = gen.planted_partition(self.seed, **PLANTED)
        self.path = os.path.join(self.dir, "planted.txt")
        gen.write_snap(self.edges, self.path, f"planted partition, seed {self.seed}")
        self.ref = oracles.graph_report(self.edges)
        self.ref_communities = len(
            set(oracles.label_propagation(self.edges, LPA_ITER).values())
        )

    def load(self, spark) -> None:
        self.spark = spark
        sources.read_edge_list(spark, self.path).count()

    def _run(self) -> dict:
        return pipeline.run_pipeline(
            sources.read_edge_list(self.spark, self.path),
            alpha=ALPHA, max_iter=LPA_ITER, seed=self.seed,
        )

    def check(self) -> list[str]:
        """Run the pipeline once, keeping the ``SampleResult`` its single
        ``sample_graph`` call returns, and check the report and the sample
        against networkx and numpy."""
        captured = []
        real = sampling.sample_graph

        def capture(*args, **kwargs):
            captured.append(real(*args, **kwargs))
            return captured[-1]

        sampling.sample_graph = capture
        try:
            report = self._run()
        finally:
            sampling.sample_graph = real
        res = captured[0]
        fails = _report_diff("original", report["original"], self.ref)
        labels = res.labels.toPandas()
        sampled = set(res.sampled_vertices.toPandas()["id"].tolist())
        got = res.sampled_edges.toPandas()[["src", "dst"]].to_numpy()
        sym = np.unique(np.concatenate([self.edges, self.edges[:, ::-1]]), axis=0)
        inside = np.isin(sym[:, 0], list(sampled)) & np.isin(sym[:, 1], list(sampled))
        if not sampled or not sampled <= set(np.unique(self.edges).tolist()):
            fails.append("sample is empty or not a subset of V")
        if not np.array_equal(np.unique(got, axis=0), sym[inside]):
            fails.append("sampled edges are not the induced subgraph")
        elif len(got):
            fails += _report_diff("sample", report["sample"], oracles.graph_report(got))
        covered = set(labels[labels["id"].isin(sampled)]["label"])
        if covered != set(labels["label"]):
            fails.append("a community has no sampled vertex")
        if report["n_communities"] != self.ref_communities:
            fails.append(
                f"LPA communities: engine {report['n_communities']} "
                f"vs reference {self.ref_communities}"
            )
        if report["n_sampled_vertices"] != len(sampled):
            fails.append("n_sampled_vertices differs from the sample")
        self.expected = report
        self.spark.catalog.clearCache()
        return fails

    def ops(self, pass_no):
        return [("run_pipeline", lambda: self._run() == self.expected)]

    def end_pass(self) -> None:
        # run_pipeline leaves its cached canonical-edge and degree frames
        # registered; drop them so every pass starts from the same state
        self.spark.catalog.clearCache()


class LoopsPowerlaw(Workload):
    name = "loops_powerlaw"

    def prepare(self) -> None:
        raw = gen.chung_lu(self.seed, **POWERLAW)
        self.path = os.path.join(self.dir, "powerlaw.txt")
        gen.write_snap(raw, self.path, f"Chung-Lu, seed {self.seed}")
        e = np.unique(np.stack([raw.min(axis=1), raw.max(axis=1)], axis=1), axis=0)
        rng = np.random.default_rng([self.seed, 4])
        self.ppr_sources = sorted(int(v) for v in rng.choice(np.unique(e), 3, replace=False))
        # Katz converges only for α < 1/λ₁; take half of that bound
        self.katz_alpha = float(f"{0.5 / oracles.spectral_radius(e):.6g}")
        self.ref = {
            "pagerank": oracles.pagerank(e, DAMPING, RANK_ROUNDS),
            "personalized_pagerank": oracles.pagerank(e, DAMPING, RANK_ROUNDS, self.ppr_sources),
            "katz_centrality": oracles.katz(e, self.katz_alpha, 1.0, RANK_ROUNDS),
            "hits": oracles.hits(e, HITS_ROUNDS),
            "connected_components": oracles.components(e),
            "label_propagation": oracles.label_propagation(e, LPA_ITER),
        }

    def load(self, spark) -> None:
        self.spark = spark
        self.edges_df = build.canonical_edges(sources.read_edge_list(spark, self.path)).cache()
        self.edges_df.count()

    def _calls(self):
        e = self.edges_df
        return [
            ("pagerank", lambda: algorithms.pagerank(
                e, damping=DAMPING, max_iter=RANK_ROUNDS, tol=None)),
            ("personalized_pagerank", lambda: algorithms.personalized_pagerank(
                e, self.ppr_sources, damping=DAMPING, max_iter=RANK_ROUNDS, tol=None)),
            ("katz_centrality", lambda: algorithms.katz_centrality(
                e, alpha=self.katz_alpha, beta=1.0, max_iter=RANK_ROUNDS, tol=None)),
            ("hits", lambda: algorithms.hits(e, n_iter=HITS_ROUNDS)),
            ("connected_components", lambda: algorithms.connected_components(e)),
            ("label_propagation", lambda: algorithms.label_propagation(e, max_iter=LPA_ITER)),
        ]

    def check(self) -> list[str]:
        fails = []
        for name, call in self._calls():
            rows = call().toPandas().to_numpy()
            ref = self.ref[name]
            if name == "hits":
                got = {int(r[0]): (r[1], r[2]) for r in rows}
                ok = got.keys() == ref.keys() and all(
                    abs(got[k][0] - ref[k][0]) <= RANK_TOL
                    and abs(got[k][1] - ref[k][1]) <= RANK_TOL
                    for k in ref
                )
            elif name in ("connected_components", "label_propagation"):
                ok = {int(a): int(b) for a, b in rows} == ref
            else:
                ok = _close({int(a): float(b) for a, b in rows}, ref, RANK_TOL)
            if not ok:
                fails.append(f"{name} differs from the numpy reference")
        return fails

    def ops(self, pass_no):
        return [(name, lambda call=call: force(call()) or True) for name, call in self._calls()]


class QueryBoard(Workload):
    name = "query_board"

    def prepare(self) -> None:
        gen.write_tables(self.seed, QUERY_SF, self.dir)

    def load(self, spark) -> None:
        self.spark = spark
        for t in gen.TABLE_NAMES:
            sources.load_table(spark, self.dir, t).count()

    def check(self) -> list[str]:
        from tests.oracle import compare, duckdb_connection

        con = duckdb_connection(self.dir)
        fails = []
        for name in QUERIES:
            q = registry.REGISTRY[name]
            ok, msg = compare(q.fn(self.spark, self.dir), con, q.sql)
            if not ok:
                fails.append(f"{name}: {msg}")
        con.close()
        registry.clear_session_caches()
        return fails

    def _query(self, name: str) -> bool:
        fn = registry.REGISTRY[name].fn
        if self.tracer is None or not self.tracer.active:
            force(fn(self.spark, self.dir))
            return True
        with self.tracer.span("registry", name) as sp:
            df = fn(self.spark, self.dir)
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # plans the frame so the tracker holds every phase
            it = qe.tracker().phases().values().iterator()
            while it.hasNext():
                sp.plan_ms += it.next().durationMs()
            force(df)
        return True

    def ops(self, pass_no):
        order = np.random.default_rng([self.seed, 5, pass_no]).permutation(len(QUERIES))
        return [(QUERIES[i], lambda n=QUERIES[i]: self._query(n)) for i in order]

    def end_pass(self) -> None:
        registry.clear_session_caches()


WORKLOADS = {w.name: w for w in (SamplePlanted, LoopsPowerlaw, QueryBoard)}


def run_op(fn) -> tuple[bool, str]:
    """Run one operation; an exception counts as a failed operation."""
    try:
        return bool(fn()), ""
    except Exception:  # the benchmark keeps going and reports the failure
        return False, traceback.format_exc()
