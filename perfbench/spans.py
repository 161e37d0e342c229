"""Per-layer tracing for the traced benchmark run.

The tracer wraps the public entry points of each layer of the package from
outside: every module attribute that refers to a wrapped function is
replaced, so calls between layers are recorded as nested spans without any
change to the package. Each span

* tags the Spark jobs it launches with its own id as the job description,
  so stage counters in ``sc._jsc.sc().statusStore()`` can be attributed to
  the innermost span that launched them;
* reads the JVM's cumulative GC time at entry and exit;
* materializes a lazy DataFrame result (``persist`` + ``count``) before it
  ends, so the work lands in the span of the layer that built the frame.
  Sources are the exception: their frames stay lazy, because whether a
  consumer re-scans the input is what ``sources.input_bytes`` measures.

Spans stay in memory; ``Tracer.artifact`` returns them for the JSON file
written when the run ends.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import inspect
import sys
import time

PACKAGE = "sna_pyspark_graphframes_spark"

# layer name -> modules whose public functions are its entry points. The
# registry's entry points are its query functions, which the benchmark
# calls through ``Tracer.span`` itself.
LAYERS = {
    "session": ["session"],
    "sources": ["sources.edgelist", "sources.tables"],
    "graph.build": ["graph.build"],
    "graph.algorithms": ["graph.algorithms"],
    "graph.sampling": ["graph.sampling"],
    "graph.metrics": ["graph.metrics"],
    "plans.iterate": ["plans.iterate"],
    "pipeline": ["pipeline"],
    "registry": [],
}
# return annotations of the entry points worth a span; helpers returning
# Columns or scalars are skipped, and so is ``walk_length``, which runs
# inside the walk kernel on the Python workers
_WRAP_RETURNS = ("DataFrame", "SampleResult", "GraphReport", "dict", "SparkSession")
_SKIP = {"walk_length", "main"}

LAYER_FIELDS = (
    "self_s", "calls", "jobs", "tasks", "shuffle_bytes", "spill_bytes",
    "cpu_s", "gc_s", "core_util",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name the traced run prints, in order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    names += [
        "graph.algorithms.jobs_per_superstep",
        "graph.sampling.walk_groups",
        "graph.sampling.max_group_rows",
        "graph.sampling.new_vertex_ratio",
        "plans.iterate.storage_peak_bytes",
        "registry.plan_s",
        "sources.input_bytes",
        "trace.pass_s",
        "trace.untraced_pass_s",
        "trace.overhead_s",
    ]
    return names


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "bytes"
    if field in ("core_util", "new_vertex_ratio", "jobs_per_superstep"):
        return "ratio"
    return "count"


@dataclasses.dataclass
class Span:
    id: int
    layer: str
    fn: str
    parent: int | None
    phase: str
    start: float = 0.0
    end: float = 0.0
    gc_ms: float = 0.0
    rounds: int | None = None
    plan_ms: float = 0.0
    counters: dict = dataclasses.field(default_factory=dict)


class Tracer:
    def __init__(self, cores: int):
        self.cores = cores
        self.active = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted = []
        self._last_stage = -1
        self._last_job = -1
        self._storage_peak = 0
        self._gc_beans = None
        self._gc_jvm = None
        self.sampling_stats: list[dict] = []

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        """Replace every reference to a layer entry point in the loaded
        package modules by a traced wrapper."""
        for layer, modules in LAYERS.items():
            for name in modules:
                mod = importlib.import_module(f"{PACKAGE}.{name}")
                for attr, fn in list(vars(mod).items()):
                    if not self._wants(fn, mod, attr):
                        continue
                    wrapper = self._wrap(layer, fn)
                    self._rebind(fn, wrapper)

    @staticmethod
    def _wants(fn, mod, attr: str) -> bool:
        if attr.startswith("_") or attr in _SKIP or not inspect.isfunction(fn):
            return False
        if fn.__module__ != mod.__name__:
            return False
        ret = inspect.signature(fn).return_annotation
        return isinstance(ret, str) and any(r in ret for r in _WRAP_RETURNS)

    @staticmethod
    def _rebind(fn, wrapper) -> None:
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)

    def _wrap(self, layer: str, fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer, fn.__name__) as sp:
                result = fn(*args, **kwargs)
                if layer == "graph.algorithms":
                    sp.rounds = self._rounds(fn.__name__, sig, args, kwargs)
                if layer != "sources":
                    result = self._materialize(result)
                if layer == "plans.iterate":
                    self._sample_storage()
            if fn.__name__ == "community_random_walk":
                self._walk_stats(sig.bind(*args, **kwargs), result)
            return result

        return wrapper

    # -- spans --------------------------------------------------------------

    def span(self, layer: str, fn: str):
        return _SpanCtx(self, layer, fn)

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _gc_ms(self) -> float:
        sc = self._sc()
        if sc is None:
            return 0.0
        if self._gc_jvm is not sc._jvm:
            mf = sc._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
            self._gc_jvm = sc._jvm
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def _tag(self, sp: Span | None) -> None:
        sc = self._sc()
        if sc is not None:
            sc.setJobDescription(None if sp is None else f"perfbench-span-{sp.id}")

    def _enter(self, layer: str, fn: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), layer, fn, parent, self.phase)
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        sp.gc_ms = -self._gc_ms()
        sp.start = time.perf_counter()
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.gc_ms += self._gc_ms()
        self._stack.pop()
        self._tag(self._stack[-1] if self._stack else None)

    # -- helpers run inside spans ---------------------------------------------

    def _materialize(self, result):
        from pyspark import StorageLevel
        from pyspark.sql import DataFrame

        if isinstance(result, DataFrame):
            if result.storageLevel == StorageLevel.NONE:
                result.persist()
                self._persisted.append(result)
            result.count()
        elif dataclasses.is_dataclass(result) and not isinstance(result, type):
            for f in dataclasses.fields(result):
                self._materialize(getattr(result, f.name))
        return result

    def release(self) -> None:
        """Unpersist the frames the tracer persisted in this pass."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    @staticmethod
    def _rounds(name, sig, args, kwargs) -> int | None:
        from sna_pyspark_graphframes_spark.graph.algorithms import LAST_STATS

        stat = {
            "label_propagation": "lpa_rounds",
            "connected_components": "cc_rounds",
            "pagerank": "pagerank_rounds",
        }.get(name)
        if stat is not None:
            return LAST_STATS.get(stat)
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        for key in ("max_iter", "n_iter"):
            if key in bound.arguments:
                return int(bound.arguments[key])
        return None

    def _walk_stats(self, bound, walks) -> None:
        """Walk-kernel shape: group count, largest group, Σ step budget and
        distinct vertices sampled. Read under a span of the pseudo-layer
        ``trace``, so neither its time nor its jobs count for any layer."""
        from pyspark.sql import functions as F

        from sna_pyspark_graphframes_spark.graph import sampling

        bound.apply_defaults()
        adj = bound.arguments["labeled_adjacency"]
        alpha = float(bound.arguments["alpha"])
        cap = int(bound.arguments["max_walk_steps"])
        with self.span("trace", "walk_stats"):
            rows = adj.groupBy("label").agg(
                F.count("*").alias("n"), F.avg("cc").alias("cc")
            ).collect()
            distinct = walks.select("id").distinct().count()
        budget = sum(
            min(sampling.walk_length(r["n"], r["cc"] or 0.0, alpha), cap) for r in rows
        )
        self.sampling_stats.append(
            {
                "walk_groups": len(rows),
                "max_group_rows": max((r["n"] for r in rows), default=0),
                "step_budget": budget,
                "distinct_sampled": distinct,
            }
        )

    def _sample_storage(self) -> None:
        sc = self._sc()
        status = sc._jsc.sc().getExecutorMemoryStatus()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        used = sum(v._1() - v._2() for v in conv.asJava(status).values())
        self._storage_peak = max(self._storage_peak, used)

    # -- Spark counters -----------------------------------------------------

    def collect_counters(self) -> None:
        """Attribute every stage and job finished since the last call to the
        span whose id is its job description."""
        sc = self._sc()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        by_id = {f"perfbench-span-{s.id}": s for s in self.spans}
        stages = store.stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        newest = self._last_stage
        for st in conv.asJava(stages):
            sid = st.stageId()
            if sid <= self._last_stage:
                continue
            newest = max(newest, sid)
            desc = st.description()
            sp = by_id.get(desc.get()) if desc.isDefined() else None
            if sp is None:
                continue
            c = sp.counters
            for key, val in (
                ("tasks", st.numCompleteTasks()),
                ("run_ms", st.executorRunTime()),
                ("cpu_ns", st.executorCpuTime()),
                ("shuffle_bytes", st.shuffleWriteBytes()),
                ("spill_bytes", st.diskBytesSpilled()),
                ("input_bytes", st.inputBytes()),
            ):
                c[key] = c.get(key, 0) + val
        self._last_stage = newest
        newest = self._last_job
        for job in conv.asJava(store.jobsList(None)):
            jid = job.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            desc = job.description()
            sp = by_id.get(desc.get()) if desc.isDefined() else None
            if sp is not None:
                sp.counters["jobs"] = sp.counters.get("jobs", 0) + 1
        self._last_job = newest

    # -- aggregation ----------------------------------------------------------

    def layer_metrics(self, n_passes: int) -> dict[str, float]:
        """Per-layer totals: the traced set-up once plus the traced passes
        averaged per pass."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def inclusive_jobs(s: Span) -> int:
            return s.counters.get("jobs", 0) + sum(
                inclusive_jobs(k) for k in children.get(s.id, [])
            )

        acc = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
        run_s = {layer: 0.0 for layer in LAYERS}
        superstep_jobs = superstep_rounds = 0.0
        input_bytes = plan_s = 0.0
        for s in self.spans:
            if s.layer not in acc:
                continue
            w = 1.0 if s.phase == "setup" else 1.0 / max(n_passes, 1)
            kids = children.get(s.id, [])
            a = acc[s.layer]
            a["self_s"] += w * ((s.end - s.start) - sum(k.end - k.start for k in kids))
            a["gc_s"] += w * (s.gc_ms - sum(k.gc_ms for k in kids)) / 1000.0
            a["calls"] += w
            c = s.counters
            a["jobs"] += w * c.get("jobs", 0)
            a["tasks"] += w * c.get("tasks", 0)
            a["shuffle_bytes"] += w * c.get("shuffle_bytes", 0)
            a["spill_bytes"] += w * c.get("spill_bytes", 0)
            a["cpu_s"] += w * c.get("cpu_ns", 0) / 1e9
            run_s[s.layer] += w * c.get("run_ms", 0) / 1000.0
            input_bytes += w * c.get("input_bytes", 0)
            plan_s += w * s.plan_ms / 1000.0
            parent_layer = (
                self.spans[s.parent].layer if s.parent is not None else None
            )
            if (
                s.layer == "graph.algorithms"
                and s.rounds
                and parent_layer != "graph.algorithms"
            ):
                superstep_jobs += w * inclusive_jobs(s)
                superstep_rounds += w * s.rounds
        out = {}
        for layer, a in acc.items():
            wall = a["self_s"] * self.cores
            a["core_util"] = run_s[layer] / wall if wall > 0 else 0.0
            for f in LAYER_FIELDS:
                out[f"{layer}.{f}"] = a[f]
        out["graph.algorithms.jobs_per_superstep"] = (
            superstep_jobs / superstep_rounds if superstep_rounds else 0.0
        )
        ws = self.sampling_stats
        k = max(len(ws), 1)
        out["graph.sampling.walk_groups"] = sum(s["walk_groups"] for s in ws) / k
        out["graph.sampling.max_group_rows"] = sum(s["max_group_rows"] for s in ws) / k
        budget = sum(s["step_budget"] for s in ws)
        out["graph.sampling.new_vertex_ratio"] = (
            sum(s["distinct_sampled"] for s in ws) / budget if budget else 0.0
        )
        out["plans.iterate.storage_peak_bytes"] = float(self._storage_peak)
        out["registry.plan_s"] = plan_s
        out["sources.input_bytes"] = input_bytes
        return out

    def artifact(self) -> dict:
        return {
            "spans": [dataclasses.asdict(s) for s in self.spans],
            "sampling": self.sampling_stats,
        }


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, fn: str):
        self.tracer, self.layer, self.fn = tracer, layer, fn
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._enter(self.layer, self.fn)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span)
