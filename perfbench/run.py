"""Benchmark entry point.

    python3 perfbench/run.py --workload sample_planted --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes (generated inputs, Spark scratch space, the JSON
artifact) goes under ``.perfbench_work/`` in the repository root.

One run:

1. generates the workload's inputs and reference results from the seed;
2. sets up ``SETUPS`` times (start the session, load the input, warm up)
   and reports the median as ``setup_s``; the first set-up also launches
   the JVM, the others restart the session inside it;
3. checks the engine's outputs once against the references (untimed; this
   also warms every code path the timed passes use);
4. runs timed passes of the workload: passes start until ``--seconds``
   have passed and ``MIN_PASSES`` have run, so the last one may end after
   the window.

The traced run (``--trace 1``) sets up once with tracing on, checks, runs
one untraced pass, then traced passes for the rest of the window, and
reports per-layer counters plus its own overhead against the untraced pass.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))
SETUPS = 3
# at least two passes, so iter_s is never the first (least warm) pass alone
MIN_PASSES = 2
# end-to-end metrics of an untraced run, with their units
E2E_UNITS = {
    "setup_s": "s",
    "iter_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
# Session settings, identical for every run and for both sides of an A/B.
# The heap stays well below the host's memory; the periodic-GC interval is
# the session default written out. The benchmark forces one GC, after the
# untimed check, and none during the timed passes.
SETTINGS = {
    "SPARK_GRAFT_CPUS": str(CORES),
    "SPARK_DRIVER_MEMORY": "3g",
    "SPARK_GRAFT_PERIODIC_GC": "2min",
}


def _configure_env() -> dict:
    """Point every scratch location of Spark, the JVM and Python at the
    work directory, and return the extra session confs."""
    for sub in ("inputs", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(SETTINGS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, from the launcher JVM
    # or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        # a fixed heap and young generation, so the resident set follows
        # the live data rather than the collector's sizing decisions
        "spark.driver.extraJavaOptions": (
            f"-Xms{SETTINGS['SPARK_DRIVER_MEMORY']} -Xmn512m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class PeakRss:
    """Peak summed resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _warm_up(spark) -> None:
    """Compile the scan/aggregate path and start the Python worker pool."""
    from pyspark.sql import functions as F

    spark.range(100_000).selectExpr("sum(id)").collect()
    (
        spark.range(4 * CORES)
        .withColumn("k", F.col("id") % CORES)
        .groupby("k")
        .applyInPandas(lambda pdf: pdf, "id long, k long")
        .collect()
    )


def _stop_session(spark) -> None:
    from sna_pyspark_graphframes_spark import registry

    registry.clear_session_caches()
    registry.clear_twin_memo()
    spark.stop()


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _timed_passes(wl, seconds: float, min_passes: int, tracer=None, first_pass: int = 0):
    """Run passes for ``seconds`` and at least ``min_passes`` times;
    returns (pass walls, op records)."""
    from workloads import run_op

    walls, ops = [], []
    t_start = time.perf_counter()
    n = first_pass
    while True:
        t0 = time.perf_counter()
        for name, fn in wl.ops(n):
            t = time.perf_counter()
            ok, err = run_op(fn)
            ops.append({"pass": n, "op": name, "s": time.perf_counter() - t, "ok": ok})
            if err:
                print(f"# {name} raised:\n{err}", file=sys.stderr)
            if tracer is not None:
                tracer.collect_counters()
        wl.end_pass()
        walls.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.release()
        n += 1
        if len(walls) >= min_passes and time.perf_counter() - t_start >= seconds:
            return walls, ops


def _tail(times: list[float]) -> tuple[float, float, int] | None:
    """Highest whole percentile with at least ten samples beyond it:
    (percentile, seconds, sample count), or None below 11 samples."""
    n = len(times)
    if n < 11:
        return None
    xs = sorted(times)
    pct = int(100 * (n - 10) / n)
    return pct, xs[max(0, -(-pct * n // 100) - 1)], n


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the package must be importable before anything is generated: run from
    # a directory without it, the benchmark fails here with no result
    sys.path.insert(0, ROOT)
    import sna_pyspark_graphframes_spark  # noqa: F401

    extra_conf = _configure_env()
    from sna_pyspark_graphframes_spark import session

    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tracer = spans.Tracer(CORES) if args.trace else None
    wl = WORKLOADS[args.workload](args.seed, WORK, tracer)
    t_run = time.perf_counter()
    wl.prepare()
    _log(f"prepare {time.perf_counter() - t_run:.1f}s")

    if tracer is not None:
        tracer.install()
        tracer.active = True
    setups, spark = [], None
    for _ in range(1 if tracer else SETUPS):
        if spark is not None:
            _stop_session(spark)
        t0 = time.perf_counter()
        spark = session.get_spark(extra_conf=extra_conf)
        wl.load(spark)
        _warm_up(spark)
        setups.append(time.perf_counter() - t0)
    if tracer is not None:
        tracer.active = False
        tracer.collect_counters()

    _log(f"setups {[round(x, 2) for x in setups]}")
    t0 = time.perf_counter()
    try:
        fails = wl.check()
    except Exception:  # a check that cannot run is a failed check
        fails = [traceback.format_exc()]
    _log(f"check {time.perf_counter() - t0:.1f}s")
    for f in fails:
        print(f"# check failed: {f}", file=sys.stderr)
    # settle the heap the check leaves behind before anything is timed
    gc.collect()
    spark._jvm.System.gc()

    record = {"workload": args.workload, "seed": args.seed, "setups_s": setups, "check_failures": fails}
    if tracer is None:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            walls, ops = _timed_passes(wl, args.seconds, MIN_PASSES)
            measured = time.perf_counter() - t0
        times = [o["s"] for o in ops]
        values = {
            "setup_s": statistics.median(setups),
            "iter_s": statistics.median(walls),
            "ops_per_s": len(ops) / measured,
            "op_p50_s": statistics.median(times),
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {k: (values[k], u) for k, u in E2E_UNITS.items()}
        tail = _tail(times)
        record.update(passes_s=walls, ops=ops, op_tail=tail)
        if tail:
            print(f"# op_tail_s: p{tail[0]} = {tail[1]:.4f} s over {tail[2]} operations")
        else:
            print(f"# op_tail_s: omitted, {len(times)} operations (needs 11)")
    else:
        t0 = time.perf_counter()
        untraced, _ = _timed_passes(wl, 0.0, 1)
        tracer.phase, tracer.active = "pass", True
        tracer.collect_counters()
        walls, ops = _timed_passes(
            wl, args.seconds - (time.perf_counter() - t0), 1, tracer, first_pass=1
        )
        tracer.active = False
        layer = tracer.layer_metrics(len(walls))
        layer["trace.pass_s"] = statistics.median(walls)
        layer["trace.untraced_pass_s"] = untraced[0]
        layer["trace.overhead_s"] = layer["trace.pass_s"] - untraced[0]
        metrics = {k: (layer[k], spans.unit(k)) for k in spans.per_layer_names()}
        record.update(passes_s=walls, untraced_pass_s=untraced[0], ops=ops, trace=tracer.artifact())

    _log(f"passes {[round(x, 2) for x in walls]}")
    _stop_session(spark)
    _shutdown_jvm()
    _log(f"total {time.perf_counter() - t_run:.1f}s")

    failed = sum(1 for o in ops if not o["ok"] or fails)
    print(f"# failed_frac: {failed}/{len(ops)}")
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out_dir = os.path.join(WORK, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    result = {
        "correct": not fails and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
