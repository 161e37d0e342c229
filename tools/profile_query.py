"""Per-query profiling harness for the optimization rounds (guide §1).

Runs named registry queries in a fresh bench-like session and reports,
per query: wall seconds for the bench action (count()) and for the noop
sink (full-column materialization, guide §1.4), the Spark JOB COUNT the
query launched (driver-action pressure of the iterative loops), and —
with --plans — the ``explain("formatted")`` text written to
plans/r14/<name>_<tag>.txt for the judge's plan-claims check.

Usage:
  python tools/profile_query.py --names katz_order_rings,spearman_qty_price \
      [--sf /root/testdata/sf0.1] [--plans-tag before] [--noop] [--reps 1] \
      [--no-memo-share]

--no-memo-share clears the registry memo caches before EVERY query so each
query pays its own full build cost (isolates a query from bench-order
memo effects); default clears once at start (bench-rep semantics).
"""

from __future__ import annotations

import argparse
import gc
import os
import time

# Driver heap: half the host's physical memory, capped at 16g (a fixed
# 16g exceeds the RAM of smaller hosts); an explicit env value wins.
_HALF_RAM_MB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 21
os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{min(_HALF_RAM_MB, 16384)}m")

from sna_pyspark_graphframes_spark import registry  # noqa: E402
from sna_pyspark_graphframes_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-tag", default=None)
    ap.add_argument("--plans-dir", default="r15")
    ap.add_argument(
        "--loop-plans",
        action="store_true",
        help="capture each checkpointed() loop-body plan to "
        "plans/<dir>/<name>_loops_<tag>/ (VERDICT r14 Next #5: the real "
        "per-round plans, not the final frame's Scan ExistingRDD)",
    )
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--no-memo-share", action="store_true")
    args = ap.parse_args()

    names = [n.strip() for n in args.names.split(",") if n.strip()]
    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    qs = {n: registry.REGISTRY[n].fn for n in names}

    # bench-identical warmup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from sna_pyspark_graphframes_spark.sources import load_table

    load_table(spark, args.sf, "lineitem").selectExpr("count(*)").collect()
    from pyspark.sql import functions as F

    (
        spark.range(512)
        .withColumn("k", F.col("id") % 32)
        .groupby("k")
        .applyInPandas(lambda pdf: pdf, "id long, k long")
        .count()
    )

    def n_jobs() -> int:
        return len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)

    for rep in range(args.reps):
        registry.clear_session_caches()
        for name in names:
            if args.no_memo_share:
                registry.clear_session_caches()
            if args.loop_plans and rep == 0:
                tag = args.plans_tag or "loops"
                os.environ["SPARK_GRAFT_LOOP_PLAN_DIR"] = os.path.join(
                    plans_dir, f"{name}_loops_{tag}"
                )
            sc.setJobDescription(f"profile:{name}")
            j0 = n_jobs()
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            n = df.count()
            t_count = time.perf_counter() - t0
            jobs = n_jobs() - j0
            os.environ.pop("SPARK_GRAFT_LOOP_PLAN_DIR", None)
            line = f"[rep {rep}] {name}: count={t_count:.3f}s jobs={jobs} rows={n}"
            if args.noop:
                t1 = time.perf_counter()
                df2 = qs[name](spark, args.sf)
                df2.write.format("noop").mode("overwrite").save()
                line += f" noop={time.perf_counter() - t1:.3f}s"
            print(line, flush=True)
            if args.plans_tag and rep == 0:
                txt = qs[name](spark, args.sf)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                with open(os.path.join(plans_dir, f"{name}_{args.plans_tag}.txt"), "w") as f:
                    f.write(txt)
            del df
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.3)
    registry.clear_session_caches()
    registry.clear_twin_memo()


if __name__ == "__main__":
    main()
