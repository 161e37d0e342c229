"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings are the right defaults on a
real cluster (AQE on, Arrow on, UTC session timezone so results compare
bit-stable against external oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs this engine REQUIRES on a session it
    didn't build (e.g. the driver's own). Without these: events.parquet
    (TIMESTAMP NANOS) fails to read, non-UTC sessions hash timestamps
    differently from the DuckDB oracle, and pandas UDFs fall back to
    pickled rows."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; builder-config path covers it
    return spark


def get_spark(
    app_name: str = "sna_pyspark_graphframes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the 100 TB posture even though tests run local:
      * AQE enabled — runtime partition coalescing + skew-join splitting,
        which is what makes fixed ``shuffle.partitions`` safe at any scale.
      * Arrow enabled — the walk kernel and any pandas UDF ship columnar
        batches instead of pickled rows.
      * UTC session timezone — timestamps hash identically vs. DuckDB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # Python workers resolve imports from PYTHONPATH, not the driver's
    # sys.path: a driver launched outside the repo root (a /tmp script,
    # a notebook) can plan the Arrow walk kernel fine and then fail
    # worker-side with ModuleNotFoundError when cloudpickle references
    # this package by name. Exporting the package's parent before the
    # JVM launches makes workers import-complete regardless of the
    # driver's cwd (a real cluster ships the package via --py-files;
    # this is the local-mode equivalent).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=false (pure size-based AQE coalescing, the
        # busy-cluster posture Spark's docs suggest) was A/B'd in r15 and
        # REJECTED for this engine: full-board bench at sf0.1/32 cores
        # ran 267.4 s vs 209.3 s with the default — fat 64MB-target
        # partitions serialize the compute-heavy post-shuffle stages
        # (similarity intersections, text aggregations) that the default
        # keeps spread across cores.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Single-JVM local mode: the "driver" heap IS the whole cluster's
        # memory. An undersized heap makes cached frames, localCheckpoint
        # blocks, and shuffle buffers fight the GC — mid-session queries
        # degrade 10x long before OOM. Size it like an executor fleet.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        # Tungsten sizes its per-task buffer pages off the heap
        # (heap/cores/16, capped at 64m): a big heap on a small-data local
        # run means every task page-faults tens of MB of zeroed pages per
        # operator — measured 3-5x slowdowns on join-heavy queries (82s →
        # 24s triangle count). Pin a page size matched to local-mode task
        # sizes; on a real cluster with ~128 MB partitions, raise it (or
        # drop the override) so sorts/aggregations don't chain tiny pages.
        .config("spark.buffer.pageSize", os.environ.get("SPARK_BUFFER_PAGESIZE", "4m"))
        # ContextCleaner only reclaims shuffle files, broadcast blocks and
        # (local)checkpoint RDDs when a JVM GC enqueues their weak refs —
        # and a large heap can go the whole session without a collection
        # (default periodic-GC interval: 30 min). Long multi-query sessions
        # then accumulate dead blocks until the memory store thrashes and
        # late queries degrade 2-5x. A short periodic GC keeps the block
        # store bounded; on a cluster the same setting protects long-lived
        # executors. Parameterised (r15): a harness that already forces a
        # GC + cleaner drain between queries (bench.py, profile_query.py)
        # makes the timer redundant-but-harmful — it fires full GCs INSIDE
        # timed queries (multi-second pauses landing in superstep loops).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
