"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are sized from the machine (``local[<usable cores>]``, a driver
heap of a quarter of physical memory) but every setting is the one you'd
ship to a 1000-executor cluster: AQE on (post-shuffle coalescing, dynamic
broadcast selection, skew-join splitting), Arrow enabled for the pandas-UDF
stages, shuffle partitions sized to the parallelism.

Two settings exist specifically because of how threaded JVMs behave under
concurrency (measured on this box, tools/bench_scaling.py):

- ``-Xms == -Xmx`` + ``-XX:+AlwaysPreTouch``: a lazily-grown heap makes every
  young-gen allocation fault fresh kernel pages; page-zeroing serializes
  badly when 32 task threads allocate at once (observed 3-10x slowdowns and
  run-to-run variance).  Pre-touching moves that cost to startup, once.
- ``spark.sql.files.maxPartitionBytes=64m`` (vs the 128m default): at
  sandbox data sizes the default yields fewer scan tasks than cores; 64m
  keeps every core fed while staying a perfectly reasonable split size for a
  real cluster scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def box_cores() -> int:
    """Cores this process may run on."""
    return len(os.sched_getaffinity(0))


def box_heap() -> str:
    """Default driver heap: a quarter of physical memory, 1-16 GB.  The heap
    is pre-touched at start-up, so it must leave the machine room to spare."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(16384, phys_mb // 4))}m"


def get_spark(
    app_name: str = "schema_validator_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
    master: str | None = None,
    executor_mem: str | None = None,
) -> SparkSession:
    """``master`` defaults to ``local[cpus]``.  Pass e.g.
    ``local-cluster[4,8,9216]`` for separate-JVM executors (the scaling
    bench's stand-in for real multi-executor isolation); ``executor_mem``
    then sizes each executor heap (pre-touched, same reasoning as the
    driver heap).  ``cpus`` and ``driver_mem`` default to
    ``$SPARK_GRAFT_CPUS`` / ``$SPARK_DRIVER_MEM``, else to ``box_cores()`` /
    ``box_heap()``.

    PySpark's DataFrame debugging is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
    every ``F.*`` call captures its Python call site and pays about six py4j
    round trips, which dominates building a large validation plan.  The
    price: PySpark call sites are dropped from DataFrame error contexts."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or box_cores())
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    driver_mem = driver_mem or os.environ.get("SPARK_DRIVER_MEM") or box_heap()
    max_part = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "64m")
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Big shuffles must not be capped at shuffle.partitions: start AQE
        # at 8× and let it coalesce DOWN per-stage from runtime sizes.  A
        # 48M-row band join at 32 partitions sorts 1.5M rows/partition and
        # spills; at 256 it stays in memory, while sub-MB shuffles still
        # coalesce to a handful of partitions.  (On a real cluster this is
        # the same setting, just thousands instead of hundreds.)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                int(os.environ.get("SPARK_GRAFT_AQE_INITIAL_FACTOR", "8"))
                * shuffle_partitions
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", max_part)
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # SimplifyCaseConversionExpressions rewrites upper(lower(x)) →
        # upper(x), which is NOT semantics-preserving under Unicode
        # SpecialCasing (upper(lower('İ')) is 'I'+U+0307, upper('İ') is 'İ')
        # — the reference applies transforms sequentially, so must we.
        # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` above
        # every explode; predicate pushdown then SUBSTITUTES the aliased
        # array expression into those filters below our projection splits,
        # re-inlining the whole shingle chain (interpreted HOF → the
        # normalization regex re-runs per gram) TWICE per scanned row —
        # measured 2.3× on the simhash kernel.  Our dedup paths prune
        # degenerate docs explicitly, so the rule only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.SimplifyCaseConversionExpressions,"
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if executor_mem:
        b = b.config("spark.executor.memory", executor_mem).config(
            "spark.executor.extraJavaOptions",
            f"-Xms{executor_mem} -XX:+AlwaysPreTouch",
        )
    return b.getOrCreate()
