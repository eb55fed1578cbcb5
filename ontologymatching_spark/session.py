"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same settings are what we would ship
in ``spark-submit --conf`` on a real cluster (AQE, skew-join splitting, Arrow
batching). Shuffle partitioning scales with the advertised parallelism so the
same code is right-sized at local[8], local[32] and on a 1000-executor cluster
(where ``spark.sql.shuffle.partitions`` would be set to ~2-3x total cores, or
left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str | None:
    """A quarter of the memory this process may use, in MiB: physical
    memory, capped by the cgroup limit when one is set (a container's
    /proc/meminfo reports the host's RAM, not its limit). Local mode runs
    driver and executors in one JVM, and the rest of the box is page cache,
    Python workers and other processes; a fixed size either starves a large
    host or gets the JVM OOM-killed on a small one. ``None`` where the OS
    reports no physical memory size (no ``sysconf``): Spark's own default
    applies."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return None
    for limit_file in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" when unlimited)
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(limit_file) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return f"{total // 4 // 2**20}m"


def get_spark(
    app_name: str = "ontologymatching-spark",
    master: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N; local[*] → cpu count; cluster masters → 4x default hint
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        shuffle_partitions = cpus if inner == "*" else int(inner)
    else:
        shuffle_partitions = 4 * cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: runtime re-plan, partition coalescing, skew-join
        # splitting — replaces the reference's hand-rolled diagonal thread
        # scheduling (AbstractMatcher.java:566-647).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: all our Python kernels are pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics for the DuckDB oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spill-aware input splits: 128 MiB partitions keep per-task state
        # bounded at any corpus size (the 100 TB lever is partition count,
        # never partition size)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd: trades scalable CPU for the non-scalable I/O bytes that cap
        # strong scaling — measured 205s → 184s on the 100k-file pipeline
        # at local[32] (BENCH.md)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.showConsoleProgress", "false")
        # a refined KG build (IISM + LWC, 60 files) generates ~310 distinct
        # classes; with the default cache of 100 every warm build
        # recompiled all 313 with Janino, with 1000 it recompiled 0-16
        # (4-core VM, 5.9-6.8 s -> 4.8-5.7 s a build)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # local mode runs driver+executors in ONE JVM: size the heap for all
    # N threads' task memory, not a lone driver (8g at 32 threads on a
    # 300k-file job GC-thrashed to a 15x slowdown)
    driver_memory = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    return builder.getOrCreate()
