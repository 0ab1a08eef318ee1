"""SparkSession factory with scale-aware defaults.

Local mode is a proxy for a multi-executor cluster: every knob set here
(AQE, shuffle partition count, Arrow) is the one we would set in
``spark-submit --py-files`` on a real 1000-executor cluster; nothing is
local-mode-only except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# sized from the host: the CPUs this process may run on, and half of
# physical memory for the driver heap (local mode runs every task in it);
# SPARK_GRAFT_CPUS / FOGSPARK_DRIVER_MEM override
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _half_host_memory() -> str:
    """Half of the host's physical memory (MemTotal) as a JVM size."""
    return f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2 >> 20}m"


def get_spark(
    app_name: str = "fogspark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for iterative graph jobs.

    - AQE on: runtime shuffle coalescing + skew-join splitting are the
      distributed analogue of FOG's work stealing
      (reference: fogsrc/fog_engine.cpp:560-758).
    - shuffle.partitions sized to the core count, not the 200 default —
      on a real cluster this would be ~2-3x total executor cores.
    - Arrow enabled: all pandas-UDF kernels move columnar batches.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # modest heap: local-mode shuffles at bench scale fit easily, and
        # smaller heaps keep G1 cycles (and the ContextCleaner) fast
        .config("spark.driver.memory", os.environ.get("FOGSPARK_DRIVER_MEM") or _half_host_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark frees shuffle files / broadcasts / checkpoint RDDs only when
        # the JVM GCs their driver-side handles (ContextCleaner is GC-driven).
        # A large mostly-idle heap never GCs naturally, so iterative jobs
        # degrade severely (measured 10x). Periodic G1 cycles keep the
        # cleaner draining; same flag belongs in spark-submit on a cluster.
        # ExplicitGCInvokesConcurrent: the engine nudges System.gc() between
        # supersteps (engine/superstep._cleanup_tick); without this flag that
        # is a stop-the-world full GC — 10s+ pauses on a big heap that drop
        # executor heartbeats (observed as NettyRpcEnv timeouts).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:G1PeriodicGCInterval=15000 "
            "-XX:+G1PeriodicGCInvokesConcurrent -XX:+ExplicitGCInvokesConcurrent",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
