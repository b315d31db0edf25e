"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for correctness tests on ``local[N]`` but every knob is the one you'd
set on a 1000-executor cluster: AQE (runtime re-planning + skew-join
splitting), Arrow for every pandas UDF exchange, and shuffle partition counts
sized to the parallelism at hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """Driver heap for a local session: a quarter of host RAM, clamped to
    2-8 GB, so the JVM heap can never outgrow a small host."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
    return f"{max(2, min(8, ram_gb // 4))}g"


def get_spark(
    app_name: str = "osm-cqi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # unset: the cores this process may run on (what `nproc` reports)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps all stages busy
        # without tiny-task overhead; on a real cluster this should be
        # 2-3x total executor cores (or left to AQE coalescing).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local partitions are far below the 256 MB default threshold; hot
        # spatial cells need much earlier skew splitting
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor", "0.2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # deep when/otherwise trees (the way-type classifier) overflow the
        # 64KB JVM method limit without splitting; keep codegen on but allow
        # fallback instead of failing
        .config("spark.sql.codegen.fallback", "true")
        # the scalar pipeline builds ~10^4 Column nodes per query; the
        # per-API-call call-site capture (getActiveSession + JVM origin
        # round-trips) multiplies driver build time ~2x for zero benefit in
        # a non-interactive engine
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
