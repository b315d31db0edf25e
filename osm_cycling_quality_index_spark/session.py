"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for correctness tests on ``local[N]`` but every knob is the one you'd
set on a 1000-executor cluster: AQE (runtime re-planning + skew-join
splitting), Arrow for every pandas UDF exchange, and shuffle partition counts
sized to the parallelism at hand.

Every Arrow kernel of the engine (the broadcast spatial joins, the
sidepath vote, the geometry UDFs) runs in a pyspark Python worker.  A cold
worker costs far more than a batch of kernel work: the first Python stage
of a fresh context waits for the Python daemon to start and import pyspark
(about 1.2 s per task), then for each worker to import the kernel modules.
So the first ``get_spark`` on a context starts a background warm-up: one
``mapInArrow`` job of ``defaultParallelism - 1`` one-row tasks, each
importing the kernel modules, so those workers are idle in the pool that
``MapInArrow``, ``ArrowEvalPython`` and ``MapInPandas`` reuse when the first
real stage starts.  It overlaps the driver's input reads and plan
construction.  One task slot stays free, so the driver's first single-task
jobs (a parquet schema read, a broadcast size aggregate) are not queued
behind it; the first stage forks its last worker from the warm daemon.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

#: job description of the warm-up job in the status store
WARMUP_JOB = "python worker warm-up"


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
    spark = builder.getOrCreate()
    _start_warmup(spark)
    return spark


def _import_kernels(batches):
    """Warm-up task: import the modules the Arrow kernels live in."""
    from .operators import images, sidepath  # noqa: F401

    # drained, or the worker is not returned to the pool
    for _ in batches:
        pass
    yield from ()


def _warm_up(spark: SparkSession, jsc, n: int) -> None:
    """Run the warm-up job; ``jsc`` is the context's Java handle, taken
    before a stop can clear it."""
    sc = spark.sparkContext
    try:
        # held while the plan is built: pyspark builds a UDF on the active
        # session or creates one, so a stop between the check and the build
        # must wait rather than leave a fresh context behind
        with SparkContext._lock:
            if SparkContext._active_spark_context is not sc:
                return
            jsc.setJobDescription(WARMUP_JOB)
            df = spark.range(0, n, 1, n).mapInArrow(_import_kernels, "id long")
        df.collect()
    except (Py4JError, PySparkException, AttributeError):
        # a stop fails the build or the job, and clears the Python
        # context's Java handle (AttributeError); any other failure, or
        # one on a running context, is a real one
        if not jsc.sc().isStopped():
            raise


def _start_warmup(spark: SparkSession) -> None:
    """Start the context's worker warm-up once, on its first ``get_spark``."""
    sc = spark.sparkContext
    # set once, under the lock, before the thread starts; a later call
    # must not wait for the lock, which the warm-up holds while it builds
    # its plan
    if getattr(sc, "_worker_warmup", None) is not None:
        return
    with SparkContext._lock:
        if getattr(sc, "_worker_warmup", None) is not None:
            return
        n = max(1, sc.defaultParallelism - 1)
        sc._worker_warmup = threading.Thread(
            target=_warm_up, args=(spark, sc._jsc, n), name="python-worker-warmup",
            daemon=True)
    sc._worker_warmup.start()


def wait_for_warmup(spark: SparkSession) -> None:
    """Block until the context's worker warm-up has ended."""
    t = getattr(spark.sparkContext, "_worker_warmup", None)
    if t is not None:
        t.join()
