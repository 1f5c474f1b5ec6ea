"""SparkSession factory tuned for the engine's determinism + scale contract.

Determinism (SURVEY.md §2.C): UTC session timezone so timestamps hash
identically against the DuckDB oracle; ANSI mode for standard SQL
semantics.

Scale: AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
broadcast), Arrow for every Python<->JVM batch transfer. On a real
cluster only ``master``/memory change — everything else here is
cluster-safe: shuffle partitions are a starting hint that AQE re-coalesces
at runtime, so the same code runs on ``local[N]`` and on 1000 executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> str:
    """Core count for ``local[N]`` and the shuffle-partition hint:
    ``$SPARK_GRAFT_CPUS`` when set, else this host's ``os.cpu_count()``."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def driver_memory() -> str:
    """Driver heap ceiling: ``$SPARK_DRIVER_MEMORY`` when set, else half
    of this host's RAM, at most 48g. A ceiling above physical memory
    lets G1 keep growing the heap until the kernel kills the JVM: a
    test-suite JVM under a 48g ceiling reached 15.4 GB of RSS on a
    16 GB host and was OOM-killed mid-suite."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "jobhouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``local_cores()``, the
    same N as the shuffle-partition hint, so tests and bench share one
    code path; pass an explicit cluster master in production.

    Multi-tenant sessions: pass
    ``extra_conf={"spark.scheduler.mode": "FAIR"}`` and have each query
    thread call ``sc.setLocalProperty("spark.scheduler.pool", <tenant>)``.
    Measured at 30x (SCALE.md, "Concurrent queries: FIFO vs FAIR"):
    under the default FIFO a 1.2 s query stuck behind big scans ran
    5.3 s (4.3x interference); FAIR pools cap interference at ~1.4x on
    substantive queries and raise aggregate throughput (3.1x vs serial
    on 6 concurrent queries). Scheduler mode is fixed at context start —
    it cannot be flipped on a live session.

    DataFrame debugging is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark 4.1
    turns it on by default: then every ``F.col`` call and every method
    of the classic ``Column`` runs ``pyspark.errors.utils._with_origin``,
    which makes four py4j round trips (active session, a ``conf.get``,
    ``PySparkCurrentOrigin`` set and clear), walks the Python stack and
    tries ``import IPython`` / ``import ipykernel``. Where IPython is
    installed the first call loads it, with jedi, prompt_toolkit and
    pdb, into the driver for good. On a 4-core host, 1,000 Column calls
    took 1.41-1.47 s with it on and 0.35-0.40 s with it off, and the
    Python driver ended a benchmark dashboard refresh at 151-154 MB of
    RSS instead of 126-130 MB (1,289 modules loaded instead of 752).
    The cost: an ANSI error raised by a DataFrame-API expression keeps
    its error class (``[DIVIDE_BY_ZERO]``), but its ``== DataFrame ==``
    context names a py4j frame ("divide was called from
    NativeMethodAccessorImpl") instead of the Python ``file:line``. To
    get the call sites back, pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
    PySpark reads the flag once per process and caches it
    (``pyspark.errors.utils._enable_debugging_cache``), so the first
    session of a process decides for every later one.
    """
    cpus = local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # -- determinism contract (§2.C) --
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # -- adaptive execution: the 100TB story. AQE re-plans at runtime:
        #    coalesces small shuffle partitions, splits skewed ones, and
        #    converts sort-merge joins to broadcast when a side turns out
        #    small. This is what makes one logical plan survive 1000x SF.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # starting hint only — AQE owns the real number at runtime
        .config("spark.sql.shuffle.partitions", cpus)
        # -- Python boundary is always Arrow-batched, never per-row pickle
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: the driver is the only JVM; give it half the machine
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # no per-Column call-site capture on the driver (see docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
