"""SparkSession factory tuned for the test/bench environment.

local[N] single-JVM mode for tests; the same configs are what we would
set cluster-side at 100 TB (AQE on, shuffle partitions sized to cores,
Arrow enabled for the pandas-UDF slow path).
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def host_driver_mem() -> str:
    """Driver heap for the long-running bench tools (``bench.py``,
    ``tools/ab_bench.py``, ``tools/scale_sweep.py``): half the host's
    physical memory, capped at 48g, so warm caches fit without the heap
    outgrowing the machine."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{min(max(half_gib, 1), 48)}g"


def get_spark(
    app_name: str = "aristoteles_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Shuffle partitions match core count in local mode — 200 (the default)
    would create tiny tasks at test scale; on a real cluster this is set to
    2-3x total executor cores and AQE coalesces down at runtime.
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no Python call-site capture: with it on, F.col and every Column
        # method pay ~5 extra py4j round trips (active session, origin
        # class lookup, conf get, set, clear). Measured on a 4-core host:
        # F.col 1.4 ms -> 0.3 ms, the ETL's 16 conversion expressions
        # 0.173 s -> 0.035 s. Lost: the Python fragment in ANSI-error
        # query contexts. A static conf: fixed when the session is built.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # codegen class cache sized for a many-query session: the default
        # 100 entries thrash under hundreds of distinct queries — every
        # pass recompiles every WholeStageCodegen unit through Janino
        # (measured: a 50-query slice of the suite ran 23% faster at
        # 10000, mirrored A/B sum-of-mins 39.5 -> 30.3 s). Generated
        # classes are a few KB each; real usage is a few thousand
        # entries, so the cap is headroom, not a memory commitment.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Tungsten page: Spark sizes it heap / cores / 16, capped at 64 MB,
        # so 64 MB on a 16g driver. Every sort or hash-aggregate task that
        # sees a row allocates at least one page, which the JVM zeroes, and
        # freed pages linger as G1 humongous regions: a one-day ETL write of
        # 864 rows touched 64 MB per task, and the driver's peak RSS
        # followed how many such pages happened to be live at once
        # (perfbench etl_daily on 4 cores, JVM peak: 850-1310 MB at 64 MB
        # pages, 715-830 MB at 4 MB; query_mix no slower). At 4 MB a task
        # can still address 8192 pages = 32 GB, above the execution memory
        # of a 48g heap (host_driver_mem's cap).
        .config("spark.buffer.pageSize", "4m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative operators localCheckpoint per round; the blocks are
        # freed by ContextCleaner only after a JVM GC, and with a large
        # heap GC may not run for the whole session — force one
        # periodically so dead checkpoint/persist blocks don't accumulate
        # and evict live caches. Must be longer than any latency-sensitive
        # run: a forced full GC + the ContextCleaner's blocking block
        # removals landing inside a query added ~50 s to it (measured);
        # bench disables it entirely and GCs between passes instead.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "15min"),
        )
    )
    # throwaway per-process warehouse: bucketed saveAsTable writes through
    # the (in-memory) catalog, and the default warehouse dir would land in
    # CWD — repo pollution and collisions between concurrent processes.
    # Static conf: made only when a new context is built, a live one
    # keeps its own
    if SparkContext._active_spark_context is None:
        b = b.config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="aspark_meta_") + "/warehouse",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
