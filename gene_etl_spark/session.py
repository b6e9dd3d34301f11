"""SparkSession factory.

Centralizes the execution-level decisions from SURVEY.md §4: AQE on,
Arrow on, shuffle partitions scaled to cores, UTC session timezone
(for deterministic timestamp comparison against the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the memory limit — the
    cgroup's when one is set, the machine's otherwise. In local mode the
    driver heap holds every executor task, and the other half is left
    to the Python workers, off-heap buffers and the page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw))
    return f"{limit // 2 >> 20}m"


def get_spark(
    app_name: str = "gene-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores`` controls ``local[N]`` parallelism; shuffle partitions default
    to the core count so small-scale runs don't fragment into 200 tiny
    tasks while large runs still saturate every slot. Unset sizes come
    from the box (``default_cores``, ``default_driver_memory``).
    """
    n = cores or default_cores()
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m advisory coalesces ~100MB shuffles down to 2-3
        # partitions, starving wide local[N] runs; 8m keeps every slot fed
        # while still merging empty/tiny partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # tranche files are ~25MB; default 128m splits give too few read
        # tasks to fill the machine
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # SQL-standard null-on-edge-case semantics (corr of a constant,
        # x/0) to match the DuckDB oracle; Spark 4 defaults ANSI=on which
        # throws instead
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", driver_memory or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _prewarm_python_workers(spark, n)
    return spark


# app ids whose Python worker pool has been pre-forked already — getOrCreate
# returns the same session repeatedly and the warmup must run once per JVM
_PREWARMED: set[str] = set()


def _prewarm_python_workers(spark: SparkSession, cores: int) -> None:
    """Fork the Python worker pool and pay the pandas/numpy/pyarrow import
    once at session construction instead of inside the first Arrow-UDF
    query: with worker reuse (the default) the pool and its imported
    modules live for the session, so the first applyInPandas/pandas_udf
    otherwise carries ~4-5 s of one-time fork+import wall on a wide
    local[N] (measured: 5.0 s cold vs 0.5 s warm for an empty 32-task
    pandas_udf job). Session construction is infrastructure, exactly like
    JVM/JIT warmup — no query data is touched. Disable with
    SPARK_GRAFT_PREWARM=0 (e.g. for single-UDF-free jobs)."""
    if os.environ.get("SPARK_GRAFT_PREWARM", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _PREWARMED:
        return
    _PREWARMED.add(app_id)
    try:
        import pandas as pd  # noqa: F401  (driver-side import is warm anyway)
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def _warm(s):
            import numpy  # noqa: F401

            return s

        df = spark.range(0, cores, 1, cores)
        (
            df.select(_warm("id"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # also touch the grouped-map path once: its worker-side
        # serializer and JVM operator warm separately from the scalar
        # Arrow path (one tiny job, a few hundred ms)
        (
            df.groupBy((F.col("id") % cores).alias("g"))
            .applyInPandas(lambda p: p[["id"]], "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        pass  # warmup is an optimization, never a failure
