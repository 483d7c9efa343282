"""SparkSession factory with scale-aware defaults.

The reference relies on Polars' implicit lazy engine (single process, Rust
thread pool). Here the equivalent "engine setup" is a SparkSession with:

- AQE enabled (runtime partition coalescing + skew-join handling) — replaces
  the reference's manual 1 GB chunking as the memory-safety mechanism
  (reference: src/polars_pipe/adapters/io_pl.py:65-92).
- UTC session timezone so timestamp literals and parquet round-trips match
  the reference's UTC process timestamps
  (reference: src/polars_pipe/adapters/io_pl.py:105-110) and the DuckDB
  oracle's UTC-naive timestamps.
- Arrow enabled for any Pandas-UDF extension operators.
- shuffle.partitions sized to local cores; on a real cluster this should be
  set to ~2-3x total executor cores (or left to AQE coalescing).
- a driver heap of half the host's physical memory, at most 32g
  (``SPARK_DRIVER_MEMORY`` overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap: half of physical memory, capped at 32g, in MiB. The
    rest stays for the Python workers, the OS page cache and the JVM's
    off-heap memory; a 32g heap on a 15 GB host gets the JVM OOM-killed."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 * 1024, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "polars_pipe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Idempotent via ``getOrCreate``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Bound Python worker memory (r13 verdict task 2 — retires the
        # q33 sf10 worker-crash watch in SCALING.md). The watch named
        # spark.python.worker.memory, but that knob only sets the spill
        # threshold for RDD-side aggregation, which this engine never
        # uses; the conf that actually BOUNDS an Arrow/pandas worker is
        # spark.executor.pyspark.memory: the JVM exports it as
        # PYSPARK_EXECUTOR_MEMORY_MB and every worker process applies it
        # as its own RLIMIT_AS (pyspark/worker_util.py:setup_memory_limits),
        # so a runaway mapInPandas kernel dies with a Python MemoryError
        # in ITS task instead of OOM-killing the shared JVM/host mid-sweep.
        # 4g per worker is ~8x the largest declared vectorised seam
        # (codec batches and ANN/PQ numpy kernels peak at a few hundred
        # MB per Arrow batch). It is a ceiling, not a reservation: the
        # workers' actual peak is what counts against the host, so it is
        # not scaled with physical memory (the effect of a smaller cap is
        # unmeasured).
        .config(
            "spark.executor.pyspark.memory",
            os.environ.get("SPARK_GRAFT_PYSPARK_WORKER_MEM", "4g"),
        )
        # reuse (the default, pinned explicitly): workers persist across
        # tasks, so the rlimit above is the per-worker lifetime ceiling
        # and Pandas-UDF stages don't pay a fork+import per task.
        .config("spark.python.worker.reuse", "true")
        # files.maxPartitionBytes left at 128 MiB default: right for both
        # local parquet and a 100 TB scan (splittable row groups).
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """Parallelism hint for explicit ``repartition(n)`` calls.

    ``spark.sql.shuffle.partitions`` is not guaranteed numeric on every
    deployment (e.g. ``"auto"`` under AQE-managed shuffle on some managed
    platforms), so fall back to ``defaultParallelism`` — the same order of
    magnitude (cluster cores) — instead of raising ValueError.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism
