"""SparkSession factory tuned for the frontier workload.

Local-mode settings mirror what a 1000-executor cluster deployment
would set per-executor; comments note the at-scale intent so the same
config module serves both (SURVEY.md §4.2, pyspark guide).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """Driver heap default: half the host's physical memory, capped at
    48g. In local mode the driver JVM is the whole engine, so a heap
    larger than the host lets it grow until the OS kills it (a fixed
    48g did exactly that on a 16 GB host). ``$FRONTIER_DRIVER_MEM``
    overrides it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(app: str = "frontier",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # local: match cores; cluster: ~2-3x total executor cores, or
        # rely on AQE coalescing from a higher initial value
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # host-skewed shuffles: let AQE split oversized partitions
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("FRONTIER_DRIVER_MEM",
                                                      default_driver_mem()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pages carry KB-scale MHTML blobs here (real crawls: set lower
        # for MB-scale pages). 1024 rows/batch ≈ 2-4 MB Arrow batches —
        # measured 2.5x faster than 256 at 32-way concurrency (fewer
        # allocation/IPC round-trips), still memory-safe per worker
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("FRONTIER_ARROW_BATCH", "1024"))
        .config("spark.ui.enabled", "false")
        # Constraint propagation only infers extra filters; turning it
        # off never changes results. Two interleaved A/Bs with it on
        # (4 cores, perfbench/run.py --trace 0, 2-4 pairs per workload)
        # found crawl flat and curate slower in both: setup_s +12 % and
        # +3 %, cold_s +6 % and +3 %.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Generated-class cache (a static conf, JVM-wide). Measured
        # with perfbench/run.py (seed 101, 4 cores) and Spark's
        # CodegenMetrics compile count: with a cache that never fills,
        # a whole crawl session compiles 265 classes (the last steady
        # round 2) and a curate session 261. At the default 100
        # entries the LRU thrashed: the steady crawl rounds compiled
        # 121 and 114 classes and the steady curate pass 311. 512 is
        # about twice the larger session count; 512 and 100000 gave
        # the same counts.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        # 128 MiB parquet split targets — at 100 TB this yields ~800k
        # input tasks, the right granularity for 1000 executors
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def checkpoint_rdd(df):
    """The java RDD that ``df.localCheckpoint(...)`` persisted.

    ``DataFrame.unpersist()`` only uncaches CacheManager entries
    (``persist()``); a localCheckpoint persists the query's INTERNAL
    RDD directly, so freeing its blocks needs the RDD handle — the
    checkpointed plan is a ``LogicalRDD`` wrapping exactly that RDD.
    Callers hold this handle and ``.unpersist(False)`` it once every
    downstream consumer is done (the lineage is truncated: blocks
    gone = result unrecomputable)."""
    return df._jdf.queryExecution().analyzed().rdd()


def checkpoint(df, live: list, level=None):
    """LAZY ``localCheckpoint`` of ``df`` whose java RDD handle is
    pushed onto the caller-owned ``live`` list; :func:`release` frees
    exactly those blocks. Each owner keeps its own list, so one
    owner's release never drops blocks another owner (or a
    concurrent job in the same session) still reads. ``level`` is a
    ``StorageLevel`` (None: localCheckpoint's default level)."""
    out = df.localCheckpoint(eager=False, storageLevel=level)
    live.append(checkpoint_rdd(out))
    return out


def release(live: list) -> None:
    """Unpersist every handle :func:`checkpoint` pushed onto ``live``
    and empty the list. Call only once every consumer of the
    checkpointed DataFrames is done: their lineage is truncated, so
    they cannot recompute once the blocks are gone."""
    while live:
        jrdd = live.pop()
        try:
            jrdd.unpersist(False)
        except Exception:
            pass  # session teardown race — blocks die with the context
