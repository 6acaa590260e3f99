"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE, skew-join handling, partition coalescing, Arrow) are the ones
you'd want on a 1000-executor cluster — nothing here is local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Driver heap ceiling: room for 32 concurrent local task threads.
MAX_DRIVER_MEMORY_MB = 24 * 1024


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``$SPARK_DRIVER_MEMORY`` when set; otherwise half the host's
    ``MemTotal``, capped at 24g (the cap alone when ``meminfo`` is
    unreadable). A heap sized past the host's memory lets a long
    session grow the JVM until the kernel kills it."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEMORY_MB, total_kb // 2048))}m"


def get_spark(
    app_name: str = "fshdi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # Python workers deserialize mapInPandas closures that reference
    # this package by module name; make it importable for them even
    # when the driver script runs from another directory (an installed
    # wheel wouldn't need this, a source checkout does). Must be in the
    # process env BEFORE the JVM launches — workers inherit it.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-plan, skew-join splitting, and
        # post-shuffle partition coalescing (SURVEY §4.1 bucket-cap /
        # skew notes map here).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the Python paths: the MinHash signing kernel, the
        # mapInPandas scorers and encoders, the multimodal stubs and the
        # bit-compat hash family.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The events fixture stores ts with isAdjustedToUTC=0; Spark's NTZ
        # inference would read it as TIMESTAMP_NTZ, which withWatermark
        # rejects. Read as TIMESTAMP and pin the session to UTC so the
        # wall-clock values are unchanged.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ui.explainMode", "formatted")
        .config("spark.ui.showConsoleProgress", "false")
        # local[N] runs executors inside the driver JVM; size the heap
        # for N concurrent task threads (32 threads at 8g thrash GC),
        # but never past half the host's memory.
        .config("spark.driver.memory", driver_memory())
        # Python workers start through this package's daemon, which stops
        # every task from re-reading each zip archive on sys.path
        # (pyspark.zip included); see worker_daemon.
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
