"""SparkSession factory tuned for the extraction workload.

Local-mode knobs stand in for cluster configs; the same settings apply on a
real cluster (AQE, skew-join handling, Arrow batching). The reference's
hand-built bounded queue / thread pool (/root/reference
src/recognition/main.cpp:57,172-177) is replaced wholesale by Spark task
scheduling — our only jobs are to size shuffle partitions and Arrow batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def get_spark(
    cores: int | None = None,
    app: str = "ocr-suite-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    - AQE on: runtime coalescing + skew-join splitting (the Spark-native
      answer to the reference's LPT size-based load balancing,
      src/viewer/search.cpp:117-163).
    - Arrow enabled and batch-bounded: the analog of the reference's
      2x-threads bounded frame queue (main.cpp:57) — bounds UDF memory.
    - UTC session timezone: required for DuckDB-oracle comparability.
    - Python workers come from ``ocr_suite_spark.daemon``, which stops each
      task from re-reading the unchanging pyspark/py4j zips.
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # glibc malloc tuning for the python workers: numpy's MB-sized per-image
    # temporaries otherwise go through mmap/munmap on every alloc/free, and
    # the munmap TLB shootdowns (cross-core IPIs) serialize badly when 32
    # workers run concurrently — this was a measured 1.7x inflation of
    # per-image OCR cost at 32 vs 8 workers. Keep allocations on the heap
    # and never trim.
    malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": "536870912",
        "MALLOC_TRIM_THRESHOLD_": "536870912",
        "MALLOC_MMAP_MAX_": "0",
    }
    os.environ.update(malloc_env)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # per-task zip re-read off the Python worker's fixed cost (daemon.py)
        .config("spark.python.daemon.module", "ocr_suite_spark.daemon")
    )
    for k, v in malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
