"""SparkSession construction with scale-appropriate defaults.

Local runs size themselves from the host: ``local[<cpus>]`` over the CPUs
this process may run on, and a driver heap of a quarter of host RAM;
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override either.  On a
real cluster the same settings ship through spark-submit --conf.
Documents are fat rows (html + embedded parse), so Arrow batches are kept
small (maxRecordsPerBatch) to bound executor memory per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "xrenner-spark", cores: int = None,
              shuffle_partitions: int = None, extra_conf: dict = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem is None:
        # the one local JVM carries every task slot, on a host it shares:
        # a quarter of host RAM, at least 2g.  The 48g cap is the heap
        # measured to hold 32 concurrent tasks buffering Arrow batches +
        # nested parquet writes (the same 20k-doc pipeline ran 19.0s at
        # 16g vs 8.4s at 48g, all GC).  On a real cluster this is
        # per-executor memory sizing.
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        driver_mem = "%dg" % max(2, min(48, ram // 4 // 2**30))
    builder = (
        SparkSession.builder
        .appName(app_name)
        .master("local[%d]" % cores)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can only COALESCE shuffle partitions, never split them
        # (measured: the 24-table 1M-vector LSH run took 179-257 s at 32
        # shuffle partitions vs 80.7 s at 128 — pure reducer pressure).
        # Start big-shuffle exchanges at 8x cores and let parallelismFirst
        # coalesce small ones back down to ~core count.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(8 * cores))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    return builder.getOrCreate()
