"""SparkSession factory tuned for this engine.

Local-mode defaults target the 32-core sandbox; on a real cluster the same
code runs unchanged under spark-submit (master/memory come from the
submitter).  Settings that matter at 100 TB scale and why:

  - AQE on (+ skew-join, + partition coalescing): runtime re-planning for
    the exact skew the zipfian `source` column produces.
  - shuffle.partitions ≈ cores locally; on a cluster AQE coalescing makes an
    over-provisioned number safe.
  - Arrow exchange on with a bounded batch size: the build operators stream
    record batches through numpy — batch size bounds Python-worker memory,
    not correctness.
  - parquet pushdown/pruning are Catalyst defaults; operators `select()` the
    narrow column set before any UDF so ReadSchema stays minimal.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "bloom_filter_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None) -> SparkSession:
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores))
    # Every Arrow-exchange task keeps TWO threads busy (the JVM scan/feed
    # thread and the Python kernel worker).  Declaring that footprint with
    # spark.task.cpus stops high-core local masters from oversubscribing the
    # physical cores (measured at local[32], sf0.1 Bloom build: 21M tokens/s
    # with task.cpus=1 vs 63M with task.cpus=2 on this 32-logical/16-physical
    # host).  On a real cluster the same setting sizes executor slots
    # correctly for the hybrid JVM+Python workload.
    m_cores = master[master.find("[") + 1:master.find("]")] if "[" in master else ""
    many_cores = m_cores == "*" or (m_cores.isdigit() and int(m_cores) >= 16)
    task_cpus = os.environ.get("SPARK_GRAFT_TASK_CPUS", "2" if many_cores else "1")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.task.cpus", task_cpus)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 5k rows × ≤512 tokens/row ≈ ≤2.5M token cells per Arrow batch —
        # bounds the k-index expansion matrix (~140 MB peak) per Python worker
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        # fixture parquet row groups are small; split files so local[N]
        # actually fans the scan out instead of one 600 MB partition
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(32 * 1024 * 1024)))
        .config("spark.driver.memory",
                driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # UI off by default (saves a jetty server per test session);
        # bench_extra.py flips it on to read stage-level CPU/shuffle totals
        # from the REST API
        .config("spark.ui.enabled",
                os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
