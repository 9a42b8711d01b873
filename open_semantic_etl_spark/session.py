"""SparkSession factory with the engine's recommended configuration.

Replaces the reference's Celery worker bootstrap (tasks.py:24-43): the
Spark scheduler provides parallelism, retry (``spark.task.maxFailures``)
and at-least-once semantics (deterministic task re-execution), so there
is no broker and no per-document fork.

Scale notes (targets a 1000-executor cluster; tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting.
- Arrow batches capped so large ``html`` payloads don't blow executor
  memory (the reference's one-doc-at-a-time memory model, SURVEY.md §4).
- UTC session timezone so parquet timestamps compare cleanly against
  the DuckDB oracle.
- No ``spark.python.worker.module``: pyspark/daemon.py silently falls
  back to ``pyspark.worker`` for a module whose name does not start
  with ``pyspark``, and the module would have to be on the executors'
  path before any ``--py-files`` arrive. The per-task worker fix lives
  in the package instead (``_worker_setup``, installed on its first
  import inside a worker).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch crossing the JVM<->Python boundary. html payloads
# average tens of KB (real crawls: up to MBs) — 256 rows keeps a batch
# in the tens-of-MB range even at the 95th percentile of page size.
ARROW_BATCH_ROWS = 256


def get_spark(
    app_name: str = "open_semantic_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the extraction workload.

    ``master="submit"`` means: do NOT set a master — inherit whatever
    spark-submit / the cluster manager configured (the production path,
    job.py). Any other value (or the SPARK_GRAFT_MASTER env / local[*]
    fallback) is for local runs and tests.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local["):
            spec = master[len("local[") : -1]
            shuffle_partitions = cores if spec == "*" else max(int(spec), 1)
        else:
            shuffle_partitions = 2 * cores

    builder = SparkSession.builder.appName(app_name)
    if master != "submit":
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # ≥3 input splits per core: exactly-one-task-per-core leaves the
        # stage gated by its slowest task (measured: 32 splits on 32
        # cores ran 16% slower than 64). At 100 TB splits ≫ cores and
        # this floor is inert; maxPartitionBytes still caps task size.
        .config("spark.sql.files.minPartitionNum", str(3 * shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow/parquet JNI critical sections + 32 allocating threads
        # can trip HotSpot's GCLocker retry limit (default 2) and fail
        # healthy tasks with "Retried waiting for GCLocker too often";
        # raising the retry budget is the targeted JDK-17 mitigation.
        # ParallelGC over the JDK-17 G1 default: this is a pure batch
        # throughput workload (no latency SLO), and G1's pause-goal
        # housekeeping costs 5-8% wall at 32 task threads (interleaved
        # A/B probes, BENCH/BASELINE.md §2; neutral at 8 threads). Same
        # guidance as the Spark tuning guide's GC section.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
