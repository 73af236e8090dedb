"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tasks per executor slot for the CPU-bound kernel stages: the scan split
# floor and the rebalance width (pipeline._kernel_rows, which says why) are
# both ``kernel_tasks``.
TASKS_PER_SLOT = 4

# Workload confs, applied by ``workload_session`` to every session (this
# local-mode factory and the spark-submit entrypoint jobs/extract_job.py):
#   * AQE on (runtime re-plan, skew-join splitting, partition coalescing);
#   * Arrow on, with a low ``maxRecordsPerBatch`` — media payloads are
#     multi-KB..MB binaries, so small record batches bound Python-worker
#     memory (SURVEY.md §4.3.2);
#   * UTC session timezone (duckdb-oracle comparability).
WORKLOAD_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    "spark.sql.files.maxPartitionBytes": "64m",
}


def kernel_tasks(spark: SparkSession) -> int:
    """Task count of the CPU-bound kernel stages: TASKS_PER_SLOT x slots."""
    return TASKS_PER_SLOT * spark.sparkContext.defaultParallelism


def workload_session(
    builder: SparkSession.Builder, extra_conf: dict[str, str] | None = None
) -> SparkSession:
    """``builder`` + ``WORKLOAD_CONF`` (``extra_conf`` wins) -> session.

    CPU-bound kernels need even waves even when the corpus is small or
    compacted: ``spark.sql.files.minPartitionNum`` asks the file scan for
    >= ``kernel_tasks`` splits (a scan-level knob — no shuffle, unlike
    repartition, whose round-robin mode local-sorts every row including
    multi-KB payload bytes).  At production scale input splits >> that, so
    this is a no-op.  Set after ``getOrCreate()`` (the slot count is known
    only then), on every call.

    Price: each extra Python task costs a fixed overhead.  pyspark puts
    two costs on every task of a worker, and the kernels remove both
    (kernels.py): it re-reads pyspark.zip before the task (~0.25 CPU-s;
    stamp-checked zip invalidation), and it runs a full gc.collect() after
    it (~20-30 ms; the import heap is frozen).  What is left in the Python
    worker is ~0.004 CPU-s per task, vs ~0.037 without the freeze (4-core
    VM, slope of trivial mapInPandas jobs, 16 vs 64 tasks).
    """
    spark = builder.config(map={**WORKLOAD_CONF, **(extra_conf or {})}).getOrCreate()
    spark.conf.set("spark.sql.files.minPartitionNum", str(kernel_tasks(spark)))
    return spark


def get_spark(
    app: str = "pgstosrt_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """local[cpus] :func:`workload_session` with shuffle partitions ~ cores
    for local mode (not the 200 default)."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = workload_session(builder, extra_conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark
