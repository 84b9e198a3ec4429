"""SparkSession factory.

Defaults target correctness-at-scale: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for any Python exchange, UTC session
timezone (oracle parity with DuckDB), and shuffle partitions sized to the
local core count rather than the 200 default. On a real cluster the same
builder applies — only master/shuffle-partitions change.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "redisgears-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
            32, os.cpu_count() or 8
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores for local; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a parquet TIMESTAMP(NANOS) column (pandas-written files) is read
        # as long; sources.keyspace.load_table converts events.ts back
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Scan-task policy (r14, guide §2.2/§6): ONE task per file, big
        # files chunked at maxPartitionBytes. The former core-count
        # minPartitionNum floor split every scan into `cpus` byte ranges,
        # but a parquet row group cannot split — every fixture table and
        # most scratch files are single-row-group, so the floor produced
        # 1 working task + (cpus-1) EMPTY task launches per scan, on
        # every scan of every query (the r13 driver measured the whole
        # 412-query bench FASTER at 8 cores than at 32). Parallelism
        # comes from where the data actually is: multi-file scratch
        # indexes read one task per file (the writer sizes the file
        # count), CPU-heavy Python kernels get an explicit `rebalanced`
        # shuffle, and corpus-scale files chunk at 128 MB. openCost =
        # maxPartitionBytes stops the packer from merging deliberately
        # parallel scratch files into one split; on a real cluster
        # inputs are many >=128 MB files, where this policy is the
        # guide's recommended shape (large sequential splits, §6).
        .config("spark.sql.files.minPartitionNum", "1")
        .config("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # keep saveAsTable warehouse data out of the repo/cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "rg-spark-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
