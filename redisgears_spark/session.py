"""SparkSession factory.

Defaults target correctness-at-scale: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for any Python exchange, UTC session
timezone (oracle parity with DuckDB), and shuffle partitions sized to the
local core count rather than the 200 default. On a real cluster the same
builder applies — only master/shuffle-partitions change.
"""

from __future__ import annotations

import atexit
import os
import tempfile

from pyspark.sql import SparkSession

# where Python-worker Unix sockets live; see get_spark
SOCKET_DIR = "/tmp"

# the directory that holds the redisgears_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        # Python workers (UDFs, mapInPandas, applyInPandasWithState) talk
        # to the JVM over a Unix domain socket, not loopback TCP, so a
        # reused worker's first Arrow batch does not wait out TCP's
        # delayed ACK. One 4-core probe timed that wait at ~46 ms over TCP
        # and 10-14 ms here. On perfbench trigger_stream (4 cores, 10
        # seeds) typical_ms read a median 395 ms with this setting and
        # 441 ms over TCP.
        .config("spark.python.unix.domain.socket.enabled", "true")
        # The daemon binds <dir>/.<uuid>.sock (a 42-byte name) and AF_UNIX
        # caps the whole path at 107 bytes. The default <dir> is
        # java.io.tmpdir, which a caller may point deep into a run
        # directory, so the sockets go to the short system temp root.
        .config("spark.python.unix.domain.socket.dir", SOCKET_DIR)
        # Python workers fork from a daemon that has already installed
        # the lazy import-cache invalidator, so no task pays stock
        # PySpark's per-task importlib.invalidate_caches() (~230 ms of
        # wall time a task on 4 cores, rereading zip directories),
        # including tasks that run none of this engine's kernels: plain
        # RDD/UDF tasks and the PythonRDD behind createDataFrame of a
        # local list. On perfbench tfcall (4 cores), log_event's Spark
        # time fell from ~770-885 to ~320-365 ms.
        .config("spark.python.daemon.module", "redisgears_spark.workerdaemon")
        # Checkpoint and state-store files are written without .crc
        # sidecars. With no native Hadoop library, every local Hadoop file
        # create forks `chmod` (~8 ms each): a stream trigger's batch
        # forked 6 times (data + .crc for sources/0/N, offsets/N,
        # commits/N), and 3 with this setting. On perfbench
        # trigger_stream (4 cores) the batch's commit phase went from
        # ~80-90 to ~45 ms and its source phase from ~62 to ~43 ms. Only
        # the FileContext-based checkpoint manager reads this key; parquet
        # reads and writes go through fs.file.impl and keep their
        # checksums. A checkpoint written with .crc files resumes
        # unchanged.
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
        # keep saveAsTable warehouse data out of the repo/cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "rg-spark-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    extra_conf = dict(extra_conf or {})
    # The daemon module must import on the workers wherever the driver
    # runs (its cwd, or a sys.path entry, is not theirs): put the
    # package's directory first, keeping any path the caller set.
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p
        for p in (_PACKAGE_ROOT, extra_conf.get("spark.executorEnv.PYTHONPATH"))
        if p
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # pyspark removes the driver's accumulator socket only in
    # SparkContext.stop(); a process that exits without it would leave
    # <SOCKET_DIR>/.<uuid>.sock behind
    server = getattr(spark.sparkContext, "_accumulatorServer", None)
    if isinstance(getattr(server, "server_address", None), str):
        atexit.register(_remove_quietly, server.server_address)
    return spark


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass
