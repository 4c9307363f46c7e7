"""SparkSession factory with the engine's scale-tuned defaults.

All Arrow/adaptive settings in one place so tests, bench, and jobs run the
same physical configuration. On a real cluster these come from spark-submit
conf; the builder here only sets what local mode needs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Local-mode core count: $SPARK_GRAFT_CPUS, else every core this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "docvision-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create/get a local SparkSession on `cores` (default_cores() when
    None)."""
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch row bound; with the size-aware packing stage
        # (extract_job.py) it bounds batch *bytes*, which is what matters
        # for Python-worker memory at 100 TB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # small splits so the pages scan parallelizes to the core count
        # WITHOUT a payload repartition (extract_job skips its salt
        # exchange when the scan is already parallel enough). 4m is sized
        # to the row-grouped corpus layout; on a petabyte table with
        # thousands of splits the same setting simply yields more of them.
        # Each split is one Python task, and a task is not free: measured
        # on 4 vCPUs with an empty mapInPandas body, ~0.3 core-seconds per
        # task before shipping.prepare_worker (import-zip re-reads and a
        # full-heap GC per task), ~0.03 after.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # 32 executor threads stream multi-MB Arrow/binary batches: with
        # G1's default region size those are "humongous" allocations, and
        # GCLocker contention produced 10x wall-time swings on identical
        # queries (observed: same plan 3s then 35s, with GCLocker retry
        # warnings). Bigger regions make 4 MB batches ordinary allocations.
        # NOTE: this builder conf only reaches the JVM when it is launched
        # FROM python (bench.py, pytest, driver harness). Under
        # spark-submit the driver JVM already exists, so deployment must
        # pass the same flags via `--driver-java-options` (the verify
        # skill recipe and README do).
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseG1GC -XX:G1HeapRegionSize=32m")
        .config("spark.python.worker.reuse", "true")
        # JVM<->python-worker transport over unix domain sockets (Spark 4):
        # the TCP-loopback default suffers Nagle/delayed-ACK stalls that cap
        # Arrow feed at ~20 MB/s; UDS measured 20x faster on binary columns
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
