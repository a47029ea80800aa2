"""SparkSession factory tuned for the extraction workload.

Local-mode settings mirror what the spark-submit deployment sets on a
real cluster: AQE on (runtime coalescing + skew-join splitting), Arrow
for every Python-hop exchange, shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "extraction-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # parquet scans: pruning + pushdown are on by default; keep split
        # size small so many-small-file tables are not packed into fewer
        # partitions than slots (openCost 4m + 64m bins merged a 64-file
        # bench table down to 22 partitions; 16m bins keep ~1 file per
        # partition at these file sizes). Production tunes this per job
        # to executor-count × waves.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # single-JVM local mode shares cores between the JVM and the N
        # Python workers of the extraction stage; uncapped, the collector
        # spawns ~ncpu GC threads that stampede the workers (measured
        # +28% extraction throughput at local[32] with the cap). On a
        # real cluster the same flags go in spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
