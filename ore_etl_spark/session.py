"""SparkSession factory tuned for the CDC engine.

Local mode is a single JVM with N executor threads; on a real cluster the
same conf applies per-executor. Defaults are chosen for shuffle-lean CDC
apply jobs:

- AQE on (runtime coalescing + skew-join splitting),
- shuffle partitions ~ cores locally (the engine overrides per-table with
  its bucket count at scale),
- Arrow on for mapInPandas / pandas UDFs and toPandas,
- UTC session timezone (oracle comparison: DuckDB timestamps are UTC-naive).

Reference analog: the reference hard-codes its parallelism knobs
(concurrency=4, BATCH_SIZE=1000; /root/reference/src/config/index.ts:21-29).
Here parallelism is Spark's, and the only engine knob is bucket count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ore-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession for `local[cpus]`.

    On a real cluster, callers pass ``master`` via spark-submit and this
    factory only applies the SQL conf (the builder respects an existing
    master). ``shuffle_partitions`` defaults to 2x cores locally — enough
    to keep all threads busy through AQE coalescing without tiny-task
    overhead.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # v2 committer: task-side renames — the v1 driver-side sequential
        # rename of per-bucket output files is a serial tail that caps
        # scaling (measured ~10s/batch at 64 buckets)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    # file:// without CRC sidecar files (r6, guide §6): Hadoop's default
    # LocalFileSystem writes+verifies a .crc per file, which doubles the
    # per-file fs ops — at MOR's many-small-delta-files write shape that
    # was ~35% of the append wall (measured 5.2 s -> 3.4 s per 2.5k-file
    # batch). Scheme-scoped: only remaps file:// — HDFS/S3A deployments
    # (which carry their own integrity) are untouched, so this is a
    # local-storage fix, not a local[32] tune. Opt back into checksums
    # with SPARK_GRAFT_LOCAL_FS_CHECKSUMS=1.
    if not os.environ.get("SPARK_GRAFT_LOCAL_FS_CHECKSUMS"):
        b = b.config("spark.hadoop.fs.file.impl",
                     "org.apache.hadoop.fs.RawLocalFileSystem")
    if not os.environ.get("SPARK_GRAFT_EXISTING_MASTER"):
        b = b.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, str(v))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
