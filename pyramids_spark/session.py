"""SparkSession factory with scale-appropriate defaults.

The confs mirror what we would submit on a real cluster via
``spark-submit --py-files pyramids_spark.zip job.py``:
AQE on (runtime re-plan + skew-join splitting), Arrow for all pandas UDF
transport, shuffle partitions sized to cores (overridden per-job at scale),
UTC session timezone so timestamp comparisons against external oracles are
stable.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyramids_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:
        cpus = int(m.group(1))  # GC threads / partitions follow the master
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 131072 measured vs 65536 on the broadcast-top-k kNN scan (8M rows,
        # 3 narrow cols): batch-construction overhead dominates the Python
        # side, halving batch count cut warm kNN ~2× (3 MB/batch — safe)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Measured on the 32-thread nested-column scan (array<struct> spans):
        # ParallelGC beats default G1 4×, but GC threads must not contend
        # with task threads (cap at cores/2); the row-based nested parquet
        # reader beats the vectorized one under high thread counts here.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(4, cpus // 2)} "
            "-Dio.netty.tryReflectionSetAccessible=true",
        )
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "false")
        # 32 MB splits (default 128 MB): the bench tables are written as
        # ~8 MB files (one row group each — unsplittable below file
        # granularity), so 128 MB packing collapses them into too few tasks
        # to feed 16+ cores; 32 MB keeps every core in work at both cluster
        # sizes. On a real 1000-executor cluster the same conf yields the
        # standard fine-grained splits AQE coalesces upward as needed.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Partition discovery: Spark lists a table's partition directories
        # in a Spark job (one task per directory) once a read has more than
        # `threshold` paths (default 32), so opening the 64-`pcell` docs
        # table ran 2 jobs. Warm `spark.read.parquet` on a local[4] box,
        # local filesystem, N dirs × 2 files, medians of 5–9 reads:
        #
        #   N dirs | driver listing | job, 1 task/dir | job, cap = cores
        #      64  |   0.08 s       |   0.43 s        |   0.15 s
        #     512  |   0.10–0.19    |   1.77          |   0.17–0.25
        #    1024  |   0.15–0.28    |   3.22          |   0.18–0.35
        #    1536  |   0.27–0.31    |      –          |   0.30–0.33
        #    1792  |   0.31         |      –          |   0.30
        #    2048  |   0.36–0.38    |   6.80          |   0.31–0.37
        #    4096  |   0.54         |  14.18          |   0.44
        #
        # The driver wins up to ~1.5k dirs, so the threshold sits at the
        # crossover; above it the job stays, with its tasks capped at the
        # core count (per-task overhead, not listing, is the 1 task/dir
        # cost). Object stores list slower per call and may want a lower
        # threshold and a higher cap: set both through `extra_conf`.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1536")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
