"""SparkSession factory tuned for the extraction workload.

Scale posture (100 TB / 1000-executor mindset, tested on local[N]):
  - AQE on: runtime shuffle coalescing + skew-join splitting.
  - Arrow on: every pandas UDF moves columnar batches, never rows.
  - shuffle.partitions sized to cores locally; on a real cluster this is
    set to ~2-3x total executor cores via spark-submit conf.
  - UTC session TZ so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Half the host's physical memory in whole GiB (at least 1g): in
    local mode the driver JVM holds the executors, and the Python
    workers and the OS need the other half. SPARK_DRIVER_MEM overrides
    it."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys_bytes // 2 >> 30)}g"


def get_spark(
    app_name: str = "document_parser_private_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cores=None -> local[*]. On a cluster this function is a no-op wrapper:
    spark-submit provides the master and the builder just picks up the conf.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    n = cores or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small enough that each UDF task streams several batches (JVM
        # Arrow serialization overlaps Python compute), large enough to
        # amortize per-batch overhead; giant docs (~100KB spans) keep a
        # batch well under executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local corpora are few-MB shards; the 128MB default packs the
        # whole scan into 2-3 map tasks and serializes the shuffle-write
        # side. openCost = maxPartitionBytes gives one task per shard
        # (no small-file bin packing, PLANS.md §20) and never cuts a
        # file below 16MB into byte ranges, so a single-row-group file is
        # one split and the spread rule in __spark_entry__._read sees it
        # (cluster deployments override via spark-submit conf).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "16m")
        # partitionOverwriteMode=dynamic -> idempotent overwrite-by-partition,
        # the checkpoint/resume correctness primitive (plans/checkpoint.py).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
