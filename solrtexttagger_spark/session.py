"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join on, Arrow
batches for pandas UDFs); shuffle partitions come from the environment so the
same code runs on local[N] in tests and on a real cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "solrtexttagger_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic float behavior for rank-identical BM25
        .config("spark.sql.legacy.allowHashOnMapType", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle spill directory: prefer the RAM-backed tmpfs when present
    # (cluster equivalent: NVMe-local scratch). Keeps shuffle I/O from
    # serializing CPU-bound jobs on slow container overlay disks. Spark
    # ignores spark.local.dir when SPARK_LOCAL_DIRS is set, so leave the
    # default (and its directory) out then.
    if "SPARK_LOCAL_DIRS" not in os.environ:
        shm = "/dev/shm/spark-local"
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    return builder.getOrCreate()
