"""SparkSession factory with the engine's required configuration.

All defaults target the 100 TB design point scaled to local mode: AQE on
(runtime re-plan + skew-join splitting), Arrow on (the per-row Python
stages — image decode, batch-join refine, operators — ride Arrow batches),
partition sizing that keeps scan tasks in the 128 MB range.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "openpoiservice-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # batch size targets ~10 MB Arrow batches for binary-payload rows
        # (~5 KB each) — large batches inflate peak JVM buffering per task
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # duplicate tag keys in a caption resolve last-wins (= Python dict
        # semantics of the reference parse); default EXCEPTION would fail the
        # whole import on one malformed row
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions", "-XX:MaxDirectMemorySize=16g")
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()
