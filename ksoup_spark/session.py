"""SparkSession factory with the engine's recommended configs.

Arrow-batched Python execution is the hot path, so Arrow is always on and
batches are size-bounded (giant-document guard — one multi-MB doc must not
balloon a batch). AQE handles runtime skew re-planning at cluster scale.
The default master, ``local[*]``, takes its thread count from the JVM's
available processors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Records per Arrow batch entering Python workers. 512 is the measured
# framing knee on the bench corpus (PLANS.md, "Lever (1) executed":
# 64/128/256/1024/2048 all slower); it stays a giant-document guard — 512 x a pathological 0.5 MB
# doc bounds a batch at ~256 MB, within a 4 GB/thread executor budget, and
# the salted repartition spreads giant docs across partitions anyway.
DEFAULT_ARROW_BATCH = 512


def get_spark(
    app: str = "ksoup-spark",
    master: str = "local[*]",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    arrow_batch: int = DEFAULT_ARROW_BATCH,
) -> SparkSession:
    return (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
