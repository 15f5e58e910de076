"""SparkSession factory with scale-oriented defaults.

Local testing uses ``local[N]``; the same conf block is what we'd pass to
``spark-submit`` on a real cluster (AQE on, Arrow on, skew-join handling on).

Join strategy is the engine's job, with no hints on the entity joins:
the planner broadcasts a side whose statistics fall under
``autoBroadcastJoinThreshold``, and AQE's skew join splits the oversized
partitions of a sort-merge join at runtime (Spark's default thresholds:
a partition 5x the median and over 256 MB).
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vnlp-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x task slots keeps every core busy through the tail without
        # creating thousands of tiny shuffle files; on a 1000-executor
        # cluster this would be sized to ~2-3x total cores instead.
        shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # lexicon broadcasts are a few MB; keep the auto threshold generous
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # speculative re-launch of straggler tasks: on a shared host (or a
        # 1000-executor cluster with slow nodes) one delayed lane otherwise
        # holds the whole stage; the annotation lineage is deterministic
        # and side-effect-free, so duplicated tasks are safe
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "1s")
        .config("spark.speculation.multiplier", "1.5")
        .config("spark.speculation.quantile", "0.75")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
