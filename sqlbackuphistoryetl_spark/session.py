"""SparkSession factory tuned for this engine.

Defaults are chosen for the local[N] test harness but every knob is the
one you would also set on a large cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), UTC session timezone (the
reference mixes getdate()/getutcdate(); this engine standardizes on UTC
— SURVEY §2.11.4), Arrow for any pandas exchange, and zstd parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sqlbackuphistoryetl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # SQL text in this package writes escapes such as '\'' and '\s+'
        # in string literals; Hive-compatible literals would keep them raw
        .config("spark.sql.parser.escapedStringLiterals", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
