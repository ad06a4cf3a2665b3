"""SparkSession factory tuned for the engine.

Local test posture is ``local[N]`` single-JVM; the conf is chosen so the
same logical plans scale to a multi-executor cluster: AQE on (runtime
partition coalescing + skew-join splitting), broadcast threshold
generous enough to broadcast every dimension table, Arrow enabled for
the few Pandas-UDF operators, and UTC session time so results are
comparable with external engines (DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local worker threads, and the default shuffle-partition floor
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "z316_spark", shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Notes on scale: on a real cluster only ``master`` and memory sizing
    change; the SQL conf below is intentionally cluster-safe.
    ``spark.sql.shuffle.partitions`` is a floor — AQE coalesces down
    and splits skewed partitions at runtime, so oversizing is cheap.
    """
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # push MIN/MAX/COUNT down to parquet footers when the pattern
        # allows (metadata-only answers at any scale); bloom-filter
        # runtime row filtering and dynamic partition pruning are
        # already on by default in Spark 4 (verified)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
