"""SparkSession factory tuned for the engine.

Local test posture is ``local[N]`` single-JVM; the conf is chosen so the
same logical plans scale to a multi-executor cluster: AQE on (runtime
partition coalescing + skew-join splitting), broadcast threshold
generous enough to broadcast every dimension table, Arrow enabled for
the few Pandas-UDF operators, and UTC session time so results are
comparable with external engines (DuckDB oracle).

Local files go through ``jvm/localfs.jar`` (source ``jvm/LocalFs.java``):
Hadoop's ``file:`` FileSystem and its FileContext twin with
``setPermission`` and ``getFileLinkStatus`` done in-process. Without
libhadoop the stock classes fork ``chmod`` on every file create and
directory make and ``readlink`` on every FileContext rename (each
streaming offset, commit and source log entry), a few ms per fork.
Files, modes and ``.crc`` checksums are the same. The jar goes on the
driver classpath, which is the whole JVM in ``local[N]``; a cluster
deployment would put it on the executors' classpath too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local worker threads, and the default shuffle-partition floor
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")


def _default_driver_memory() -> str:
    """Half of physical RAM, at most 16g.

    The JVM's resident size runs past ``-Xmx`` (metaspace, code cache,
    thread stacks, netty/Arrow direct buffers) and the Python process
    and its workers share the same RAM, so a heap sized at or above
    MemTotal gets the JVM OOM-killed once the heap grows into it. Half
    leaves the other half for all of that on a host without swap.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(int(line.split()[1]) // 2048, 16 * 1024)}m"
    except OSError:
        pass
    return "16g"


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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.extraClassPath", _LOCAL_FS_JAR)
        .config("spark.hadoop.fs.file.impl", "z316.fs.LocalFs")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "z316.fs.LocalFs$Checksummed")
        # PySpark's per-call DataFrame-origin capture costs py4j round
        # trips on every Column call; errors keep their class and SQL
        # context, only the Python call site is dropped
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
