"""Parquet table sources (SURVEY §2.A — scans).

The reference's scans (A2 file source, A4 paginated full scan, A7 SQL
scan) all collapse, Spark-side, to a single declarative
``spark.read.parquet`` per table: Catalyst owns column pruning and
predicate pushdown from there. Pagination / triggering are transport
details that do not survive into the engine (SURVEY A4).

The schema is inferred once per file version. Spark infers a parquet
schema with a footer-reading job even for a single file, so
``load_table`` keeps the inferred ``StructType`` in a private
module-level memo and later reads pass it to
``spark.read.schema(...)``, which runs no job. The key is the absolute
path, the file's identity (``st_ino``, ``st_mtime_ns``, ``st_size``)
and the session confs that change parquet inference
(``_INFERENCE_CONFS``); a rewritten file or a changed conf is
re-inferred. Only regular files are memoized: a directory or a missing
path takes the plain ``spark.read.parquet`` path, so a missing table
still raises ``AnalysisException``.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any scale factor we
# target; fact tables shuffle on their keys. Used by plans to pick
# join strategies explicitly instead of trusting the size estimator.
DIMENSION_TABLES = {"region", "nation", "customer", "supplier", "part"}

# session confs whose values change the schema Spark infers from a parquet file
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# absolute path -> (file identity + inference confs, inferred schema);
# one entry per path, replaced when the file or a conf changes. Racing
# loads can only cost an extra inference: a stale stamp never matches.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version (module docstring)."""
    key = os.path.abspath(path)
    try:
        st = os.stat(key)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size) + tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS). Depending on the Spark
        # build/conf this surfaces either as a raw nanosecond long
        # (legacy nanosAsLong path) or as a micros-truncated
        # timestamp_ntz — handle both. The nanos in the driver data are
        # exact multiples of 1000, so either truncation is lossless and
        # matches duckdb's micros view of the same file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if ts_type == "timestamp_ntz":
            # session tz is UTC, so NTZ wall time == the UTC instant the
            # micros-long path produced; cast keeps downstream window /
            # watermark code on one timestamp type
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    if name == "embeddings":
        # promote once at the source: float-precision dot-product terms
        # round the 6th decimal differently from the DuckDB oracle's
        # DOUBLE[] arithmetic on boundary values — double-precision
        # products make every downstream cosine bit-identical
        from pyspark.sql import functions as F

        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        return df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view for the SQL API surface."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
