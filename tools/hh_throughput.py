"""Throughput receipt for heavy_hitters_monitor (r10 verdict item 5;
still owed in r11 item 4): rows/s and per-core rows/s of the
SpaceSaving stateful streaming operator over the sf0.1 events table,
plus the measured state-size contract.

Protocol: the 100k-row events table is split into N_BATCH parquet
micro-batch files (key = event_type — 5 keys; item = user_id — ~2k
distinct, the unbounded-domain stand-in), streamed with
maxFilesPerTrigger=1 + availableNow so every batch passes through the
applyInPandasWithState fold. Wall time is measured around the
streaming query only (session + source prep excluded); rows/s = input
rows / wall. State contract: at most k counters per key — read back
from the final emission.

Run it ALONE (no concurrent Spark jobs — VM timing hygiene).

Usage: python tools/hh_throughput.py [sf_dir] [k] [n_batches]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from z316_sales_data_pipeline_spark.session import get_spark  # noqa: E402
from z316_sales_data_pipeline_spark.sources.tables import load_table  # noqa: E402
from z316_sales_data_pipeline_spark.streaming import pipeline  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = get_spark()
    n_cores = spark.sparkContext.defaultParallelism

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("k"), F.col("user_id").cast("string").alias("item")
    )
    n_rows = ev.count()
    src = Path(tempfile.mkdtemp(prefix="hh_bench_"))
    try:
        # N_BATCH files = N_BATCH micro-batches under maxFilesPerTrigger=1
        for i in range(n_batches):
            (
                ev.filter(F.col("item").cast("long") % n_batches == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(src / f"b{i}"))
            )
        files = sorted(str(p) for p in src.glob("b*/part-*.parquet"))
        flat = src / "flat"
        flat.mkdir()
        for i, f in enumerate(files):
            shutil.copy(f, flat / f"batch_{i}.parquet")

        schema = T.StructType(
            [T.StructField("k", T.StringType()), T.StructField("item", T.StringType())]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(flat))
        )
        t0 = time.monotonic()
        q = (
            pipeline.heavy_hitters_monitor(stream, "k", "item", k=k)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("hh_bench")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        wall = time.monotonic() - t0

        out = spark.sql(
            "SELECT k, n FROM ("
            "  SELECT k, n_total, count(*) AS n, row_number() OVER "
            "    (PARTITION BY k ORDER BY n_total DESC) AS rn "
            "  FROM hh_bench GROUP BY k, n_total"
            ") WHERE rn = 1"
        ).collect()
        max_counters = max(r["n"] for r in out)
        n_keys = len({r["k"] for r in out})
        print(
            json.dumps(
                {
                    "metric": "heavy_hitters_monitor_throughput",
                    "rows": n_rows,
                    "n_batches": n_batches,
                    "k": k,
                    "wall_sec": round(wall, 2),
                    "rows_per_sec": round(n_rows / wall),
                    "rows_per_sec_per_core": round(n_rows / wall / n_cores, 1),
                    "n_keys": n_keys,
                    "max_counters_per_key": max_counters,
                    "state_bound_ok": max_counters <= k,
                }
            )
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


if __name__ == "__main__":
    main()
