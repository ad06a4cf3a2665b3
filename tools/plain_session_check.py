"""Execute every registry entry under a PLAIN SparkSession — the
driver-style environment (no tuned conf from session.py, Spark 4 ANSI
mode on by default). Catches conf-dependent behavior the tuned harness
would mask (broadcast thresholds, Arrow settings, timezone).

Usage: python tools/plain_session_check.py [sf_dir] [start] [end]
Prints per-range failures; exit 1 if any entry raises.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    end = int(sys.argv[3]) if len(sys.argv) > 3 else 10**9
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    bad = []
    items = list(entrymod.bench_queries().items())[start:end]
    for name, fn in items:
        try:
            fn(spark, sf_dir).count()
        except Exception as ex:  # noqa: BLE001
            bad.append((name, str(ex)[:150]))
            print(f"FAIL  {name}: {str(ex)[:150]}")
    print(f"{len(bad)} failures over {len(items)} entries" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
