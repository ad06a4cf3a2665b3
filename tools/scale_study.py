"""Empirical scaling study: do the headline plans scale ~linearly?

Builds a 10x replica of the base scale factor (default sf0.1 -> "sf1")
under spark-warehouse/_scale/ and times the heaviest bench queries at
both scales, cold (including the one-time at-rest relation builds) and
warm (steady state). A plan whose warm ratio is far above the data
ratio has a shuffle/skew/driver bottleneck that a 100 TB cluster would
hit; results are recorded in docs/PERF.md per VERDICT r3 item 4.

Replication preserves the semantics that make scaling MEANINGFUL:

- every replica shifts its key space by i*OFF (OFF % 5 == 0, so the
  doc_id%5 batch/corpus split structure used by the incremental paths
  is preserved), keeping each replica internally join-consistent —
  the model of "10x more data from 10x more ingest shards";
- documents get a per-replica source suffix: the near-dup pair graph
  is source-blocked, so replicas contribute 10x the PAIRS, not 100x
  (verbatim re-texting every doc would manufacture a quadratic
  explosion that says nothing about real scaling);
- embeddings get per-replica label offsets: 10x data brings 10x
  clusters at constant cluster size — the regime cluster-confined
  cosine (semantic dedup / IVF) is designed for. Keeping 10 labels
  would grow each label block 10x and the within-block cosine 100x,
  an artifact of the replication, not the plan.

Usage: python tools/scale_study.py [mult] [base_sf_dir] [query ...]

An explicit query list (argv[3:]) restricts both passes to those
queries — used for the 30x confirmation runs on the ~linear-ratio
queries (doc_pagerank, minhash_incremental), where timing all 15 at
30x would cost an hour without adding information.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from z316_sales_data_pipeline_spark.session import get_spark  # noqa: E402

REPO = Path(__file__).resolve().parents[1]
OFF = 10_000_000_000  # key-space stride per replica; % 5 == 0 by design

# per-table key columns to shift by i*OFF in replica i
SHIFT = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

QUERIES = [
    # top-10 of BENCH_r03 by wall time
    "minhash_near_dup",
    "doc_pagerank",
    "minhash_incremental",
    "q21_waiting_suppliers",
    "json_ingest_rollup",
    "embedding_near_dup",
    "ivf_top_k",
    "pedidos_fact",
    "topk_per_group",
    "simhash_groups",
    # the r4 at-rest/incremental paths
    "cluster_representative",
    "dup_clusters",
    "dedup_incremental_exact",
    "semantic_dedup_incremental",
    "repair_run",
]


def build_scaled(spark, base_dir: str, out_dir: str, mult: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for table, keys in SHIFT.items():
        dst = f"{out_dir}/{table}.parquet"
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        src = spark.read.parquet(f"{base_dir}/{table}.parquet")
        if not keys:  # constant dimensions (region/nation)
            src.write.mode("overwrite").parquet(dst)
            continue
        parts = []
        for i in range(mult):
            rep = src
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(i * OFF))
            if table == "documents" and i > 0:
                rep = rep.withColumn("source", F.concat("source", F.lit(f"_r{i}")))
            if table == "embeddings":
                rep = rep.withColumn("label", (F.col("label") + F.lit(10 * i)).cast("int"))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(dst)


def wipe_derived_caches() -> None:
    """Fresh at-rest materializations so cold passes include the build
    at BOTH scales (equal footing)."""
    shutil.rmtree(REPO / "spark-warehouse" / "_pair_graph", ignore_errors=True)


def time_queries(spark, qs, sf_dir: str, names=None) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = {}
    for name in names or QUERIES:
        fn = qs[name]
        t0 = time.time()
        fn(spark, sf_dir).count()
        cold = time.time() - t0
        t0 = time.time()
        fn(spark, sf_dir).count()
        warm = time.time() - t0
        out[name] = {"cold": round(cold, 3), "warm": round(warm, 3)}
        print(f"  {name}: cold {cold:.2f}s warm {warm:.2f}s", file=sys.stderr)
    return out


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or None
    scaled = str(REPO / "spark-warehouse" / "_scale" / f"x{mult}")
    spark = get_spark("scale_study")
    qs = entrymod.bench_queries()

    print(f"building {mult}x replica at {scaled} ...", file=sys.stderr)
    t0 = time.time()
    build_scaled(spark, base, scaled, mult)
    print(f"build done in {time.time() - t0:.1f}s", file=sys.stderr)

    print(f"base pass ({base})", file=sys.stderr)
    wipe_derived_caches()
    base_t = time_queries(spark, qs, base, names)
    print(f"scaled pass ({scaled})", file=sys.stderr)
    wipe_derived_caches()
    scaled_t = time_queries(spark, qs, scaled, names)
    wipe_derived_caches()  # leave a clean cache for bench/driver runs

    report = {
        "mult": mult,
        "base": base,
        "queries": {
            n: {
                "base_cold": base_t[n]["cold"],
                "base_warm": base_t[n]["warm"],
                "scaled_cold": scaled_t[n]["cold"],
                "scaled_warm": scaled_t[n]["warm"],
                "ratio_cold": round(scaled_t[n]["cold"] / max(base_t[n]["cold"], 1e-9), 2),
                "ratio_warm": round(scaled_t[n]["warm"] / max(base_t[n]["warm"], 1e-9), 2),
            }
            for n in (names or QUERIES)
        },
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
