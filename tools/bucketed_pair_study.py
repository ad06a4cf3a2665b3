"""At-rest bucketing receipt for the Σ|basket|² pair family (VERDICT r7
item 5).

The pair queries (basket_pairs / assoc_rules / item_item_cosine) all
reduce to: distinct (basket, item) → self-join on the basket key →
pair-grain groupBy. Over plain parquet that plan pays THREE exchanges
on the fact (distinct, join left, join right — AQE dedups the join
sides to two); over a table written ONCE with
``sinks.write_bucketed(li, ..., bucket_col="l_orderkey",
sort_cols=["l_orderkey", "l_partkey"])`` the scan itself reports
``HashPartitioning(l_orderkey)``, which satisfies the distinct's
ClusteredDistribution (subset rule), BOTH self-join sides, and leaves
exactly ONE Exchange in the whole plan — the unavoidable pair-grain
one feeding the final (part_a, part_b) aggregate. That is the "pay
the shuffle once at write time" trade the 100 TB deployment makes:
the per-query fact shuffle disappears for every basket-key consumer.

Usage: python tools/bucketed_pair_study.py [mult] [base_sf_dir]

Prints one JSON line: exchange counts for plain vs bucketed plans and
min-of-3 warm timings at 1x and at the ``mult``x replica (default 30),
plus the captured bucketed pair plan on stderr for docs/PLANS.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from z316_sales_data_pipeline_spark import sinks  # noqa: E402
from z316_sales_data_pipeline_spark.session import get_spark  # noqa: E402

REPO = Path(__file__).resolve().parents[1]


def pair_counts(li):
    """The shared Σ|basket|² kernel of basket_pairs / assoc_rules /
    item_item_cosine: distinct, order-local self-join, pair groupBy."""
    d = li.select("l_orderkey", "l_partkey").distinct()
    a = d.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def exchanges(df) -> int:
    # count Exchange operators in the pre-AQE physical plan (AQE hides
    # reused exchanges at runtime; the static count is the honest
    # "shuffles this plan asks for")
    return plan_of(df).count("Exchange")


def min_of(n, fn) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    import os

    os.chdir(REPO)  # saveAsTable's warehouse lives under cwd — pin it
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("bucketed_pair_study")

    from scale_study import build_scaled  # noqa: E402 (sibling tool)

    scaled = str(REPO / "spark-warehouse" / "_scale" / f"x{mult}")
    build_scaled(spark, base, scaled, mult)

    report: dict = {"mult": mult, "scales": {}}
    for tag, sf_dir in [("x1", base), (f"x{mult}", scaled)]:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )
        table = f"li_bucketed_{tag}"
        t0 = time.time()
        sinks.write_bucketed(
            li, table, bucket_col="l_orderkey", n_buckets=32,
            sort_cols=["l_orderkey", "l_partkey"],
        )
        write_cost = round(time.time() - t0, 3)
        bucketed = spark.table(table)

        plain_q = pair_counts(li)
        buck_q = pair_counts(bucketed)
        plain_t = min_of(3, lambda: plain_q.count())
        buck_t = min_of(3, lambda: buck_q.count())
        report["scales"][tag] = {
            "plain_exchanges": exchanges(plain_q),
            "bucketed_exchanges": exchanges(buck_q),
            "plain_warm_s": plain_t,
            "bucketed_warm_s": buck_t,
            "bucket_write_s": write_cost,
            "pairs": buck_q.count(),
        }
        if tag == "x1":
            print("== bucketed pair plan (x1) ==", file=sys.stderr)
            print(plan_of(buck_q), file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
