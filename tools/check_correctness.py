"""Local differential harness — mimics the driver's t2 check.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, comparing row count, sorted column
names, and an order-insensitive multiset of normalized row values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path
import time
from collections import Counter
from datetime import date, datetime

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from z316_sales_data_pipeline_spark.session import get_spark  # noqa: E402
from z316_sales_data_pipeline_spark.sources.tables import TABLE_NAMES  # noqa: E402


def normalize(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return "0.0"  # fold -0.0
        # Full precision (repr = shortest round-trip, up to 17 sig
        # digits). The driver hashes floats at full precision; the old
        # 10-sig-digit format masked an entire failure class (r9
        # revenue_bridge: a 1-ulp round() tie divergence invisible at
        # .10g). Local green must imply driver green.
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def row_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(normalize(r[i]) for i in order) for r in rows)


# Presentation-round precision budget (VERDICT r9 item 3, portability
# gotcha #3 turned into a gate): Spark round() is HALF_UP over the
# exact decimal expansion while DuckDB rounds via multiply-by-10^n —
# the two agree only while v*10^n sits comfortably inside double's
# 2^52 integer range; as the product approaches it, near-tie values
# diverge by 1 ulp (r9 revenue_bridge: |v| ~ 2.7e8 at 6 dp = 15 sig
# digits, one brand hit a .xx5 tie). The repo's convention is round-6,
# so any double output column that (a) carries fractional values and
# (b) has |max| * 1e6 within 6 bits of 2^52 has spent its mantissa on
# integer digits and is one unlucky datum away from a driver-red row.
# Fix pattern: integer-scale (cents/micros) before summing, or emit
# the exact numerator/denominator, never round a float that large.
ROUND_BUDGET_ABS = float(2**52) / 1e6 / 64  # ~7.04e7


def precision_budget_flags(schema_fields, rows) -> list[str]:
    flags = []
    for ci, fld in enumerate(schema_fields):
        if fld.dataType.typeName() not in ("double", "float"):
            continue
        max_abs, fractional = 0.0, False
        for r in rows:
            v = r[ci]
            if v is None or not isinstance(v, float) or math.isnan(v) or math.isinf(v):
                continue
            max_abs = max(max_abs, abs(v))
            fractional = fractional or v != int(v)
        if fractional and max_abs > ROUND_BUDGET_ABS:
            flags.append(f"{fld.name} (|max|={max_abs:.6g})")
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            # Driver-shape guard (r3: embedding_centroids): the driver's
            # pandas canonicalizer sort_values over every output column
            # and crashes on unhashable cells (list/dict). Any Array/
            # Struct/Map-typed output column is therefore a failure here
            # even though our own multiset compare would stringify fine.
            complex_cols = [
                f.name
                for f in df.schema.fields
                if f.dataType.typeName() in ("array", "struct", "map")
            ]
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if complex_cols:
            print(
                f"FAIL  {name}: complex-typed output cols {complex_cols} "
                "(driver canonicalizer cannot hash them — flatten or to_json)"
            )
            failures.append(name)
            continue
        budget_flags = precision_budget_flags(df.schema.fields, spark_rows)
        if budget_flags:
            print(
                f"FAIL  {name}: round-budget exhausted on float cols "
                f"{budget_flags} — fractional doubles this large are "
                "tie-prone under round-6 cross-engine (gotcha #3 / r9 "
                "revenue_bridge); integer-scale or emit num/denom"
            )
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_rows)} rows (no oracle — rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            # The driver's hash is type-sensitive: DuckDB types integer
            # SUM as HUGEINT (int128) and decimal literals/rounds as
            # DECIMAL, where Spark emits bigint/double — these can
            # string-normalize identically here but hash-mismatch in
            # CORRECTNESS_r{N}. Surface ANY decimal-typed oracle column
            # as a local failure (r2: G4 HUGEINT; r4: quantile_sketch
            # DECIMAL literals).
            hugeint_cols = [
                f.name
                for f in con.execute(oracles[name]).fetch_arrow_table().schema
                if str(f.type).startswith("decimal")
            ]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if hugeint_cols:
            problems.append(f"oracle HUGEINT cols (cast AS BIGINT): {hugeint_cols}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            ms, md = row_multiset(spark_rows, spark_cols), row_multiset(duck_rows, duck_cols)
            if ms != md:
                diff_s = list((ms - md).items())[:3]
                diff_d = list((md - ms).items())[:3]
                problems.append(f"values spark-only={diff_s} duck-only={diff_d}")
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"OK    {name} ({dt:.1f}s, {len(spark_rows)} rows)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
