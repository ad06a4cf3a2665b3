"""Join recipes (SURVEY §2.D).

The reference performs all joins imperatively (linear ``next()`` probes,
per-item REST lookups). Spark-side every one is a declarative equi-join;
the scale discipline is explicit here:

- dimension lookups broadcast (``F.broadcast``) — zero shuffle;
- fact-fact joins shuffle on the join key and rely on AQE for skew;
- existence semantics use ``left_semi`` / ``left_anti`` so no payload
  columns cross the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | str | list[str],
    how: str = "inner",
    broadcast: bool = True,
) -> DataFrame:
    """D1/D2 — enrichment lookup against a dimension.

    ``how='inner'`` reproduces the reference's silent drop-on-miss
    (sales_to_bq/main.py:168-171,221: item skipped when its product is
    missing); ``how='left'`` reproduces tolerated-failure enrichments
    (NFC-e chain, api_to_gcs/main.py:220-231). Broadcasting the
    dimension replaces the reference's O(items × products) linear probe
    with a hash lookup and removes the shuffle entirely.
    """
    return fact.join(F.broadcast(dim) if broadcast else dim, on, how)


def incremental_guard(todo: DataFrame, done: DataFrame, key: str | list[str]) -> DataFrame:
    """D4 — the canonical incremental-load anti-join.

    Reference: backfill/api_to_gcs-backfill.py:120-136,217-240 — skip a
    pedido whose ``dados_id`` was already processed. ``left_anti`` keeps
    only the key columns of ``done`` in flight.
    """
    keys = [key] if isinstance(key, str) else key
    return todo.join(done.select(*keys).distinct(), keys, "left_anti")


def existence_check(df: DataFrame, other: DataFrame, key: str | list[str], exists: bool = True) -> DataFrame:
    """D6 — referential-integrity semi/anti join.

    Reference: api_to_gcs-checker.py:34-57 — every ``itens[].idProduto``
    must have a produto file; violations are the anti-join result.
    """
    keys = [key] if isinstance(key, str) else key
    how = "left_semi" if exists else "left_anti"
    return df.join(other.select(*keys).distinct(), keys, how)


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    bucket_s: int | None = None,
) -> DataFrame:
    """Interval join: pair each left row with right rows of the same key
    whose timestamp lies in ``[left_ts - lower_s, left_ts + upper_s)``.

    Beyond the reference (equi-joins only). A naive theta-join on the
    range predicate is a per-key nested loop (BroadcastNestedLoopJoin at
    worst); instead the time axis is quantized into buckets of width
    >= the window span, the left side is exploded to the 2-3 buckets its
    window can touch, and the join becomes an EQUI-join on
    (key, bucket) + a cheap residual filter — shuffle-partitionable,
    AQE-skew-splittable, and scale-linear like any hash join.
    """
    span = lower_s + upper_s
    width = bucket_s or max(span, 1)
    assert span // width + 3 <= 5, "bucket width too small vs span"
    # unix_timestamp truncates sub-second fractions, so bucketing is
    # done on whole seconds (one extra trailing bucket covers the
    # truncated sliver) while the residual filter compares the REAL
    # timestamps — membership stays exact for fractional timestamps.
    lb = F.unix_timestamp(F.col(left_ts))
    probe = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((lb - F.lit(lower_s)) / width),
                F.floor((lb + F.lit(upper_s)) / width) + 1,
            )
        ),
    )
    build = right.withColumn("__bucket", F.floor(F.unix_timestamp(F.col(right_ts)) / width))
    lo = F.col(left_ts) - F.expr(f"INTERVAL {lower_s} SECOND")
    hi = F.col(left_ts) + F.expr(f"INTERVAL {upper_s} SECOND")
    out = probe.join(build, [key, "__bucket"]).filter(
        (F.col(right_ts) >= lo) & (F.col(right_ts) < hi)
    )
    return out.drop("__bucket")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    carry: list[str],
    suffix: str = "_r",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` for the same key (inner semantics).

    Beyond the reference (which has only single-key equi-joins) — the
    temporal-alignment primitive a training-data pipeline needs
    (features as-of a label timestamp, latest click before a purchase).

    Plan: union both sides tagged, ONE shuffle on the key, and a
    running ``last(ignorenulls)`` window over a single STRUCT carries
    the right side's latest row forward atomically (per-column carries
    could mix rows when right values are null) — never a range join,
    never a per-row search. Ties on ts resolve deterministically:
    right-before-left at equal ts (inclusive <=), then ascending
    ``tiebreak`` — the carried row is the max (ts, tiebreak) right row.
    """
    from pyspark.sql import Window

    carry_all = [ts, tiebreak] + [c for c in carry if c not in (ts, tiebreak)]
    struct_ddl = (
        "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in carry_all) + ">"
    )
    l_tagged = left.withColumn("__side", F.lit(1)).withColumn(
        "__carry", F.lit(None).cast(struct_ddl)
    )
    r_tagged = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in carry_all]).alias("__carry"),
    )
    for c in l_tagged.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(l_tagged.schema[c].dataType))
    unioned = l_tagged.unionByName(r_tagged.select(*l_tagged.columns))
    w = (
        Window.partitionBy(key)
        .orderBy(
            F.col(ts).asc(),
            F.col("__side").asc(),
            F.col("__carry")[tiebreak].asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__carry", F.last("__carry", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1).filter(F.col("__carry").isNotNull())
    for c in carry_all:
        out = out.withColumn(f"{c}{suffix}", F.col("__carry")[c])
    return out.drop("__side", "__carry")
