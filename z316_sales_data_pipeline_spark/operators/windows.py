"""Window recipes (SURVEY §2.H, W1–W4).

The reference has no SQL windows; these are the Spark-native renderings
of its per-group Python semantics. All windows partition on the
business key, so each is exactly one hash-partition shuffle (reused by
any subsequent agg on the same key — plan-level partitioning reuse).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_total(df: DataFrame, key: str | list[str], value: Column | str, alias: str) -> DataFrame:
    """W1 — per-group total on every row (unbounded frame analytic sum).

    The building block for proportional allocation (F7,
    sales_to_bq/main.py:157-160): every item row needs its order total.
    """
    keys = [key] if isinstance(key, str) else key
    value = F.col(value) if isinstance(value, str) else value
    return df.withColumn(alias, F.sum(value).over(Window.partitionBy(*keys)))


def dedup_keep_rule(
    df: DataFrame,
    key: str | list[str],
    order_by: list[Column],
) -> DataFrame:
    """W2 — dedup with a deterministic keep-rule.

    Reference: api_to_gcs-checker.py:141-173 — among duplicate folders
    for one dados_id, keep the minimum real timestamp, preferring
    non-backfill (backfill rows carry a T000000 timestamp); delete the
    rest. Rendered as row_number over (key, order_by) + rn==1.
    """
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def pick_first(df: DataFrame, key: str | list[str], order_by: list[Column]) -> DataFrame:
    """W3 — first-match pick (reference takes ``pedidos[0]``)."""
    return dedup_keep_rule(df, key, order_by)


def top_k_per_group(df: DataFrame, key: str | list[str], order_by: list[Column], k: int) -> DataFrame:
    """Top-K per group — rank ≤ K. (Engine surface beyond the reference.)"""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .withColumnRenamed("__rn", "rank_in_group")
    )


# ---------------------------------------------------------------------------
# Scale-safe global ordering — the two-phase / zipWithIndex shape
# ---------------------------------------------------------------------------
#
# An unpartitioned Window.orderBy(...) is correct but moves the WHOLE
# relation through one task ("WindowExec: No Partition Defined" — the
# named 100 TB scale-killer). These helpers produce bit-identical
# global row_number / running-sum columns with no single-task sort:
#
#   1. repartitionByRange on the sort keys (a distributed sort —
#      ascending partition id == ascending global order),
#   2. a PARTITION-LOCAL window inside each range partition,
#   3. per-partition totals (O(num_partitions) rows) collected to the
#      driver and broadcast back as cumulative offsets — exactly how
#      Spark's own RDD.zipWithIndex computes global indexes.
#
# The ranged relation is localCheckpoint'ed so the totals pass and the
# final pass read ONE materialization (range sampling can't re-draw
# boundaries between jobs, and the shuffle is paid once).
#
# DELIBERATE exception to the persistence.py grain rule (fact-grain
# frames persist, never localCheckpoint): the collected offsets are
# keyed by spark_partition_id, so a keep-lineage recompute that
# re-drew range boundaries would SILENTLY misalign every offset.
# Severing lineage makes block loss fail the job instead of corrupting
# it — fail-stop beats wrong-answer. Contract at scale: retry the job.


def _two_phase_offsets(ranged: DataFrame, per_partition: DataFrame, zero):
    """Collect per-partition totals (one row per range partition) and
    broadcast back the exclusive prefix — offsets each partition adds
    to its local window result. Returns (offsets_df, grand_total)."""
    spark = ranged.sparkSession
    rows = sorted((r["__pid"], r["__c"]) for r in per_partition.collect())
    offs, acc = [], zero
    for pid, c in rows:
        offs.append((int(pid), acc))
        acc += c
    schema = "__pid int, __off long"
    off_df = spark.createDataFrame(offs, schema)
    return off_df, acc


def _ranged(df: DataFrame, order_by: list[Column], num_partitions: int | None) -> DataFrame:
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return (
        df.repartitionByRange(n, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def two_phase_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Global 1-based row_number over ``order_by`` with NO
    single-partition WindowExec — bit-identical to
    ``row_number().over(Window.orderBy(*order_by))`` when the ordering
    is total (include a unique tiebreaker column, as every caller in
    this repo does). Returns ``(df_with_out_col, total_row_count)``;
    the count is free (it is the last cumulative offset).
    """
    ranged = _ranged(df, order_by, num_partitions)
    per = ranged.groupBy("__pid").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    off_df, total = _two_phase_offsets(ranged, per, 0)
    w = Window.partitionBy("__pid").orderBy(*order_by)
    out = (
        ranged.withColumn("__loc", F.row_number().over(w).cast("long"))
        .join(F.broadcast(off_df), "__pid", "left")
        .withColumn(out_col, F.col("__loc") + F.coalesce(F.col("__off"), F.lit(0)))
        .drop("__pid", "__loc", "__off")
    )
    return out, int(total)


def two_phase_running_sum(
    df: DataFrame,
    order_by: list[Column],
    value: Column | str,
    out_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Global cumulative sum of an INTEGRAL ``value`` over ``order_by``
    with no single-partition WindowExec — bit-identical to
    ``sum(value).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    currentRow))`` because integer addition is associative (float
    values would reassociate across partitions; callers integer-scale
    first, the same portability rule the oracle twins follow). Returns
    ``(df_with_out_col, grand_total)``.
    """
    value = F.col(value) if isinstance(value, str) else value
    ranged = _ranged(df, order_by, num_partitions)
    per = ranged.groupBy("__pid").agg(F.sum(value).cast("long").alias("__c"))
    off_df, total = _two_phase_offsets(ranged, per, 0)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        ranged.withColumn("__loc", F.sum(value).over(w).cast("long"))
        .join(F.broadcast(off_df), "__pid", "left")
        .withColumn(out_col, F.col("__loc") + F.coalesce(F.col("__off"), F.lit(0)))
        .drop("__pid", "__loc", "__off")
    )
    return out, int(total)


def two_phase_running_sums(
    df: DataFrame,
    order_by: list[Column],
    values: dict[str, Column | str],
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Several global cumulative sums over the SAME total order in ONE
    two-phase pass (r14 optimization): one range shuffle + pin, one
    per-partition totals aggregate over every value column, one driver
    collect, one broadcast offsets join — a caller chaining N
    :func:`two_phase_running_sum` calls pays all of that N times for
    the identical ordering. Values must be integral (the same
    associativity rule as the single-column primitive); each output
    column is bit-identical to its chained-call equivalent. Returns
    ``(df_with_out_cols, {out_col: grand_total})``.
    """
    vals = {k: (F.col(v) if isinstance(v, str) else v) for k, v in values.items()}
    ranged = _ranged(df, order_by, num_partitions)
    per = ranged.groupBy("__pid").agg(
        *[F.sum(v).cast("long").alias(f"__c_{k}") for k, v in vals.items()]
    )
    rows = sorted(
        (r["__pid"], tuple(r[f"__c_{k}"] or 0 for k in vals)) for r in per.collect()
    )
    offs, acc = [], [0] * len(vals)
    for pid, cs in rows:
        offs.append((int(pid), *acc))
        acc = [a + int(c) for a, c in zip(acc, cs)]
    schema = "__pid int, " + ", ".join(f"__off_{k} long" for k in vals)
    off_df = df.sparkSession.createDataFrame(offs, schema)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged
    for k, v in vals.items():
        out = out.withColumn(f"__loc_{k}", F.sum(v).over(w).cast("long"))
    out = out.join(F.broadcast(off_df), "__pid", "left")
    for k in vals:
        out = out.withColumn(
            k, F.col(f"__loc_{k}") + F.coalesce(F.col(f"__off_{k}"), F.lit(0))
        )
    out = out.drop(
        "__pid",
        *[f"__loc_{k}" for k in vals],
        *[f"__off_{k}" for k in vals],
    )
    return out, {k: int(a) for k, a in zip(vals, acc)}


def ntile_from_rank(rank: Column, n_buckets: int, total: int) -> Column:
    """``ntile(n_buckets)`` reconstructed from a global 1-based rank
    and the (driver-known) total row count — Spark's exact NTile
    arithmetic (base bucket size total/n, first total%n buckets take
    one extra row), so composing with :func:`two_phase_row_number`
    equals ``ntile(n).over(Window.orderBy(...))`` bit-for-bit without
    the global window. DuckDB implements the same distribution, so
    oracle twins can keep plain ``ntile()``."""
    base = total // n_buckets
    rem = total % n_buckets
    thr = rem * (base + 1)
    first = (F.floor((rank - 1) / F.lit(base + 1)) + 1).cast("int")
    if base == 0:
        return first  # fewer rows than buckets: every bucket has <= 1 row
    rest = (F.lit(rem) + F.floor((rank - F.lit(thr) - 1) / F.lit(base)) + 1).cast("int")
    return F.when(rank <= thr, first).otherwise(rest)


def partitioned_row_number_two_phase(
    df: DataFrame,
    key_cols: list[str],
    order_by: list[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-key 1-based row_number with NO per-key WindowExec partition
    (r10): ``row_number().over(Window.partitionBy(keys).orderBy(...))``
    routes every key through ONE task — fine for many small keys, a
    scale-killer when a single key holds 100 GB (one source, one
    shard). Here the GLOBAL two-phase rank runs over (keys, order) —
    ascending range partitions, partition-local windows, broadcast
    offsets — and each key's local position is the global rank minus
    the key's min rank + 1 (a key-grain aggregate joined back).
    Bit-identical to the per-key window whenever the ordering is total
    within each key (callers include a unique tiebreaker, as
    everywhere in this repo).
    """
    keys = [F.col(k) for k in key_cols]
    ranked, _ = two_phase_row_number(df, [*keys, *order_by], "__gr", num_partitions)
    first = ranked.groupBy(*key_cols).agg(F.min("__gr").alias("__gr0"))
    return (
        ranked.join(first, key_cols)
        .withColumn(out_col, F.col("__gr") - F.col("__gr0") + F.lit(1))
        .drop("__gr", "__gr0")
    )


def partitioned_running_sum_two_phase(
    df: DataFrame,
    key_cols: list[str],
    order_by: list[Column],
    value: Column | str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-key cumulative sum of a NON-NULL INTEGRAL value (any sign)
    with no per-key WindowExec (r10, sign-corrected r11), the
    running-sum sibling of :func:`partitioned_row_number_two_phase`:
    one two-phase pass over (keys, order) produces BOTH the global
    running sum and the global row_number, and the key's exclusive
    prefix is (cum − value) AT THE KEY'S FIRST ROW — ``min_by(cum −
    value, global_rank)``. The r10 form used ``min(cum − value)``
    within the key, which only equals the first-row prefix when every
    value is non-negative (a negative value dips the intra-key partial
    sums below the first row's prefix and shifts the whole key);
    anchoring on the minimum global rank is exact for any sign.
    Bit-identical to ``sum(value).over(Window.partitionBy(keys)
    .orderBy(...).rowsBetween(unboundedPreceding, currentRow))``
    because integer addition is associative.

    Fail-stop contract (r11): the value must be non-null and integral
    — a fractional or null value raises at run time (``assert_true``
    riding the projection, the pearson fast-path discipline) instead
    of silently truncating through ``cast("long")``. Integer-scale
    floats first, the same rule two_phase_running_sum documents.
    """
    value = F.col(value) if isinstance(value, str) else value
    keys = [F.col(k) for k in key_cols]
    guard = F.assert_true(
        value.isNotNull() & (value == F.floor(value)),
        F.lit(
            "partitioned_running_sum_two_phase: value must be non-null and"
            " integral — integer-scale fractional values first (silent"
            " cast('long') truncation refused)"
        ),
    )
    with_val = df.withColumn(
        "__v2p", F.when(guard.isNull(), value).cast("long")
    )
    ranged = _ranged(with_val, [*keys, *order_by], num_partitions)
    # ONE totals pass and ONE collect for BOTH offset kinds (r14): the
    # sum and count per range partition come from the same tiny
    # aggregate, and the exclusive prefixes broadcast back as one
    # two-column relation — halving the offsets-exchange jobs and
    # joins the old per-sum/per-count split paid.
    per = ranged.groupBy("__pid").agg(
        F.sum("__v2p").cast("long").alias("__cs"),
        F.count(F.lit(1)).cast("long").alias("__cc"),
    )
    spark = ranged.sparkSession
    rows = sorted((r["__pid"], r["__cs"], r["__cc"]) for r in per.collect())
    offs, acc_s, acc_c = [], 0, 0
    for pid, cs, cc in rows:
        offs.append((int(pid), acc_s, acc_c))
        acc_s += cs
        acc_c += cc
    off_df = spark.createDataFrame(offs, "__pid int, __offc long, __offr long")
    w = Window.partitionBy("__pid").orderBy(*keys, *order_by)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    summed = (
        ranged.withColumn("__lr", F.row_number().over(w).cast("long"))
        .withColumn("__lc", F.sum("__v2p").over(wsum).cast("long"))
        .join(F.broadcast(off_df), "__pid", "left")
        .withColumn("__gr", F.col("__lr") + F.coalesce(F.col("__offr"), F.lit(0)))
        .withColumn("__gc", F.col("__lc") + F.coalesce(F.col("__offc"), F.lit(0)))
        .drop("__pid", "__lr", "__lc", "__offr", "__offc")
    )
    offs = summed.groupBy(*key_cols).agg(
        F.min_by(F.col("__gc") - F.col("__v2p"), F.col("__gr")).alias("__off2p")
    )
    return (
        summed.join(offs, key_cols)
        .withColumn(out_col, F.col("__gc") - F.col("__off2p"))
        .drop("__gc", "__gr", "__off2p", "__v2p")
    )


def scd2_history(
    df: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
    carry_last: bool = False,
    keep_tiebreak: bool = False,
    _from_col: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event stream:
    compress consecutive repeats of ``attr`` per ``key``, then emit one
    validity interval per surviving change — ``valid_from`` = the
    change's timestamp, ``valid_to`` = the next change's (NULL while
    current). The history table behind the reference's
    truncate-and-reload dimensions (B4, contatos_to_bq/main.py:97-129)
    when the consumer needs point-in-time correctness instead of
    latest-only.

    Two windows, both partitioned on the business key (ONE shuffle,
    sort reused between them — same exchange feeds lag and lead).
    Ties on ``ts`` order by ``tiebreak`` so replayed/duplicate events
    produce the same history on every run. At lake scale this is the
    standard CDC pattern: key-partitioned, no self-join, no global
    sort; pair with :func:`~..sinks.merge_upsert` for the latest-only
    image.

    ``carry_last=True`` adds ``last_ts`` / ``last_tb`` columns on the
    OPEN row (NULL on closed rows): the key's max folded
    ``(ts, tiebreak)`` over ALL events, including compressed repeats.
    This is the fold watermark :func:`scd2_apply_batch` needs to order
    a same-timestamp batch event exactly where the full recompute
    would — any incrementally maintained history should carry it. The
    max folds in a window over the SAME key partition, so it costs no
    extra shuffle. ``keep_tiebreak=True`` keeps the surviving change
    event's own ``tiebreak`` column — the deterministic per-row tie
    key an as-of consumer needs when two changes share a timestamp.
    ``_from_col`` (internal, used by the fold) sources ``valid_from``
    from a different column than the one that orders compression, so
    a re-seeded open row keeps its original interval start.
    """
    order = [F.col(ts).asc(), F.col(tiebreak).asc()]
    if carry_last:
        w_all = Window.partitionBy(key)
        df = df.withColumn(
            "__last", F.max(F.struct(F.col(ts), F.col(tiebreak))).over(w_all)
        )
    w = Window.partitionBy(key).orderBy(*order)
    changed = (
        df.withColumn("__prev", F.lag(attr).over(w))
        .filter(F.col("__prev").isNull() | (F.col(attr) != F.col("__prev")))
        .drop("__prev")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    from_c = F.col(_from_col) if _from_col is not None else F.col(ts)
    nxt = F.lead(from_c).over(w2)
    cols = [
        F.col(key),
        F.col(attr),
        from_c.alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    ]
    if keep_tiebreak:
        cols.append(F.col(tiebreak))
    if carry_last:
        cols.append(F.when(nxt.isNull(), F.col("__last")[ts]).alias("last_ts"))
        cols.append(F.when(nxt.isNull(), F.col("__last")[tiebreak]).alias("last_tb"))
    return changed.select(*cols)


def scd2_apply_batch(
    history: DataFrame,
    batch: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Incremental :func:`scd2_history` maintenance: fold an IN-ORDER
    CDC batch into an existing history — O(batch keys), the untouched
    keys' rows pass through without recompute (the incremental-twin
    discipline of the dedup family, applied to the CDC path).

    In-order contract: every batch event is STRICTLY GREATER than the
    key's folded watermark in ``(ts, tiebreak)`` lexicographic order.
    When the history carries ``last_ts``/``last_tb`` (built with
    ``carry_last=True``), the open row re-enters compression ordered
    AT that watermark, so a batch event at the SAME timestamp as
    already-folded data folds exactly where the full recompute would
    put it (same-ts events straddling an epoch boundary were the r7
    divergence). Without the carry columns the fold falls back to the
    legacy NULL-tiebreak seed, which is exact only when batch ``ts``
    is strictly greater than every folded ``ts``. A LATE event (at or
    below the watermark) needs the raw per-key event log — route those
    through :func:`scd2_repair_keys` / :func:`scd2_fold_or_repair`
    (the same trade the backfill path makes, reference
    backfill/api_to_gcs-backfill.py:138-140).

    Why the carried seed is exact: compression only compares
    consecutive attrs, so after all folded events the only state that
    matters is the open ``attr``; seeding one row with that attr at
    the watermark position makes every strictly-newer batch event sort
    after it exactly as in the full ordering, while ``_from_col``
    keeps the open interval's original ``valid_from``.

    Plan shape: one distinct on the batch keys (broadcast — O(batch),
    bounded by the micro-batch), ONE broadcast left join that tags
    history rows as touched/untouched (r15: the earlier anti+semi pair
    consumed the history subtree three times — untouched anti, closed
    filter, open filter — which re-derived a derived history per
    consumer; untouched rows and touched CLOSED rows pass through
    unchanged either way, so they share one consumer and the history
    is read exactly twice: pass-through + open-row seed), then
    :func:`scd2_history` over open-rows ∪ batch — work is
    O(touched keys × batch), never O(history).
    """
    carry = "last_ts" in history.columns and "last_tb" in history.columns
    out_cols = [key, attr, "valid_from", "valid_to", "is_current"]
    if carry:
        out_cols += ["last_ts", "last_tb"]
    # internal flag column, named clear of every caller history column
    flag = "__t"
    while flag in history.columns:
        flag += "_"
    touched = batch.select(key).distinct().withColumn(flag, F.lit(1))
    flagged = history.join(F.broadcast(touched), key, "left")
    passthrough = flagged.filter(
        F.col(flag).isNull() | F.col("valid_to").isNotNull()
    ).select(*out_cols)
    open_rows = flagged.filter(F.col(flag).isNotNull() & F.col("valid_to").isNull())
    if carry:
        seed = open_rows.select(
            F.col(key),
            F.col(attr),
            F.col("last_ts").alias(ts),
            F.col("last_tb").alias(tiebreak),
            F.col("valid_from").alias("__from"),
        )
        replay = seed.unionByName(
            batch.select(key, attr, ts, tiebreak).withColumn("__from", F.col(ts))
        )
        rebuilt = scd2_history(
            replay, key=key, attr=attr, ts=ts, tiebreak=tiebreak,
            carry_last=True, _from_col="__from",
        )
    else:
        tb_type = batch.schema[tiebreak].dataType.simpleString()
        # legacy seed: NULL tiebreak sorts first at equal ts — exact
        # only under the strictly-greater-ts contract
        seed = open_rows.select(
            F.col(key),
            F.col(attr),
            F.col("valid_from").alias(ts),
            F.lit(None).cast(tb_type).alias(tiebreak),
        )
        replay = seed.unionByName(batch.select(key, attr, ts, tiebreak))
        rebuilt = scd2_history(replay, key=key, attr=attr, ts=ts, tiebreak=tiebreak)
    return passthrough.unionByName(rebuilt.select(*out_cols))


def scd2_repair_keys(
    history: DataFrame,
    events: DataFrame,
    keys_df: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Key-scoped SCD2 recompute — the late-event escape hatch
    :func:`scd2_apply_batch` routes to: rebuild the listed keys' slices
    from the raw event log, pass every other key's history through
    untouched. O(affected keys' events), never O(history) — the same
    key-scoped-backfill trade as the reference's replay path
    (backfill/api_to_gcs-backfill.py:138-140).

    ``events`` must contain the affected keys' FULL event logs
    (including the late arrivals). ``keys_df`` is a one-column frame of
    business keys — O(late keys), broadcast to split both sides.
    """
    carry = "last_ts" in history.columns and "last_tb" in history.columns
    keys_only = keys_df.select(key).distinct()
    untouched = history.join(F.broadcast(keys_only), key, "left_anti")
    scoped = events.select(key, attr, ts, tiebreak).join(
        F.broadcast(keys_only), key, "left_semi"
    )
    rebuilt = scd2_history(
        scoped, key=key, attr=attr, ts=ts, tiebreak=tiebreak, carry_last=carry
    )
    return untouched.unionByName(rebuilt.select(*untouched.columns))


def scd2_fold_or_repair(
    history: DataFrame,
    batch: DataFrame,
    events: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
    derive_watermarks: bool = False,
) -> DataFrame:
    """Exact SCD2 maintenance under OUT-OF-ORDER delivery: batch keys
    whose every event is strictly newer than the key's folded
    ``(last_ts, last_tb)`` watermark fold in O(batch keys) via
    :func:`scd2_apply_batch`; keys with any LATE event are rebuilt
    key-scoped from the raw log via :func:`scd2_repair_keys`. The
    result equals a full recompute over ``events ∪ batch`` for every
    key, with work proportional to the batch plus the late keys'
    event logs — the fold/repair split the reference's backfill path
    implies but never automates.

    ``history`` must carry the watermark columns (built with
    ``carry_last=True``). ``events`` is the raw log of
    previously-folded events (NOT including this batch); the late
    keys' batch rows are unioned into their recompute internally.
    Entirely lazy — late-key detection is a join against the open
    rows, no driver action.

    ``derive_watermarks=True`` (r15) computes the per-key fold
    watermark as a plain map-side-combinable MAX aggregate over
    ``events`` instead of filtering the history's open rows: by the
    carry contract the open row's ``(last_ts, last_tb)`` IS
    ``max(struct(ts, tiebreak))`` over the key's previously-folded
    events, so the two are identical — but when the history is
    DERIVED inline from the raw log (the bench/test shape; a serving
    stack reads it at rest), the filter forms a third consumer of the
    expensive window build while the aggregate costs one cheap partial
    agg over the scan. Leave False when the history is at rest and
    smaller than the raw log.
    """
    if "last_ts" not in history.columns:
        raise ValueError("scd2_fold_or_repair needs a carry_last=True history")
    if derive_watermarks:
        open_last = events.groupBy(key).agg(
            F.max(F.struct(F.col(ts), F.col(tiebreak))).alias("__l")
        ).select(
            F.col(key),
            F.col(f"__l.{ts}").alias("last_ts"),
            F.col(f"__l.{tiebreak}").alias("last_tb"),
        )
    else:
        open_last = history.filter(F.col("is_current") == 1).select(
            key, "last_ts", "last_tb"
        )
    late_keys = (
        batch.join(open_last, key, "inner")
        .filter(
            F.struct(F.col(ts), F.col(tiebreak))
            <= F.struct(F.col("last_ts"), F.col("last_tb"))
        )
        .select(key)
        .distinct()
        # key-grain reduction broadcast into THREE independent arms
        # (fold anti ×2 + repair semi) — eager pin so the
        # batch-vs-watermark split runs once, not per arm (grain rule:
        # reductions may localCheckpoint). Streaming-safe: a
        # localCheckpoint is NOT a CacheManager entry — its blocks die
        # with the epoch's frame references (ContextCleaner), so the
        # per-epoch fold cannot accumulate cache state.
        .localCheckpoint(eager=True)
    )
    ok_batch = batch.join(F.broadcast(late_keys), key, "left_anti")
    folded = scd2_apply_batch(
        history.join(F.broadcast(late_keys), key, "left_anti"),
        ok_batch,
        key=key, attr=attr, ts=ts, tiebreak=tiebreak,
    )
    late_events = events.select(key, attr, ts, tiebreak).unionByName(
        batch.select(key, attr, ts, tiebreak)
    )
    repaired = scd2_history(
        late_events.join(F.broadcast(late_keys), key, "left_semi"),
        key=key, attr=attr, ts=ts, tiebreak=tiebreak, carry_last=True,
    )
    return folded.unionByName(repaired.select(*folded.columns))


def gapfill_locf(
    daily: DataFrame,
    key: str,
    date_col: str,
    zero_fill: dict[str, str] | None = None,
    locf: dict[str, str] | None = None,
) -> DataFrame:
    """Hypertable-style gap-fill: densify a sparse per-(key, day)
    relation onto a per-key contiguous daily spine, zero-filling
    additive measures and carrying the last observation forward for
    state-like ones (TimescaleDB's ``time_bucket_gapfill`` + ``locf``
    pair, re-expressed as pure DataFrame algebra).

    The spine is generated per key from its own [min, max] date range
    — ``sequence`` + ``explode`` is a narrow Generate, so densification
    adds NO shuffle beyond the two the semantics require: one for the
    min/max bounds aggregate (tiny, broadcast back) and one
    key-partitioned exchange that the left join and the LOCF window
    SHARE (the window partitions on the key alone, so the join's
    (key, day) partitioning is reused by AQE-compatible planning; at
    lake scale the spine side is trivially small next to the fact).

    ``zero_fill`` maps output alias -> input column for measures where
    an absent day means 0 (counts, sums); ``locf`` maps alias -> input
    column for measures where an absent day means "unchanged" (prices,
    balances) — filled with the last non-null value at or before the
    spine day, NULL until the first observation.
    """
    zero_fill = zero_fill or {}
    locf = locf or {}
    bounds = daily.groupBy(key).agg(
        F.min(date_col).alias("__min_d"), F.max(date_col).alias("__max_d")
    )
    spine = bounds.select(
        key,
        F.explode(
            F.sequence(F.col("__min_d"), F.col("__max_d"), F.expr("interval 1 day"))
        ).alias(date_col),
    )
    joined = spine.join(daily, [key, date_col], "left")
    w = (
        Window.partitionBy(key)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = [F.col(key), F.col(date_col)]
    out += [F.coalesce(F.col(c), F.lit(0)).alias(a) for a, c in zero_fill.items()]
    out += [F.last(F.col(c), ignorenulls=True).over(w).alias(a) for a, c in locf.items()]
    return joined.select(*out)


def cusum_changepoint(
    daily: DataFrame,
    key: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM drift / changepoint estimate per key: the running sum of
    deviations from the key's own mean, and the day where its absolute
    value peaks — the classic level-shift detector (a series with no
    drift hovers near 0; a mean shift makes |CUSUM| peak at the shift
    point).

    Portability note (the float-sum discipline): the running sum is
    computed over an ORDER BY window, so its accumulation order is
    deterministic and engine-portable (unlike a plain float aggregate);
    the mean is an exact integer total over an exact integer count,
    divided once. One key-partitioned exchange shared by the mean
    window and the running-sum window; the argmax is a same-window
    row_number — no second shuffle.
    """
    w_all = Window.partitionBy(key)
    w_run = (
        Window.partitionBy(key)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two steps: Spark cannot nest the mean window inside the running
    # sum's aggregate; both windows share the one key exchange anyway
    with_mean = daily.withColumn(
        "__mean", F.sum(value_col).over(w_all) / F.count(F.lit(1)).over(w_all)
    )
    scored = with_mean.withColumn(
        "__cusum", F.sum(F.col(value_col) - F.col("__mean")).over(w_run)
    )
    # argmax orders by the ROUNDED |CUSUM| so a cross-engine last-ulp
    # difference can never flip the winner; exact ties break by day
    pick = Window.partitionBy(key).orderBy(
        F.round(F.abs(F.col("__cusum")), 6).desc(), F.col(date_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            key,
            F.col(date_col).alias("changepoint"),
            F.round(F.abs(F.col("__cusum")), 6).alias("max_abs_cusum"),
        )
    )


def touch_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    conversion: str,
    tiebreak: str,
) -> DataFrame:
    """First-touch / last-touch attribution: every conversion event is
    credited to (a) the FIRST and (b) the MOST RECENT non-conversion
    event strictly before it in the user's timeline — the marketing
    attribution the funnel family stops short of. Returns the
    conversion rows with ``first_touch`` / ``last_touch`` columns
    (NULL when the conversion has no prior touch).

    Both carries are IGNORE-NULLS first/last over the SAME
    user-partitioned, time-ordered window with a
    [unbounded, 1 preceding] frame — one exchange, one sort, two frame
    scans; nothing joins and nothing is quadratic in session length.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col(type_col) != conversion, F.col(type_col))
    return (
        events.withColumn("first_touch", F.first(touch, ignorenulls=True).over(w))
        .withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col(type_col) == conversion)
        .drop(type_col)
    )


def running_balance_runout(
    flows: DataFrame,
    key: str,
    ts_col: str,
    delta_col: Column,
    opening: Column,
    tiebreaks: list[Column],
) -> DataFrame:
    """Stockout detection over an integer flow ledger: per key, apply
    signed movements in time order to an opening balance and report the
    minimum balance reached, the first time it goes negative (NULL if
    never), and the closing balance — the inventory-cover audit.

    All balances are exact integers accumulated over an ORDER BY
    window, so every value is bit-exact across engines and run orders
    (no float discipline at all) — PROVIDED the ordering is total.
    ``tiebreaks`` must pin every non-identical row pair (include the
    delta itself when business keys can repeat: two literally identical
    rows commute through the running sum, so only differing rows need
    an order). The closing balance is opening + Σdelta — a pure
    aggregate, never an argmax over possibly-tied sort keys. One
    key-partitioned exchange shared by the running sum and the per-key
    reduction.
    """
    w_run = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col).asc(), *[t.asc() for t in tiebreaks])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = opening.cast("long") + F.sum(delta_col.cast("long")).over(w_run)
    scored = flows.withColumn("__bal", bal).withColumn("__open", opening.cast("long")).withColumn(
        "__delta", delta_col.cast("long")
    )
    return scored.groupBy(key).agg(
        F.min("__bal").alias("min_balance"),
        F.min(F.when(F.col("__bal") < 0, F.col(ts_col))).alias("first_stockout"),
        (F.min("__open") + F.sum("__delta")).alias("closing_balance"),
    )


def peak_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    id_col: str,
    bucket_of,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Maximum number of simultaneously-open intervals, reported per
    calendar bucket — the sweep-line rendering of "how many orders were
    in flight at once this month".

    Each interval becomes two signed boundary events (+1 at start, -1
    the day AFTER end — closed-interval semantics), the global running
    sum over the boundary timeline is the live concurrency, and the
    per-bucket max of that running sum is the peak. The running sum is
    exact-integer over a TOTAL order (date, delta, id): processing a
    same-day close (delta -1) before a same-day open is the
    conservative tie rule, and the id pins identical (date, delta)
    pairs — bit-exact on any engine with the same ORDER BY.

    The global ordered sum uses the range-partitioned two-phase
    primitive (no single-partition WindowExec), so the plan scales:
    boundary events are 2x the interval count, range-partitioned by
    date — at 1000 executors each partition sweeps its own date range
    and only the per-partition offsets (one row each) hit the driver.

    ``bucket_of`` maps the sweep date column to its reporting bucket
    (e.g. month start). The reported figure is the peak at boundary
    instants falling in the bucket — a bucket with zero boundary
    events (impossible for daily sales data) would not inherit the
    carried-over level.
    """
    opens = intervals.select(
        F.col(start_col).alias("__d"),
        F.lit(1).cast("long").alias("__delta"),
        F.col(id_col).alias("__id"),
    )
    closes = intervals.select(
        F.date_add(F.col(end_col), 1).alias("__d"),
        F.lit(-1).cast("long").alias("__delta"),
        F.col(id_col).alias("__id"),
    )
    events = opens.unionByName(closes)
    swept, _total = two_phase_running_sum(
        events,
        order_by=[F.col("__d").asc(), F.col("__delta").asc(), F.col("__id").asc()],
        value=F.col("__delta"),
        out_col="__live",
    )
    return (
        swept.withColumn(bucket_name, bucket_of(F.col("__d")))
        .groupBy(bucket_name)
        .agg(F.max("__live").alias("peak_concurrent"))
    )


def topk_diverse(
    df: DataFrame,
    group_col: str,
    subcat_col: str,
    key_col: str,
    score: Column,
    k: int = 5,
    per_subcat: int = 2,
) -> DataFrame:
    """Diversity-constrained top-k per group: the k highest-scoring
    rows subject to AT MOST ``per_subcat`` rows from any one
    subcategory — the recommendation-surface rule ("top sellers, but
    never three from the same brand") that a plain window rank cannot
    express alone.

    TWO stacked window ranks sharing deterministic (score desc, key
    asc) order: rank within (group, subcat) filters the subcategory
    quota FIRST, then rank within group takes the global top-k of the
    survivors. Both windows are key-partitioned (group grain), both
    compile onto the same exchange when Catalyst can prove the
    partitioning compatible; output is (group, rank) grain.
    """
    w_sub = Window.partitionBy(group_col, subcat_col).orderBy(
        score.desc(), F.col(key_col).asc()
    )
    w_grp = Window.partitionBy(group_col).orderBy(score.desc(), F.col(key_col).asc())
    return (
        df.withColumn("__score", score)
        .withColumn("__sr", F.row_number().over(w_sub))
        .filter(F.col("__sr") <= per_subcat)
        .withColumn("rank", F.row_number().over(w_grp))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            F.col("rank").cast("long").alias("rank"),
            key_col,
            subcat_col,
            F.col("__score").alias("score"),
        )
    )
