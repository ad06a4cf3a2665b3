"""Aggregation recipes (SURVEY §2.E).

Every aggregate here is a plain ``groupBy().agg()`` — Spark gives
partial (map-side) + final hash aggregation automatically, which is the
scale story: pre-aggregation happens before the shuffle, so the
exchange carries one row per (partition, key), not per input row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 20,
    min_pair_count: int = 2,
) -> DataFrame:
    """Directional association rules A -> B over co-purchase baskets
    with support / confidence / lift — the step past basket-pair
    counting that turns co-occurrence into a recommendation signal.

    Plan shape: the deduped (basket, item) relation is deliberately
    NOT materialized — only the two SMALL reductions are (item
    supports, mirrored pair counts). Measured at a 30x sf0.1 replica
    (18M items): eagerly checkpointing the full relation made run 2
    in the same session 1.5x SLOWER than run 1 (28.7 -> 44.3 s;
    lingering block-manager storage from the previous checkpoint),
    while recomputing the distinct per consumer holds steady
    (33.3 -> 25.8 s) — caching a fact-sized relation is the wrong
    trade; caching its aggregates is the right one. The pair count is
    the ORDER-LOCAL self-join (shuffle on the basket key, cost
    Σ|basket|², never |items|²); item supports BROADCAST onto the pair
    relation twice (antecedent and consequent sides). Ratios divide
    exact integer counts once, so the doubles are bit-identical across
    engines; top-k by lift compiles to TakeOrderedAndProject with a
    full deterministic tie-break.
    """
    items = baskets.select(basket_col, item_col).distinct()
    n_baskets = items.select(basket_col).distinct().count()
    item_cnt = (
        items.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()  # item-grain; consumed by both rule sides (lazy pin)
    )
    a = items.select(basket_col, F.col(item_col).alias("ante"))
    b = items.select(basket_col, F.col(item_col).alias("cons"))
    # count each unordered pair ONCE (a < b) and mirror the aggregated
    # counts afterwards — the co-occurrence count is symmetric, so this
    # halves the rows through the heaviest shuffle (the pair aggregate)
    half = (
        a.join(b, basket_col)
        .filter(F.col("ante") < F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_count)
        # consumed twice (identity + mirror): lazy pin so the
        # Σ|basket|² aggregate runs once and in the SAME job
        .persist()
    )
    pairs = half.unionByName(
        half.select(
            F.col("cons").alias("ante"), F.col("ante").alias("cons"), "pair_n"
        )
    )
    ante_cnt = item_cnt.select(F.col(item_col).alias("ante"), F.col("__cnt").alias("ante_n"))
    cons_cnt = item_cnt.select(F.col(item_col).alias("cons"), F.col("__cnt").alias("cons_n"))
    return (
        pairs.join(F.broadcast(ante_cnt), "ante")
        .join(F.broadcast(cons_cnt), "cons")
        .select(
            "ante",
            "cons",
            "pair_n",
            F.round(F.col("pair_n") / F.lit(float(n_baskets)), 6).alias("support"),
            F.round(F.col("pair_n") / F.col("ante_n"), 6).alias("confidence"),
            F.round(
                (F.col("pair_n") * F.lit(float(n_baskets))) / (F.col("ante_n") * F.col("cons_n")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("ante").asc(), F.col("cons").asc())
        .limit(k)
    )


def seasonal_index(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    anomaly_threshold: float = 0.25,
) -> DataFrame:
    """Day-of-week seasonal profile per group: ISO weekday event share
    against a flat 1/7 baseline (index 1.0 = no weekly seasonality),
    flagging weekdays whose index deviates beyond the threshold — the
    pre-forecast seasonality audit.

    ISO weekday (Mon=1..Sun=7) is derived portably from the engine's
    Sunday-first ``dayofweek`` so the oracle can use ``isodow``
    directly. One hash aggregate to the (group, dow) grain — 7 rows
    per group — then a group-partitioned total on the reduced relation;
    the index divides exact integer counts once.
    """
    isodow = ((F.dayofweek(F.col(ts_col)) + F.lit(5)) % F.lit(7) + F.lit(1)).cast("int")
    by_dow = (
        df.select(F.col(group_col), isodow.alias("iso_dow"))
        .groupBy(group_col, "iso_dow")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    total = F.sum("n").over(Window.partitionBy(group_col))
    idx = (F.col("n") * F.lit(7.0)) / total
    return by_dow.select(
        group_col,
        "iso_dow",
        "n",
        F.round(idx, 6).alias("seasonal_index"),
        (F.abs(idx - F.lit(1.0)) > F.lit(anomaly_threshold)).alias("is_anomalous"),
    )


def ols_slope_exact(
    df: DataFrame,
    key: str,
    x_int: Column,
    y_int: Column,
    min_n: int = 5,
) -> DataFrame:
    """Per-group simple-OLS slope/intercept from EXACT integer moment
    sums: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) where x and y arrive
    pre-scaled to integer units, so every accumulated moment is a
    bigint — order-free, overflow-bounded (cents ~1e7, group n ~1e3 →
    nΣx² ~1e20 is the ceiling; rescale x to coarser units before the
    sum when groups are larger) — and the one float division happens
    after aggregation, making the statistic bit-identical across
    engines and run orders. One hash aggregate; no window, no sort.

    The econometrics this feeds (price-elasticity screening) is why a
    sales engine wants regression as an AGGREGATE, not a driver-side
    fit: 100 TB of line items reduce to four moments per key.
    """
    xx = x_int.cast("long")
    yy = y_int.cast("long")
    m = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xx).alias("sx"),
        F.sum(yy).alias("sy"),
        F.sum(xx * yy).alias("sxy"),
        F.sum(xx * xx).alias("sxx"),
    ).filter(F.col("n") >= min_n)
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.filter(det != 0).select(
        key,
        "n",
        F.round(slope, 8).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    value_cents: Column,
) -> DataFrame:
    """Per-group Gini coefficient of value concentration across units
    (which customers carry each segment's revenue): with per-unit
    totals x sorted ascending and ranked i=1..n,
    G = (2Σi·x_i − (n+1)Σx_i) / (nΣx_i). Every sum is an exact bigint
    (rank × cents), so the only float op is the final division —
    engine- and order-portable by construction. Ranking partitions by
    the group (a partition-spec'd window, never a global sort) with a
    deterministic (value, unit) tie-break.
    """
    from pyspark.sql import Window

    per_unit = df.groupBy(group_col, unit_col).agg(
        F.sum(value_cents.cast("long")).alias("cents")
    )
    w = Window.partitionBy(group_col).orderBy(F.col("cents").asc(), F.col(unit_col).asc())
    ranked = per_unit.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum("cents").alias("total_cents"),
            F.sum(F.col("i") * F.col("cents")).alias("swx"),
        )
        .select(
            group_col,
            "n_units",
            "total_cents",
            F.round(
                (2 * F.col("swx") - (F.col("n_units") + 1) * F.col("total_cents"))
                / (F.col("n_units") * F.col("total_cents")),
                6,
            ).alias("gini"),
        )
    )


def variability_classes(
    df: DataFrame,
    key: str,
    period_col: Column,
    qty_int: Column,
    min_periods: int = 3,
    x_cut: float = 0.5,
    y_cut: float = 1.0,
) -> DataFrame:
    """XYZ demand-variability classification (the companion of ABC/
    Pareto revenue classes): per key, the coefficient of variation of
    per-period demand — cv = σ/μ with the SAMPLE variance taken from
    exact integer moments, var = (nΣx² − (Σx)²) / (n(n−1)) — and the
    X (<x_cut) / Y (<y_cut) / Z class cut on the ROUNDED cv so the
    class boundary is engine-exact. Observed periods only (a key
    absent from a period contributes no zero row; densify through
    ``windows.gapfill_locf`` first when calendar-complete variability
    is wanted — the trade is documented, not hidden).

    Two hash aggregates (demand to the (key, period) grain, then
    moments to the key grain) and nothing else — μ and σ of 100 TB of
    movements are three bigints per key. sqrt is IEEE
    correctly-rounded, hence portable.
    """
    demand = df.groupBy(key, period_col.alias("__p")).agg(
        F.sum(qty_int.cast("long")).alias("x")
    )
    m = demand.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).filter((F.col("n_periods") >= min_periods) & (F.col("sx") > 0))
    n = F.col("n_periods")
    var = (n * F.col("sxx") - F.col("sx") * F.col("sx")) / (n * (n - 1))
    cv = F.round(F.sqrt(var) / (F.col("sx") / n), 6)
    return m.select(
        key,
        "n_periods",
        F.col("sx").alias("total_qty"),
        cv.alias("cv"),
        F.when(cv < x_cut, F.lit("X")).when(cv < y_cut, F.lit("Y")).otherwise(F.lit("Z")).alias("xyz_class"),
    )


def safety_stock(
    demand: DataFrame,
    key: str,
    qty_int: Column,
    lead_days: int = 7,
    z_service: float = 1.65,
    min_days: int = 20,
) -> DataFrame:
    """Per-key reorder point from daily-demand variability:
    ROP = mean_daily * L + z * std_daily * sqrt(L) — the classic
    safety-stock formula at a z-quantile service level over a fixed
    replenishment lead time.

    Same moment discipline as :func:`ols_slope_exact`: the caller
    passes integer daily demand, the aggregate accumulates exact
    bigint moments (n, Σx, Σx²), and mean / sample-std / ROP are
    post-aggregation float expressions rounded to 6 dp — one hash
    aggregate over the demand-day relation, order-portable, and at
    100 TB the whole corpus reduces to three moments per key.

    Demand-day basis: days with no sales simply have no row, so the
    statistics describe variability across ACTIVE days (stated, not
    hidden — zero-filling the calendar is gapfill_locf's job if a
    caller wants the other basis).
    """
    x = qty_int.cast("long")
    m = (
        demand.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(x).alias("__sx"),
            F.sum(x * x).alias("__sxx"),
        )
        .filter(F.col("n_days") >= min_days)
    )
    n = F.col("n_days").cast("double")
    mean = F.col("__sx") / n
    var = (F.col("n_days") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    ) / (n * (n - 1.0))
    std = F.sqrt(var)
    rop = mean * lead_days + z_service * std * F.sqrt(F.lit(float(lead_days)))
    return m.select(
        key,
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(std, 6).alias("std_daily"),
        F.round(rop, 6).alias("reorder_point"),
    )


# largest |value| whose square still fits int64: floor(sqrt(2^63-1))
_PEARSON_LONG_BOUND = 3_037_000_499


def pearson_exact(
    df: DataFrame, cols: dict[str, Column], max_abs: int | None = None
) -> DataFrame:
    """Pairwise Pearson correlation matrix over INTEGER-VALUED measure
    expressions, engine-portable by construction: every moment (n, Σx,
    Σx², Σxy) accumulates as DECIMAL(38,0) — exact integer arithmetic,
    no float-summation order anywhere — and the correlation is formed
    by ONE float expression over those exact moments (each decimal →
    double cast is correctly rounded, so both engines compute the same
    IEEE value). The builtin ``corr`` is a float aggregate whose last
    ulp depends on partition order; this is the profiling-grade
    replacement (data-quality audits before feature selection).

    Complete-case analysis (ADVICE r8) is implemented as a precomputed
    per-row flag gating every aggregate slot (sum(when(flag, m))) —
    NOT a pre-filter: Catalyst pushes a filter on computed measures
    below the projection, re-evaluating each cast per predicate per
    row (the r9 measure_correlations regression; flag-gating measured
    1.33 s vs 1.80 s filtered at sf0.1).

    ``max_abs``: optional caller-asserted bound on |measure value|.
    When given and ≤ 3_037_000_499 (the largest long whose square fits
    int64), per-row products multiply in LONG and only the sum widens
    to decimal(38,0) — 1.75x faster than decimal(18,0) products, which
    leave the JVM's fast 64-bit decimal path the moment a product
    needs 37 digits. The bound is ENFORCED fail-stop: max(|m|) rides
    the same aggregate and an assert_true in the output projection
    raises if the data ever exceeds the asserted bound (results that
    might contain a silent int64 multiply wrap are never emitted).

    Plan: ONE full-scan hash aggregate producing all moments in a
    single row (map-side partials, nothing wide shuffles), then the
    pair matrix unfolds from literals — upper triangle only, one row
    per (x, y) pair with n and rounded r.
    """
    names = list(cols)
    if len(names) < 2:
        # no pairs to correlate — empty result with the contract
        # schema (an explode of a zero-struct array would type as
        # VOID and fail analysis)
        return df.sparkSession.createDataFrame(
            [], "measure_x string, measure_y string, n long, r double"
        )
    fast = max_abs is not None and int(max_abs) <= _PEARSON_LONG_BOUND
    # BOTH paths quantize through decimal(18,0) (self-review r10): a
    # direct long cast TRUNCATES toward zero while decimal rounds
    # HALF_UP, so a caller passing a fractional expression would get
    # silently different moments between the two paths; routing the
    # fast path through decimal first keeps fast == exact bit-for-bit
    # for any input.
    def in_cast(expr: Column) -> Column:
        dec18 = expr.cast("decimal(18,0)")
        return dec18.cast("long") if fast else dec18

    proj = df.select(*[in_cast(expr).alias(f"__m_{n}") for n, expr in cols.items()])
    flag = F.lit(True)
    for n_ in names:
        flag = flag & F.col(f"__m_{n_}").isNotNull()

    def g(c: Column) -> Column:
        return F.sum(F.when(flag, c.cast("decimal(38,0)") if fast else c))

    aggs = [F.sum(F.when(flag, 1).otherwise(0)).cast("decimal(38,0)").alias("__n")]
    for name in names:
        m = F.col(f"__m_{name}")
        aggs.append(g(m).alias(f"__s_{name}"))
        aggs.append(g(m * m).alias(f"__q_{name}"))
    for i, x in enumerate(names):
        for y in names[i + 1 :]:
            aggs.append(g(F.col(f"__m_{x}") * F.col(f"__m_{y}")).alias(f"__p_{x}_{y}"))
    if fast:
        # flag-gated like every other slot (self-review r10): a row
        # excluded by the complete-case screen contributes to no
        # moment, so it must not be able to trip the bound refusal;
        # greatest() needs >= 2 columns — single-measure calls use abs
        abss = [F.abs(F.col(f"__m_{n_}")) for n_ in names]
        mx_expr = abss[0] if len(abss) == 1 else F.greatest(*abss)
        aggs.append(F.max(F.when(flag, mx_expr)).alias("__mx"))
    one = proj.agg(*aggs)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rows = []
    for i, x in enumerate(names):
        for y in names[i + 1 :]:
            cov = d("__n") * d(f"__p_{x}_{y}") - d(f"__s_{x}") * d(f"__s_{y}")
            vx = d("__n") * d(f"__q_{x}") - d(f"__s_{x}") * d(f"__s_{x}")
            vy = d("__n") * d(f"__q_{y}") - d(f"__s_{y}") * d(f"__s_{y}")
            rows.append(
                F.struct(
                    F.lit(x).alias("measure_x"),
                    F.lit(y).alias("measure_y"),
                    # ANSI-safe: a constant measure (zero variance) has
                    # no defined correlation — NULL, never DIVIDE_BY_ZERO
                    F.when(vx * vy > F.lit(0.0), F.round(cov / F.sqrt(vx * vy), 6)).alias("r"),
                )
            )
    n_out = F.col("__n").cast("long")
    if fast:
        # fail-stop bound check rides the output projection (the
        # edit_distance_join refusal discipline, zero extra pass):
        # assert_true returns NULL when the condition holds and raises
        # otherwise; referencing it in n keeps it from being pruned
        n_out = F.when(
            F.assert_true(
                F.coalesce(F.col("__mx"), F.lit(0)) <= F.lit(int(max_abs)),
                F.concat(
                    F.lit(
                        "pearson_exact: observed |measure| "
                    ),
                    F.col("__mx").cast("string"),
                    F.lit(
                        f" exceeds the asserted max_abs={int(max_abs)}; long "
                        "products may have wrapped — rerun without max_abs "
                        "for the exact decimal path"
                    ),
                ),
            ).isNull(),
            n_out,
        )
    return one.select(
        n_out.alias("n"), F.explode(F.array(*rows)).alias("__e")
    ).select("__e.measure_x", "__e.measure_y", "n", "__e.r")


def monetary_unit_sample(
    df: DataFrame,
    order_by: list["F.Column"],
    amount_cents: "F.Column",
    n_picks: int = 200,
) -> DataFrame:
    """Monetary-unit (PPS systematic) audit sampling: order the
    population deterministically, lay the exact integer amounts end
    to end, and select every row whose cumulative range crosses a
    sampling-interval boundary (interval = total // n_picks) — each
    row's selection probability is proportional to its monetary
    value, the auditor's standard high-value-coverage sample, fully
    deterministic and engine-exact (pure integer arithmetic, no RNG).

    The global cumulative sum uses the two-phase running-sum (range
    shuffle + partition-local window + broadcast offsets — no
    single-partition WindowExec), so the plan scales like a sort, not
    a funnel. Rows with non-positive amounts can never cross a
    boundary and are excluded up front.
    """
    from . import windows as _windows

    base = df.select(
        *[c.alias(f"__o{i}") for i, c in enumerate(order_by)],
        amount_cents.cast("long").alias("cents"),
    ).filter(F.col("cents") > 0)
    cum, total = _windows.two_phase_running_sum(
        base, [F.col(f"__o{i}").asc() for i in range(len(order_by))], "cents", "cum"
    )
    interval = max(int(total) // int(n_picks), 1)
    picked = cum.filter(
        F.expr(f"(cum - cents) div {interval}") < F.expr(f"cum div {interval}")
    )
    return picked.select(
        *[F.col(f"__o{i}").alias(f"k{i}") for i in range(len(order_by))],
        "cents",
        F.col("cum").cast("long").alias("cum"),
    )


def ols_two_feature_exact(
    df: DataFrame,
    key: str | list[str],
    x1_int: Column,
    x2_int: Column,
    y_int: Column,
    min_n: int = 5,
) -> DataFrame:
    """Per-group TWO-regressor OLS (with intercept) from exact integer
    moments — the multivariate extension of ols_slope_exact: all nine
    moments (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y)
    accumulate as decimal(38,0) over decimal(18,0) inputs (products
    stay in decimal(37,0) — no precision loss, no float order), and
    the centered 2x2 normal equations solve in ONE float expression
    per coefficient:

        A11 = nΣx1² − (Σx1)²   A12 = nΣx1x2 − Σx1Σx2
        A22 = nΣx2² − (Σx2)²   b1 = nΣx1y − Σx1Σy   b2 = nΣx2y − Σx2Σy
        β1 = (A22·b1 − A12·b2) / det,  β2 = (A11·b2 − A12·b1) / det,
        det = A11·A22 − A12²

    Groups with det == 0 (collinear or constant regressors) or n <
    min_n are dropped rather than emitting NaN/Inf. One hash
    aggregate; 100 TB reduces to nine moments per key — regression as
    an AGGREGATE, never a driver-side fit.
    """
    keys = [key] if isinstance(key, str) else list(key)
    dec = lambda c: c.cast("decimal(18,0)")  # noqa: E731
    x1, x2, y = dec(x1_int), dec(x2_int), dec(y_int)
    m = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(x1).alias("__s1"),
        F.sum(x2).alias("__s2"),
        F.sum(y).alias("__sy"),
        F.sum(x1 * x1).alias("__s11"),
        F.sum(x2 * x2).alias("__s22"),
        F.sum(x1 * x2).alias("__s12"),
        F.sum(x1 * y).alias("__s1y"),
        F.sum(x2 * y).alias("__s2y"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    a11 = d("__n") * d("__s11") - d("__s1") * d("__s1")
    a22 = d("__n") * d("__s22") - d("__s2") * d("__s2")
    a12 = d("__n") * d("__s12") - d("__s1") * d("__s2")
    b1 = d("__n") * d("__s1y") - d("__s1") * d("__sy")
    b2 = d("__n") * d("__s2y") - d("__s2") * d("__sy")
    det = a11 * a22 - a12 * a12
    return (
        m.filter((F.col("__n") >= min_n) & (det != 0.0))
        .select(
            *keys,
            F.col("__n").cast("long").alias("n"),
            F.round((a22 * b1 - a12 * b2) / det, 6).alias("beta1"),
            F.round((a11 * b2 - a12 * b1) / det, 6).alias("beta2"),
        )
    )


def quantile_disc_groups(
    df: DataFrame,
    group: str,
    value: "F.Column",
    qs_pct: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Per-group DISCRETE (type-1) quantiles of an integer measure —
    the smallest observed value v with cum_count(v) >= ⌈q·n⌉ — chosen
    over interpolated percentiles because the answer is an OBSERVED
    value and the definition is engine-exact (interpolation families
    differ across engines; this is pure integer arithmetic:
    threshold = (q·n + 99) div 100).

    Plan: reduce to (group, value) counts, ONE group-partitioned
    window accumulates the cumulative count (value-grain input), the
    tiny q-list explodes onto it, and a (group, q) min picks each
    quantile. No sort wider than the per-group value grain, no
    approximate sketches.
    """
    from pyspark.sql import Window

    counts = df.select(F.col(group), value.cast("long").alias("v")).groupBy(
        group, "v"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(group).orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(group)
    cum = counts.select(
        group,
        "v",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(wall).alias("n_tot"),
    )
    qlist = F.explode(F.array(*[F.lit(int(q)) for q in qs_pct])).alias("q_pct")
    hits = cum.select(group, "v", "cum", "n_tot", qlist).filter(
        F.col("cum") >= F.expr("(q_pct * n_tot + 99) div 100")
    )
    return hits.groupBy(group, "q_pct").agg(F.min("v").cast("long").alias("v"))


def hierarchy_shares(
    df: DataFrame,
    levels: list[str],
    amount_cents: "F.Column",
) -> DataFrame:
    """Share-of-parent rollup down a dimension hierarchy (e.g. region
    → nation): one row per node at every level with its exact cents
    and its share of the PARENT node (the root's parent is the grand
    total) — the drill-down tree a BI surface renders, engine-exact:
    integer cents everywhere, each share ONE division.

    One hash aggregate at the leaf grain, then each ancestor level
    reduces FROM the level below (never a second fact scan); parent
    totals broadcast back. Output is hierarchy-grain — KB at any
    input scale.
    """
    leaf = df.groupBy(*levels).agg(F.sum(amount_cents).cast("long").alias("cents"))
    out = None
    child = leaf
    for i in range(len(levels), 0, -1):
        keys = levels[:i]
        node = (
            child.groupBy(*keys).agg(F.sum("cents").cast("long").alias("cents"))
            if i < len(levels)
            else leaf
        )
        if i == 1:
            parent = node.agg(F.sum("cents").cast("long").alias("__pc"))
            joined = node.crossJoin(F.broadcast(parent))
            parent_name = F.lit("<total>")
        else:
            parent = node.groupBy(*keys[:-1]).agg(
                F.sum("cents").cast("long").alias("__pc")
            )
            joined = node.join(F.broadcast(parent), keys[:-1])
            parent_name = F.col(keys[-2])
        lvl = joined.select(
            F.lit(i).cast("int").alias("level"),
            F.col(keys[-1]).alias("node"),
            parent_name.alias("parent"),
            "cents",
            F.round(F.col("cents") / F.col("__pc"), 6).alias("share_of_parent"),
        )
        out = lvl if out is None else out.unionByName(lvl)
        child = node
    return out


def target_encode_loo(
    df: DataFrame, key_col: str, value_col: str, out_col: str = "loo_mean"
) -> DataFrame:
    """Leave-one-out target encoding: each row's ``out_col`` is the
    mean of ``value_col`` over all OTHER rows sharing its
    ``key_col`` — the standard leakage-free categorical encoder for
    model features (a row never sees its own target).

    ``value_col`` must be an exact integer grain (cents,
    micro-units): the numerator ``sum - own`` stays exact in int64
    and the single double division is shared verbatim with the SQL
    twin. A fail-stop ``assert_true`` refuses null/fractional inputs
    rather than silently truncating (the two_phase_running_sum rule).
    Keys with a single row encode as NULL (no leave-one-out mean
    exists).

    Plan shape: ONE map-side-combined hash aggregate to key grain
    (|keys| rows), broadcast back over the fact — never a window
    over giant key partitions (a 100 TB fact with 5 segment keys
    would put ~20 TB in one window partition; the group-then-join
    plan shuffles only the key-grain relation).
    """
    v = F.col(value_col)
    guard = F.assert_true(
        v.isNotNull() & (v == F.floor(v)),
        F.lit(
            f"target_encode_loo: {value_col} must be a non-null exact"
            " integer grain (cents / micro-units) — round to an integer"
            " grain explicitly before encoding"
        ),
    )
    guarded = df.withColumn("__v", F.when(guard.isNull(), v).cast("long"))
    totals = guarded.groupBy(key_col).agg(
        F.sum("__v").alias("__tot"), F.count(F.lit(1)).alias("__nk")
    )
    return (
        guarded.join(F.broadcast(totals), key_col)
        .withColumn(
            out_col,
            F.when(
                F.col("__nk") > 1,
                (F.col("__tot") - F.col("__v")).cast("double")
                / (F.col("__nk") - 1).cast("double"),
            ),
        )
        .drop("__v", "__tot", "__nk")
    )


def spearman_exact(df: DataFrame, x_int: Column, y_int: Column) -> DataFrame:
    """Spearman rank correlation with EXACT tie-averaged ranks — the
    monotone-association companion to :func:`pearson_exact` (robust to
    outliers and nonlinearity: rho asks "do they move together", not
    "linearly").

    Ranks never rank ROWS: per distinct value the doubled midrank
    2·below + cnt + 1 is an exact integer (the mann_whitney trick),
    with below() from :func:`~.windows.two_phase_running_sum` over the
    distinct-VALUE grain — no single-partition window. The doubled
    midranks map back to rows by a value join, the six moments
    accumulate in decimal(38,0), and rho is ONE shared guarded float
    expression (the 2x scaling cancels in the correlation). Rows with
    a NULL on either side are dropped (complete-case). NULL rho for
    degenerate inputs (constant x or y, n < 2).

    Cost note: the projected input is evaluated three times (the two
    value-grain count aggregates + the map-back join) — inherent to
    ranking two independent domains and row-mapping both, and the
    assoc_rules doctrine says don't checkpoint a FACT-sized relation
    to save re-scans; pre-reduce upstream if the input is a join.
    """
    from .windows import two_phase_running_sum

    proj = df.select(
        x_int.cast("long").alias("__x"), y_int.cast("long").alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def midrank_map(col: str) -> DataFrame:
        per_v = proj.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        ranked, _ = two_phase_running_sum(
            per_v, [F.col(col).asc()], F.col("__c"), "__cum"
        )
        return ranked.select(
            col,
            (
                2 * (F.col("__cum") - F.col("__c")) + F.col("__c") + F.lit(1)
            ).alias(f"__mr{col}"),
        )

    j = (
        proj.join(midrank_map("__x"), "__x")
        .join(midrank_map("__y"), "__y")
        .select(
            F.col("__mr__x").cast("decimal(18,0)").alias("__rx"),
            F.col("__mr__y").cast("decimal(18,0)").alias("__ry"),
        )
    )
    rx, ry = F.col("__rx"), F.col("__ry")
    m = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(rx).alias("__sx"),
        F.sum(ry).alias("__sy"),
        F.sum(rx * rx).alias("__sxx"),
        F.sum(rx * ry).alias("__sxy"),
        F.sum(ry * ry).alias("__syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = d("__n")
    vx = n * d("__sxx") - d("__sx") * d("__sx")
    vy = n * d("__syy") - d("__sy") * d("__sy")
    cov = n * d("__sxy") - d("__sx") * d("__sy")
    return m.select(
        F.col("__n").cast("long").alias("n"),
        F.when(vx * vy > F.lit(0.0), F.round(cov / F.sqrt(vx * vy), 6)).alias(
            "spearman_rho"
        ),
    )


def market_concentration(
    df: DataFrame, group_cols: list[str], seller_col: str, value_int: Column
) -> DataFrame:
    """Per-group market concentration: the Herfindahl-Hirschman index
    HHI = Σ share² over sellers, plus the effective seller count
    1/HHI — the antitrust/assortment screen ("is this segment's
    revenue one supplier in a trench coat").

    Two stacked hash aggregates: unit grain → (group, seller) exact
    int64 value sums, then (group) grain folding Σs² in decimal(37,0)
    (decimal(18,0) factors — the exact-product rule) and Σs in int64.
    HHI is ONE shared float division ((Σs)² computed in doubles only
    at the end — it exceeds int64 while Σs itself is BOUND-CHECKED:
    total_value is emitted via decimal→long cast, which would yield
    NULL past ~9.2e18 in non-ANSI Spark while the oracle widens, so a
    fail-stop ``assert_true`` (the pearson_exact refusal discipline)
    rides the projection and raises instead of silently diverging.
    Groups with zero total emit NULL hhi.
    """
    per_seller = (
        df.select(*group_cols, F.col(seller_col).alias("__sel"), value_int.cast("long").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy(*group_cols, "__sel")
        .agg(F.sum("__v").cast("decimal(18,0)").alias("__s"))
    )
    g = per_seller.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_sellers"),
        F.sum(F.when(F.col("__s").isNull(), 1).otherwise(0)).alias("__novf"),
        F.sum("__s").cast("decimal(38,0)").alias("__tot"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ss2"),
    )
    tot = F.col("__tot").cast("double")
    hhi = F.col("__ss2").cast("double") / (tot * tot)
    # fail-stop: the decimal->long cast below NULLs past int64 in
    # non-ANSI Spark while the oracle widens; refuse loudly instead
    total_out = F.when(
        F.assert_true(
            F.col("__tot").isNull()
            | (F.col("__tot") <= F.lit(9223372036854775807).cast("decimal(38,0)")),
            F.concat(
                F.lit("market_concentration: group total "),
                F.col("__tot").cast("string"),
                F.lit(" exceeds int64; emit total_value as decimal instead"),
            ),
        ).isNull(),
        F.col("__tot").cast("long"),
    )
    # distinct fail-stop for PER-SELLER decimal(18) overflow (ADVICE
    # r13): sum() skips NULL __s, so an overflowed seller silently
    # vanishes from __tot/__ss2 (and an all-overflowed group emits
    # NULL) while the widening oracle keeps real values — refuse
    # loudly instead of diverging quietly
    sellers_out = F.when(
        F.assert_true(
            F.col("__novf") == 0,
            F.lit(
                "market_concentration: a per-seller value sum overflowed "
                "decimal(18,0) — widen value_int upstream"
            ),
        ).isNull(),
        F.col("n_sellers"),
    )
    return g.select(
        *group_cols,
        sellers_out.alias("n_sellers"),
        total_out.alias("total_value"),
        F.when(tot > F.lit(0.0), F.round(hhi, 6)).alias("hhi"),
        F.when(
            (tot > F.lit(0.0)) & (F.col("__ss2") > 0),
            F.round((tot * tot) / F.col("__ss2").cast("double"), 6),
        ).alias("effective_sellers"),
    )


def lorenz_deciles(
    df: DataFrame, id_col: str, value_int: Column, n_buckets: int = 10
) -> DataFrame:
    """Lorenz curve at decile grain: units ranked by their value total
    ascending, bucketed into exact ntiles, each decile reporting its
    value sum and the CUMULATIVE share — the distribution table behind
    a Gini number ("the top decile is 40% of revenue" reads off row
    10 minus row 9; the scalar Gini can't say where the skew lives).

    Unit totals reduce in one hash aggregate; the global rank runs
    two-phase + exact ntile (no single-task window); the cumulative
    share folds on the BUCKET-grain relation via a bounded BROADCAST
    triangular self-join (d2 <= d over n_buckets rows, broadcast hint so
    the plan is BroadcastNestedLoopJoin, never a CartesianProduct —
    never an unpartitioned ordered window, the fleet-guard rule). All sums exact int64; the
    share is one division, round-6.
    """
    from .windows import ntile_from_rank, two_phase_row_number

    per_id = (
        df.select(F.col(id_col).alias("__id"), value_int.cast("long").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy("__id")
        .agg(F.sum("__v").alias("__t"))
    )
    ranked, total = two_phase_row_number(
        per_id, [F.col("__t").asc(), F.col("__id").asc()], "__r"
    )
    dec = (
        ranked.select(
            ntile_from_rank(F.col("__r"), n_buckets, total).alias("decile"), "__t"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("__t").cast("long").alias("decile_value"),
        )
        .persist()  # decile-grain; three consumers (lazy pin)
    )
    tot = dec.agg(F.sum("decile_value").cast("long").alias("__tot"))
    older = dec.select(
        F.col("decile").alias("__d2"), F.col("decile_value").alias("__v2")
    )
    cum = (
        dec.join(F.broadcast(older), F.col("__d2") <= F.col("decile"))
        .groupBy("decile", "n_units", "decile_value")
        .agg(F.sum("__v2").cast("long").alias("__cum"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_units",
            "decile_value",
            F.col("__cum").alias("cum_value"),
            F.when(
                F.col("__tot") != 0,
                F.round(
                    F.col("__cum").cast("double") / F.col("__tot").cast("double"), 6
                ),
            ).alias("cum_share"),
        )
    )
