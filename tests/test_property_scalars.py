"""Property-based tests (hypothesis) for the quirky scalar semantics.

The reference's per-row Python (discount parsing, lenient dates, BRL
numbers) is the part most likely to drift in a reimplementation —
property tests pin the laws over the whole input space, not just the
golden rows. One Spark job per property: hypothesis generates a batch
of inputs, a single createDataFrame evaluates the expression on all of
them (per-example Spark jobs would take minutes).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from z316_sales_data_pipeline_spark.functions import scalar

_SETTINGS = dict(
    # each example is a BATCH of up to 300 inputs evaluated in one Spark
    # job — 15 examples ≈ 4500 inputs per law at ~0.3 s/job
    max_examples=15,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    deadline=None,
)


def _eval(spark, values, expr_builder, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {in_type}")
    return [r["out"] for r in df.select(expr_builder(F.col("v")).alias("out")).collect()]


@given(st.lists(st.text(max_size=24), min_size=1, max_size=300))
@settings(**_SETTINGS)
def test_lenient_date_never_null_on_nonnull(spark, texts):
    """F1 law: output is the reformatted date OR the input unchanged —
    never null for non-null input, never an exception."""
    outs = _eval(spark, texts, scalar.reformat_date_lenient)
    for inp, out in zip(texts, outs):
        assert out is not None
        if out != inp:  # it parsed: must be ISO yyyy-MM-dd
            assert len(out) == 10 and out[4] == "-" and out[7] == "-"


@given(
    st.lists(
        st.one_of(
            st.from_regex(r"[0-9]{1,6},[0-9]{1,4}", fullmatch=True),
            st.from_regex(r"[0-9]{1,6}\.[0-9]{1,4}", fullmatch=True),
            st.text(max_size=12),
        ),
        min_size=1,
        max_size=300,
    )
)
@settings(**_SETTINGS)
def test_brl_number_parse_law(spark, texts):
    """F4 law: comma-decimal strings parse like their dot twins;
    garbage -> null, never an exception (ANSI-safe try_cast)."""
    outs = _eval(spark, texts, scalar.parse_brl_number)
    for inp, out in zip(texts, outs):
        norm = inp.replace(",", ".", 1)
        try:
            want = float(norm)
            if norm.count(".") <= 1 and "," not in norm:
                assert out is not None and abs(out - want) < 1e-9
        except ValueError:
            pass  # unparseable either way; just must not throw


@given(
    st.lists(st.floats(min_value=0.01, max_value=1e6, allow_nan=False), min_size=1, max_size=300),
    st.integers(min_value=0, max_value=95),
)
@settings(**_SETTINGS)
def test_discount_parse_clamp_law(spark, totals, pct):
    """F5 laws: percent form scales the total; absolute form passes
    through; result is never negative (max(0, .) clamp) and garbage
    parses to 0.0 (sales_to_bq/main.py:120-132)."""
    rows = [(f"{pct}%", t) for t in totals] + [("-50,0", totals[0]), ("junk", totals[0])]
    df = sparkify(spark, rows)
    outs = [
        r["out"]
        for r in df.select(
            scalar.parse_discount(F.col("d"), F.col("t")).alias("out")
        ).collect()
    ]
    for (d, t), out in zip(rows, outs):
        assert out is not None and out >= 0.0
        if d.endswith("%"):
            assert abs(out - (pct / 100.0) * t) < 1e-6
        else:
            assert out == 0.0  # negative clamps to 0; junk parses to 0


def sparkify(spark, rows):
    return spark.createDataFrame(rows, "d string, t double")


@given(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=12), min_size=1, max_size=200),
    st.sampled_from(["aa", "ab", "ba", "bc", "ca"]),
)
@settings(**_SETTINGS)
def test_bpe_merge_fold_matches_reference(spark, words, pair):
    """The JVM-side greedy merge fold equals the classic left-to-right
    BPE apply scan for arbitrary words over a tiny alphabet (covers
    overlap chains like aaa/aaaa that break naive replace schemes)."""
    from z316_sales_data_pipeline_spark.operators.corpus import _merge_pair_fold
    from pyspark.sql import functions as F

    lhs, rhs = pair[0], pair[1]

    def ref(word: str) -> list[str]:
        out, pend = [], None
        for s in word:
            if pend is None:
                pend = s
            elif pend == lhs and s == rhs:
                out.append(lhs + rhs)
                pend = None
            else:
                out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        return out

    df = spark.createDataFrame([(w,) for w in words], "w string")
    outs = {
        r["w"]: r["m"]
        for r in df.select(
            "w", _merge_pair_fold(F.split("w", ""), lhs, rhs).alias("m")
        ).collect()
    }
    for w in words:
        assert outs[w] == ref(w), (w, lhs, rhs, outs[w], ref(w))


_HEAVY_SETTINGS = dict(
    # each example runs several Spark jobs (joins + windows), so the
    # example budget is smaller than the scalar laws'
    max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    deadline=None,
)


@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=2, max_size=8),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.5, 0.7, 0.8]),
)
@settings(**_HEAVY_SETTINGS)
def test_prefix_jaccard_join_lossless_property(spark, token_lists, threshold):
    """Prefix-filter losslessness LAW over random corpora: for any
    document set (including verbatim duplicates, subset relations and
    single-gram docs) and any threshold, the pruned dedupe-first join
    emits EXACTLY the brute-force pair set with exact intersection /
    union counts."""
    from itertools import combinations

    from z316_sales_data_pipeline_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.prefix_jaccard_join(df, "text", "doc_id", threshold, 2).collect()
    }

    def grams(toks):
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    t_num = int(round(threshold * 10))
    want = {}
    for (ia, ta), (ib, tb) in combinations(enumerate(token_lists), 2):
        ga, gb = grams(ta), grams(tb)
        if not ga or not gb:
            continue
        inter, union = len(ga & gb), len(ga | gb)
        if inter * 10 >= union * t_num:
            want[(ia, ib)] = (inter, union)
    assert got == want


@pytest.mark.parametrize("derive_watermarks", [False, True])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),    # key
            st.sampled_from(["a", "b", "c"]),          # attr
            st.integers(min_value=0, max_value=6),     # ts (day offset)
        ),
        min_size=1,
        max_size=16,
    ),
    st.integers(min_value=0, max_value=6),             # late-window split
)
@settings(**_HEAVY_SETTINGS)
def test_scd2_fold_or_repair_equals_recompute_property(spark, derive_watermarks, events, split):
    """SCD2 maintenance LAW over random event streams: for ANY
    partition of the stream into (prior, batch) — including batches
    that are entirely late, interleaved, or tie folded timestamps —
    fold_or_repair(history(prior), batch, prior) equals the full
    recompute bit-for-bit."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    rows = [
        (k, a, DT(2024, 1, 1 + t), i)  # unique eid = list position
        for i, (k, a, t) in enumerate(events)
    ]
    schema = "uid long, status string, ts timestamp, eid long"
    df = spark.createDataFrame(rows, schema)
    args = dict(key="uid", attr="status", ts="ts", tiebreak="eid")
    # the "batch" is the late window [split, split+2) arriving last
    lo, hi = DT(2024, 1, 1 + split), DT(2024, 1, 1 + min(split + 2, 7))
    batch = df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    prior = df.filter((F.col("ts") < lo) | (F.col("ts") >= hi))
    if prior.isEmpty() or batch.isEmpty():
        return  # degenerate partitions: nothing to fold
    hist = W.scd2_history(prior, carry_last=True, **args)
    merged = W.scd2_fold_or_repair(
        hist, batch, prior, derive_watermarks=derive_watermarks, **args
    )
    full = W.scd2_history(df, carry_last=True, **args)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in full.collect()}


@given(
    st.lists(  # snapshot rows: key -> (group, value); keys deduped below
        st.tuples(
            st.integers(min_value=1, max_value=8),          # key
            st.sampled_from(["g1", "g2", "g3"]),             # group
            st.integers(min_value=-50, max_value=50),        # measure
        ),
        min_size=0,
        max_size=12,
    ),
    st.lists(  # CDC feed: key, group, value, op, version (ties allowed)
        st.tuples(
            st.integers(min_value=1, max_value=10),
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(min_value=-50, max_value=50),
            st.sampled_from(["upsert", "delete"]),
            st.integers(min_value=1, max_value=3),
        ),
        min_size=1,
        max_size=16,
    ),
)
@settings(**_HEAVY_SETTINGS)
def test_ivm_agg_retract_equals_recompute_property(spark, snap_rows, feed):
    """Retractable-MV LAW (VERDICT r8 item 6) over random CDC feeds
    with deletes, re-inserts of absent keys, and version TIES: base ⊕
    agg(winners) ⊖ agg(touched snapshot rows) equals re-aggregating
    the applied snapshot bit-for-bit, with zero-count groups gone.
    The applied snapshot is computed via the SAME winner rule the
    operator shares with sinks.cdc_apply (version desc, delete beats
    upsert, lexicographic payload tiebreak)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import ivm

    dedup_snap = {}
    for k, g, v in snap_rows:
        dedup_snap[k] = (k, g, v)
    snap = spark.createDataFrame(
        list(dedup_snap.values()) or [(None, None, None)],
        "k long, g string, v long",
    ).filter(F.col("k").isNotNull())
    changes = spark.createDataFrame(
        [(k, g, v, op, ver) for k, g, v, op, ver in feed],
        "k long, g string, v long, op string, ver long",
    )
    base = snap.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").cast("long").alias("v_sum")
    )
    got = {
        (r["g"], r["n"], r["v_sum"])
        for r in ivm.retractable_agg_maintain(
            base, snap, changes, key="k", op_col="op", version_col="ver",
            group_col="g", measures={"v_sum": F.col("v")},
        ).collect()
    }
    applied = sinks.cdc_apply(snap, changes, "k", "op", "ver")
    want = {
        (r["g"], r["n"], r["v_sum"])
        for r in applied.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").cast("long").alias("v_sum"))
        .collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10),          # key
            st.sampled_from(["x", "y", None]),               # attr a
            st.integers(min_value=0, max_value=3),           # attr b
        ),
        min_size=0,
        max_size=12,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10),
            st.sampled_from(["x", "y", None]),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=0,
        max_size=12,
    ),
)
@settings(**_HEAVY_SETTINGS)
def test_snapshot_diff_round_trip_property(spark, old_rows, new_rows):
    """snapshot_diff round-trip LAW (VERDICT r8 item 6): applying the
    diff to ``old`` reproduces ``new`` exactly — removed keys drop,
    added/changed keys take their ``*_new`` values, untouched keys
    pass through — including NULL attr values (the diff's comparison
    is null-safe, so NULL→value is a change, not a match)."""
    from z316_sales_data_pipeline_spark.operators import ivm

    old_map = {k: (k, a, b) for k, a, b in old_rows}
    new_map = {k: (k, a, b) for k, a, b in new_rows}
    schema = "k long, a string, b long"
    old = spark.createDataFrame(
        list(old_map.values()) or [(None, None, None)], schema
    ).filter(F.col("k").isNotNull())
    new = spark.createDataFrame(
        list(new_map.values()) or [(None, None, None)], schema
    ).filter(F.col("k").isNotNull())

    diff = ivm.snapshot_diff(old, new, "k", ["a", "b"]).collect()
    rebuilt = dict(old_map)
    for r in diff:
        if r["change"] == "removed":
            rebuilt.pop(r["k"], None)
        else:  # added / changed
            rebuilt[r["k"]] = (r["k"], r["a_new"], r["b_new"])
    assert rebuilt == new_map


@given(
    st.lists(st.text(alphabet="ab", min_size=0, max_size=6), min_size=1, max_size=18),
    st.sampled_from([1, 2]),
)
@settings(**_HEAVY_SETTINGS)
def test_edit_distance_join_lossless_property(spark, strings, k):
    """FastSS losslessness LAW: over random strings (duplicates, empty
    strings, 1-char strings, a tiny alphabet maximizing collisions)
    and both supported k, the deletion-neighborhood candidate join +
    levenshtein verify emits EXACTLY the brute-force pair set with
    exact distances."""
    from itertools import combinations

    from z316_sales_data_pipeline_spark.operators import dedup

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame(list(enumerate(strings)), "id long, s string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.edit_distance_join(df, "s", "id", k=k).collect()
    }
    want = {
        (ia, ib): lev(sa, sb)
        for (ia, sa), (ib, sb) in combinations(enumerate(strings), 2)
        if lev(sa, sb) <= k
    }
    assert got == want


@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=8),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.5, 0.8, 1.0]),
)
@settings(**_HEAVY_SETTINGS)
def test_containment_join_lossless_property(spark, token_lists, threshold):
    """Containment-join LAW: for any corpus (duplicates, subsets,
    empty/short docs) and threshold, the dedupe-first shared-gram join
    emits EXACTLY the brute-force pair set with exact intersections
    and containments |∩|/min(|A|,|B|)."""
    from itertools import combinations

    from z316_sales_data_pipeline_spark.operators import dedup

    rows = [(i, " ".join(toks), "g") for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["containment"])
        for r in dedup.containment_join(
            df, "text", "doc_id", "lang", threshold, shingle_k=2
        ).collect()
    }

    def grams(toks):
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    t_num = int(round(threshold * 10))
    want = {}
    for (ia, ta), (ib, tb) in combinations(enumerate(token_lists), 2):
        ga, gb = grams(ta), grams(tb)
        if not ga or not gb:
            continue
        inter, mn = len(ga & gb), min(len(ga), len(gb))
        if 10 * inter >= t_num * mn:
            want[(ia, ib)] = (inter, round(inter / mn, 6))
    assert got == want


@given(
    st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=60),
)
@settings(**_HEAVY_SETTINGS)
def test_quantile_disc_groups_matches_type1_property(spark, values):
    """Type-1 quantile LAW over random multisets: v(q) equals the
    ceil(q*n)-th order statistic for every q in {50, 90, 99}."""
    import math

    from z316_sales_data_pipeline_spark.operators import aggregates

    df = spark.createDataFrame([("g", v) for v in values], "g string, v long")
    got = {r["q_pct"]: r["v"]
           for r in aggregates.quantile_disc_groups(df, "g", F.col("v"), (50, 90, 99)).collect()}
    srt = sorted(values)
    for q in (50, 90, 99):
        want = srt[math.ceil(q * len(srt) / 100) - 1]
        assert got[q] == want, (q, got[q], want, srt)


@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=8),
)
@settings(**_HEAVY_SETTINGS)
def test_interval_union_length_property(spark, offsets, dur):
    """Islands LAW: merged-interval count and coverage equal the
    brute-force union over random (duplicated, touching, nested)
    interval sets."""
    import datetime as dt

    from z316_sales_data_pipeline_spark.operators import timeseries

    base = dt.datetime(2024, 1, 1)
    rows = [("k", base + dt.timedelta(seconds=o)) for o in offsets]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    r = timeseries.interval_union_length(df, "user_id", "ts", duration_s=dur).collect()[0]

    ivals = sorted((o, o + dur) for o in offsets)
    islands, cover, cur_s, cur_e = 0, 0, None, None
    for s, e in ivals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                cover += cur_e - cur_s
            islands, cur_s, cur_e = islands + 1, s, e
        else:
            cur_e = max(cur_e, e)
    cover += cur_e - cur_s
    assert (r["n_islands"], r["active_micros"]) == (islands, cover * 1_000_000)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=1, max_value=12)),
        min_size=1,
        max_size=30,
    ),
)
@settings(**_HEAVY_SETTINGS)
def test_growth_accounting_property(spark, pairs):
    """Growth-accounting LAW over random (user, day) streams: the
    identity dau == new + retained + resurrected holds every day, and
    each class matches the brute-force per-user classification
    (churn on the day after every lapse, including the final one)."""
    import datetime as dt
    from collections import defaultdict

    from z316_sales_data_pipeline_spark.operators import timeseries

    rows = [(f"u{u}", dt.datetime(2024, 1, d)) for u, d in pairs]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {str(r["day"]): (r["dau"], r["n_new"], r["n_retained"],
                           r["n_resurrected"], r["n_churned"])
           for r in timeseries.growth_accounting(df, "user_id", "ts").collect()}

    days_by_user = defaultdict(set)
    for u, t in rows:
        days_by_user[u].add(t.date())
    expect = defaultdict(lambda: [0, 0, 0, 0, 0])  # dau,new,ret,res,churn
    for u, ds in days_by_user.items():
        sd = sorted(ds)
        for i, d in enumerate(sd):
            expect[d][0] += 1
            if i == 0:
                expect[d][1] += 1
            elif (d - sd[i - 1]).days == 1:
                expect[d][2] += 1
            else:
                expect[d][3] += 1
            nxt = sd[i + 1] if i + 1 < len(sd) else None
            if nxt is None or (nxt - d).days > 1:
                expect[d + dt.timedelta(days=1)][4] += 1
    want = {str(d): tuple(v) for d, v in expect.items()}
    assert got == want
    for dau, new, ret, res, _ in got.values():
        assert dau == new + ret + res


@given(
    st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=2, max_size=15),
    st.integers(min_value=2, max_value=4),
)
@settings(**_HEAVY_SETTINGS)
def test_sorted_neighborhood_property(spark, names, window):
    """Sorted-neighborhood LAW: the pair set equals the brute-force
    definition — global (name, id) sort, pairs within the next
    window-1 positions, levenshtein <= 2 — over random corpora with
    duplicate names."""
    from z316_sales_data_pipeline_spark.operators import dedup

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.sorted_neighborhood_pairs(
            df, F.col("name"), "id", window=window, max_dist=2
        ).collect()
    }
    order = sorted(range(len(names)), key=lambda i: (names[i], i))
    want = {}
    for p, i in enumerate(order):
        for q in range(p + 1, min(p + window, len(order))):
            j = order[q]
            d = lev(names[i], names[j])
            if d <= 2:
                want[(i, j)] = d
    assert got == want


@given(
    st.lists(st.integers(min_value=-50, max_value=50), min_size=2, max_size=25),
    st.lists(st.integers(min_value=-50, max_value=50), min_size=2, max_size=25),
)
@settings(**_HEAVY_SETTINGS)
def test_mann_whitney_matches_bruteforce(spark, xs, ys):
    """Mann-Whitney LAW: the distinct-value-grain midrank formulation
    (2x-scaled integer ranks, two-phase cumulative below-count) equals
    the textbook row-grain computation — U_a counted directly as
    #\\{(a, b): a > b\\} + #ties/2, over adversarial tie-heavy data."""
    from z316_sales_data_pipeline_spark.operators import experiment

    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "g string, v long")
    got = experiment.mann_whitney_u(df, "g", "a", "b", F.col("v")).collect()[0]
    u_x2 = sum(
        2 if a > b else (1 if a == b else 0) for a in xs for b in ys
    )
    assert (got["n_a"], got["n_b"], got["u_a_x2"]) == (len(xs), len(ys), u_x2)
    assert abs(got["rank_biserial"] - (1.0 - u_x2 / (len(xs) * len(ys)))) < 1e-12


def test_cuped_matches_numpy(spark):
    """CUPED moments vs numpy: theta = cov/var_x (population), std_y,
    and the variance-reduction ratio rho^2 agree with float reference
    values to 1e-9 relative (the exact-decimal moments remove any
    accumulation-order slack)."""
    import numpy as np

    from z316_sales_data_pipeline_spark.operators import experiment

    rng_x = [3, 14, 15, 92, 65, 35, 89, 79, 32, 38]
    rng_y = [27, 18, 28, 182, 84, 59, 141, 123, 56, 64]
    df = spark.createDataFrame(list(zip(rng_x, rng_y)), "x long, y long")
    got = experiment.cuped(df, F.col("x"), F.col("y")).collect()[0]
    x, y = np.array(rng_x, float), np.array(rng_y, float)
    cov = ((x - x.mean()) * (y - y.mean())).mean()
    assert got["n"] == 10
    assert abs(got["theta"] - cov / x.var()) < 1e-9 * abs(cov / x.var())
    assert abs(got["std_y"] - y.std()) < 1e-9 * y.std()
    rho2 = cov * cov / (x.var() * y.var())
    assert abs(got["var_reduction"] - rho2) < 1e-9 * rho2


def test_order_totals_reconcile_known(spark):
    """Pinned reconcile semantics: an exactly-matching order, a
    10-cent-off order, and a header with NO lines (full header total
    counted as discrepancy) land in the right buckets."""
    from z316_sales_data_pipeline_spark.operators import quality

    orders = spark.createDataFrame(
        [(1, "F", 110.0), (2, "F", 50.0), (3, "O", 20.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    li = spark.createDataFrame(
        [
            (1, 100.0, 0.0, 0.10),  # charge 110.00 — exact
            (2, 50.1, 0.0, 0.0),    # charge 50.10 — off by 10 cents
        ],
        "l_orderkey long, l_extendedprice double, l_discount double, l_tax double",
    )
    got = {
        r["o_orderstatus"]: (r["n_orders"], r["n_exact"], r["max_abs_diff_micro"], r["total_abs_diff_micro"])
        for r in quality.order_totals_reconcile(orders, li).collect()
    }
    assert got == {"F": (2, 1, 100_000, 100_000), "O": (1, 0, 20_000_000, 20_000_000)}


def test_ab_readout_preserves_overall_mean(spark):
    """CUPED-adjustment LAW: because the adjustment is mean-centered
    on the pooled covariate, the unit-weighted average of the
    adjusted arm means equals the raw overall mean of y exactly
    (Σ nₐ·mean_adjₐ = Σy) — and theta matches cuped()'s on the same
    frame."""
    from z316_sales_data_pipeline_spark.operators import experiment

    rows = [(i, (i * 7) % 23, (i * 7) % 23 * 3 + (i % 5)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "uid long, x long, y long")
    out = experiment.ab_readout(df, F.col("x"), F.col("y"), "uid").collect()
    total_y = sum(r[2] for r in rows)
    n_total = len(rows)
    weighted = sum(r["n"] * r["mean_y_cuped"] for r in out)
    assert abs(weighted - total_y) < 1e-6 * total_y
    assert sum(r["n"] for r in out) == n_total


@given(
    st.lists(
        st.one_of(st.none(), st.text(alphabet="ab \t\n", min_size=0, max_size=30)),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([1, 2, 3, 4]),
)
@settings(**_SETTINGS)
def test_shingles_zipwith_equals_index_reference(spark, texts, k):
    """shingles() LAW (r10 zip_with rewrite; NULL case ADVICE r11):
    for random whitespace-heavy text — including NULL — and every
    supported k, the zip_with chain emits exactly the index-based
    reference — Python-side reference: space-joined k-grams of the
    normalized token list, empty when fewer than k tokens AND empty
    (never NULL) for NULL input."""
    from z316_sales_data_pipeline_spark.functions import text as T

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(T.shingles("t", k)).collect()]

    def ref(t: str | None) -> list[str]:
        if t is None:
            return []
        toks = " ".join(t.lower().split()).strip().split(" ")
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    assert got == [ref(t) for t in texts]


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=20,
    )
)
@settings(**_HEAVY_SETTINGS)
def test_link_prediction_matches_bruteforce(spark, edge_list):
    """link_prediction LAW: on random small graphs the emitted
    (pair, n_common, jaccard) set equals the brute-force computation
    over neighbor sets (non-edges with at least one common neighbor),
    with the top-k cut disabled by a large k."""
    from z316_sales_data_pipeline_spark.operators import graph

    edges = {(min(a, b), max(a, b)) for a, b in edge_list}
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    got = {
        (r["a"], r["b"]): (r["n_common"], round(r["neighbor_jaccard"], 12))
        for r in graph.link_prediction(df, k=10_000).collect()
    }
    from collections import defaultdict

    nb = defaultdict(set)
    for a, b in edges:
        nb[a].add(b)
        nb[b].add(a)
    nodes = sorted(nb)
    want = {}
    for i, u in enumerate(nodes):
        for w in nodes[i + 1 :]:
            if (u, w) in edges:
                continue
            common = nb[u] & nb[w]
            if common:
                j = len(common) / len(nb[u] | nb[w])
                want[(u, w)] = (len(common), round(j, 12))
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 4)), min_size=2, max_size=60
    )
)
@settings(**_HEAVY_SETTINGS)
def test_t_closeness_matches_bruteforce(spark, rows):
    """t_closeness LAW: per-group EMD equals the brute-force ordered
    CDF computation; a group distributed identically to the global
    distribution scores 0; every score sits in [0, 1]."""
    from z316_sales_data_pipeline_spark.operators import quality

    df = spark.createDataFrame([(f"g{g}", b) for g, b in rows], "g string, b long")
    got = {
        r["g"]: (r["n"], r["t_emd"])
        for r in quality.t_closeness(df, ["g"], F.col("b")).collect()
    }
    buckets = sorted({b for _, b in rows})
    m, n_all = len(buckets), len(rows)
    if m == 1:
        # ADVICE r11: every group emitted with EMD 0, never empty
        from collections import Counter

        cg = Counter(f"g{g}" for g, _ in rows)
        assert got == {g: (n, 0.0) for g, n in cg.items()}
        return
    from collections import Counter

    all_c = Counter(b for _, b in rows)
    for gname in {f"g{g}" for g, _ in rows}:
        grp = [b for g, b in rows if f"g{g}" == gname]
        cg = Counter(grp)
        cum_g = cum_a = 0
        s = 0
        for bk in buckets[:-1]:
            cum_g += cg.get(bk, 0)
            cum_a += all_c[bk]
            s += abs(cum_g * n_all - cum_a * len(grp))
        want = s / (len(grp) * n_all * (m - 1))
        n, emd = got[gname]
        assert n == len(grp)
        assert abs(emd - want) < 1e-12
        assert -1e-12 <= emd <= 1.0 + 1e-12


@given(
    st.lists(
        st.tuples(st.integers(-6, 6), st.integers(-6, 6)), min_size=3, max_size=40
    )
)
@settings(**_HEAVY_SETTINGS)
def test_wilcoxon_matches_bruteforce(spark, pairs):
    """Wilcoxon signed-rank LAW: the distinct-|d|-grain 2x-midrank
    formulation equals the textbook row-grain computation over random
    tie- and zero-heavy pairs (zero diffs dropped, midranks over |d|,
    W+ = rank sum of positive diffs)."""
    from z316_sales_data_pipeline_spark.operators import experiment

    df = spark.createDataFrame(pairs, "x long, y long")
    got = experiment.wilcoxon_signed_rank(df, F.col("x"), F.col("y")).collect()[0]
    ds = [y - x for x, y in pairs if y != x]
    sorted_abs = sorted(abs(d) for d in ds)
    # 2x midrank of each |d|: positions are 1-based ranks
    def mr2(v):
        below = sum(1 for a in sorted_abs if a < v)
        cnt = sum(1 for a in sorted_abs if a == v)
        return 2 * below + cnt + 1

    w2 = sum(mr2(abs(d)) for d in ds if d > 0)
    n_pos = sum(1 for d in ds if d > 0)
    n_neg = sum(1 for d in ds if d < 0)
    assert (got["n_pos"], got["n_neg"], got["w_plus_x2"]) == (n_pos, n_neg, w2)


def test_paired_t_matches_numpy(spark):
    """paired_t_test vs a numpy reference at 1e-9 relative."""
    import numpy as np

    from z316_sales_data_pipeline_spark.operators import experiment

    xs = [3, 14, 15, 92, 65, 35, 89, 79, 32, 38]
    ys = [7, 11, 28, 90, 81, 30, 101, 88, 29, 51]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    got = experiment.paired_t_test(df, F.col("x"), F.col("y")).collect()[0]
    d = np.array(ys, float) - np.array(xs, float)
    t_ref = d.mean() / (d.std(ddof=1) / len(d) ** 0.5)
    assert got["n"] == 10
    assert abs(got["mean_d"] - d.mean()) < 1e-12
    assert abs(got["t"] - t_ref) < 1e-9 * abs(t_ref)


@given(
    st.lists(
        st.tuples(st.booleans(), st.integers(0, 8)), min_size=2, max_size=40
    ).filter(lambda rs: any(l for l, _ in rs) and any(not l for l, _ in rs))
)
@settings(**_HEAVY_SETTINGS)
def test_auc_exact_matches_bruteforce(spark, rows):
    """AUC LAW: U/(n_pos·n_neg) equals the direct probability that a
    positive outranks a random negative with ties counted half, over
    tie-heavy random labels/scores."""
    from z316_sales_data_pipeline_spark.operators import experiment

    df = spark.createDataFrame(rows, "label boolean, s long")
    got = experiment.auc_exact(df, F.col("label"), F.col("s")).collect()[0]
    pos = [s for l, s in rows if l]
    neg = [s for l, s in rows if not l]
    want = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    ) / (len(pos) * len(neg))
    assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))
    assert abs(got["auc"] - want) < 1e-12


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(-9, 9)),
        min_size=1,
        max_size=60,
    )
)
@settings(**_HEAVY_SETTINGS)
def test_two_phase_partitioned_helpers_match_windows(spark, rows):
    """Two-phase partitioned rank/cumsum LAW: bit-identical to the
    plain per-key WindowExec forms (which they exist to avoid at
    scale) over random keys, duplicate order values (tie-broken by a
    unique id), and SIGNED integral weights — negative values are the
    r11 ADVICE regression class (the r10 min(cum−value) offset shifted
    every key containing a negative value; the min_by-on-first-row
    offset is exact for any sign)."""
    from pyspark.sql import Window

    from z316_sales_data_pipeline_spark.operators import windows as W

    data = [(k, v, w, i) for i, (k, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, v int, w long, id long")
    order = [F.col("v").asc(), F.col("id").asc()]

    got_rank = {
        (r["id"], r["rn"])
        for r in W.partitioned_row_number_two_phase(df, ["k"], order, "rn").collect()
    }
    wspec = Window.partitionBy("k").orderBy(*order)
    want_rank = {
        (r["id"], r["rn"])
        for r in df.withColumn("rn", F.row_number().over(wspec)).collect()
    }
    assert got_rank == want_rank

    got_sum = {
        (r["id"], r["cs"])
        for r in W.partitioned_running_sum_two_phase(df, ["k"], order, "w", "cs").collect()
    }
    wsum = wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_sum = {
        (r["id"], r["cs"])
        for r in df.withColumn("cs", F.sum("w").over(wsum).cast("long")).collect()
    }
    assert got_sum == want_sum


def test_two_phase_partitioned_running_sum_negative_regression(spark):
    """Pinned ADVICE-r11 case: a key whose values dip below its first
    row's global prefix (negative weight mid-key). The r10 offset
    min(cum−value) picked the dip row and shifted the key's whole
    cumulative sum upward; the first-row anchor must not."""
    from pyspark.sql import Window

    from z316_sales_data_pipeline_spark.operators import windows as W

    # key 0 first (prefix 0), key 1 starts at global prefix 10 and
    # immediately dips: values 10 | 5, -8, 4 → per-key cumsum 10 | 5, -3, 1
    data = [(0, 0, 10, 0), (1, 1, 5, 1), (1, 2, -8, 2), (1, 3, 4, 3)]
    df = spark.createDataFrame(data, "k int, v int, w long, id long")
    order = [F.col("v").asc(), F.col("id").asc()]
    got = {
        (r["id"], r["cs"])
        for r in W.partitioned_running_sum_two_phase(df, ["k"], order, "w", "cs").collect()
    }
    assert got == {(0, 10), (1, 5), (2, -3), (3, 1)}


def test_two_phase_partitioned_running_sum_fractional_failstop(spark):
    """Fail-stop contract (VERDICT r10 nit #2): a fractional or null
    value must raise loudly, never silently truncate through
    cast('long')."""
    import pyspark.sql.utils

    from z316_sales_data_pipeline_spark.operators import windows as W

    order = [F.col("v").asc(), F.col("id").asc()]
    frac = spark.createDataFrame(
        [(0, 0, 1.5, 0), (0, 1, 2.0, 1)], "k int, v int, w double, id long"
    )
    with pytest.raises(Exception, match="integral"):
        W.partitioned_running_sum_two_phase(frac, ["k"], order, "w", "cs").collect()
    nul = spark.createDataFrame(
        [(0, 0, None, 0), (0, 1, 2, 1)], "k int, v int, w long, id long"
    )
    with pytest.raises(Exception, match="non-null"):
        W.partitioned_running_sum_two_phase(nul, ["k"], order, "w", "cs").collect()


def test_jaro_winkler_matches_duckdb_convention():
    """The rescoring kernel's Python reference must track DuckDB's
    native jaro_winkler_similarity bit-for-bit (within 1e-12) on
    random pairs — including both-empty (0.0, NOT 1.0), one-empty,
    equal, and transposition-heavy strings. This pins the convention
    the cross-engine oracle of jaro_winkler_rescore depends on."""
    import random

    import duckdb

    from z316_sales_data_pipeline_spark.operators.dedup import _jaro_winkler_py

    con = duckdb.connect()
    rng = random.Random(11)
    cases = [("", ""), ("", "a"), ("ab", "ba"), ("martha", "marhta"),
             ("DIXON", "DICKSONX"), ("abcdxxxx", "abcyyyyy")]
    for _ in range(2000):
        n1, n2 = rng.randint(0, 9), rng.randint(0, 9)
        cases.append(
            (
                "".join(rng.choice("abcd") for _ in range(n1)),
                "".join(rng.choice("abcd") for _ in range(n2)),
            )
        )
    for s, t in cases:
        d = con.execute(
            "select jaro_winkler_similarity(?, ?)", [s, t]
        ).fetchone()[0]
        p = _jaro_winkler_py(s, t)
        assert abs(d - p) <= 1e-12, (s, t, d, p)
    assert _jaro_winkler_py(None, "a") is None


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=20),
        min_size=1,
        max_size=12,
    )
)
@settings(**_HEAVY_SETTINGS)
def test_doc_ngram_repetition_matches_python_reference(spark, docs_tokens):
    """Repetition profile LAW over random small-alphabet corpora
    (collisions guaranteed): every output field equals a pure-Python
    recount — counts exact, micro-ratios via the same (1e6*num)/den
    IEEE expression."""
    import math
    from collections import Counter

    from z316_sales_data_pipeline_spark.operators import corpus as C

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_bigrams"], r["top_bigram_n"], r["rep2_micro"],
            r["n_ngrams"], r["dup_ngram_n"], r["repn_micro"],
        )
        for r in C.doc_ngram_repetition(df, "text", "doc_id", n=5).collect()
    }
    for i, toks in enumerate(docs_tokens):
        nt = len(toks)
        bi = Counter(tuple(toks[j : j + 2]) for j in range(nt - 1))
        top = max(bi.values()) if bi else 0
        five = Counter(tuple(toks[j : j + 5]) for j in range(nt - 4))
        dup = sum(c for c in five.values() if c >= 2)
        n5 = max(nt - 4, 0)
        rep2 = math.floor(1000000.0 * (2 * top) / nt) if nt > 0 else 0
        repn = math.floor(1000000.0 * dup / n5) if n5 > 0 else 0
        assert got[i] == (nt, max(nt - 1, 0), top, rep2, n5, dup, repn), (i, toks)


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    )
)
@settings(**_HEAVY_SETTINGS)
def test_trigram_doc_logprob_matches_python_reference(spark, docs_tokens):
    """Stupid-backoff LAW over random corpora: every target doc's
    (n_tri, logprob_micro, avg) equals a pure-Python replay of the
    count models and the four-level when-chain — including the empty-
    reference-LM edge (all scores at the OOV floor)."""
    import math
    from collections import Counter

    from z316_sales_data_pipeline_spark.operators import corpus as C

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tri"], r["logprob_micro"], r["avg_logprob_micro"])
        for r in C.trigram_doc_logprob(df, "text", "doc_id", holdout_mod=2).collect()
    }
    c3, c2p, c2, c1p, c1 = Counter(), Counter(), Counter(), Counter(), Counter()
    n_ref = 0
    tris = {}
    for i, toks in enumerate(docs_tokens):
        t = [
            (tuple(toks[j : j + 3]), tuple(toks[j : j + 2]),
             tuple(toks[j + 1 : j + 3]), toks[j + 1], toks[j + 2])
            for j in range(len(toks) - 2)
        ]
        tris[i] = t
        if i % 2 != 0:
            for g3, g2p, g2, w2, w3 in t:
                c3[g3] += 1; c2p[g2p] += 1; c2[g2] += 1; c1p[w2] += 1; c1[w3] += 1
                n_ref += 1
    m = lambda x: math.floor(math.log(x) * 1000000.0)  # noqa: E731
    for i, toks in enumerate(docs_tokens):
        if i % 2 != 0 or not tris[i]:
            assert i not in got or i % 2 != 0
            continue
        s = 0
        for g3, g2p, g2, w2, w3 in tris[i]:
            if c3[g3]:
                s += m(c3[g3] / c2p[g2p])
            elif c2[g2]:
                s += m((2.0 * c2[g2]) / (5.0 * c1p[w2]))
            elif c1[w3]:
                s += m((4.0 * c1[w3]) / (25.0 * n_ref))
            else:
                s += m(4.0 / (25.0 * (n_ref + 1.0)))
        n = len(tris[i])
        assert got[i] == (n, s, math.floor(s / n)), (i, toks)
