"""Invariant tests ported from the reference's reconciliation checkers
(SURVEY §5): conservation of allocated discounts, dedup uniqueness,
set-algebra sanity, sink delete semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from z316_sales_data_pipeline_spark import sinks
from z316_sales_data_pipeline_spark.operators import (
    aggregates,
    dedup,
    graph,
    quality,
    similarity,
    sketch,
    windows,
)
from z316_sales_data_pipeline_spark.operators import corpus as corpus_mod
from z316_sales_data_pipeline_spark.plans import sales_facts
from z316_sales_data_pipeline_spark.sources.tables import load_table


def test_allocation_conservation(spark, sf_dir):
    """sum(desconto_pedido_alocado) per order == desconto_pedido (F7 law)."""
    itens = sales_facts.itens_fact(spark, sf_dir)
    pedidos = sales_facts.pedidos_fact(spark, sf_dir)
    allocated = itens.groupBy("pedido_id").agg(
        F.sum("desconto_pedido_alocado").alias("alloc_total")
    )
    joined = pedidos.join(allocated, "pedido_id").select(
        F.max(F.abs(F.col("alloc_total") - F.col("desconto_pedido"))).alias("max_err")
    )
    assert joined.collect()[0]["max_err"] < 0.01  # rounding at 4 decimals, N items


def test_dedup_unique_per_key(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = windows.dedup_keep_rule(
        ev, ["user_id", "event_type"], [F.col("ts").asc(), F.col("event_id").asc()]
    )
    dups = out.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count()
    assert dups == 0


def test_keep_rule_picks_earliest(spark):
    data = [
        (1, "2024-01-02 00:00:00", "b"),
        (1, "2024-01-01 00:00:00", "a"),
        (2, "2024-01-05 00:00:00", "c"),
    ]
    df = spark.createDataFrame(data, "k int, ts string, v string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = windows.dedup_keep_rule(df, "k", [F.col("ts").asc()])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "a", 2: "c"}


def test_minhash_detects_near_duplicates(spark):
    base = (
        "the quick brown fox jumps over the lazy dog again and again in the yard "
        "while the sun sets slowly behind the old wooden fence near the quiet river "
        "and the birds sing their evening songs from the tall green trees"
    )
    near = base.replace("yard", "garden")  # one token of ~40 -> J ~ 0.93
    far = "completely different words describing unrelated topics entirely here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = dedup.minhash_near_dup_pairs(df, "text", "doc_id", threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_minhash_incremental_matches_full_run(spark, sf_dir):
    """The incremental path (new batch vs at-rest corpus index) must
    emit exactly the full-corpus pairs that touch a new id — same hash
    family, same banding, so the candidate sets coincide."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    ex = dedup.shingle_table(corpus_docs, "text", "doc_id")
    idx = dedup.minhash_index(ex, "doc_id")
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_near_dup_incremental(
            ex, idx, new_docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    full = dedup.minhash_near_dup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in full
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    }
    assert inc == want


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "Hello  World"), (2, "hello world"), (9, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    # normalization folds case+whitespace; min id 2 represents the pair
    assert out == {2: 2, 9: 1}


def test_delete_where_verify_zero(spark, sf_dir):
    """B6 — DELETE WHERE then verify count == 0 (api_to_gcs-checker.py:106-128)."""
    orders = load_table(spark, sf_dir, "orders")
    cond = F.col("o_orderstatus") == "F"
    remaining = sinks.delete_where(orders, cond)
    assert remaining.filter(cond).count() == 0
    assert remaining.count() == orders.count() - orders.filter(cond).count()


def test_anti_join_delete(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    bad = orders.filter(F.col("o_orderkey") % 100 == 0).select("o_orderkey")
    out = sinks.anti_join_delete(orders, bad, "o_orderkey")
    assert out.filter(F.col("o_orderkey") % 100 == 0).count() == 0


def test_asof_join_semantics(spark):
    """Inclusive <=, max-(ts, tiebreak) on ties, inner drop on no-match,
    atomic row carry when some right values are null."""
    from z316_sales_data_pipeline_spark.operators import joins as J

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 5), (3, 20, 100)],
        "event_id long, user_id long, ts long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (10, 100, 50, 1.0),   # exact tie with left 1 -> matches (inclusive)
            (10, 100, 51, None),  # same ts, higher id -> wins tie; null value carried AS the row
            (10, 90, 40, 2.0),
            (20, 150, 60, 3.0),   # after left 3's ts -> no match for user 20
        ],
        "user_id long, ts long, event_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: (r["ts_r"], r["event_id_r"], r["value_r"])
        for r in J.asof_join(
            left, right, key="user_id", ts="ts", tiebreak="event_id", carry=["value"]
        ).collect()
    }
    assert set(out) == {1}  # user 10 at ts=5 has no earlier click; user 20 none <= 20
    ts_r, id_r, val_r = out[1]
    assert id_r == 51 and val_r is None  # tie -> higher event_id row, carried atomically


def test_range_join_bucketed_boundaries(spark):
    """Window [ts-lower, ts+upper) is closed-open and exact for
    fractional-second timestamps that straddle bucket edges."""
    from z316_sales_data_pipeline_spark.operators import joins as J

    left = spark.createDataFrame(
        [(1, 1, 7200.5)], "pid long, user_id long, epoch double"
    ).select("pid", "user_id", F.timestamp_seconds("epoch").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, 3600.5, 10),  # exactly ts-lower -> included (closed)
            (1, 3600.4, 11),  # just before window -> out
            (1, 7200.5, 12),  # exactly ts -> excluded (open upper, upper_s=0)
            (1, 7199.9, 13),  # in window, lives in the truncated top sliver
            (2, 7000.0, 14),  # other key -> out
        ],
        "user_id long, repoch double, rid long",
    ).select("user_id", F.timestamp_seconds("repoch").alias("click_ts"), "rid")
    got = sorted(
        r["rid"]
        for r in J.range_join_bucketed(
            left, right, key="user_id", left_ts="ts", right_ts="click_ts",
            lower_s=3600, upper_s=0,
        ).collect()
    )
    assert got == [10, 13]


def test_blocked_matmul_matches_expression_cosine(spark, sf_dir):
    """applyInPandas numpy path == column-expression path, pair for pair."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    expr = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_pairs(
            emb, "embedding", "vec_id", 0.3, block_col="label"
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_blocked(
            emb, "embedding", "vec_id", 0.3, "label"
        ).collect()
    }
    assert expr.keys() == blocked.keys()
    assert all(abs(expr[k] - blocked[k]) < 1e-9 for k in expr)


def test_bucketed_blocking_is_subset_of_label_exact(spark, sf_dir):
    """r5 VERDICT item 2: the registry's (label × LSH-bucket) blocking
    is the corpus-growth-bounded approximate path — every pair it emits
    must appear in the label-only exact baseline with the same cosine,
    and both executors (expression join / numpy matmul) must agree on
    the bucketed key."""
    from z316_sales_data_pipeline_spark.operators import similarity

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .withColumn(
            "bucket", similarity.hyperplane_bucket("embedding", dim=64, n_planes=4).cast("long")
        )
    )
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_pairs(
            emb, "embedding", "vec_id", 0.3, block_col="label"
        ).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_pairs(
            emb, "embedding", "vec_id", 0.3, block_col=["label", "bucket"]
        ).collect()
    }
    assert set(bucketed) <= set(exact)  # LSH blocking only ever drops pairs
    assert all(exact[k] == bucketed[k] for k in bucketed)
    blocked = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_blocked(
            emb, "embedding", "vec_id", 0.3, ["label", "bucket"]
        ).collect()
    }
    assert blocked.keys() == bucketed.keys()
    assert all(abs(bucketed[k] - blocked[k]) < 1e-9 for k in bucketed)


def test_rolling_fingerprint_collision_and_match(spark):
    """Same normalized text -> same fingerprint; different text differs."""
    from z316_sales_data_pipeline_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "goodbye world")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_ivf_recall_against_brute_force(spark, sf_dir):
    """IVF probe of 4/16 cells must recover most of the exact top-10."""
    from z316_sales_data_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    exact = {r["vec_id"] for r in similarity.brute_force_top_k(emb, "embedding", "vec_id", q, k=10).collect()}
    approx = {r["vec_id"] for r in similarity.ivf_top_k(emb, "embedding", "vec_id", q, k=10).collect()}
    assert len(exact & approx) >= 5  # >= 50% recall at nprobe/cells = 1/4


def test_sliding_window_row_amplification(spark, sf_dir):
    """1h window / 15min slide -> every event is counted exactly 4 times."""
    from z316_sales_data_pipeline_spark.streaming import pipeline as sp

    ev = load_table(spark, sf_dir, "events")
    total = sp.sliding_counts(ev).agg(F.sum("n")).collect()[0][0]
    assert total == 4 * ev.count()


def test_pedidos_fact_grain(spark, sf_dir):
    """One row per order that has items (inner-join drop-on-miss grain)."""
    pedidos = sales_facts.pedidos_fact(spark, sf_dir)
    assert pedidos.groupBy("pedido_id").count().filter(F.col("count") > 1).count() == 0


def test_approx_sketches_error_bounds(spark, sf_dir):
    """approx_profile's bound verdicts all hold (non-vacuous: the query
    compares each sketch to the exact answer inside the plan), and the
    raw sketches independently land within 5% of exact."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["approx_profile"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["approx_users_ok"] and r["quantiles_ordered_ok"] and r["p50_ok"], r

    ev = load_table(spark, sf_dir, "events")
    raw = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for etype, a in raw.items():
        assert abs(a["approx_users"] - a["users"]) <= 0.05 * a["users"] + 1
        assert abs(a["approx_p50"] - a["p50"]) <= 0.05 * abs(a["p50"]) + 1e-6


def test_compact_partitions_bounds_file_count(spark, sf_dir, tmp_path):
    """Compaction rewrites many small files into per-partition counts
    sized by rows, independent of input file count."""
    import glob

    from z316_sales_data_pipeline_spark import sinks

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    frag = str(tmp_path / "frag")
    # simulate streaming-append fragmentation: ~64 files per partition
    ev.repartition(64).write.partitionBy("day").parquet(frag)
    n_frag = len(glob.glob(f"{frag}/day=*/*.parquet"))

    compacted = str(tmp_path / "compact")
    sinks.compact_partitions(spark.read.parquet(frag), compacted, "day", target_rows_per_file=10_000)
    files_per_day = {}
    for f in glob.glob(f"{compacted}/day=*/*.parquet"):
        d = f.split("day=")[1].split("/")[0]
        files_per_day[d] = files_per_day.get(d, 0) + 1
    assert n_frag > 10 * sum(files_per_day.values())
    assert max(files_per_day.values()) <= 3  # ~1-2k rows/day at sf0.01 -> 1 file
    back = spark.read.parquet(compacted)
    assert back.count() == ev.count()


def test_compact_partitions_deterministic_slots(spark, sf_dir, tmp_path):
    """Slot assignment is a pure function of the data: recompacting the
    same rows from a differently-partitioned input (the retry/replan
    case rand() salting would skew) yields identical per-partition file
    counts and identical per-file row counts."""
    import glob

    from z316_sales_data_pipeline_spark import sinks

    ev = load_table(spark, sf_dir, "events").limit(5000).withColumn("day", F.to_date("ts"))

    def compact(src, out):
        sinks.compact_partitions(src, out, "day", target_rows_per_file=500)
        counts = {}
        for f in sorted(glob.glob(f"{out}/day=*/*.parquet")):
            d = f.split("day=")[1].split("/")[0]
            counts.setdefault(d, []).append(spark.read.parquet(f).count())
        return {d: sorted(v) for d, v in counts.items()}

    a = compact(ev.repartition(4), str(tmp_path / "a"))
    b = compact(ev.repartition(17, "user_id"), str(tmp_path / "b"))
    assert a == b


def test_connected_components_chain(spark):
    """A 4-node path graph needs multi-hop propagation; isolated node
    stays a singleton."""
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 9]], "id long")
    pairs = spark.createDataFrame(
        [(3, 4), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components(nodes, pairs, id_col="id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_connected_components_long_chain_converges(spark):
    """A 200-node path graph (diameter 199) converges inside the default
    max_iters=20: pointer jumping makes rounds ~log2(diameter), where
    plain min-label propagation would need 199."""
    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    out = dedup.connected_components(nodes, pairs, id_col="id")
    assert out.filter(F.col("cluster_id") != 0).count() == 0
    assert out.count() == n


@pytest.mark.parametrize("form", ["batch", "incremental"])
def test_connected_components_raises_when_not_converged(spark, form):
    """Exhausting max_iters with labels still moving must raise, not
    silently return a partial (wrong) clustering — in both forms; the
    incremental one runs from an empty at-rest labelling."""
    nodes = spark.createDataFrame([(i,) for i in range(16)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(15)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        if form == "batch":
            dedup.connected_components(nodes, pairs, id_col="id", max_iters=2)
        else:
            at_rest = spark.createDataFrame([], "id long, cluster_id long")
            dedup.connected_components_incremental(at_rest, nodes, pairs, id_col="id", max_iters=2)


def test_q7_volume_shipping_nonempty_at_sf001(spark):
    """Guard against a vacuous oracle match: q7 is empty at sf0.001, so
    pin the scale where the driver's check (sf0.01) has actual rows."""
    import __spark_entry__ as entrymod

    assert entrymod.queries()["q7_volume_shipping"](spark, "/root/testdata/sf0.01").count() > 0


def test_hll_merge_equals_direct_sketch(spark, sf_dir):
    """The at-rest contract: per-day HLL partials union-merged must
    give EXACTLY the same estimate as one direct sketch over all rows
    (DataSketches merges are deterministic and associative), and land
    within 5% of exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact"),
    )
    rows = merged.join(direct, "event_type").collect()
    assert rows
    for r in rows:
        assert r["merged_est"] == r["direct_est"], r
        assert abs(r["merged_est"] - r["exact"]) <= 0.05 * r["exact"] + 1, r


def test_constraint_summary_detects_seeded_violations(spark):
    """Each violation class is actually counted (not vacuously zero):
    duplicate key, null column, negative value, RI orphan."""
    from z316_sales_data_pipeline_spark.operators import quality

    child = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, 6.0), (2, None, -3.0), (3, 99, 1.0), (None, 10, 1.0)],
        "k long, fk long, v double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    row = quality.constraint_summary(
        child, key_cols=["k"], not_null_cols=["fk"], nonneg_cols=["v"]
    ).collect()[0]
    # the null-keyed row is its own violation class, NOT a duplicate
    assert row["n_rows"] == 5 and row["dup_keys"] == 1 and row["null_key_rows"] == 1
    assert row["null_fk"] == 1 and row["neg_v"] == 1
    orphans = quality.orphan_count(child, parent, "fk", "pk", "orphans").collect()[0]
    # fk=99 has no parent; the null fk row doesn't join and counts too
    assert orphans["orphans"] == 2


def test_pagerank_int_matches_python_reference(spark):
    """Integer PageRank is a pure function: the distributed result must
    equal a sequential Python replay of the same recurrence exactly
    (no tolerance), and an isolated node keeps exactly the teleport."""
    from z316_sales_data_pipeline_spark.operators import graph

    und = [(1, 2), (2, 3), (1, 3), (3, 4)]  # triangle + tail; 9 isolated
    node_ids = [1, 2, 3, 4, 9]
    directed = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(directed, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    got = {
        r["id"]: r["pr"]
        for r in graph.pagerank_int(edges, nodes, "id", n_iters=3).collect()
    }

    scale, damp, n = 10**9, 85, len(node_ids)
    teleport = (100 - damp) * scale // (100 * n)
    deg: dict[int, int] = {}
    for s, _ in directed:
        deg[s] = deg.get(s, 0) + 1
    pr = {v: scale // n for v in node_ids}
    for _ in range(3):
        inc = {v: 0 for v in node_ids}
        for s, d in directed:
            inc[d] += damp * pr[s] // (100 * deg[s])
        pr = {v: teleport + inc[v] for v in node_ids}
    assert got == pr
    assert got[9] == teleport  # isolated node: teleport mass only


def test_kmeans_reassigns_mislabeled_seed(spark):
    """Two well-separated clusters; one point seeded with the wrong
    label must migrate to its geometric cluster within one iteration,
    and the partition must be stable by the second."""
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.1, 0.0], 0),
        (3, [0.0, 0.1], 0),
        (4, [10.0, 10.0], 1),
        (5, [10.1, 10.0], 1),
        (6, [9.9, 10.1], 0),  # mislabeled seed
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {
        r["vec_id"]: r["cluster"]
        for r in similarity.kmeans_assign(emb, "embedding", "vec_id", "label", n_iters=2).collect()
    }
    assert got[6] == got[4] == got[5]
    assert got[1] == got[2] == got[3] != got[6]


def test_knn_graph_blocked_matches_expression(spark, sf_dir):
    """Numpy blocked kNN graph == expression+window kNN graph, rank for
    rank (same round-6 cosine, same tie-break)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    expr = {
        (r["vec_id"], r["rnk"]): (r["neighbor_id"], r["cos"])
        for r in similarity.knn_graph(emb, "embedding", "vec_id", k=3, block_col="label").collect()
    }
    blocked = {
        (r["vec_id"], r["rnk"]): (r["neighbor_id"], r["cos"])
        for r in similarity.knn_graph_blocked(
            emb, "embedding", "vec_id", k=3, block_col="label"
        ).collect()
    }
    assert expr.keys() == blocked.keys()
    mismatches = [k for k in expr if expr[k][0] != blocked[k][0]]
    assert not mismatches, mismatches[:5]
    assert all(abs(expr[k][1] - blocked[k][1]) < 1e-9 for k in expr)


def test_table_checksum_partition_invariant(spark, sf_dir):
    """The md5-fold table fingerprint must not depend on row order or
    partitioning — the property that makes it a cross-system primitive."""
    import __spark_entry__ as entrymod

    base = entrymod.queries()["table_checksum"](spark, sf_dir).collect()[0]
    orders = load_table(spark, sf_dir, "orders").repartition(7)
    row_h = F.conv(
        F.substring(F.md5(F.concat_ws("|", "o_orderkey", "o_orderstatus")), 1, 8), 16, 10
    ).cast("long")
    again = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(row_h), F.lit(2147483647)).alias("checksum"),
    ).collect()[0]
    assert (base["n_rows"], base["checksum"]) == (again["n_rows"], again["checksum"])


def test_event_transitions_rows_are_distributions(spark, sf_dir):
    """Each source event type's outgoing probabilities sum to 1 and
    every probability equals its count ratio."""
    import __spark_entry__ as m
    from collections import defaultdict

    rows = m.queries()["event_transitions"](spark, sf_dir).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["event_type"]].append(r)
    assert by_src
    for src, rs in by_src.items():
        tot = sum(r["n"] for r in rs)
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-4, src
        for r in rs:
            assert r["p"] == round(r["n"] / tot, 6)


def test_histogram_partials_merge_consistently(spark, sf_dir):
    """Sketch-family contract: quantile estimates from per-partition
    histogram partials merged by counter addition equal estimates from
    one global histogram, and each estimate is within one bucket width
    of the exact percentile."""
    from z316_sales_data_pipeline_spark.operators import sketch
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    parts = sketch.histogram_table(ev, "value", F.col("event_type"), 0.0, 512.0, 64)
    whole = sketch.histogram_table(ev, "value", F.lit("all"), 0.0, 512.0, 64)
    est_parts = {
        r["q"]: r["estimate"]
        for r in sketch.histogram_quantiles(parts, [0.5, 0.9], 0.0, 512.0, 64).collect()
    }
    est_whole = {
        r["q"]: r["estimate"]
        for r in sketch.histogram_quantiles(whole, [0.5, 0.9], 0.0, 512.0, 64).collect()
    }
    assert est_parts == est_whole
    exact = ev.agg(
        F.expr("percentile(value, 0.5)").alias("p50"), F.expr("percentile(value, 0.9)").alias("p90")
    ).collect()[0]
    assert abs(est_parts[0.5] - exact["p50"]) <= 8.0
    assert abs(est_parts[0.9] - exact["p90"]) <= 8.0


def test_histogram_table_excludes_nulls(spark):
    """ADVICE r4: NULL values must NOT be counted into bucket 0 —
    floor((NULL-lo)/width) is NULL and greatest/least skip NULLs, so
    without the internal isNotNull filter every NULL would silently
    become misattributed mass at the low edge. Policy: NULLs are
    excluded inside histogram_table (quantiles describe present
    values), so callers need no defensive pre-filter."""
    from z316_sales_data_pipeline_spark.operators import sketch

    df = spark.createDataFrame(
        [(1, 100.0), (2, None), (3, 4.0), (4, None), (5, 300.0)],
        "id int, value double",
    )
    hist = sketch.histogram_table(df, "value", F.lit("all"), 0.0, 512.0, 64).collect()
    assert sum(r["c"] for r in hist) == 3  # only the non-NULL rows carry mass
    by_bucket = {r["bucket"]: r["c"] for r in hist}
    assert by_bucket.get(0, 0) == 1  # just 4.0 — not 4.0 plus two NULLs


def test_ivf_probe_sweep_recall_monotone_and_bounded(spark, sf_dir):
    """Tuning-table sanity: recall@k is non-decreasing in n_probe
    (probing more cells can only add candidates), every recall is in
    [0, 1], and hit sums are consistent with the reported mean. Each
    sweep row is the batch total of ann_recall_eval at that n_probe:
    same hit sum, same query count."""
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        r["n_probe"]: r
        for r in similarity.ivf_probe_sweep(
            emb, "embedding", "vec_id", query_mod=100, k=10, n_cells=16, probes=(1, 2, 4, 8)
        ).collect()
    }
    assert sorted(rows) == [1, 2, 4, 8]
    last = -1.0
    for p in (1, 2, 4, 8):
        r = rows[p]
        assert 0.0 <= r["mean_recall_at_k"] <= 1.0
        assert r["mean_recall_at_k"] >= last
        last = r["mean_recall_at_k"]
        assert r["mean_recall_at_k"] == round(r["sum_hits"] / (r["n_queries"] * 10), 6)
        per_query = similarity.ann_recall_eval(
            emb, "embedding", "vec_id", query_mod=100, k=10, n_cells=16, n_probe=p
        ).collect()
        assert r["sum_hits"] == sum(q["n_hits"] for q in per_query), p
        assert r["n_queries"] == len(per_query), p
    assert rows[8]["sum_hits"] > 0


def test_pq_seed_vectors_encode_to_their_own_code(spark, sf_dir):
    """The PQ codebook is the 16 lowest-id vectors' subvectors, so each
    seed vector's nearest code word in every subspace is itself
    (distance 0) — pins the codebook/encode plumbing end-to-end."""
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seed_ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(16).collect()]
    codes = similarity.pq_encode(emb, "embedding", "vec_id", m=4, n_codes=16)
    got = codes.filter(F.col("vec_id").isin(seed_ids)).collect()
    rank = {vid: i for i, vid in enumerate(seed_ids)}
    assert len(got) == 16 * 4
    for r in got:
        assert r["code"] == rank[r["vec_id"]], r


def test_pq_recall_query_always_retrieves_itself(spark, sf_dir):
    """Each ADC query's own vector has exact distance 0 (always in the
    exact top-10) and approximate distance equal to its quantization
    residual — small enough on the deterministic test corpus to stay
    in the ADC top-10, so every query scores >= 1 hit here (a
    data-pinned regression floor, not a theorem); recall must equal
    n_hits/10."""
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.pq_recall_eval(emb, "embedding", "vec_id", query_mod=100, k=10).collect()
    assert out
    for r in out:
        assert 1 <= r["n_hits"] <= 10
        assert abs(r["recall_at_k"] - r["n_hits"] / 10.0) < 1e-9


def test_pq_codes_table_equals_inline_encode(spark, sf_dir):
    """The maintained at-rest PQ codes table (v=1 base + v=2 arriving
    slice, frozen codebook) equals the one-shot inline encode — the
    same equality contract as the IVF layout — and really carries two
    segments."""
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.plans import pair_graph
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    at_rest = pair_graph.pq_codes_table(spark, sf_dir, m=4, n_codes=16)
    inline = similarity.pq_encode(emb, "embedding", "vec_id", m=4, n_codes=16)
    got = {(r["vec_id"], r["sub"], r["code"]) for r in at_rest.collect()}
    want = {(r["vec_id"], r["sub"], r["code"]) for r in inline.collect()}
    assert got == want
    # the maintained table really carries base + arriving segments
    import os

    dirs = [
        d
        for d in os.listdir(pair_graph._CACHE_ROOT)
        if d.startswith("pq_codes_") and not d.endswith(".tmp")
    ]
    assert dirs
    segs = {s for d in dirs for s in os.listdir(pair_graph._CACHE_ROOT / d) if s.startswith("v=")}
    assert {"v=1", "v=2"} <= segs


def test_label_propagation_toy_graph(spark):
    """LPA semantics on a known graph: a triangle {1,2,3} plus a
    pendant 4-5 edge and an isolate 9. After enough iterations the
    triangle converges to its smallest label; ties resolve toward the
    smallest label; isolated nodes keep their own id."""
    from z316_sales_data_pipeline_spark.operators import graph

    pairs = [(1, 2), (1, 3), (2, 3), (4, 5)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], "doc_id long")
    got = {
        r["doc_id"]: r["community"]
        for r in graph.label_propagation(edges, nodes, "doc_id", n_iters=4).collect()
    }
    # triangle: iter1 gives 1->2? no: nbrs of 1 are {2,3} -> min label 2;
    # nbrs of 2 are {1,3} -> 1; nbrs of 3 are {1,2} -> 1; subsequent
    # iterations propagate 1 everywhere in the triangle.
    assert got[2] == 1 and got[3] == 1
    # the 4-5 pair oscillates label-swap under synchronous updates with
    # singleton neighbourhoods; after an EVEN iteration count each node
    # holds its own id again — pin that deterministic behaviour.
    assert got[4] == 4 and got[5] == 5
    assert got[9] == 9


def test_hypertable_quantile_estimates_are_bucket_bounded(spark, sf_dir):
    """The sketch-served per-day p50/p90 report the LEFT EDGE of the
    bucket holding the q-th order statistic (first value whose
    cumulative frequency reaches q — percentile_disc semantics, the
    same rank the cumulative-count walk finds), so each exact disc
    percentile must lie inside [est, est + width). n must equal the
    day's event count. (The INTERPOLATED percentile has no such bound:
    it averages between order stats that can straddle buckets.)"""
    from z316_sales_data_pipeline_spark.plans import rollup

    width = 500.0 / 64
    got = {r["bucket_day"]: r for r in rollup.serve_quantiles(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["bucket_day"]: r
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("bucket_day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for day, g in got.items():
        e = exact[day]
        assert g["n"] == e["n"]
        assert g["p50_est"] <= e["p50"] < g["p50_est"] + width
        assert g["p90_est"] <= e["p90"] < g["p90_est"] + width


def test_lpa_skew_split_matches_plain_and_broadcasts_hot_half(spark):
    """r5 VERDICT item 4: the profiler-driven hot/cold edge split must
    leave LPA's labels bit-identical (the split partitions the edge
    multiset), isolate exactly the hub in the hot set on a deliberately
    skewed graph, and plan the hot half's neighbour join as a broadcast
    (hub edges never shuffle onto one reducer)."""
    from z316_sales_data_pipeline_spark.operators.graph import (
        label_propagation,
        skew_split_edges,
    )

    n = 500
    nodes = spark.range(n).select(F.col("id").cast("long").alias("id"))
    # hub 0 <-> every node (a template family's representative), plus a
    # sparse ring so cold structure exists; both directions present
    hub = spark.range(1, n).select(
        F.lit(0).cast("long").alias("src"), F.col("id").cast("long").alias("dst")
    )
    ring = spark.range(1, n - 1).select(
        F.col("id").cast("long").alias("src"), (F.col("id") + 1).cast("long").alias("dst")
    )
    half = hub.unionByName(ring)
    edges = half.unionByName(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    hot_e, cold_e, hot_k = skew_split_edges(edges, hot_degree=100)
    assert {r["src"] for r in hot_k.collect()} == {0}  # exactly the hub
    assert hot_e.count() == n - 1  # all hub-out edges, nothing else
    plan = (
        hot_e.join(F.broadcast(hot_k), "src")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan

    plain = {
        (r["id"], r["community"])
        for r in label_propagation(edges, nodes, "id", n_iters=2).collect()
    }
    split = {
        (r["id"], r["community"])
        for r in label_propagation(edges, nodes, "id", n_iters=2, hot_degree=100).collect()
    }
    assert split == plain


def test_rerank_with_full_shortlist_equals_exact_topk(spark, sf_dir):
    """Coarse-to-fine contract: when the probe covers every cell and
    the shortlist covers the whole corpus, ivf_pq_rerank_top_k must
    degrade to EXACTLY the brute-force scaled-L2 top-k — the refine
    step buys back all quantization error. With a narrow shortlist the
    result must still be the exact ranking RESTRICTED to the ADC
    shortlist (subset check)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    n = emb.count()
    qv = [0.1] * 64
    full = similarity.ivf_pq_rerank_top_k(
        emb, "embedding", "vec_id", qv, k=10, n_short=n, n_cells=4, n_probe=4
    )
    got = [(r["vec_id"], r["d2"]) for r in full.collect()]

    from z316_sales_data_pipeline_spark.functions.vector import literal_vector
    from z316_sales_data_pipeline_spark.operators.similarity import _sq_l2_scaled

    exact = (
        emb.select("vec_id", _sq_l2_scaled(F.col("embedding"), literal_vector(qv)).alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    want = [(r["vec_id"], r["d2"]) for r in exact.collect()]
    assert got == want

    narrow = similarity.ivf_pq_rerank_top_k(
        emb, "embedding", "vec_id", qv, k=10, n_short=20, n_cells=4, n_probe=4
    )
    narrow_ids = {r["vec_id"] for r in narrow.collect()}
    exact_d2 = {r["vec_id"]: r["d2"] for r in emb.select(
        "vec_id", _sq_l2_scaled(F.col("embedding"), literal_vector(qv)).alias("d2")
    ).collect()}
    got_narrow = {r["vec_id"]: r["d2"] for r in narrow.collect()}
    assert all(exact_d2[i] == d for i, d in got_narrow.items())  # distances are EXACT
    assert len(narrow_ids) == 10


def test_hll_sketch_partials_merge_across_segments_and_compaction(spark, sf_dir, tmp_path):
    """The DISTINCT continuous aggregate's contract: HLL register
    union is deterministic, so the estimate served from per-segment
    BINARY sketch partials equals the single-pass sketch over all
    events — across any segment split, and unchanged by compaction
    (binary cells must survive the append/compact lifecycle)."""
    from z316_sales_data_pipeline_spark.plans import rollup

    ev = load_table(spark, sf_dir, "events")
    t = str(tmp_path / "ht_distinct")
    for i in range(3):
        sinks.append_snapshot(
            rollup.user_sketch_partials(ev.filter(F.col("event_id") % 3 == i)), t
        )

    def served():
        return {
            (r["event_type"], r["est"])
            for r in sinks.read_appended(spark, t)
            .groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk_partial")).alias("est"))
            .collect()
        }

    want = {
        (r["event_type"], r["est"])
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert served() == want
    sinks.compact_appended(spark, t)
    assert served() == want


def test_scd2_history_semantics(spark):
    """SCD2 contract: consecutive repeats compress away, intervals
    tile per key ([from, to) chains with no gap/overlap), exactly one
    current row per key, and duplicate-ts events resolve by the
    tiebreak deterministically."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    rows = [
        (1, "new", DT(2024, 1, 1), 10),
        (1, "new", DT(2024, 1, 2), 11),   # repeat: compressed away
        (1, "paid", DT(2024, 1, 3), 12),
        (1, "paid", DT(2024, 1, 3), 13),  # duplicate ts, same attr: compressed
        (1, "done", DT(2024, 1, 5), 14),
        (2, "new", DT(2024, 2, 1), 20),
    ]
    ev = spark.createDataFrame(rows, "uid long, status string, ts timestamp, eid long")
    hist = W.scd2_history(ev, key="uid", attr="status", ts="ts", tiebreak="eid").collect()

    by_key: dict[int, list] = {}
    for r in sorted(hist, key=lambda r: (r["uid"], r["valid_from"])):
        by_key.setdefault(r["uid"], []).append(r)
    assert [r["status"] for r in by_key[1]] == ["new", "paid", "done"]
    assert [r["status"] for r in by_key[2]] == ["new"]
    for key_rows in by_key.values():
        for a, b in zip(key_rows, key_rows[1:]):
            assert a["valid_to"] == b["valid_from"], "intervals must tile"
        assert key_rows[-1]["valid_to"] is None
        assert [r["is_current"] for r in key_rows] == [0] * (len(key_rows) - 1) + [1]


def test_scd2_apply_batch_equals_full_recompute(spark):
    """Incremental SCD2 contract: folding an in-order batch into an
    existing history equals the full recompute — including a new key
    first seen in the batch, a repeat-only key (open row unchanged),
    a changing key, and an untouched key."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    base_rows = [
        (1, "new", DT(2024, 1, 1), 10),
        (1, "paid", DT(2024, 1, 3), 11),
        (2, "new", DT(2024, 1, 2), 12),
        (3, "new", DT(2024, 1, 4), 13),   # untouched by the batch
    ]
    batch_rows = [
        (1, "paid", DT(2024, 1, 6), 20),  # repeat of open attr: no-op
        (1, "done", DT(2024, 1, 7), 21),  # change: closes open row
        (2, "new", DT(2024, 1, 8), 22),   # repeat-only key
        (4, "new", DT(2024, 1, 9), 23),   # key first seen in batch
    ]
    schema = "uid long, status string, ts timestamp, eid long"
    base = spark.createDataFrame(base_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    args = dict(key="uid", attr="status", ts="ts", tiebreak="eid")

    hist = W.scd2_history(base, **args)
    folded = W.scd2_apply_batch(hist, batch, **args)
    full = W.scd2_history(base.unionByName(batch), **args)
    assert {tuple(r) for r in folded.collect()} == {tuple(r) for r in full.collect()}

    # carry history: same fold, plus the watermark columns advance
    hist_c = W.scd2_history(base, carry_last=True, **args)
    folded_c = W.scd2_apply_batch(hist_c, batch, **args)
    cols = ["uid", "status", "valid_from", "valid_to", "is_current"]
    assert {tuple(r) for r in folded_c.select(*cols).collect()} == {
        tuple(r) for r in full.collect()
    }
    full_c = W.scd2_history(base.unionByName(batch), carry_last=True, **args)
    assert {tuple(r) for r in folded_c.collect()} == {tuple(r) for r in full_c.collect()}


def test_scd2_apply_batch_history_with_internal_flag_name(spark):
    """scd2_apply_batch tags touched keys with an internal flag column;
    a caller history that already carries a column of that name
    (``__t``) must fold exactly like one without it, not fail on an
    ambiguous column."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    schema = "uid long, status string, ts timestamp, eid long"
    args = dict(key="uid", attr="status", ts="ts", tiebreak="eid")
    base = spark.createDataFrame(
        [(1, "new", DT(2024, 1, 1), 10), (2, "new", DT(2024, 1, 2), 11)], schema
    )
    batch = spark.createDataFrame([(1, "paid", DT(2024, 1, 5), 20)], schema)
    hist = W.scd2_history(base, carry_last=True, **args).withColumn("__t", F.lit(7))
    folded = W.scd2_apply_batch(hist, batch, **args)
    full = W.scd2_history(base.unionByName(batch), carry_last=True, **args)
    assert {tuple(r) for r in folded.collect()} == {tuple(r) for r in full.collect()}


def test_scd2_fold_same_timestamp_epoch_straddle(spark):
    """r7 ADVICE regression pin: a batch event at the SAME timestamp
    as the open row but a SMALLER tiebreak must fold in full-recompute
    order (paid->new, not new->paid) — the carry history's persisted
    (last_ts, last_tb) watermark orders the re-seeded open row where
    its original event actually sat. Also the larger-tiebreak twin,
    which is in-order under the strict contract."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    schema = "uid long, status string, ts timestamp, eid long"
    args = dict(key="uid", attr="status", ts="ts", tiebreak="eid")
    t = DT(2024, 1, 5)
    for base_eid, batch_eid in [(50, 10), (10, 50)]:
        base = spark.createDataFrame([(1, "new", t, base_eid)], schema)
        batch = spark.createDataFrame([(1, "paid", t, batch_eid)], schema)
        hist = W.scd2_history(base, carry_last=True, **args)
        folded = W.scd2_apply_batch(hist, batch, **args)
        full = W.scd2_history(base.unionByName(batch), carry_last=True, **args)
        assert {tuple(r) for r in folded.collect()} == {
            tuple(r) for r in full.collect()
        }, f"diverged for base_eid={base_eid}, batch_eid={batch_eid}"


@pytest.mark.parametrize("derive_watermarks", [False, True])
def test_scd2_fold_or_repair_late_events(spark, derive_watermarks):
    """Late-event matrix (VERDICT r7 item 4): keys whose batch events
    sort BELOW their folded watermark — including behind a COMPRESSED
    repeat, where the O(batch) fold is provably insufficient — are
    rebuilt key-scoped from the raw log; in-order, new, and untouched
    keys fold without recompute. Result equals the full recompute for
    every key."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    schema = "uid long, status string, ts timestamp, eid long"
    args = dict(key="uid", attr="status", ts="ts", tiebreak="eid")
    prior_rows = [
        # key 1: change at t1, compressed repeat at t2 — the late batch
        # event lands BETWEEN them (the case a seed-only fold cannot fix)
        (1, "A", DT(2024, 1, 1), 1),
        (1, "A", DT(2024, 1, 3), 5),
        # key 2: in-order key (batch arrives after its last event)
        (2, "new", DT(2024, 1, 2), 12),
        # key 3: untouched
        (3, "new", DT(2024, 1, 4), 13),
        # key 5: late event strictly older than the open row
        (5, "x", DT(2024, 1, 2), 30),
        (5, "y", DT(2024, 1, 6), 31),
    ]
    batch_rows = [
        (1, "B", DT(2024, 1, 3), 3),    # late: ties folded ts, smaller eid
        (2, "paid", DT(2024, 1, 8), 22),  # in-order change
        (4, "new", DT(2024, 1, 9), 23),   # new key
        (5, "z", DT(2024, 1, 4), 32),     # late: older than open row's from
        (5, "w", DT(2024, 1, 7), 33),     # same key also has an in-order event
    ]
    prior = spark.createDataFrame(prior_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    hist = W.scd2_history(prior, carry_last=True, **args)
    merged = W.scd2_fold_or_repair(hist, batch, prior, derive_watermarks=derive_watermarks, **args)
    full = W.scd2_history(prior.unionByName(batch), carry_last=True, **args)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in full.collect()}
    # sanity: the hard key really has the A,B,A shape the fold can't produce
    k1 = sorted(
        (r["status"], r["valid_from"]) for r in full.collect() if r["uid"] == 1
    )
    assert [s for s, _ in k1] == ["A", "A", "B"]


def test_scd2_repair_keys_scoped(spark):
    """scd2_repair_keys rebuilds ONLY the listed keys from the raw log
    and passes every other key's rows through bit-identical."""
    from datetime import datetime as DT

    from z316_sales_data_pipeline_spark.operators import windows as W

    schema = "uid long, status string, ts timestamp, eid long"
    args = dict(key="uid", attr="status", ts="ts", tiebreak="eid")
    events = spark.createDataFrame(
        [
            (1, "A", DT(2024, 1, 1), 1),
            (1, "B", DT(2024, 1, 2), 2),
            (2, "new", DT(2024, 1, 3), 3),
        ],
        schema,
    )
    # a deliberately WRONG history for key 1 (as if late data corrupted it)
    bad = spark.createDataFrame(
        [(1, "A", DT(2024, 1, 1), None, 1), (2, "new", DT(2024, 1, 3), None, 1)],
        "uid long, status string, valid_from timestamp, valid_to timestamp, is_current int",
    )
    keys = spark.createDataFrame([(1,)], "uid long")
    fixed = W.scd2_repair_keys(bad, events, keys, **args)
    got = {tuple(r) for r in fixed.collect()}
    want_k1 = W.scd2_history(events.filter("uid = 1"), **args)
    assert {tuple(r) for r in want_k1.collect()} <= got
    assert (1, "A", DT(2024, 1, 1), None, 1) not in got
    assert (2, "new", DT(2024, 1, 3), None, 1) in got


def test_gapfill_locf_semantics(spark):
    """Gap days appear on the spine, additive measures zero-fill, and
    LOCF carries the last observation (NULL before the first one)."""
    import datetime as dt

    daily = spark.createDataFrame(
        [
            ("a", dt.date(2024, 1, 1), 2, None),
            ("a", dt.date(2024, 1, 4), 1, 500),
            ("b", dt.date(2024, 1, 2), 3, 100),
        ],
        "k string, day date, n int, px int",
    )
    out = windows.gapfill_locf(
        daily, key="k", date_col="day", zero_fill={"n": "n"}, locf={"px": "px"}
    )
    rows = {(r["k"], r["day"].isoformat()): (r["n"], r["px"]) for r in out.collect()}
    assert len(rows) == 5  # a: 4 spine days, b: 1
    assert rows[("a", "2024-01-02")] == (0, None)  # gap before first px obs
    assert rows[("a", "2024-01-03")] == (0, None)
    assert rows[("a", "2024-01-04")] == (1, 500)
    assert rows[("b", "2024-01-02")] == (3, 100)


def test_cusum_changepoint_finds_level_shift(spark):
    """A mean shift halfway through the series peaks |CUSUM| at the
    last pre-shift day."""
    import datetime as dt

    rows = [("m", dt.date(2024, 1, 1 + i), 10 if i < 5 else 20) for i in range(10)]
    daily = spark.createDataFrame(rows, "k string, day date, n int")
    out = windows.cusum_changepoint(daily, key="k", date_col="day", value_col="n").collect()
    assert len(out) == 1
    # mean=15; cusum after day i<5 is -5*(i+1), peaking at day 5 (|25|)
    assert out[0]["changepoint"] == dt.date(2024, 1, 5)
    assert out[0]["max_abs_cusum"] == 25.0


def test_association_rules_values(spark):
    """Support/confidence/lift computed from exact counts; directional."""
    baskets = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (4, "z"), (4, "x")],
        "b int, item string",
    )
    out = {
        (r["ante"], r["cons"]): r
        for r in aggregates.association_rules(
            baskets, "b", "item", k=10, min_pair_count=2
        ).collect()
    }
    # x,y co-occur twice; x in 4 baskets, y in 2, N=4
    r = out[("y", "x")]
    assert r["pair_n"] == 2
    assert r["support"] == 0.5
    assert r["confidence"] == 1.0  # y always implies x
    assert r["lift"] == 1.0  # x is in every basket
    r2 = out[("x", "y")]
    assert r2["confidence"] == 0.5
    assert r2["lift"] == 1.0


def test_seasonal_index_flags_concentrated_weekday(spark):
    """All-Monday events index at 7.0 and flag anomalous."""
    import datetime as dt

    ev = spark.createDataFrame(
        [("t", dt.datetime(2024, 1, 1 + 7 * i, 12, 0)) for i in range(4)],  # Mondays
        "event_type string, ts timestamp",
    )
    out = aggregates.seasonal_index(ev, ts_col="ts", group_col="event_type").collect()
    assert len(out) == 1
    assert out[0]["iso_dow"] == 1
    assert out[0]["seasonal_index"] == 7.0
    assert out[0]["is_anomalous"] is True


def test_k_core_keeps_clique_drops_chain(spark):
    """A 4-clique survives k=3 peeling; a pendant chain hanging off it
    is peeled away (degree < 3 after each recount)."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "src int, dst int")
    out = {r["node"]: r["core_degree"] for r in graph.k_core(edges, k=3, n_iters=3).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(v == 3 for v in out.values())


def test_sq8_error_bounded_by_half_step(spark):
    """Midpoint reconstruction error never exceeds step/2, and a
    degenerate (constant) dimension contributes exactly zero."""
    vecs = [
        (1, [0.0, 5.0], 0),
        (2, [25.5, 5.0], 0),
        (3, [51.0, 5.0], 1),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>, label int")
    out = {r["label"]: r for r in similarity.sq8_reconstruction_stats(
        df, vec_col="embedding", group_col="label"
    ).collect()}
    # dim0: range 51 -> step 0.2; max error <= 0.1. dim1 constant -> 0.
    assert out[0]["n_values"] == 4 and out[1]["n_values"] == 2
    assert out[0]["max_abs_err"] <= 0.1 + 1e-9
    assert out[1]["max_abs_err"] <= 0.1 + 1e-9
    assert out[1]["sq_err_sum"] <= 0.01


def test_zone_map_prune_clustered_beats_hash(spark):
    """A value-clustered layout skips the out-of-range blocks; a
    layout whose every block spans the full range skips none."""
    rows = [(i, i % 4, i // 25) for i in range(100)]  # value 0..99
    df = spark.createDataFrame(rows, "v int, hash_b int, clust_b int")
    out = {r["layout"]: r for r in sketch.zone_map_prune_stats(
        df, value_col="v",
        layouts={"hash": F.col("hash_b"), "clustered": F.col("clust_b")},
        lo=25, hi=49,
    ).collect()}
    assert out["clustered"]["n_read"] == 1 and out["clustered"]["n_skipped"] == 3
    assert out["hash"]["n_skipped"] == 0
    assert out["clustered"]["skip_fraction"] == 0.75


def test_ols_slope_exact_recovers_line(spark):
    """A perfect y = 2x + 1 relation yields slope 2, intercept 1."""
    rows = [("g", x, 2 * x + 1) for x in range(1, 8)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = aggregates.ols_slope_exact(
        df, key="g", x_int=F.col("x"), y_int=F.col("y"), min_n=5
    ).collect()
    assert len(out) == 1
    assert out[0]["slope"] == 2.0 and out[0]["intercept"] == 1.0


def test_touch_attribution_first_and_last(spark):
    """First/last non-conversion touches strictly before each purchase;
    a purchase with no prior touch gets NULLs."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    ev = [
        (1, 1, t0, "purchase"),          # no prior touch
        (2, 1, t0 + dt.timedelta(1), "view"),
        (3, 1, t0 + dt.timedelta(2), "click"),
        (4, 1, t0 + dt.timedelta(3), "purchase"),
        (5, 1, t0 + dt.timedelta(4), "email"),
        (6, 1, t0 + dt.timedelta(5), "purchase"),
    ]
    df = spark.createDataFrame(ev, "event_id long, user_id long, ts timestamp, event_type string")
    out = {r["event_id"]: (r["first_touch"], r["last_touch"]) for r in windows.touch_attribution(
        df, user_col="user_id", ts_col="ts", type_col="event_type",
        conversion="purchase", tiebreak="event_id",
    ).collect()}
    assert out[1] == (None, None)
    assert out[4] == ("view", "click")
    assert out[6] == ("view", "email")


def test_running_balance_runout_detects_stockout(spark):
    """Opening 5, flows -3, -4, +10 → min -2, stockout at day 2,
    closing 8."""
    import datetime as dt

    rows = [
        ("p", dt.date(2024, 1, 1), 1, -3),
        ("p", dt.date(2024, 1, 2), 2, -4),
        ("p", dt.date(2024, 1, 3), 3, 10),
    ]
    df = spark.createDataFrame(rows, "k string, d date, seq int, delta long")
    out = windows.running_balance_runout(
        df, key="k", ts_col="d", delta_col=F.col("delta"),
        opening=F.lit(5), tiebreaks=[F.col("seq"), F.col("delta")],
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["min_balance"] == -2
    assert r["first_stockout"] == dt.date(2024, 1, 2)
    assert r["closing_balance"] == 8


def test_gini_concentration_extremes(spark):
    """Equal shares → 0; a single holder of everything → (n-1)/n."""
    equal = [("e", f"u{i}", 100) for i in range(4)]
    skewed = [("s", "u0", 400)] + [("s", f"u{i}", 0) for i in range(1, 5)]
    df = spark.createDataFrame(equal + skewed, "g string, u string, cents long")
    out = {r["g"]: r["gini"] for r in aggregates.gini_concentration(
        df, group_col="g", unit_col="u", value_cents=F.col("cents")
    ).collect()}
    assert out["e"] == 0.0
    assert out["s"] == 0.8  # (n-1)/n with n=5


def test_benford_profile_digit_extraction_and_shares(spark):
    """Leading digit comes from integer cents; shares sum to 1 and
    expectations match log10(1 + 1/d)."""
    import math

    rows = [(9.87,), (98.7,), (987.0,), (1.23,), (0.45,)]  # digits 9,9,9,1,4
    df = spark.createDataFrame(rows, "amt double")
    out = {r["digit"]: r for r in quality.benford_profile(
        df, amount_cents=F.round(F.col("amt") * 100).cast("long")
    ).collect()}
    assert set(out) == {9, 1, 4}
    assert out[9]["n"] == 3 and out[9]["share"] == 0.6
    assert out[1]["expected"] == round(math.log10(2), 6)


def test_variability_classes_cv_and_cuts(spark):
    """A constant series classifies X (cv 0); an alternating extreme
    series classifies Z; min_periods filters short histories."""
    from z316_sales_data_pipeline_spark.operators.aggregates import variability_classes

    rows = (
        [("flat", p, 10) for p in range(1, 5)]
        + [("spiky", p, q) for p, q in [(1, 1), (2, 100), (3, 1), (4, 100)]]
        + [("short", 1, 5), ("short", 2, 5)]
    )
    df = spark.createDataFrame(rows, "k string, p int, q long")
    out = {r["k"]: r for r in variability_classes(
        df, key="k", period_col=F.col("p"), qty_int=F.col("q"), min_periods=3
    ).collect()}
    assert set(out) == {"flat", "spiky"}
    assert out["flat"]["cv"] == 0.0 and out["flat"]["xyz_class"] == "X"
    assert out["spiky"]["xyz_class"] == "Z" and out["spiky"]["cv"] > 1.0


def test_char_entropy_uniform_alphabet(spark):
    """A group whose text is a uniform 4-char alphabet has exactly
    2 bits of character entropy; a 1-char group has 0."""
    from z316_sales_data_pipeline_spark.operators.corpus import char_entropy_by_group

    df = spark.createDataFrame(
        [("u", "abcdabcdabcd"), ("z", "aaaaaa")], "g string, text string"
    )
    out = {r["g"]: r for r in char_entropy_by_group(df, "text", "g").collect()}
    assert out["u"]["entropy_bits"] == 2.0 and out["u"]["n_chars"] == 12
    assert out["z"]["entropy_bits"] == 0.0


def test_char_entropy_ignores_empty_strings(spark):
    """r7 ADVICE regression pin: sequence(1, 0) DESCENDS, so an empty
    document must not emit phantom ''-character rows — 'ab' plus ''
    in one group is n_chars=2 / 1 bit, and a group of only empty docs
    is absent (no character distribution)."""
    from z316_sales_data_pipeline_spark.operators.corpus import char_entropy_by_group

    df = spark.createDataFrame(
        [("g1", "ab"), ("g1", ""), ("g2", "")], "g string, text string"
    )
    out = {r["g"]: r for r in char_entropy_by_group(df, "text", "g").collect()}
    assert out["g1"]["n_chars"] == 2 and out["g1"]["entropy_bits"] == 1.0
    assert "g2" not in out


def test_near_duplicate_payments_exact_cents(spark):
    """The production operating point: identical exact-cents amounts on
    one account within the window pair up; different amounts, other
    accounts, and out-of-window repeats do not; (a < b) emits each
    pair once with no self-pairs."""
    import datetime as dt

    d = dt.date
    rows = [
        (1, 101, d(2024, 1, 1), 99.99),   # pairs with 102 (same cents, +2d)
        (1, 102, d(2024, 1, 3), 99.99),
        (1, 103, d(2024, 3, 1), 99.99),   # same cents but 58d later -> out
        (1, 104, d(2024, 1, 2), 50.00),   # different amount -> out
        (2, 201, d(2024, 1, 1), 99.99),   # other account -> out
    ]
    df = spark.createDataFrame(rows, "acct long, oid long, d date, amt double")
    got = quality.near_duplicate_payments(
        df, account_col="acct", id_col="oid", date_col="d",
        amount_cents=F.round(F.col("amt") * 100).cast("long"), max_days_apart=3,
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["acct"], r["id_a"], r["id_b"], r["days_apart"]) == (1, 101, 102, 2)


def test_ewma_forecast_dyadic_exact(spark):
    """alpha=1/2, k=3 on [100, 200, 400]: floors of the exact dyadic
    EWMA and the one-step backtest, computed by hand."""
    import datetime as dt

    from z316_sales_data_pipeline_spark.operators import timeseries

    daily = spark.createDataFrame(
        [
            (dt.date(2020, 1, 1), 100),
            (dt.date(2020, 1, 2), 200),
            (dt.date(2020, 1, 3), 400),
        ],
        "day date, cents long",
    )
    rows = {
        r["day"].day: r
        for r in timeseries.ewma_forecast(daily, "day", "cents", k=3).collect()
    }
    assert rows[1]["ewma_floor"] == 50 and rows[1]["forecast_floor"] is None
    assert rows[2]["ewma_floor"] == 125 and rows[2]["forecast_floor"] == 50
    assert rows[2]["abs_err_floor"] == 150
    assert rows[3]["ewma_floor"] == 262  # floor(400/2 + 200/4 + 100/8)
    assert rows[3]["forecast_floor"] == 125 and rows[3]["abs_err_floor"] == 275


def test_ewma_forecast_overflow_guard(spark):
    """r7 ADVICE regression pin: a daily value whose 2^k scaling would
    leave int64 raises with the coarsening advice instead of silently
    wrapping (Spark non-ANSI) and diverging from the HUGEINT oracle;
    a value just inside the bound still computes."""
    import datetime as dt

    import pytest

    from z316_sales_data_pipeline_spark.operators import timeseries

    bound = (2**63 - 1) >> 30
    over = spark.createDataFrame(
        [(dt.date(2020, 1, 1), bound + 1)], "day date, cents long"
    )
    with pytest.raises(ValueError, match="overflows"):
        timeseries.ewma_forecast(over, "day", "cents", k=30)
    ok = spark.createDataFrame(
        [(dt.date(2020, 1, 1), bound)], "day date, cents long"
    )
    assert timeseries.ewma_forecast(ok, "day", "cents", k=30).count() == 1


def test_peak_concurrency_sweep(spark):
    """Three overlapping intervals peak at 3 on the double-open day."""
    import datetime as dt

    iv = spark.createDataFrame(
        [
            ("A", dt.date(2020, 1, 1), dt.date(2020, 1, 3)),
            ("B", dt.date(2020, 1, 2), dt.date(2020, 1, 2)),
            ("C", dt.date(2020, 1, 2), dt.date(2020, 1, 5)),
        ],
        "id string, s date, e date",
    )
    out = windows.peak_concurrency(
        iv, "s", "e", "id", bucket_of=lambda d: F.date_format(d, "yyyy-MM")
    ).collect()
    assert {r["bucket"]: r["peak_concurrent"] for r in out} == {"2020-01": 3}


def test_safety_stock_constant_demand(spark):
    """Constant demand: std 0, reorder point = mean x lead."""
    d = spark.createDataFrame(
        [("p1", i, 10) for i in range(5)], "k string, d long, q long"
    )
    out = aggregates.safety_stock(
        d, "k", F.col("q"), lead_days=7, z_service=1.65, min_days=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["mean_daily"] == 10.0 and r["std_daily"] == 0.0
    assert r["reorder_point"] == 70.0


def test_kaplan_meier_textbook_and_zero_tail(spark):
    from z316_sales_data_pipeline_spark.operators import timeseries

    dur = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 0)], "dur long, ev long"
    )
    rows = {r["t"]: r for r in timeseries.kaplan_meier(dur, "dur", "ev").collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_risk"] == 3 and rows[1]["survival"] == 0.666667
    assert rows[2]["n_risk"] == 2 and rows[2]["survival"] == 0.333333
    # d == n at the last event time: exact zero, no ln(0) NULL leak
    dur2 = spark.createDataFrame([(1, 1), (2, 1)], "dur long, ev long")
    rows2 = {r["t"]: r for r in timeseries.kaplan_meier(dur2, "dur", "ev").collect()}
    assert rows2[2]["survival"] == 0.0


def test_mann_kendall_monotone_series(spark):
    from z316_sales_data_pipeline_spark.operators import timeseries

    pts = spark.createDataFrame(
        [("k", t, t) for t in range(10)], "g string, t long, v long"
    )
    r = timeseries.mann_kendall_sen(pts, ["g"], "t", "v", min_n=8).collect()[0]
    assert r["s_stat"] == 45 and r["tau"] == 1.0 and r["sen_slope"] == 1.0
    assert r["z_score"] > 3.0


def test_ngram_novelty_duplicate_doc_scores_zero(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus_mod.ngram_novelty(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2}  # <5-token doc has no grams
    assert out[1]["n_grams"] == 2 and out[1]["novelty"] == 1.0
    assert out[2]["n_novel"] == 0 and out[2]["novelty"] == 0.0


def test_bfs_hops_shortest_path_and_bound(spark):
    """BFS returns MINIMUM hops (a longer alternative path to node 2
    does not override its direct edge), respects the hop bound, and
    never revisits the seed."""
    # 0 -> 1 -> 2, plus a direct 0 -> 2 shortcut, plus a long chain
    # 2 -> 3 -> 4 -> 5 (node 5 is beyond max_hops=3), plus a back-edge
    # to the seed.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (2, 0)],
        "src int, dst int",
    )
    seeds = spark.createDataFrame([(0,)], "node int")
    out = {r["node"]: r["hops"] for r in graph.bfs_hops(edges, seeds, max_hops=3).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_disconnected_component_absent(spark):
    """Nodes unreachable from the seed set are absent, and a
    multi-seed set floods from every seed at hops 0."""
    edges = spark.createDataFrame(
        [(0, 1), (7, 8)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,), (7,)], "node int")
    out = {r["node"]: r["hops"] for r in graph.bfs_hops(edges, seeds, max_hops=2).collect()}
    assert out == {0: 0, 7: 0, 1: 1, 8: 1}


def test_bfs_bipartite_matches_edge_list_form(spark):
    """The bipartite expansion computes exactly the hops the explicit
    co-occurrence edge list would: items sharing a group are adjacent,
    self-loops don't resurrect visited nodes, hop bound respected."""
    # groups: {1,2 in g1}, {2,3 in g2}, {3,4 in g3}, {9 alone in g4}
    assoc = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (2, "g2"), (3, "g2"), (3, "g3"), (4, "g3"), (9, "g4")],
        "item int, grp string",
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    out = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops_bipartite(
            assoc, seeds, max_hops=2, item="item", group="grp"
        ).collect()
    }
    # 1 -> 2 (share g1) -> 3 (share g2); 4 is 3 hops away, 9 unreachable
    assert out == {1: 0, 2: 1, 3: 2}


def test_prefix_jaccard_join_lossless_vs_bruteforce(spark):
    """Prefix filtering must be LOSSLESS: the pruned join finds exactly
    the brute-force pair set at the threshold, including a pair whose
    only shared grams are its rarest (prefix) ones and excluding a
    high-overlap-but-below-threshold pair."""
    from itertools import combinations

    from z316_sales_data_pipeline_spark.operators import dedup

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),          # exact dup of 1 -> J = 1.0
        (3, "a b c d e g"),          # J vs 1: 4/6 = 0.667 < 0.7 -> out
        (4, "a b c d e f x"),        # J vs 1: 5/7 = 0.714 >= 0.7 -> in
        (5, "q r s t u v"),          # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.prefix_jaccard_join(df, "text", "doc_id", 0.7, 2).collect()
    }

    def grams(t):
        ws = t.split()
        return {" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)}

    want = set()
    for (ia, ta), (ib, tb) in combinations(rows, 2):
        ga, gb = grams(ta), grams(tb)
        inter = len(ga & gb)
        if inter * 10 >= len(ga | gb) * 7:
            want.add((min(ia, ib), max(ia, ib)))
    assert got == want and (1, 2) in got and (1, 4) in got and (1, 3) not in got


def test_snapshot_diff_matrix(spark):
    """added / removed / changed / unchanged-silent, with NULL-safe
    value comparison (NULL -> value is a change, NULL == NULL is not)."""
    from z316_sales_data_pipeline_spark.operators import ivm

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None), (5, "e")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (4, None), (6, "f")],
        "k long, v string",
    )
    got = {r["k"]: (r["change"], r["v_old"], r["v_new"])
           for r in ivm.snapshot_diff(old, new, "k", ["v"]).collect()}
    assert got == {
        2: ("changed", "b", "B"),
        3: ("changed", None, "c"),
        5: ("removed", "e", None),
        6: ("added", None, "f"),
    }


def test_delta_join_maintain_equals_full_join(spark):
    """The delta rule: MV(base) + (delta x dim) == full join, for an
    insert-only fact over a stable dimension."""
    from z316_sales_data_pipeline_spark.operators import ivm

    fact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "k long, x long"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, d string")
    base, delta = fact.filter("x < 20"), fact.filter("x >= 20")
    mv = base.join(dim, "k")
    got = ivm.delta_join_maintain(mv, delta, dim, "k")
    want = fact.join(dim, "k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_rrf_fuse_ranks_and_fold(spark):
    """RRF: a doc in both lists beats a doc in one; ranks come from
    (rounded score desc, id asc); the fold equals the hand-computed
    1/(60+r) sum."""
    from z316_sales_data_pipeline_spark.operators import similarity

    r1 = spark.createDataFrame([(1, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, s1 double")
    r2 = spark.createDataFrame([(2, 0.5), (4, 0.4)], "doc_id long, s2 double")
    out = {r["doc_id"]: r for r in similarity.rrf_fuse(
        {"a": (r1, "s1"), "b": (r2, "s2")}, "doc_id", k0=60, k=10
    ).collect()}
    assert out[2]["rank_a"] == 2 and out[2]["rank_b"] == 1
    assert abs(out[2]["rrf"] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert out[1]["rank_b"] is None
    top = sorted(out.values(), key=lambda r: (-r["rrf"], r["doc_id"]))
    assert top[0]["doc_id"] == 2  # in both lists -> wins


def test_ndcg_eval_bounds_and_perfect_query(spark, sf_dir):
    """nDCG is in [0, 1]; a query whose probe returns the exact top-10
    in order scores exactly 1; dcg_micro is a nonnegative integer.
    Against ann_recall_eval on the same configuration, per query: DCG
    is 0 exactly when no hit is retrieved, and nDCG 1 means all 10
    exact neighbours were retrieved."""
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = similarity.ndcg_eval(emb, "embedding", "vec_id", query_mod=100).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ndcg"] <= 1.0 and r["dcg_micro"] >= 0
    hits = {
        r["query_id"]: r["n_hits"]
        for r in similarity.ann_recall_eval(emb, "embedding", "vec_id", query_mod=100).collect()
    }
    assert sorted(hits) == sorted(r["query_id"] for r in rows)
    for r in rows:
        assert (r["dcg_micro"] == 0) == (hits[r["query_id"]] == 0), r
        assert r["ndcg"] != 1.0 or hits[r["query_id"]] == 10, r


def test_pearson_exact_known_values(spark):
    """r = 1 for a perfectly linear pair, ~0 for an orthogonal one, and
    the exact value for a hand-checkable triple."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    df = spark.createDataFrame(
        [(1, 2, 1), (2, 4, -1), (3, 6, 1), (4, 8, -1)], "x long, y long, z long"
    )
    out = {(r["measure_x"], r["measure_y"]): r["r"]
           for r in aggregates.pearson_exact(
               df, {"x": F.col("x"), "y": F.col("y"), "z": F.col("z")}).collect()}
    assert out[("x", "y")] == 1.0
    assert abs(out[("x", "z")]) < 0.45  # alternating sign ~ uncorrelated


def test_arrival_burstiness_metronome_and_bursty(spark):
    """A metronome key (constant gaps) scores B = -1 exactly (sigma=0);
    a bursty key scores > a regular one; sub-second timestamps count
    (the r8 micros fix — whole-second epochs truncated them)."""
    import datetime as dt

    from z316_sales_data_pipeline_spark.operators import timeseries

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):  # metronome: exactly 60 s apart
        rows.append((i, base + dt.timedelta(seconds=60 * i), "tick", 0.0))
    # bursty: 9 gaps of 1 s then one of 1000 s
    t = base
    for i in range(10):
        t = t + dt.timedelta(seconds=(1000 if i == 9 else 1))
        rows.append((100 + i, t, "burst", 0.0))
    # sub-second: gaps of 0.5 s must not truncate to 0
    for i in range(4):
        rows.append((200 + i, base + dt.timedelta(milliseconds=500 * i), "micro", 0.0))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    out = {r["event_type"]: r for r in timeseries.arrival_burstiness(
        ev, "event_type", "ts", "event_id").collect()}
    assert out["tick"]["burstiness"] == -1.0
    assert out["burst"]["burstiness"] > 0.4 > out["tick"]["burstiness"]
    assert out["micro"]["mean_gap_s"] == 0.5


def test_collocation_pmi_doc_local_counts(spark):
    """PMI favors the pair that ALWAYS co-occurs over the one diluted
    by solo appearances; pairs below min_docs are absent."""
    from z316_sales_data_pipeline_spark.operators import corpus as C

    rows = [(i, "alpha beta common") for i in range(5)]      # alpha+beta always together
    rows += [(10 + i, "gamma common") for i in range(5)]      # gamma solo with common
    rows += [(20 + i, "gamma delta common") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["token_a"], r["token_b"]): r for r in C.collocation_pmi(
        df, "text", "doc_id", min_docs=5, k=20).collect()}
    assert ("alpha", "beta") in out and out[("alpha", "beta")]["n_ab"] == 5
    # exclusive pair beats the diluted gamma-common pair
    assert out[("alpha", "beta")]["pmi"] > out[("common", "gamma")]["pmi"]
    assert ("beta", "gamma") not in out  # never co-occur


def test_revenue_waterfall_identity(spark, sf_dir):
    """net == gross - discount + tax holds bit-for-bit per month (the
    expanded price*(1-d)*(1+t) identity in exact micro-dollars)."""
    import __spark_entry__ as entrymod

    for r in entrymod.queries()["revenue_waterfall"](spark, sf_dir).collect():
        assert r["net_micro"] == r["gross_micro"] - r["discount_micro"] + r["tax_micro"]


def test_retractable_agg_maintain_matrix(spark):
    """IVM-with-deletes law on a hand matrix: upsert moving a row to
    ANOTHER group retracts from the old group; a delete retracts only;
    a group emptied by deletes disappears; untouched groups pass
    through. Result equals re-aggregating the applied snapshot."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import ivm

    snap = spark.createDataFrame(
        [(1, "g1", 10), (2, "g1", 20), (3, "g2", 5), (4, "g3", 7)],
        "k long, g string, m long",
    )
    changes = spark.createDataFrame(
        [
            (1, 2, "upsert", "g2", 11),   # moves k=1 from g1 to g2
            (3, 2, "delete", "g2", 0),    # retracts k=3 from g2
            (4, 2, "delete", "g3", 0),    # empties g3 entirely
            (5, 2, "upsert", "g4", 9),    # new key, new group
        ],
        "k long, v long, op string, g string, m long",
    )
    base = snap.groupBy("g").agg(F.count(F.lit(1)).alias("n"), F.sum("m").alias("m_total"))
    got = {
        r["g"]: (r["n"], r["m_total"])
        for r in ivm.retractable_agg_maintain(
            base, snap, changes, key="k", op_col="op", version_col="v",
            group_col="g", measures={"m_total": F.col("m")},
        ).collect()
    }
    applied = sinks.cdc_apply(snap, changes, key="k", op_col="op", version_col="v")
    want = {
        r["g"]: (r["n"], r["m_total"])
        for r in applied.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("m").alias("m_total")
        ).collect()
    }
    assert got == want == {"g1": (1, 20), "g2": (1, 11), "g4": (1, 9)}


def test_pearson_exact_drops_incomplete_rows(spark):
    """ADVICE r8: a NULL in any measure must not skew the moments —
    complete-case semantics: rows with any NULL measure are excluded
    from n AND every sum, so the result equals pearson over the
    complete rows only."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    full = spark.createDataFrame(
        [(1, 2), (2, 4), (3, 6), (4, 8)], "x long, y long"
    )
    with_nulls = spark.createDataFrame(
        [(1, 2), (2, 4), (3, 6), (4, 8), (None, 99), (7, None)],
        "x long, y long",
    )
    cols = {"x": F.col("x"), "y": F.col("y")}
    want = aggregates.pearson_exact(full, cols).collect()[0]
    got = aggregates.pearson_exact(with_nulls, cols).collect()[0]
    assert (got["n"], got["r"]) == (want["n"], want["r"]) == (4, 1.0)


def test_psi_drift_bucket_assignment_is_integral_div(spark):
    """ADVICE r8: bucket = (v-lo) div width must be TRUE integer
    division, exact for all longs — not floor(double/double), which
    misassigns once (v-lo) exceeds 2^53. 2^53+1 is the first long a
    double cannot represent: under double division it collapses onto
    2^53 and lands in the wrong bucket for width 1... verified here at
    the boundary via a 2-bucket split whose edge sits at 2^53+1."""
    from z316_sales_data_pipeline_spark.operators import quality

    lo, edge = 0, (1 << 53) + 1
    hi = 2 * edge - 1  # width = ceil((hi-lo+1)/2) = 2^53+1
    old = spark.createDataFrame([(lo,), (hi,)], "v long")
    # edge value belongs in bucket 1: (edge - 0) div (2^53+1) == 1;
    # double division gives 2^53/(2^53+1) -> floor 0 (wrong bucket)
    new = spark.createDataFrame([(edge,)], "v long")
    out = {r["bucket"]: (r["n_old"], r["n_new"])
           for r in quality.psi_drift(old, new, F.col("v"), n_buckets=2).collect()}
    assert out[1][1] == 1 and out[0][1] == 0


def test_sorted_neighborhood_window_semantics(spark):
    """Pairs come ONLY from the next window-1 positions of the global
    sort; distance filter is exact levenshtein."""
    from z316_sales_data_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "alphb"), (3, "alphc"), (4, "zzzzz"), (5, "alqha")],
        "id long, name string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.sorted_neighborhood_pairs(
            df, F.col("name"), "id", window=3, max_dist=2
        ).collect()
    }
    # sorted: alpha(1) alphb(2) alphc(3) alqha(5) zzzzz(4); window 3 pairs
    # each with next two. (1,2)=1 (1,3)=1 (2,3)=1 (2,5)=2 (3,5)=2; (5,4)
    # and (3,4) fail the distance cut; (1,5)=1 is OUTSIDE the window.
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (2, 5): 2, (3, 5): 2}


def test_edit_distance_join_known_pairs(spark):
    """k=1 join finds substitutions, insertions/deletions and exact
    duplicates (dist 0), and never pairs beyond distance 1."""
    from z316_sales_data_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "spark"), (2, "sparc"), (3, "spar"), (4, "sparkk"), (5, "duck"),
         (6, "spark")],
        "id long, s string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.edit_distance_join(df, "s", "id", k=1).collect()
    }
    assert got[(1, 6)] == 0          # identical strings
    assert got[(1, 2)] == 1          # substitution
    assert got[(1, 3)] == 1          # deletion
    assert got[(1, 4)] == 1          # insertion
    assert (1, 5) not in got and (2, 5) not in got
    # sparc<->spar is also distance 1; sparc<->sparkk is 2 (absent)
    assert got[(2, 3)] == 1 and (2, 4) not in got


def test_growth_accounting_identity_and_classes(spark):
    """dau == new + retained + resurrected every day; churn lands on
    the day AFTER the lapse."""
    import datetime as dt

    from z316_sales_data_pipeline_spark.operators import timeseries

    D = lambda d: dt.datetime(2024, 1, d, 12)  # noqa: E731
    rows = [
        ("a", D(1)), ("a", D(2)), ("a", D(4)),   # new d1, retained d2, churn d3, resurrected d4
        ("b", D(2)),                               # new d2, churn d3
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {str(r["day"]): r for r in timeseries.growth_accounting(df, "user_id", "ts").collect()}
    for r in out.values():
        assert r["dau"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]
    assert out["2024-01-01"]["n_new"] == 1
    assert out["2024-01-02"]["n_new"] == 1 and out["2024-01-02"]["n_retained"] == 1
    assert out["2024-01-03"]["n_churned"] == 2 and out["2024-01-03"]["dau"] == 0
    assert out["2024-01-04"]["n_resurrected"] == 1
    assert out["2024-01-05"]["n_churned"] == 1  # a's final lapse


def test_interval_union_length_merges_overlaps(spark):
    """Overlapping and touching intervals merge; disjoint ones open new
    islands; coverage is the union length, not the duration sum."""
    import datetime as dt

    from z316_sales_data_pipeline_spark.operators import timeseries

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("u", base),                                  # [0, 1800)
        ("u", base + dt.timedelta(seconds=900)),      # overlaps -> [0, 2700)
        ("u", base + dt.timedelta(seconds=2700)),     # touches   -> [0, 4500)
        ("u", base + dt.timedelta(seconds=10_000)),   # new island
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    r = timeseries.interval_union_length(df, "user_id", "ts", duration_s=1800).collect()[0]
    assert r["n_islands"] == 2
    assert r["active_micros"] == (4500 + 1800) * 1_000_000


def test_monetary_unit_sample_guarantees_high_value_rows(spark):
    """Any row whose amount >= the sampling interval MUST be picked
    (it spans at least one boundary) — the property MUS exists for."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    rows = [(i, 100) for i in range(100)] + [(100, 60_000)]
    df = spark.createDataFrame(rows, "k long, cents long")
    out = aggregates.monetary_unit_sample(
        df, [F.col("k")], F.col("cents"), n_picks=10
    ).collect()
    # total = 70_000, interval = 7_000 < 60_000 -> the big row is in
    assert any(r["k0"] == 100 for r in out)
    picked_cents = sum(r["cents"] for r in out)
    assert picked_cents >= 60_000


def test_ks_two_sample_identical_and_disjoint(spark):
    """D == 0 for identical samples, == 1 for fully separated ones."""
    from z316_sales_data_pipeline_spark.operators import quality

    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "v long")
    b = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "v long")
    assert quality.ks_two_sample(a, b, F.col("v")).collect()[0]["ks_distance"] == 0.0
    c = spark.createDataFrame([(v,) for v in [10, 11]], "v long")
    assert quality.ks_two_sample(a, c, F.col("v")).collect()[0]["ks_distance"] == 1.0


def test_ols_two_feature_recovers_plane(spark):
    """Exact recovery of y = 3*x1 - 2*x2 + 7 from noise-free integer
    data (the intercept is absorbed by centering)."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    rows = [
        ("g", x1, x2, 3 * x1 - 2 * x2 + 7)
        for x1 in range(0, 10)
        for x2 in range(0, 5)
    ]
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
    r = aggregates.ols_two_feature_exact(
        df, "g", F.col("x1"), F.col("x2"), F.col("y")
    ).collect()[0]
    assert (r["beta1"], r["beta2"]) == (3.0, -2.0)


def test_containment_join_subset_detection(spark):
    """A text fully contained in a longer one scores containment 1.0
    even when its Jaccard is small; unrelated texts never pair."""
    from z316_sales_data_pipeline_spark.operators import dedup

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = quote + " while winter rain falls on the quiet harbor town tonight"
    df = spark.createDataFrame(
        [(1, quote, "en"), (2, long_doc, "en"), (3, "completely different words here now", "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_join(df, "text", "doc_id", "lang", threshold=0.9).collect()
    }
    assert got == {(1, 2): 1.0}


def test_rolling_distinct_vs_bruteforce(spark):
    """Explode-based trailing distinct equals the quadratic self-join
    answer on a small stream."""
    import datetime as dt

    from z316_sales_data_pipeline_spark.operators import timeseries

    rows = []
    for day in range(1, 15):
        for u in range(day % 4 + 1):
            rows.append((f"u{u}", dt.datetime(2024, 1, day)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {str(r["day"]): r["active_7d"]
           for r in timeseries.rolling_distinct(df, "ts", "user_id", 7).collect()}
    days = sorted({r[1].date() for r in rows})
    for d in days:
        users = {u for u, t in rows if 0 <= (d - t.date()).days <= 6}
        assert got[str(d)] == len(users)


def test_lm_trigram_backoff_short_docs_no_phantom_rows(spark):
    """Docs under 3 tokens produce NO trigrams (sequence(1,0) would
    descend and emit phantom out-of-range grams — the shingles()
    guard class); levels classify against the reference sets."""
    from z316_sales_data_pipeline_spark.operators import corpus as C

    df = spark.createDataFrame(
        [
            (0, "a b c d"),          # target (id % 10 == 0)
            (10, "xy"),               # target, < 3 tokens: no rows
            (1, "a b c z"),           # reference
            (2, "q b c d"),           # reference
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in C.lm_trigram_backoff(df, "text", "doc_id").collect()}
    assert 10 not in rows
    r = rows[0]
    # target trigrams: 'a b c' (in ref via doc 1 -> l3), 'b c d' (in ref
    # via doc 2 -> l3)
    assert (r["n_tri"], r["n_l3"]) == (2, 2) and r["hit3_rate"] == 1.0


def test_token_run_lengths_known_runs(spark):
    """Longest identical-token run + run count, deterministic argmax
    under ties (lexicographically larger token wins)."""
    from z316_sales_data_pipeline_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(1, "go go go stop stop ok"), (2, "a a b b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in C.token_run_lengths(df, "text", "doc_id").collect()}
    assert (out[1]["n_tokens"], out[1]["n_runs"], out[1]["max_run"], out[1]["run_token"]) == (6, 3, 3, "go")
    # doc 2: runs (a,2) (b,2) tie on length -> 'b' wins
    assert (out[2]["max_run"], out[2]["run_token"]) == (2, "b")


def test_bm25_incremental_equals_full_recompute(spark, sf_dir):
    """Partial-merge BM25 == full-corpus BM25 bit-for-bit (stats are
    plain sums over disjoint doc-grain rows)."""
    from z316_sales_data_pipeline_spark.operators import corpus as C
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "merge", "window"]
    base = C.bm25_per_doc(docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id", terms)
    inc = C.bm25_rank_incremental(
        base, docs.filter(F.col("doc_id") % 5 == 0), "text", "doc_id", terms, k=20
    )
    full = C.bm25_rank(docs, "text", "doc_id", terms, k=20)
    assert [tuple(r) for r in inc.collect()] == [tuple(r) for r in full.collect()]


def test_token_budget_incremental_equals_full_recompute(spark, sf_dir):
    """The cutoff-carrying prefix rule on real data: folding a new
    batch into the at-rest (selection, cutoff) state — gate the batch
    on the cutoff, re-rank selected ∪ survivors — must equal the full
    greedy recompute over the union bit-for-bit."""
    from z316_sales_data_pipeline_spark.operators import corpus as C
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    at_rest = docs.filter(F.col("doc_id") % 7 != 0)
    prior = C.token_budget_select(at_rest, "text", "doc_id", "source", 3000)
    cut = C.token_budget_cutoff(at_rest, "text", "doc_id", "source", 3000)
    inc = C.token_budget_select_incremental(
        prior, docs.filter(F.col("doc_id") % 7 == 0), "text", "doc_id", "source", 3000, cut
    )
    full = C.token_budget_select(docs, "text", "doc_id", "source", 3000)
    key = ["source", "doc_id"]
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))
    assert inc.select(key).distinct().count() == inc.count()


def test_token_budget_incremental_rejected_doc_counterexample(spark):
    """The r12-advice counterexample, constructed: at-rest d1 (90 tok,
    selected) and d2 (20 tok, REJECTED at budget 100); a batch doc b
    (5 tok) ranking below d2 must be rejected by the fold exactly as
    the full recompute rejects it — the cutoff gate is what makes the
    incremental fold exact (a selected-rows-only fold would admit b at
    cum 95). Also covers the displacement side: a batch doc b2 ranking
    ABOVE d1 is admitted and the fold's cumulative sums match the full
    recompute's."""
    from z316_sales_data_pipeline_spark.operators import corpus as C

    words = lambda n: " ".join(f"word{i:02d}" for i in range(n))
    # d1: 90 tok q3; d2: 20 tok q3 — budget 100 selects d1, rejects d2
    at_rest = spark.createDataFrame(
        [(1, "s", words(90)), (2, "s", words(20))], "doc_id long, source string, text string"
    )
    prior = C.token_budget_select(at_rest, "text", "doc_id", "source", 100)
    assert [r["doc_id"] for r in prior.collect()] == [1]
    cut = C.token_budget_cutoff(at_rest, "text", "doc_id", "source", 100)
    assert [tuple(r) for r in cut.collect()] == [("s", 3, 2)]

    # the pure counterexample: b (5 tok, q2 — nc<50) ranks below d2;
    # a selected-rows-only fold would see cum 90+5=95 and admit it
    b = spark.createDataFrame([(3, "s", words(5))], "doc_id long, source string, text string")
    inc = C.token_budget_select_incremental(
        prior, b, "text", "doc_id", "source", 100, cut
    )
    full = C.token_budget_select(at_rest.unionByName(b), "text", "doc_id", "source", 100)
    assert [r["doc_id"] for r in full.collect()] == [1]
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))

    # the displacement side: b2 (10 tok, q3, id 0) ranks ABOVE d1 and
    # is admitted; d1 lands exactly at the budget — both kept
    b2 = spark.createDataFrame([(0, "s", words(10))], "doc_id long, source string, text string")
    inc2 = C.token_budget_select_incremental(
        prior, b2, "text", "doc_id", "source", 100, cut
    )
    full2 = C.token_budget_select(at_rest.unionByName(b2), "text", "doc_id", "source", 100)
    assert sorted(r["doc_id"] for r in full2.collect()) == [0, 1]
    assert sorted(map(tuple, inc2.collect())) == sorted(map(tuple, full2.collect()))

    # cutoff maintenance matches the full recompute's boundary in both folds
    for batch, merged in ((b, at_rest.unionByName(b)), (b2, at_rest.unionByName(b2))):
        new_cut = C.token_budget_cutoff_incremental(
            prior, batch, "text", "doc_id", "source", 100, cut
        )
        full_cut = C.token_budget_cutoff(merged, "text", "doc_id", "source", 100)
        assert sorted(map(tuple, new_cut.collect())) == sorted(
            map(tuple, full_cut.collect())
        )


def test_ivf_incremental_recall_empty_batch_is_ann_recall_eval(spark, sf_dir):
    """With no appended batch the aged-index audit IS ann_recall_eval:
    same centroids (corpus-only), same corpus, same queries."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    empty = emb.filter(F.lit(False))
    inc = S.ivf_incremental_recall(emb, empty, "embedding", "vec_id", 100, 10, 16, 4)
    base = S.ann_recall_eval(emb, "embedding", "vec_id", 100, 10, 16, 4)
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, base.collect()))


def test_ivf_append_matches_full_assignment_on_new_ids(spark, sf_dir):
    """Appending under the frozen quantizer gives each new vector the
    SAME cell the full assignment over the union would give it — cell
    identity depends only on (vector, centroids), so the at-rest rows
    never need rewriting."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    cents = S._centroids(corpus, "embedding", "vec_id", 16)
    appended = {
        (r["vec_id"], r["cell"])
        for r in S.ivf_append(batch, "embedding", "vec_id", cents).collect()
    }
    full = S.ivf_assign(
        emb.withColumn("embedding", F.col("embedding").cast("array<double>")),
        "embedding",
        cents,
    )
    want = {
        (r["vec_id"], r["cell"])
        for r in full.filter(F.col("vec_id") % 5 == 0).select("vec_id", "cell").collect()
    }
    assert appended == want and appended


def test_always_valid_pvalue_refuses_multi_arm(spark):
    """mSPRT is strictly two-sample: n_arms != 2 must raise instead of
    silently dropping units hashed to arms 2..n-1."""
    from z316_sales_data_pipeline_spark.operators import experiment

    df = spark.createDataFrame(
        [("u1", "2024-01-01", 5)], "uid string, ts string, v long"
    )
    with pytest.raises(ValueError, match="two-sample"):
        experiment.always_valid_pvalue(df, F.col("v"), "uid", "ts", 1.0, n_arms=3)


def test_market_concentration_total_overflow_fail_stop(spark):
    """A group whose seller totals sum past int64 must raise (the
    decimal->long cast would silently NULL in non-ANSI Spark while the
    oracle widens) — the assert_true guard fires on collect."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    # 11 sellers x 9e17 = 9.9e18 > int64 max; each per-seller sum fits
    rows = [("g", f"s{i}", 900_000_000_000_000_000) for i in range(11)]
    df = spark.createDataFrame(rows, "grp string, seller string, v long")
    with pytest.raises(Exception, match="exceeds int64"):
        aggregates.market_concentration(df, ["grp"], "seller", F.col("v")).collect()


def test_market_concentration_per_seller_overflow_fail_stop(spark):
    """A single SELLER whose value sum overflows decimal(18,0) must
    raise, not vanish (ADVICE r13): sum() skips the NULLed __s, so
    without the guard the group would silently emit a total/hhi over
    the surviving sellers (or NULL when all overflow) while the
    widening oracle keeps real values."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    # one seller, 2 x 6e17 = 1.2e18 — fits int64, overflows decimal(18).
    # Under ANSI (this suite) the decimal cast itself raises; under
    # non-ANSI the cast NULLs silently and the __novf guard is the only
    # thing standing between that NULL and a silent parity divergence —
    # accept either loud failure.
    rows = [("g", "s0", 600_000_000_000_000_000)] * 2 + [("g", "s1", 5)]
    df = spark.createDataFrame(rows, "grp string, seller string, v long")
    with pytest.raises(
        Exception,
        match="per-seller value sum overflowed|cannot be represented as Decimal",
    ):
        aggregates.market_concentration(df, ["grp"], "seller", F.col("v")).collect()


def test_label_propagation_rejects_unknown_hot_degree_string(spark):
    """Any string other than 'auto' must raise up front (ADVICE r13):
    it would otherwise reach skew_split_edges as a string compared
    against a long degree column and fail deep in the plan."""
    from z316_sales_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    with pytest.raises(ValueError, match="hot_degree must be"):
        label_propagation(edges, nodes, "id", n_iters=1, hot_degree="adaptive")


def test_trigram_doc_logprob_hand_computed(spark):
    """Stupid-backoff scores on a corpus small enough to price by
    hand: one target trigram at each backoff level (trigram hit,
    bigram backoff, unigram backoff, OOV floor), each score =
    floor(ln(rational)*1e6) with the canonical 0.4 factor folded in."""
    import math

    from z316_sales_data_pipeline_spark.operators import corpus as C

    # ref (id=1): trigrams (a b c), (b c d); N=2
    # target id=0 "x b c d": "x b c" -> L2 (t2 "b c" in ref, c1p(b)=1)
    #                        "b c d" -> L3 (c3=1, c2p("b c")=1)
    # target id=10 "y y d y": "y y d" -> L1 (c1(d)=1), "y d y" -> OOV
    docs = spark.createDataFrame(
        [(1, "a b c d"), (0, "x b c d"), (10, "y y d y")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_tri"], r["logprob_micro"], r["avg_logprob_micro"])
        for r in C.trigram_doc_logprob(docs, "text", "doc_id", holdout_mod=10).collect()
    }
    m = lambda x: math.floor(math.log(x) * 1e6)  # noqa: E731
    want0 = m(2 * 1 / (5 * 1)) + m(1 / 1)  # L2 + L3
    want10 = m(4 * 1 / (25 * 2)) + m(4 / (25 * 3))  # L1 + OOV floor
    assert out[0] == (2, want0, want0 // 2)
    assert out[10] == (2, want10, math.floor(want10 / 2))
    assert 1 not in out  # ref docs are not scored


def test_code_switch_audit_hand_cases(spark):
    """Pure-language, mixed, and no-signal docs land exactly where the
    2*second >= top rule says; lang_top matches language_id's argmax
    tie-break; the flag never fires when nothing matches."""
    from z316_sales_data_pipeline_spark.functions.text import language_id
    from z316_sales_data_pipeline_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog is in that house for sure"),  # en only
            (2, "the house el perro la casa and que de to is"),  # en + es mix
            (3, "zz yy xx ww"),  # no stopwords at all
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["lang_top"], r["hits_top"], r["hits_second"], r["is_code_switched"])
        for r in C.code_switch_audit(docs, "text", "doc_id").collect()
    }
    assert out[1][0] == "en" and out[1][3] == 0 and out[1][2] * 2 < out[1][1]
    assert out[2][0] in ("en", "es") and out[2][3] == 1
    assert out[3] == ("und", 0, 0, 0)
    # lang_top agrees with the single-label language_id everywhere
    li = {
        r["doc_id"]: r["l"]
        for r in docs.select("doc_id", language_id("text").alias("l")).collect()
    }
    assert all(out[k][0] == li[k] for k in out)


def test_embedding_outlier_audit_chebyshev_and_injection(spark, sf_dir):
    """Counts reconcile to the corpus; per-cell outliers respect the
    one-sided Chebyshev bound for z>3 (≤ n/9, any distribution); an
    injected far-away vector is flagged in its cell."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = S.embedding_outlier_audit(emb, "embedding", "vec_id", 16, 3.0).collect()
    assert sum(r["n"] for r in rows) == emb.count()
    for r in rows:
        assert r["n_outliers"] <= r["n"] / 9 + 1

    # inject: scale one non-centroid vector far out of its cluster
    spiked = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 399,
            F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 50.0),
        ).otherwise(F.col("embedding").cast("array<double>")),
    )
    before = {r["cell"]: r["n_outliers"] for r in rows}
    after = S.embedding_outlier_audit(spiked, "embedding", "vec_id", 16, 3.0).collect()
    assert sum(r["n_outliers"] for r in after) >= sum(before.values()) + 1 - 2
    assert any(r["n_outliers"] >= 1 for r in after)


def test_curriculum_phases_matches_global_window(spark, sf_dir):
    """Two-phase ntile + per-phase rank == the plain global-window
    formulation bit-for-bit (the windows are fine at test scale; the
    operator exists so the same answer computes without them)."""
    from pyspark.sql import Window as W

    from z316_sales_data_pipeline_spark.functions.text import (
        quality_score_int3,
        whitespace_token_count,
    )
    from z316_sales_data_pipeline_spark.operators import corpus as C
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = sorted(map(tuple, C.curriculum_phases(docs, "text", "doc_id", 3).collect()))
    base = docs.select(
        "doc_id",
        quality_score_int3("text").cast("int").alias("quality_x3"),
        whitespace_token_count("text").cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = W.orderBy(F.col("quality_x3").desc(), F.col("n_tokens").asc(), F.col("doc_id").asc())
    want = sorted(
        map(
            tuple,
            base.withColumn("phase", F.ntile(3).over(w))
            .withColumn(
                "pos",
                F.row_number()
                .over(W.partitionBy("phase").orderBy("h", "doc_id"))
                .cast("long"),
            )
            .select("doc_id", "quality_x3", "n_tokens", "phase", "pos")
            .collect(),
        )
    )
    assert got == want and got


def test_filter_overlap_matrix_bounds_and_hand_case(spark):
    """Overlap counts are bounded by the diagonals, only a<=b pairs
    are emitted, and a hand-built corpus lands each doc in the
    expected cells (a doc failing two rules counts in their overlap)."""
    from z316_sales_data_pipeline_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [
            (1, "tiny"),  # short AND low quality (punct-free but <50 chars)
            (2, "the and of to is in that it for with " * 5),  # en, long enough
            (3, "b b b b b b b b b b b b b b"),  # repetition + und + quality
        ],
        "doc_id long, text string",
    )
    rows = {(r["rule_a"], r["rule_b"]): r["n_both"] for r in C.filter_overlap_matrix(docs, "text", "doc_id").collect()}
    assert len(rows) == 10
    names = ["short", "quality", "lang", "repeat"]
    diag = {a: rows[(a, a)] for a in names}
    for (a, b), v in rows.items():
        assert v <= min(diag[a], diag[b])
        assert names.index(a) <= names.index(b)
    assert rows[("short", "short")] >= 1  # doc 1
    assert rows[("repeat", "repeat")] == 1  # doc 3
    assert rows[("lang", "repeat")] == 1  # doc 3 fails both


def test_mix_epoch_plan_cap_and_budget_laws(spark, sf_dir):
    """Epoch cap binds exactly when shortfall is reported; allocations
    reconcile with the budget to within per-source floor loss; an
    uncapped plan (max_epochs=inf-ish) has zero shortfall everywhere."""
    from z316_sales_data_pipeline_spark.operators import corpus as C
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    total = 200_000
    rows = C.mix_epoch_plan(docs, "text", "source", total, 0.3, 4.0).collect()
    assert rows
    for r in rows:
        assert r["epochs"] <= 4.0
        assert (r["shortfall_tokens"] > 0) == (r["epochs"] == 4.0) or r["shortfall_tokens"] == 0
        if r["shortfall_tokens"] > 0:
            assert r["epochs"] == 4.0
    # floors lose < 1 token per source
    assert abs(sum(r["target_tokens"] for r in rows) - total) <= len(rows)

    free = C.mix_epoch_plan(docs, "text", "source", total, 0.3, 1e9).collect()
    assert all(r["shortfall_tokens"] == 0 for r in free)


def test_mmr_rerank_prefers_diverse_over_duplicate(spark):
    """At lam=0.5 an exact duplicate of the first pick scores
    0.5·1 − 0.5·1 = 0, tying the orthogonal (irrelevant) vector — the
    tie breaks to the lower id, so the diverse result outranks the
    duplicate that plain cosine top-k would put second."""
    from z316_sales_data_pipeline_spark.operators import similarity as S

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [
        (r["rank"], r["vec_id"], r["rel"])
        for r in S.mmr_rerank(df, "embedding", "vec_id", [1.0, 0.0], k=3, pool=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    assert out == [(1, 1, 1.0), (2, 2, 0.0), (3, 3, 1.0)]
    # plain top-k would order (1, 3, 2): the duplicate loses its head start


def test_mmr_rerank_string_ids(spark):
    """The result schema derives the id type from the input — string
    ids must round-trip instead of crashing the hardcoded 'vid long'
    createDataFrame (r12 advice)."""
    from z316_sales_data_pipeline_spark.operators import similarity as S

    rows = [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [1.0, 0.0])]
    df = spark.createDataFrame(rows, "doc string, embedding array<double>")
    out = S.mmr_rerank(df, "embedding", "doc", [1.0, 0.0], k=3, pool=3, lam=0.5)
    assert out.schema["doc"].dataType.simpleString() == "string"
    assert [(r["rank"], r["doc"]) for r in out.orderBy("rank").collect()] == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_label_propagation_auto_split_is_result_invariant(spark):
    """hot_degree='auto' (the in-plan skew decision) and an explicit
    threshold both label a hub-heavy graph identically to the plain
    shuffle plan — the split is a partition of the edge multiset, so
    the mitigation can never change results. On a flat ring the auto
    profile must NOT arm the split (max degree < 10× mean) and the
    labels still match."""
    from z316_sales_data_pipeline_spark.operators import graph as G

    nodes = spark.range(40).select(F.col("id"))
    hub = spark.range(1, 40).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    ring = spark.range(1, 39).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    half = hub.unionByName(ring)
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def labels(hd):
        return sorted(
            map(tuple, G.label_propagation(edges, nodes, "id", n_iters=2, hot_degree=hd).collect())
        )

    plain = labels(None)
    assert labels("auto") == plain
    assert labels(5) == plain

    flat = ring.unionByName(ring.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    flat_nodes = spark.range(1, 40).select(F.col("id"))
    assert (
        sorted(map(tuple, G.label_propagation(flat, flat_nodes, "id", 2, "auto").collect()))
        == sorted(map(tuple, G.label_propagation(flat, flat_nodes, "id", 2, None).collect()))
    )


def test_suffix_dedup_spans_agree_with_span_dedup(spark, sf_dir):
    """Agreement law between the exact substring channel and the
    window-hash channel: per doc, the number of VERIFIED duplicated
    window POSITIONS (suffix_dup_hits, pre-merge — ADVICE r13: merged
    span lengths count gap positions that are not themselves
    duplicated, which made this law data-dependent) is ≤ span_dedup's
    n_dup_windows (rolling-hash duplication): every exact-dup
    position's text is shared across ≥ 2 docs, hence so is its hash —
    a collision can only MERGE hash groups, so the hash channel
    over-flags, never under-flags; counted this way the law is a
    theorem. Spans are well-formed: length ≥ L, disjoint and
    non-adjacent per doc (maximality); every hit position lies inside
    some span and every span is covered by hits at both ends."""
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    L = 8
    docs = load_table(spark, sf_dir, "documents")
    hits = D.suffix_dup_hits(docs, "text", "doc_id", min_tokens=L).collect()
    spans = D.suffix_dedup_spans(docs, "text", "doc_id", min_tokens=L).collect()
    hash_ch = {
        r["doc_id"]: r["n_dup_windows"]
        for r in D.span_dedup(docs, "text", "doc_id", k=L).collect()
    }
    exact_ch: dict = {}
    for r in hits:
        exact_ch[r["doc_id"]] = exact_ch.get(r["doc_id"], 0) + 1
    by_doc: dict = {}
    hit_pos: dict = {}
    for r in hits:
        hit_pos.setdefault(r["doc_id"], set()).add(r["pos"])
    for r in spans:
        assert r["span_len"] == r["span_end"] - r["span_start"] >= L
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
        # span endpoints are real hits (maximality anchors)
        assert r["span_start"] in hit_pos[r["doc_id"]]
        assert r["span_end"] - L in hit_pos[r["doc_id"]]
    for d, ps in hit_pos.items():
        ivs = sorted(by_doc[d])
        for p in ps:
            assert any(s <= p and p + L <= e for s, e in ivs), f"doc {d} pos {p}"
    for d, n in exact_ch.items():
        assert n <= hash_ch[d], f"doc {d}: exact {n} > hash {hash_ch[d]}"
    for d, iv in by_doc.items():
        iv.sort()
        for (s1, e1), (s2, e2) in zip(iv, iv[1:]):
            # maximal: the next span's first window starts past the
            # previous span's last window + L (else they would merge)
            assert s2 > e1, f"doc {d}: spans {(s1, e1)} / {(s2, e2)} should merge"


def test_suffix_spans_incremental_equals_full_restricted(spark, sf_dir):
    """The incremental suffix fold on real data: probing the batch
    against the at-rest window-content table (plus within-batch
    repeats) must equal the full recompute over the union RESTRICTED
    to batch ids, bit for bit — the union duplicate rule ('≥2 distinct
    docs' ⇔ 'in corpus OR in another batch doc') makes the fold
    exact."""
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    inc = D.suffix_dedup_spans_incremental(
        D.suffix_window_table(corpus, "text", "doc_id", 8),
        batch,
        "text",
        "doc_id",
        8,
        corpus_docs=corpus,
    )
    full = D.suffix_dedup_spans(docs, "text", "doc_id", 8).filter(
        F.col("doc_id") % 5 == 0
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_suffix_dedup_spans_constructed_copy(spark):
    """A paragraph copied verbatim between two docs yields exactly one
    span per doc covering the copied region (positions pinned by
    construction); a doc with no repeated window yields no rows."""
    from z316_sales_data_pipeline_spark.operators import dedup as D

    shared = " ".join(f"copy{i:02d}" for i in range(12))  # 12 shared tokens
    a = " ".join(f"apre{i:02d}" for i in range(5)) + " " + shared
    b = shared + " " + " ".join(f"btail{i:02d}" for i in range(4))
    c = " ".join(f"uniq{i:02d}" for i in range(20))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    rows = sorted(
        map(tuple, D.suffix_dedup_spans(df, "text", "doc_id", min_tokens=8).collect())
    )
    # doc 1: copied block at tokens [5, 17); doc 2: at [0, 12); doc 3: none
    assert rows == [(1, 5, 17, 12), (2, 0, 12, 12)]


def test_suffix_bloom_prune_changes_nothing(spark, sf_dir):
    """The explicit bloom arms on the suffix probes are pure pruning:
    with bloom_m_bits set, eval_span_contamination and
    suffix_dedup_spans_incremental return BIT-IDENTICAL rows to the
    unpruned plans (bloom has no false negatives; false positives die
    in the exact semi-join) — including at a deliberately tiny bitset
    (high FP rate) where the prune keeps almost everything."""
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    base = sorted(
        map(tuple, D.eval_span_contamination(train, ev, "text", "doc_id", 8).collect())
    )
    for m in (1 << 16, 1 << 6):  # realistic and adversarially tiny
        pruned = sorted(
            map(
                tuple,
                D.eval_span_contamination(
                    train, ev, "text", "doc_id", 8, bloom_m_bits=m
                ).collect(),
            )
        )
        assert pruned == base, f"m_bits={m}"

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    cw = D.suffix_window_table(corpus, "text", "doc_id", 8)
    inc_base = sorted(
        map(
            tuple,
            D.suffix_dedup_spans_incremental(
                cw, batch, "text", "doc_id", 8, corpus_docs=corpus
            ).collect(),
        )
    )
    inc_pruned = sorted(
        map(
            tuple,
            D.suffix_dedup_spans_incremental(
                cw, batch, "text", "doc_id", 8, corpus_docs=corpus, bloom_m_bits=1 << 16
            ).collect(),
        )
    )
    assert inc_pruned == inc_base


def test_intra_doc_repeat_spans_constructed(spark):
    """Keep-first within-doc semantics pinned by construction: a doc
    that is a verbatim double of a block masks exactly the second
    copy; a period-1 repetition ('w w w ... w') keeps only the first
    token; a doc with no within-doc repeat emits nothing; within-doc
    masking ignores CROSS-doc duplication (docs 1 and 4 share text
    but neither repeats internally)."""
    from z316_sales_data_pipeline_spark.operators import dedup as D

    block = " ".join(f"b{i:02d}" for i in range(10))
    rows = [
        (1, block),                       # no internal repeat
        (2, block + " " + block),         # doubled: mask [10, 20)
        (3, " ".join(["w"] * 10)),        # periodic: mask [1, 10)
        (4, block),                       # cross-doc dup of 1 — not intra
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(tuple, D.intra_doc_repeat_spans(df, "text", "doc_id", min_tokens=8).collect())
    )
    assert got == [(2, 10, 20, 10), (3, 1, 10, 9)]


def test_intra_doc_repeat_spans_scrub_converges(spark, sf_dir):
    """On the registry's derived corpus (every 7th doc doubled), the
    mask is exactly each doubled doc's second copy — n_removed equals
    the original token count — and applying it then re-auditing finds
    nothing (the scrub converges; splice artifacts absent by
    construction, the eval_span_contamination caveat)."""
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" "), "text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    spans = D.intra_doc_repeat_spans(docs, "text", "doc_id", min_tokens=8)
    scrubbed = D.apply_span_mask(docs, spans, "text", "doc_id")
    toks = F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "))
    orig_n = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("n"))
        .collect()
    }
    for r in scrubbed.collect():
        if r["doc_id"] % 7 == 0 and orig_n[r["doc_id"]] >= 8:
            assert r["n_removed"] == orig_n[r["doc_id"]], r["doc_id"]
        else:
            assert r["n_removed"] == 0, r["doc_id"]
    again = D.intra_doc_repeat_spans(
        scrubbed.select("doc_id", F.col("scrubbed_text").alias("text")),
        "text",
        "doc_id",
        min_tokens=8,
    )
    assert again.count() == 0


def test_eval_span_contamination_constructed(spark):
    """A train doc embedding an eval paragraph gets exactly that
    region as a span; within-TRAIN duplication is NOT contamination
    (only eval-verbatim windows flag); scrubbing the mask then
    re-auditing this data finds nothing (decontamination converges
    here — splice artifacts are a known theoretical caveat, absent by
    construction)."""
    from z316_sales_data_pipeline_spark.operators import dedup as D

    leak = " ".join(f"leak{i:02d}" for i in range(12))
    traindup = " ".join(f"tdup{i:02d}" for i in range(10))
    train = spark.createDataFrame(
        [
            (1, " ".join(f"apre{i:02d}" for i in range(5)) + " " + leak),
            (2, traindup + " tail2a tail2b"),
            (3, traindup + " tail3a tail3b"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "eval context words " + leak + " more eval words")],
        "doc_id long, text string",
    )
    spans = D.eval_span_contamination(train, ev, "text", "doc_id", min_tokens=8)
    assert sorted(map(tuple, spans.collect())) == [(1, 5, 17, 12)]

    scrubbed = D.apply_span_mask(train, spans, "text", "doc_id").select(
        "doc_id", F.col("scrubbed_text").alias("text")
    )
    again = D.eval_span_contamination(scrubbed, ev, "text", "doc_id", min_tokens=8)
    assert again.count() == 0


def test_apply_span_mask_removes_exactly_the_mask(spark, sf_dir):
    """Mask application is exact: per doc, n_removed equals the summed
    length of its (disjoint, maximal) spans; docs with no mask rows
    pass through with n_removed 0 and scrubbed_text equal to the
    normalized token stream; a fully-masked doc scrubs to ''."""
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    spans = D.suffix_dedup_spans(docs, "text", "doc_id", min_tokens=8)
    out = {r["doc_id"]: r for r in D.apply_span_mask(docs, spans, "text", "doc_id").collect()}
    masked: dict = {}
    for r in spans.collect():
        masked[r["doc_id"]] = masked.get(r["doc_id"], 0) + r["span_len"]
    assert len(out) == docs.count()
    for d, row in out.items():
        assert row["n_removed"] == masked.get(d, 0), f"doc {d}"
        if d not in masked:
            toks = row["scrubbed_text"].split(" ")
            assert len(toks) == row["n_tokens"]
        if row["n_removed"] == row["n_tokens"]:
            assert row["scrubbed_text"] == ""


def test_apply_span_mask_constructed_copy(spark):
    """The copied block (and only it) disappears from both docs; the
    unique doc is untouched."""
    from z316_sales_data_pipeline_spark.operators import dedup as D

    shared = " ".join(f"copy{i:02d}" for i in range(12))
    pre = " ".join(f"apre{i:02d}" for i in range(5))
    tail = " ".join(f"btail{i:02d}" for i in range(4))
    df = spark.createDataFrame(
        [(1, pre + " " + shared), (2, shared + " " + tail), (3, "just some unique words here")],
        "doc_id long, text string",
    )
    spans = D.suffix_dedup_spans(df, "text", "doc_id", min_tokens=8)
    got = {
        r["doc_id"]: (r["n_removed"], r["scrubbed_text"])
        for r in D.apply_span_mask(df, spans, "text", "doc_id").collect()
    }
    assert got[1] == (12, pre)
    assert got[2] == (12, tail)
    assert got[3] == (0, "just some unique words here")


def test_ivf_retrain_plan_fresh_index_reproduces_ivf_top_k(spark, sf_dir):
    """The retrain arm's contract: the rebuilt quantizer is EXACTLY
    the batch convention (_centroids over the grown corpus), so an
    index rebuilt by the plan answers queries bit-for-bit like
    ivf_top_k run from scratch on the grown corpus — retrain converges
    to the batch build, never to a third model. Also pins that the
    decision row actually retrains on this data (the fresh column is
    exercised, not dead code)."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    row = S.ivf_retrain_plan(
        corpus, batch, "embedding", "vec_id", recall_thresh_micro=950_000
    ).first()
    assert row["retrain"] and row["fresh_recall_micro"] is not None

    union = corpus.select("vec_id", "embedding").unionByName(
        batch.select("vec_id", "embedding")
    )
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    fresh = S._centroids(union, "embedding", "vec_id", 16)
    rebuilt = S.brute_force_top_k(
        S.ivf_assign(
            union.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
            "embedding",
            fresh,
        ).filter(F.col("cell").isin(S.probe_cells(fresh, qv, 4))),
        "embedding",
        "vec_id",
        qv,
        10,
    )
    scratch = S.ivf_top_k(union, "embedding", "vec_id", qv, k=10, n_cells=16, n_probe=4)
    assert [tuple(r) for r in rebuilt.collect()] == [tuple(r) for r in scratch.collect()]


def test_dim_truncation_recall_full_width_is_perfect(spark, sf_dir):
    """Truncating to the FULL embedding width is the identity ranking:
    recall@k must be exactly 1.0 (n_hits = n_queries·k) — pins the
    slice indexing (1-based, length d) and the shared-candidate join."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = S.dim_truncation_recall(
        emb, "embedding", "vec_id", dims=(64,), query_mod=100, k=10
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_hits"] == r["n_queries"] * 10 and r["mean_recall"] == 1.0


def test_doc_ngram_repetition_hand_computed(spark):
    """Repetition profile on hand-countable docs: a pure phrase loop,
    a no-repeat doc, and a doc too short for any 5-gram."""
    from z316_sales_data_pipeline_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "a a a a a a"), (2, "b c d e f g"), (3, "x y")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["n_tokens"], r["n_bigrams"], r["top_bigram_n"], r["rep2_micro"],
            r["n_ngrams"], r["dup_ngram_n"], r["repn_micro"],
        )
        for r in C.doc_ngram_repetition(docs, "text", "doc_id", n=5).collect()
    }
    # loop doc: "a a" x5, both 5-grams identical -> fully duplicated
    assert out[1] == (6, 5, 5, 10_000_000 // 6, 2, 2, 1_000_000)
    # clean doc: every bigram unique, no dup 5-grams
    assert out[2] == (6, 5, 1, 333_333, 2, 0, 0)
    # short doc: no 5-gram positions at all
    assert out[3] == (2, 1, 1, 1_000_000, 0, 0, 0)


def test_ivf_cell_drift_spine_and_share_laws(spark, sf_dir):
    """The cell spine is complete (n_cells rows even when a cell is
    empty), counts reconcile to the arm sizes, shares sum to 1 within
    round-6 slack, and an EMPTY batch yields NULL new_share/drift
    instead of a division blowup."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus_arm = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    rows = S.ivf_cell_drift(corpus_arm, batch, "embedding", "vec_id", 16).collect()
    assert len(rows) == 16 and {r["cell"] for r in rows} == set(range(16))
    assert sum(r["n_rest"] for r in rows) == corpus_arm.count()
    assert sum(r["n_new"] for r in rows) == batch.count()
    assert abs(sum(r["rest_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["new_share"] for r in rows) - 1.0) < 1e-4

    empty = S.ivf_cell_drift(
        corpus_arm, emb.filter(F.lit(False)), "embedding", "vec_id", 16
    ).collect()
    assert len(empty) == 16
    assert all(r["n_new"] == 0 and r["new_share"] is None and r["drift"] is None for r in empty)


def test_quantile_disc_groups_type1_definition(spark):
    """v(q) = smallest observed value with cum >= ceil(q*n) — checked
    against the hand-computed answer on a known multiset."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    vals = [1, 2, 2, 3, 10, 10, 10, 50, 99, 100]  # n = 10
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    out = {r["q_pct"]: r["v"]
           for r in aggregates.quantile_disc_groups(df, "g", F.col("v"), (50, 90, 99)).collect()}
    # ceil thresholds: p50 -> 5th value (10), p90 -> 9th (99), p99 -> 10th (100)
    assert out == {50: 10, 90: 99, 99: 100}


def test_topk_diverse_quota_and_order(spark):
    """The subcategory quota binds BEFORE the global top-k: a third
    same-subcat row is excluded even when it outscores survivors."""
    from z316_sales_data_pipeline_spark.operators import windows as W

    rows = [
        ("g", "A", 1, 100), ("g", "A", 2, 90), ("g", "A", 3, 80),  # 3rd A blocked
        ("g", "B", 4, 70), ("g", "B", 5, 60), ("g", "C", 6, 50),
    ]
    df = spark.createDataFrame(rows, "grp string, sub string, k long, s long")
    out = [(r["k"], r["rank"]) for r in W.topk_diverse(
        df, "grp", "sub", "k", F.col("s"), k=5, per_subcat=2
    ).orderBy("rank").collect()]
    # 3 (A, 80) is excluded by the quota; 4,5,6 fill the remaining slots
    assert out == [(1, 1), (2, 2), (4, 3), (5, 4), (6, 5)]


def test_hierarchy_shares_sum_to_one(spark):
    """Children's shares sum to 1 within every parent, and each node's
    cents equals the sum of its children's."""
    from collections import defaultdict

    from z316_sales_data_pipeline_spark.operators import aggregates

    rows = [
        ("r1", "n1", 100), ("r1", "n2", 300), ("r2", "n3", 600),
    ]
    df = spark.createDataFrame(rows, "r string, n string, cents long")
    out = aggregates.hierarchy_shares(df, ["r", "n"], F.col("cents")).collect()
    by_parent = defaultdict(float)
    for r in out:
        by_parent[(r["level"], r["parent"])] += r["share_of_parent"]
    for (_, _), s in by_parent.items():
        assert abs(s - 1.0) < 1e-6
    lvl1 = {r["node"]: r["cents"] for r in out if r["level"] == 1}
    assert lvl1 == {"r1": 400, "r2": 600}


def test_prefix_cluster_groups_identical_prefixes(spark):
    """Docs sharing the first n normalized tokens cluster; the min id
    is canonical; singletons are dropped."""
    from z316_sales_data_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(5, "The  QUICK brown fox ran"), (2, "the quick brown fox slept"),
         (9, "a different start entirely")],
        "doc_id long, text string",
    )
    out = dedup.prefix_cluster(df, "text", "doc_id", n_tokens=4, portable=True).collect()
    assert len(out) == 1 and out[0]["n_docs"] == 2 and out[0]["canonical_id"] == 2


def test_edit_distance_join_refuses_long_strings(spark):
    """VERDICT r9 item 5: the k-deletion neighborhood is O(len^k) rows
    per string, so document-length text must be refused at runtime
    (ValueError with coarsening advice), not silently exploded;
    raising max_len deliberately re-enables the call."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "x" * 200), (2, "x" * 199 + "y")], "id long, s string"
    )
    with _pytest.raises(ValueError, match="max_len"):
        dedup.edit_distance_join(df, "s", "id", k=1)
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.edit_distance_join(df, "s", "id", k=1, max_len=256).collect()
    }
    assert got == {(1, 2, 1)}


def test_edit_distance_join_degenerate_strings_k2(spark):
    """ADVICE r9: sequence(1, length-1) DESCENDS for strings of length
    <= 1 — the CASE guard must keep the k=2 neighborhood well-defined
    for empty and single-char strings (exact pair set, no phantom
    members, no crash)."""
    from z316_sales_data_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "b"), (4, "ab")], "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.edit_distance_join(df, "s", "id", k=2).collect()
    }
    assert got == {
        (1, 2, 1), (1, 3, 1), (1, 4, 2),
        (2, 3, 1), (2, 4, 1), (3, 4, 1),
    }


def test_pearson_fast_path_equals_exact_and_failstops(spark):
    """pearson_exact's long-product fast path (max_abs bound) must be
    BIT-IDENTICAL to the decimal path, and a violated bound must
    raise (fail-stop) rather than emit a possibly-wrapped moment."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark.operators import aggregates

    df = spark.createDataFrame(
        [(1, 2), (2, 4), (3, 7), (4, 8), (10, 3)], "x long, y long"
    )
    cols = {"x": F.col("x"), "y": F.col("y")}
    exact = aggregates.pearson_exact(df, cols).collect()
    fast = aggregates.pearson_exact(df, cols, max_abs=100).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in fast]

    lying = aggregates.pearson_exact(df, cols, max_abs=5)  # data max is 10
    with _pytest.raises(Exception, match="max_abs"):
        lying.collect()


def test_link_prediction_known_graph(spark):
    """Hand graph: path 1-2-3 plus 3-4; non-edges at distance 2 are
    (1,3) via 2, (2,4) via 3, (1,4)? distance 3 — absent. Scores:
    (1,3): N(1)={2}, N(3)={2,4}, common={2} -> 1/2; (2,4): N(2)={1,3},
    N(4)={3}, common={3} -> 1/2. Deterministic (a, b) tiebreak."""
    from z316_sales_data_pipeline_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = [tuple(r) for r in graph.link_prediction(pairs, k=10).collect()]
    assert got == [(1, 3, 1, 0.5), (2, 4, 1, 0.5)]


def test_link_prediction_enforces_degree_contract(spark):
    """VERDICT r10 item 2, pinned: the Σdeg² cost contract is now a
    runtime refusal (the edit_distance_join discipline). A star graph
    whose hub exceeds max_degree raises with routing advice;
    on_hubs='exclude' drops the hub from the shared-neighbor role
    (warning carries the count), so only hub-mediated pairs vanish."""
    import warnings

    from z316_sales_data_pipeline_spark.operators import graph

    # hub 0 connected to 1..5 (deg 5), plus a 1-2 edge so the pair
    # (1,2) has BOTH a hub-mediated meet (via 0) and... is an edge.
    # Non-edge leaf pairs like (3,4) meet ONLY via the hub.
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(1, 2)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="skew_split_edges"):
        graph.link_prediction(star, max_degree=4).collect()

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = graph.link_prediction(star, k=100, max_degree=4, on_hubs="exclude")
        rows = {(r["a"], r["b"]) for r in got.collect()}
    assert any("1 hub node" in str(x.message) for x in w)
    # leaf pairs met only through hub 0 are gone; the (1,2) edge pair
    # still contributes non-hub meets for (0-adjacent) candidates:
    # with hub 0 excluded as middle, candidate meets go through 1 or 2
    # only — e.g. (0,1) and (0,2) are edges, (3,4) dropped
    assert (3, 4) not in rows and (3, 5) not in rows and (4, 5) not in rows

    # under the cap: identical to the unguarded result
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    got = [tuple(r) for r in graph.link_prediction(path, k=10, max_degree=4).collect()]
    assert got == [(1, 3, 1, 0.5), (2, 4, 1, 0.5)]


def test_t_closeness_known_distribution(spark):
    """Hand-computable EMD: buckets {0,1}, global 4+4; group A = all
    bucket-0 (CDF diff at i=1: |4*8 - 4*4| = 16 -> EMD = 16/(4*8*1) =
    0.5), group B = 2+2 (matches global halves -> EMD 0)."""
    from z316_sales_data_pipeline_spark.operators import quality

    rows = [("A", 0)] * 4 + [("B", 0)] * 2 + [("B", 1)] * 2 + [("C", 1)] * 2
    # global: bucket0 = 6, bucket1 = 4, n=10; recompute expectations:
    # A (n=4, all b0): |4*10 - 6*4| = 16 -> 16/(4*10*1) = 0.4
    # B (n=4, 2+2):    |2*10 - 6*4| = 4  -> 4/(4*10*1)  = 0.1
    # C (n=2, all b1): |0*10 - 6*2| = 12 -> 12/(2*10*1) = 0.6
    df = spark.createDataFrame(rows, "g string, b long")
    got = {
        r["g"]: (r["n"], r["t_emd"])
        for r in quality.t_closeness(df, ["g"], F.col("b")).collect()
    }
    assert got == {"A": (4, 0.4), "B": (4, 0.1), "C": (2, 0.6)}


def test_t_closeness_single_bucket_and_null_buckets(spark):
    """ADVICE r11 edge contracts: (a) one observed bucket (m=1) must
    emit every group with t_emd = 0.0 — not an empty audit frame;
    (b) NULL sensitive values are filtered before bucketing (the NULL
    window-order divergence class), so n counts recorded values."""
    from z316_sales_data_pipeline_spark.operators import quality

    one_bucket = spark.createDataFrame(
        [("A", 7), ("A", 7), ("B", 7)], "g string, b long"
    )
    got = {
        r["g"]: (r["n"], r["t_emd"])
        for r in quality.t_closeness(one_bucket, ["g"], F.col("b")).collect()
    }
    assert got == {"A": (2, 0.0), "B": (1, 0.0)}

    with_nulls = spark.createDataFrame(
        [("A", 0), ("A", None), ("B", 0), ("B", 1), ("B", None)], "g string, b long"
    )
    got = {
        r["g"]: r["n"]
        for r in quality.t_closeness(with_nulls, ["g"], F.col("b")).collect()
    }
    # NULL rows dropped: A has 1 recorded value, B has 2
    assert got == {"A": 1, "B": 2}


def test_experiment_stats_survive_degenerate_inputs(spark):
    """Self-review r10 regressions, pinned: constant covariates, tiny
    groups, NULL measures and constant measures must produce NULL (or
    raw-mean fallback) statistics under the ANSI session — never
    DIVIDE_BY_ZERO — and NULL measure values are dropped from ranks."""
    from z316_sales_data_pipeline_spark.operators import aggregates, experiment

    # cuped: constant covariate x -> theta/var_reduction NULL, rest real
    const_x = spark.createDataFrame([(5, 1), (5, 2), (5, 9)], "x long, y long")
    r = experiment.cuped(const_x, F.col("x"), F.col("y")).collect()[0]
    assert r["theta"] is None and r["var_reduction"] is None
    assert r["n"] == 3 and r["mean_y"] == 4.0

    # ab_readout: constant pooled covariate -> adjusted mean falls back
    # to the raw mean (no adjustment is defined), never a crash
    units = spark.createDataFrame(
        [(i, 5, 10 + i) for i in range(1, 9)], "uid long, x long, y long"
    )
    rows = experiment.ab_readout(units, F.col("x"), F.col("y"), "uid").collect()
    assert rows and all(r["mean_y_cuped"] == r["mean_y"] for r in rows)

    # mann_whitney: a single observation total -> z NULL (var term
    # divides by n(n-1)); NULL measure rows are dropped from ranks
    one = spark.createDataFrame([("a", 7)], "g string, v long")
    r = experiment.mann_whitney_u(one, "g", "a", "b", F.col("v")).collect()[0]
    assert (r["n_a"], r["n_b"], r["z"]) == (1, 0, None)
    withnull = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", 2), ("b", None)], "g string, v long"
    )
    r = experiment.mann_whitney_u(withnull, "g", "a", "b", F.col("v")).collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 1)

    # pearson: constant measure -> r NULL (zero variance), both paths
    const_m = spark.createDataFrame([(3, 1), (3, 2), (3, 5)], "x long, y long")
    cols = {"x": F.col("x"), "y": F.col("y")}
    for kw in ({}, {"max_abs": 100}):
        r = aggregates.pearson_exact(const_m, cols, **kw).collect()[0]
        assert r["r"] is None and r["n"] == 3


def test_srm_check_emits_zero_unit_arms(spark):
    """ADVICE r11: an arm that received NO units is the most extreme
    sample-ratio mismatch and must still emit its (o−e)²/e cell —
    the arm grain is an explicit 0..n_arms−1 spine, not the set of
    observed buckets. One unit, four arms: three arms are zero-filled
    and every cell is present."""
    from z316_sales_data_pipeline_spark.operators import experiment

    one = spark.createDataFrame([(42,)], "uid long")
    rows = {r["arm"]: r for r in experiment.srm_check(one, "uid", n_arms=4).collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    assert sum(r["observed"] for r in rows.values()) == 1
    for r in rows.values():
        assert r["expected"] == 0.25
        want = (r["observed"] - 0.25) ** 2 / 0.25
        assert abs(r["chi2_cell"] - want) < 1e-15


def test_pearson_fast_path_edge_cases(spark):
    """Self-review r10: (a) a single-measure fast-path call must not
    crash on greatest(); (b) a row EXCLUDED by the complete-case flag
    must not trip the max_abs fail-stop; (c) fractional measure
    expressions quantize identically on both paths (decimal HALF_UP,
    not long truncation)."""
    from z316_sales_data_pipeline_spark.operators import aggregates

    one_col = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    out = aggregates.pearson_exact(one_col, {"x": F.col("x")}, max_abs=10).collect()
    assert out == []  # no pairs from one measure, and no crash

    # excluded row carries |x| over the bound but must not refuse
    excl = spark.createDataFrame(
        [(200_000_000, None), (1, 2), (2, 4), (3, 7)], "x long, y long"
    )
    cols = {"x": F.col("x"), "y": F.col("y")}
    got = aggregates.pearson_exact(excl, cols, max_abs=100_000_000).collect()[0]
    assert got["n"] == 3

    frac = spark.createDataFrame([(1,), (2,), (4,)], "k long")
    cols2 = {"a": F.col("k") + F.lit(0.5), "b": F.col("k") * F.lit(1.5)}
    exact = aggregates.pearson_exact(frac, cols2).collect()
    fast = aggregates.pearson_exact(frac, cols2, max_abs=100).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in fast]


def test_mutual_information_laws(spark):
    """Independent uniform columns give MI exactly 0 (every cell term
    is ln(1)); a column against itself gives MI = H(X) and NMI = 1;
    MI never exceeds either marginal entropy."""
    rows = [(x, y) for x in ("a", "b") for y in ("u", "v", "w") for _ in range(4)]
    ind = spark.createDataFrame(rows, "x string, y string")
    r = quality.mutual_information(ind, "x", "y").collect()[0]
    assert r["mi_nats"] == 0.0 and r["n"] == 24 and r["n_cells"] == 6

    dup = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",)], "x string"
    ).withColumn("y", F.col("x"))
    r2 = quality.mutual_information(dup, "x", "y").collect()[0]
    assert r2["mi_nats"] == r2["h_x_nats"] == r2["h_y_nats"] > 0
    assert r2["nmi"] == 1.0

    skewed = spark.createDataFrame(
        [("a", "u"), ("a", "v"), ("b", "u"), ("b", "u"), ("b", "v")],
        "x string, y string",
    )
    r3 = quality.mutual_information(skewed, "x", "y").collect()[0]
    assert 0.0 <= r3["mi_nats"] <= min(r3["h_x_nats"], r3["h_y_nats"]) + 1e-6


def test_target_encode_loo_contract(spark):
    """LOO mean excludes the row's own value, singleton keys encode
    NULL, and fractional / null values fail stop (never silent
    truncation)."""
    df = spark.createDataFrame(
        [("s", 10, 1), ("s", 20, 2), ("s", 40, 3), ("t", 7, 4)],
        "k string, v long, id long",
    )
    out = {
        r["id"]: r["loo"]
        for r in aggregates.target_encode_loo(df, "k", "v", "loo").collect()
    }
    assert out[1] == 30.0 and out[2] == 25.0 and out[3] == 15.0
    assert out[4] is None

    frac = spark.createDataFrame([("s", 1.5, 1), ("s", 2.0, 2)], "k string, v double, id long")
    with pytest.raises(Exception, match="integer grain"):
        aggregates.target_encode_loo(frac, "k", "v").collect()
    nul = spark.createDataFrame([("s", None, 1), ("s", 2, 2)], "k string, v long, id long")
    with pytest.raises(Exception, match="integer grain"):
        aggregates.target_encode_loo(nul, "k", "v").collect()


def test_jaro_winkler_rescore_bounds_and_pairs(spark):
    """Rescored pairs are exactly the edit-distance<=1 pairs; scores
    sit in [0, 1]; identical strings score 1."""
    df = spark.createDataFrame(
        [(1, "anna"), (2, "anna"), (3, "anne"), (4, "bob")],
        "id long, name string",
    )
    rows = dedup.jaro_winkler_rescore(df, "name", "id", k=1).collect()
    pairs = {(r["id_a"], r["id_b"]): (r["dist"], r["jw"]) for r in rows}
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert pairs[(1, 2)] == (0, 1.0)
    assert all(0.0 <= jw <= 1.0 for _, jw in pairs.values())


def test_quantile_match_normalize_laws(spark):
    """A single-group input maps every row onto itself (group ranks =
    pooled ranks); with multiple groups the mapping is monotone in
    the value within each group, row count is preserved, and outputs
    are always pooled values."""
    one = spark.createDataFrame(
        [(i, "s", v) for i, v in enumerate([5, 1, 9, 3, 7])],
        "id long, g string, v long",
    )
    out = corpus_mod.quantile_match_normalize(one, "v", "id", "g", "nv").collect()
    assert all(r["nv"] == r["v"] for r in out) and len(out) == 5

    two = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 30),
         (4, "b", 100), (5, "b", 300)],
        "id long, g string, v long",
    )
    rows = corpus_mod.quantile_match_normalize(two, "v", "id", "g", "nv").collect()
    assert len(rows) == 5
    pooled = sorted(r["v"] for r in two.collect())
    assert all(r["nv"] in pooled for r in rows)
    for g in ("a", "b"):
        seq = [r["nv"] for r in sorted(rows, key=lambda r: (r["v"], r["id"])) if r["g"] == g]
        assert seq == sorted(seq)
    # group b's min/max map to the pooled extremes
    by_id = {r["id"]: r["nv"] for r in rows}
    assert by_id[4] == pooled[0] and by_id[5] == pooled[-1]


def test_domain_cap_sample_contract(spark):
    """Kept counts are min(cap, group size), kept_rank is 1..cap, and
    the selection is deterministic across runs."""
    df = spark.createDataFrame(
        [(i, "big") for i in range(20)] + [(100 + i, "small") for i in range(3)],
        "id long, g string",
    )
    out1 = corpus_mod.domain_cap_sample(df, "id", "g", cap=5).collect()
    counts = {}
    for r in out1:
        counts[r["g"]] = counts.get(r["g"], 0) + 1
        assert 1 <= r["kept_rank"] <= 5
    assert counts == {"big": 5, "small": 3}
    out2 = corpus_mod.domain_cap_sample(df, "id", "g", cap=5).collect()
    assert {r["id"] for r in out1} == {r["id"] for r in out2}


def test_always_valid_pvalue_laws(spark, sf_dir):
    """The always-valid p is a running min capped at 1: within (0, 1],
    non-increasing over days once defined; cumulative arm counts are
    non-decreasing."""
    from z316_sales_data_pipeline_spark.operators import experiment

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rows = experiment.always_valid_pvalue(
        ev, F.round(F.col("value") * 100), "user_id", "ts", tau2=10000.0
    ).orderBy("day").collect()
    assert rows
    prev_p, prev_n = None, 0
    for r in rows:
        n = (r["n0"] or 0) + (r["n1"] or 0)
        assert n >= prev_n
        prev_n = n
        if r["p_always_valid"] is not None:
            assert 0.0 < r["p_always_valid"] <= 1.0
            if prev_p is not None:
                assert r["p_always_valid"] <= prev_p + 1e-12
            prev_p = r["p_always_valid"]


def test_local_clustering_known_graph(spark):
    """Triangle + pendant: a-b-c triangle with d hanging off c.
    a, b: d=2, 1 triangle -> coef 1.0; c: d=3, 1 triangle -> 1/3;
    d: d=1 -> 0.0 by convention."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    rows = {r["v"]: r for r in graph.local_clustering(pairs).collect()}
    assert rows[1]["local_clustering"] == 1.0 and rows[1]["degree"] == 2
    assert rows[2]["local_clustering"] == 1.0
    assert abs(rows[3]["local_clustering"] - 1 / 3) < 1e-12
    assert rows[3]["n_triangles"] == 1 and rows[3]["degree"] == 3
    assert rows[4]["local_clustering"] == 0.0 and rows[4]["n_triangles"] == 0


def test_heaps_law_curve_laws(spark):
    """Cumulative sums are monotone, cum_types <= cum_tokens, the
    final cum_types equals the corpus distinct-type count, and a
    repeat-only document adds tokens but no types."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha alpha"), (3, "beta gamma")],
        "doc_id long, text string",
    )
    rows = sorted(
        corpus_mod.heaps_law_curve(docs, "text", "doc_id").collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["cum_tokens"] for r in rows] == [2, 4, 6]
    assert [r["cum_types"] for r in rows] == [2, 2, 3]
    assert rows[1]["n_new_types"] == 0 and rows[1]["n_tokens"] == 2


def test_fdr_bh_step_up_and_known_battery(spark):
    """BH on a crafted battery: classic rejections, plus the step-up
    property (a rank failing its own threshold is still rejected when
    a LATER rank passes)."""
    from z316_sales_data_pipeline_spark.operators import experiment

    t1 = spark.createDataFrame(
        [("a", 0.001), ("b", 0.01), ("c", 0.02), ("d", 0.9)],
        "test_id string, p double",
    )
    out = {r["test_id"]: r for r in experiment.fdr_bh(t1, "test_id", "p", q=0.1).collect()}
    assert [out[t]["rejected"] for t in "abcd"] == [True, True, True, False]
    assert out["a"]["rank"] == 1 and out["d"]["bh_threshold"] == 0.1

    t2 = spark.createDataFrame(
        [("x", 0.15), ("y", 0.19), ("z", 0.31)], "test_id string, p double"
    )
    out2 = {r["test_id"]: r for r in experiment.fdr_bh(t2, "test_id", "p", q=0.3).collect()}
    # rank 1 (0.15 > 0.1) fails its own threshold but rank 2 passes
    # (0.19 <= 0.2), so step-up rejects BOTH ranks 1 and 2
    assert out2["x"]["rejected"] and out2["y"]["rejected"] and not out2["z"]["rejected"]


def test_normal_sf_approx_accuracy(spark):
    """A&S 7.1.26 tail vs math.erfc: |err| < 1.5e-7 over z in [0, 6]."""
    import math

    from z316_sales_data_pipeline_spark.operators import experiment

    zs = [0.0, 0.5, 1.0, 1.959964, 2.5, 3.0, 4.0, 6.0]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {
        r["z"]: r["sf"]
        for r in df.select("z", experiment.normal_sf_approx(F.col("z")).alias("sf")).collect()
    }
    for z in zs:
        exact = 0.5 * math.erfc(z / math.sqrt(2.0))
        assert abs(got[z] - exact) < 1.5e-7, (z, got[z], exact)


def test_minimum_detectable_effect_known_values(spark):
    """n=2 values {0, 2}: variance 2, mde = 2.801585*sqrt(2*2/1);
    singleton groups emit NULL."""
    from z316_sales_data_pipeline_spark.operators import experiment

    df = spark.createDataFrame(
        [("g", 0), ("g", 2), ("solo", 5)], "k string, v long"
    )
    rows = {r["k"]: r for r in experiment.minimum_detectable_effect(df, ["k"], F.col("v")).collect()}
    assert rows["g"]["variance"] == 2.0
    assert abs(rows["g"]["mde"] - round(2.801585 * 2.0, 6)) < 1e-9
    assert rows["solo"]["variance"] is None and rows["solo"]["mde"] is None


def test_conformal_interval_known_series(spark):
    """Hand-computable series: with alpha=0.1 and n_cal=4 residuals
    the pick is min(4, 5 - floor(0.5)) = 4 -> q = max residual, so
    test coverage counts |r| <= q exactly."""
    from z316_sales_data_pipeline_spark.operators import timeseries as ts

    rows = []
    # key 'a': daily values 10, 11, 13, 10, 14 (cal: days 2-5 ->
    # residuals 1, 2, 3, 4), test days 6-7: residuals 2, 10
    vals = {1: 10, 2: 11, 3: 13, 4: 10, 5: 14, 6: 16, 7: 6}
    for day, v in vals.items():
        rows.append(("a", f"2024-01-0{day} 00:00:00", v))
    df = spark.createDataFrame(rows, "k string, ts string, v long").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = ts.conformal_residual_interval(
        df, "k", "ts", F.col("v"), "2024-01-06", alpha=0.1
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_cal"] == 4 and r["q_cents"] == 4
    assert r["n_test"] == 2 and r["n_covered"] == 1 and r["coverage"] == 0.5


def test_stratified_matching_readout_contract(spark):
    """Strata partition the dimension into exact ntiles; cells carry
    disjoint treated/control counts; a stratum missing a side emits a
    NULL mean_diff."""
    from z316_sales_data_pipeline_spark.operators import experiment

    dim = spark.createDataFrame(
        [(i, i * 10, i % 2 == 0) for i in range(1, 9)], "pk long, cov long, tr boolean"
    )
    facts = spark.createDataFrame(
        [(i, 100 * i) for i in range(1, 9) for _ in range(2)], "pk long, y long"
    )
    out = experiment.stratified_matching_readout(
        facts, dim, "pk", "pk", F.col("tr"), F.col("cov"), F.col("y"), n_strata=4
    ).collect()
    assert len(out) == 4
    assert sum(r["n_treated"] + r["n_control"] for r in out) == 16
    # each stratum holds parts {1,2},{3,4},{5,6},{7,8}: one treated,
    # one control, 2 facts each -> mean_diff defined everywhere
    for r in out:
        assert r["n_treated"] == 2 and r["n_control"] == 2
        assert r["mean_diff"] is not None
    by_s = {r["stratum"]: r["mean_diff"] for r in out}
    # stratum 1: parts 1 (control, y=100) and 2 (treated, y=200)
    assert by_s[1] == 100.0


def test_acf_table_known_series(spark):
    """A strict period-2 alternating series has acf(1) = -1 and
    acf(2) = +1; a constant series emits NULL (zero variance)."""
    from z316_sales_data_pipeline_spark.operators import timeseries as ts

    rows = []
    for i in range(10):
        rows.append(("alt", f"2024-01-{i+1:02d} 00:00:00", 10 if i % 2 == 0 else 20))
        rows.append(("const", f"2024-01-{i+1:02d} 00:00:00", 7))
    df = spark.createDataFrame(rows, "k string, ts string, v long").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = {(r["k"], r["lag"]): r for r in ts.acf_table(df, "k", "ts", F.col("v"), max_lag=3).collect()}
    assert out[("alt", 1)]["acf"] == -1.0
    assert out[("alt", 2)]["acf"] == 1.0
    assert out[("alt", 1)]["n_pairs"] == 9
    assert out[("const", 1)]["acf"] is None


def test_qq_drift_identical_periods_ratio_one(spark):
    """Two identical period distributions give every decile ratio 1.0;
    cut values are monotone in q and members of the input."""
    rows = [("pre", v, i) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])]
    rows += [("post", v, 100 + i) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])]
    df = spark.createDataFrame(rows, "p string, v long, id long")
    out = sorted(
        quality.qq_drift(df, "v", "id", "p", "pre", "post", n_q=9).collect(),
        key=lambda r: r["q"],
    )
    assert len(out) == 9
    assert all(r["qq_ratio"] == 1.0 and r["v_pre"] == r["v_post"] for r in out)
    cuts = [r["v_pre"] for r in out]
    assert cuts == sorted(cuts) and set(cuts) <= set(range(10, 101, 10))
    # doubled post period shifts every ratio to exactly 2
    rows2 = [("pre", v, i) for i, v in enumerate(range(1, 21))]
    rows2 += [("post", 2 * v, 100 + i) for i, v in enumerate(range(1, 21))]
    df2 = spark.createDataFrame(rows2, "p string, v long, id long")
    out2 = quality.qq_drift(df2, "v", "id", "p", "pre", "post", n_q=9).collect()
    assert all(r["qq_ratio"] == 2.0 for r in out2)


def test_poisson_dispersion_contract(spark):
    """Expected counts sum to ~n over the support, lambda_hat is the
    exact mean, a constant distribution has dispersion 0, and counts
    past 20 fail stop."""
    import math

    df = spark.createDataFrame([(k,) for k in [0, 1, 1, 2, 2, 2, 3]], "c long")
    rows = quality.poisson_dispersion(df, "c").collect()
    lam = sum([0, 1, 1, 2, 2, 2, 3]) / 7.0
    assert all(abs(r["lambda_hat"] - round(lam, 6)) < 1e-9 for r in rows)
    by_k = {r["k"]: r for r in rows}
    assert by_k[2]["observed"] == 3
    exp2 = 7.0 * math.exp(-lam) * lam**2 / 2.0
    assert abs(by_k[2]["expected"] - exp2) < 1e-4

    const = spark.createDataFrame([(5,)] * 4, "c long")
    crows = quality.poisson_dispersion(const, "c").collect()
    assert len(crows) == 1 and crows[0]["dispersion"] == 0.0

    big = spark.createDataFrame([(25,)], "c long")
    import pytest as _pytest

    with _pytest.raises(Exception, match="factorial"):
        quality.poisson_dispersion(big, "c").collect()


def test_interarrival_fit_known_gaps(spark):
    """Evenly spaced arrivals have CV exactly 0; known mixed gaps give
    the hand-computed mean; a single event (no gaps) emits no row."""
    from z316_sales_data_pipeline_spark.operators import timeseries as ts

    rows = []
    for i in range(5):  # even: gaps all 60s
        rows.append(("even", f"2024-01-01 00:{i:02d}:00", i))
    rows.append(("solo", "2024-01-01 00:00:00", 99))
    for i, t in enumerate(["00:00:00", "00:00:10", "00:00:40"]):  # gaps 10s, 30s
        rows.append(("mix", f"2024-01-01 {t}", 200 + i))
    df = spark.createDataFrame(rows, "k string, ts string, id long").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "id"
    )
    out = {r["k"]: r for r in ts.interarrival_fit(df, "k", "ts", "id").collect()}
    assert "solo" not in out
    assert out["even"]["n_gaps"] == 4 and out["even"]["mean_gap_s"] == 60.0
    assert out["even"]["cv"] == 0.0
    assert out["mix"]["n_gaps"] == 2 and out["mix"]["mean_gap_s"] == 20.0
    # gaps 10, 30: sd = sqrt(200), cv = sqrt(200)/20
    import math
    assert abs(out["mix"]["cv"] - round(math.sqrt(200.0) / 20.0, 6)) < 1e-9


def test_temperature_mix_weights_laws(spark):
    """Weights sum to ~1; alpha=1 reproduces natural shares; alpha<1
    boosts the low-resource source (boost > 1) and shrinks the
    dominant one (boost < 1)."""
    docs = spark.createDataFrame(
        [("big", "a b c d e f g h"), ("big", "a b c d e f g h"),
         ("small", "a b")],
        "source string, text string",
    )
    out = {r["source"]: r for r in corpus_mod.temperature_mix_weights(docs, "text", "source", alpha=0.3).collect()}
    assert abs(sum(r["sample_weight"] for r in out.values()) - 1.0) < 1e-5
    assert out["small"]["boost"] > 1.0 > out["big"]["boost"]
    nat = {r["source"]: r for r in corpus_mod.temperature_mix_weights(docs, "text", "source", alpha=1.0).collect()}
    for s in ("big", "small"):
        assert abs(nat[s]["sample_weight"] - nat[s]["natural_share"]) < 1e-5


def test_spearman_exact_laws(spark):
    """rho(x, monotone(x)) = 1 even under a nonlinear transform;
    rho(x, -x) = -1; constant y gives NULL; tie-averaged midranks
    match the hand-computed value on a small tied sample."""
    df = spark.createDataFrame([(i, i**3) for i in range(1, 9)], "x long, y long")
    assert aggregates.spearman_exact(df, F.col("x"), F.col("y")).collect()[0][
        "spearman_rho"
    ] == 1.0
    neg = spark.createDataFrame([(i, -i) for i in range(1, 9)], "x long, y long")
    assert aggregates.spearman_exact(neg, F.col("x"), F.col("y")).collect()[0][
        "spearman_rho"
    ] == -1.0
    const = spark.createDataFrame([(i, 7) for i in range(1, 9)], "x long, y long")
    assert aggregates.spearman_exact(const, F.col("x"), F.col("y")).collect()[0][
        "spearman_rho"
    ] is None
    # ties: x = [1,2,2,3], y = [10,20,20,40] -> midranks x: 1, 2.5, 2.5, 4
    # and y identical ranks -> rho exactly 1
    ties = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 20), (3, 40)], "x long, y long"
    )
    assert aggregates.spearman_exact(ties, F.col("x"), F.col("y")).collect()[0][
        "spearman_rho"
    ] == 1.0


def test_cramers_v_and_kappa_laws(spark):
    """Perfect association gives V = 1 and kappa = 1; independence
    gives chi2 = 0 and V = 0; a constant classifier gets kappa 0."""
    perfect = spark.createDataFrame(
        [(c, c) for c in "aabbcc"], "x string, y string"
    )
    r = quality.cramers_v(perfect, "x", "y").collect()[0]
    assert r["cramers_v"] == 1.0 and r["n_x_levels"] == 3
    k = quality.cohens_kappa(perfect, "x", "y").collect()[0]
    assert k["kappa"] == 1.0 and k["p_observed"] == 1.0

    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "uv" for _ in range(3)],
        "x string, y string",
    )
    r2 = quality.cramers_v(ind, "x", "y").collect()[0]
    assert r2["chi2"] == 0.0 and r2["cramers_v"] == 0.0

    const = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("a", "a"), ("c", "a")], "x string, y string"
    )
    k2 = quality.cohens_kappa(const, "x", "y").collect()[0]
    assert k2["kappa"] == 0.0


def test_market_concentration_laws(spark):
    """A monopoly group has HHI = 1 and effective sellers 1; k equal
    sellers give HHI = 1/k and effective sellers exactly k."""
    df = spark.createDataFrame(
        [("mono", 1, 100)] * 3
        + [("quad", s, 50) for s in (1, 2, 3, 4) for _ in range(2)],
        "g string, sel long, v long",
    )
    out = {r["g"]: r for r in aggregates.market_concentration(df, ["g"], "sel", F.col("v")).collect()}
    assert out["mono"]["hhi"] == 1.0 and out["mono"]["effective_sellers"] == 1.0
    assert out["quad"]["hhi"] == 0.25 and out["quad"]["effective_sellers"] == 4.0
    assert out["quad"]["n_sellers"] == 4 and out["quad"]["total_value"] == 400


def test_negative_binomial_fit_contract(spark):
    """Overdispersed counts yield r/p matching the hand MoM; an
    equi-dispersed (or under-) sample emits NULL fit."""
    over = spark.createDataFrame([(0,), (0,), (0,), (12,)], "c long")
    r = quality.negative_binomial_fit(over, "c").collect()[0]
    mean, var = 3.0, (144 - 144 / 4) / 3  # 36.0
    assert r["mean"] == mean and r["variance"] == 36.0
    assert abs(r["r_hat"] - round(mean * mean / (var - mean), 6)) < 1e-9
    assert abs(r["p_hat"] - round(mean / var, 6)) < 1e-9
    under = spark.createDataFrame([(5,), (5,), (5,), (5,)], "c long")
    r2 = quality.negative_binomial_fit(under, "c").collect()[0]
    assert r2["r_hat"] is None and r2["p_hat"] is None and r2["variance"] == 0.0


def test_fdr_bh_matches_python_reference(spark):
    """fdr_bh against a direct Python BH implementation over random
    p-vectors (batched: one Spark run per vector set)."""
    import random

    from z316_sales_data_pipeline_spark.operators import experiment

    rng = random.Random(7)
    for trial in range(5):
        m = rng.randint(1, 12)
        q = rng.choice([0.05, 0.1, 0.25])
        ps = [round(rng.random(), 4) for _ in range(m)]
        rows = [(f"t{i:02d}", p) for i, p in enumerate(ps)]
        got = {
            r["test_id"]: r["rejected"]
            for r in experiment.fdr_bh(
                spark.createDataFrame(rows, "test_id string, p double"),
                "test_id",
                "p",
                q=q,
            ).collect()
        }
        # reference: sort by (p, id), k = max rank with p <= q*rank/m
        order = sorted(rows, key=lambda t: (t[1], t[0]))
        k = 0
        for i, (_, p) in enumerate(order, start=1):
            if p <= q * i / m:
                k = i
        expect = {tid: (rank <= k) for rank, (tid, _) in enumerate(order, start=1)}
        assert got == expect, (trial, q, rows, got, expect)


def test_spearman_matches_python_reference(spark):
    """spearman_exact against a pure-Python average-rank Spearman on
    random integer samples with heavy ties."""
    import math
    import random

    rng = random.Random(13)

    def py_spearman(xs, ys):
        def avg_ranks(vals):
            order = sorted(range(len(vals)), key=lambda i: vals[i])
            ranks = [0.0] * len(vals)
            i = 0
            while i < len(order):
                j = i
                while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                    j += 1
                r = (i + j) / 2 + 1
                for t in range(i, j + 1):
                    ranks[order[t]] = r
                i = j + 1
            return ranks

        rx, ry = avg_ranks(xs), avg_ranks(ys)
        n = len(xs)
        mx, my = sum(rx) / n, sum(ry) / n
        cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        vx = sum((a - mx) ** 2 for a in rx)
        vy = sum((b - my) ** 2 for b in ry)
        if vx <= 0 or vy <= 0:
            return None
        return cov / math.sqrt(vx * vy)

    for _ in range(4):
        n = rng.randint(3, 40)
        xs = [rng.randint(0, 6) for _ in range(n)]
        ys = [rng.randint(0, 6) for _ in range(n)]
        df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
        got = aggregates.spearman_exact(df, F.col("x"), F.col("y")).collect()[0][
            "spearman_rho"
        ]
        ref = py_spearman(xs, ys)
        if ref is None:
            assert got is None
        else:
            assert abs(got - round(ref, 6)) < 2e-6, (xs, ys, got, ref)


def test_quantile_match_matches_python_reference(spark):
    """quantile_match_normalize against a direct Python computation of
    the floor-division rank mapping on random grouped data."""
    import random

    rng = random.Random(29)
    for _ in range(3):
        rows = []
        i = 0
        for g in ("a", "b", "c")[: rng.randint(2, 3)]:
            for _ in range(rng.randint(1, 12)):
                rows.append((i, g, rng.randint(0, 50)))
                i += 1
        df = spark.createDataFrame(rows, "id long, g string, v long")
        got = {
            r["id"]: r["nv"]
            for r in corpus_mod.quantile_match_normalize(df, "v", "id", "g", "nv").collect()
        }
        pooled = sorted(rows, key=lambda t: (t[2], t[0]))
        n_total = len(rows)
        by_g: dict[str, list] = {}
        for t in rows:
            by_g.setdefault(t[1], []).append(t)
        expect = {}
        for g, members in by_g.items():
            members.sort(key=lambda t: (t[2], t[0]))
            ng = len(members)
            for r0, t in enumerate(members):
                if ng > 1:
                    k = (r0 * (n_total - 1)) // (ng - 1)
                else:
                    k = (n_total - 1) // 2
                expect[t[0]] = pooled[k][2]
        assert got == expect, (rows, got, expect)


def test_lorenz_deciles_laws(spark):
    """cum_share is monotone and ends at exactly 1.0; deciles
    partition the units; an equal distribution gives cum_share k/10."""
    rows = [(i, 100) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = sorted(
        aggregates.lorenz_deciles(df, "id", F.col("v"), n_buckets=10).collect(),
        key=lambda r: r["decile"],
    )
    assert len(out) == 10 and sum(r["n_units"] for r in out) == 20
    assert [r["cum_share"] for r in out] == [round(k / 10, 6) for k in range(1, 11)]
    skew = spark.createDataFrame([(i, 1) for i in range(9)] + [(9, 991)], "id long, v long")
    s = sorted(
        aggregates.lorenz_deciles(skew, "id", F.col("v"), n_buckets=10).collect(),
        key=lambda r: r["decile"],
    )
    assert s[-1]["cum_share"] == 1.0 and s[-2]["cum_share"] == 0.009
    shares = [r["cum_share"] for r in s]
    assert shares == sorted(shares)
