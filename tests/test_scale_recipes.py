"""Scale-posture tests: salting equivalence and bucketed co-located
joins (the 100 TB recipes are only worth shipping if they provably
keep the semantics of their naive counterparts)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from z316_sales_data_pipeline_spark.operators import skew
from z316_sales_data_pipeline_spark.sources.tables import load_table


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 4))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 4))
        for r in skew.salted_aggregate(
            li,
            ["l_returnflag"],
            {"n": ("count", F.lit(1)), "qty": ("sum", F.col("l_quantity"))},
            salt_col="l_orderkey",
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    plain = li.join(part, li.l_partkey == part.p_partkey).count()
    salted = skew.salted_join(
        li.withColumnRenamed("l_partkey", "p_partkey"),
        part,
        on="p_partkey",
        salt_source="l_orderkey",
    ).count()
    assert salted == plain


def test_salted_join_rejects_replication_unsafe_how(spark, sf_dir):
    """right/full joins would emit each unmatched small-side row once
    per salt replica — the API must refuse, not silently multiply."""
    import pytest

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    part = load_table(spark, sf_dir, "part")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            skew.salted_join(li, part, on="p_partkey", salt_source="l_orderkey", how=how)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key pre-co-locates the data:
    the sort-merge join plan must contain NO shuffle Exchange."""
    import uuid as _uuid

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tl, to = f"b_li_{_uuid.uuid4().hex[:8]}", f"b_or_{_uuid.uuid4().hex[:8]}"
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (at test scale everything broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl)
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to)
        lt, ot = spark.table(tl), spark.table(to)
        joined = lt.join(ot, lt.l_orderkey == ot.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # co-located buckets: the join needs NO shuffle exchange
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == li.count()  # fk: every lineitem matches
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        spark.sql(f"DROP TABLE IF EXISTS {tl}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")


def test_zorder_write_tightens_stats_on_both_dims(spark, sf_dir, tmp_path):
    """Z-order clustering must give tight per-file ranges on BOTH
    cluster columns, where a single-column sort leaves the second
    column's per-file range at ~full width (no skipping possible)."""
    import glob

    from z316_sales_data_pipeline_spark import sinks

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    plain = str(tmp_path / "plain")
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(plain)
    zord = str(tmp_path / "zorder")
    sinks.write_zordered(ev, zord, ["user_id", "value"], n_files=8)

    def avg_width(path, col):
        widths = []
        for f in glob.glob(f"{path}/*.parquet"):
            r = spark.read.parquet(f).agg(
                F.min(col).alias("mn"), F.max(col).alias("mx")
            ).collect()[0]
            widths.append(float(r["mx"]) - float(r["mn"]))
        return sum(widths) / len(widths)

    full_value_width = avg_width(plain, "value")  # ~global range per file
    z_value_width = avg_width(zord, "value")
    z_user_width = avg_width(zord, "user_id")
    total_users = ev.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]

    assert spark.read.parquet(zord).count() == ev.count()
    # the second dimension tightens a lot vs the single-column sort…
    assert z_value_width < 0.6 * full_value_width
    # …while the first dimension stays far tighter than the full span
    assert z_user_width < 0.6 * total_users


def test_zorder_key_rejects_bit_overflow(spark):
    """4 cols × 16 bits would place bit 63 (the long sign bit), turning
    keys negative and silently breaking the clustering order — the
    constructor must refuse instead."""
    import pytest

    from z316_sales_data_pipeline_spark import sinks

    cols = [F.col(c) for c in "abcd"]
    with pytest.raises(ValueError, match="overflows"):
        sinks.zorder_key(cols, bits=16)
    # 4 × 15 = 60 bits is fine
    assert sinks.zorder_key(cols, bits=15) is not None


def test_flagship_correct_when_dims_outgrow_broadcast(spark, sf_dir):
    """The 100x contingency: with auto-broadcast disabled (the regime
    where a dimension no longer fits in executor memory), the flagship
    DAG must fall back to shuffle joins and produce IDENTICAL rows.
    F.broadcast() hints still apply — this exercises the planner's
    freedom on the un-hinted joins."""
    from z316_sales_data_pipeline_spark.plans import sales_facts

    want = {tuple(r) for r in sales_facts.pedidos_fact(spark, sf_dir).collect()}
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = {tuple(r) for r in sales_facts.pedidos_fact(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    assert got == want and got


def test_bloom_prune_no_false_negatives_and_prunes(spark):
    """The explicit bloom keeps EVERY true member (no false negatives —
    the exactness contract pruning relies on) while dropping most
    non-members at a small m/n ratio."""
    from z316_sales_data_pipeline_spark.operators import bloom

    members = spark.range(0, 2000).select(F.concat(F.lit("k"), F.col("id")).alias("s"))
    bf = bloom.build_bloom(members, "s", m_bits=1 << 16)
    # probe = members ∪ disjoint non-members
    probe = spark.range(0, 10000).select(
        F.when(F.col("id") < 2000, F.concat(F.lit("k"), F.col("id")))
        .otherwise(F.concat(F.lit("x"), F.col("id")))
        .alias("s")
    )
    kept = {r["s"] for r in bloom.bloom_prune(probe, "s", bf, m_bits=1 << 16).collect()}
    truth = {f"k{i}" for i in range(2000)}
    assert truth <= kept  # no false negatives
    fp = len(kept - truth) / 8000
    assert fp < 0.10, f"FP rate {fp} too high for m/n=32"


def test_source_overlap_and_boilerplate_broadcast_small_sides(spark, sf_dir):
    """New corpus-governance queries keep their small relations on the
    broadcast path: the boilerplate set and the per-source size table
    must never become shuffle-join sides."""
    import __spark_entry__ as m

    for name in ["boilerplate_ngrams", "source_overlap"]:
        plan = (
            m.queries()[name](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_semantic_dedup_keeps_one_per_chain(spark):
    """Handcrafted clusters: identical vectors collapse to the lowest
    id, orthogonal vectors all survive, and the rule is cluster-local
    (identical vectors in DIFFERENT clusters both survive)."""
    from z316_sales_data_pipeline_spark.operators import dedup

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),   # kept (lowest id of the dup pair)
        (2, 0, [1.0, 0.0, 0.0]),   # dropped (cos=1 to id 1)
        (3, 0, [0.0, 1.0, 0.0]),   # kept (orthogonal to both)
        (4, 1, [1.0, 0.0, 0.0]),   # kept — same vector as id 1 but other cluster
        (5, 1, [0.70, 0.714, 0.0]),  # kept (cos to id 4 ≈ 0.7 < 0.95)
    ]
    df = spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")
    out = {r["vec_id"]: r["keep"] for r in dedup.semantic_dedup(df, "embedding", "vec_id", "cluster", threshold=0.95).collect()}
    assert out == {1: True, 2: False, 3: True, 4: True, 5: True}


def test_minhash_candidate_recall_counts_consistent(spark, sf_dir):
    """tp ≤ min(true, candidates); ratios match the counts; recall on
    this dup-heavy corpus is high (banding tuned for J≥0.35). The
    audit's candidates are exactly the pair builder's at threshold 0:
    both run the same band join."""
    from z316_sales_data_pipeline_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    r = dedup.minhash_candidate_recall(docs, "text", "doc_id", true_threshold=0.35).collect()[0]
    assert r["n_tp"] <= min(r["n_true"], r["n_candidates"])
    pairs = dedup.minhash_near_dup_pairs(docs, "text", "doc_id", threshold=0.0, portable=True)
    assert r["n_candidates"] == pairs.count()
    if r["n_true"]:
        assert r["recall"] == round(r["n_tp"] / r["n_true"], 6)
        assert r["recall"] >= 0.8
    if r["n_candidates"]:
        assert r["candidate_precision"] == round(r["n_tp"] / r["n_candidates"], 6)


def test_semantic_dedup_incremental_rep_contract(spark):
    """A new vector dupping a kept rep is dropped; one dupping only a
    vector that is NOT among the reps survives (SemDeDup retention
    contract: duplicates are measured against what remains of the
    corpus); in-batch chains keep their lowest id; cluster isolation
    holds."""
    from z316_sales_data_pipeline_spark.operators import dedup

    reps = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cluster int, embedding array<double>",
    )
    new = [
        (10, 0, [1.0, 0.0, 0.0]),    # dup of cluster-0 rep -> dropped
        (11, 0, [0.0, 0.0, 1.0]),    # orthogonal to rep and batch -> kept
        (12, 1, [1.0, 0.0, 0.0]),    # same vector but cluster 1's rep is orthogonal -> kept
        (13, 1, [1.0, 0.0, 0.0]),    # in-batch dup of 12 -> dropped
    ]
    df = spark.createDataFrame(new, "vec_id long, cluster int, embedding array<double>")
    out = {
        r["vec_id"]: r["keep"]
        for r in dedup.semantic_dedup_incremental(
            reps, df, "embedding", "vec_id", "cluster", threshold=0.95
        ).collect()
    }
    assert out == {10: False, 11: True, 12: True, 13: False}


def test_nearest_centroid_assign_matches_kmeans_probe(spark, sf_dir):
    """Rebuilding centroids from a 1-iter assignment and re-probing
    with nearest_centroid_assign reproduces kmeans_assign's 2-iter
    result — the incremental probe half is bit-consistent with the
    batch clustering it extends."""
    from z316_sales_data_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    two = {
        (r["vec_id"], r["cluster"])
        for r in similarity.kmeans_assign(emb, "embedding", "vec_id", "label", n_iters=2).collect()
    }
    one = similarity.kmeans_assign(emb, "embedding", "vec_id", "label", n_iters=1)
    cents = similarity.centroid_table(one, emb, "embedding", "vec_id")
    probed = {
        (r["vec_id"], r["cluster"])
        for r in similarity.nearest_centroid_assign(emb, "embedding", "vec_id", cents).collect()
    }
    assert probed == two


def test_triangle_count_handcrafted_graph(spark):
    """K4 on {1,2,3,4} plus a pendant edge (4,5): 4 triangles, wedges
    Σd(d-1)/2 = 3+3+3+6+0 = 15, clustering 3·4/15 = 0.8."""
    from z316_sales_data_pipeline_spark.operators import graph

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    r = graph.triangle_count(pairs).collect()[0]
    assert (r["n_triangles"], r["n_wedges"], r["global_clustering"]) == (4, 15, 0.8)


def test_span_dedup_detects_copied_paragraph(spark):
    """A doc sharing an 8-token span with another is flagged on exactly
    the shared windows; a fully unique doc has dup_span_frac 0; docs
    shorter than k produce no row. A window repeated WITHIN one doc
    only is not cross-doc duplication."""
    from z316_sales_data_pipeline_spark.operators import dedup

    span = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (1, span + " unique tail one two three"),
        (2, "other head goes here now " + span),
        (3, "totally different words making up a unique document here"),
        (4, "short doc"),
        (5, span + " " + span),  # repeats the span internally AND shares it
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.span_dedup(df, "text", "doc_id", k=8).collect()}
    assert 4 not in out  # < k tokens -> no windows
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_span_frac"] == 0.0
    # docs 1, 2, 5 share the span: its window must be flagged in each
    assert out[1]["n_dup_windows"] >= 1
    assert out[2]["n_dup_windows"] >= 1
    assert out[5]["n_dup_windows"] >= 2  # both occurrences count
    for r in out.values():
        assert 0.0 <= r["dup_span_frac"] <= 1.0
        assert r["dup_span_frac"] == round(r["n_dup_windows"] / r["n_windows"], 6)


def test_cms_overestimates_only_and_merge_equals_direct(spark, sf_dir):
    """CMS laws: estimate >= exact for EVERY key (counters only add),
    and merging per-day partials equals the direct single-pass sketch
    (counter-sum associativity — the at-rest contract)."""
    from z316_sales_data_pipeline_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    merged = sketch.cms_merge(sketch.cms_table(ev, "user_id", F.to_date("ts"), d=4, w=64))
    direct = sketch.cms_merge(sketch.cms_table(ev, "user_id", F.lit(1), d=4, w=64))
    m = {(r["row"], r["bucket"]): r["c"] for r in merged.collect()}
    d_ = {(r["row"], r["bucket"]): r["c"] for r in direct.collect()}
    assert m == d_
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    est = sketch.cms_probe(merged, exact.select("user_id"), "user_id", d=4, w=64)
    joined = exact.join(est, "user_id").collect()
    assert joined and all(r["cms_estimate"] >= r["n"] for r in joined)


def test_incremental_cc_matches_full_recompute(spark, sf_dir):
    """Splitting the corpus pair graph into an 'old' half (labels
    computed and stored) and a 'new' half (arriving edges + nodes),
    the incremental maintenance equals full CC over everything —
    including the hard case where a new edge splices two old
    components (star edges carry the old connectivity)."""
    from z316_sales_data_pipeline_spark.operators import dedup

    # synthetic graph engineered for the splice case:
    # old: components {1,2,3} (edges 1-2, 2-3) and {10,11} (10-11); isolate 20
    # new: node 30 joins 11; edge 3-10 SPLICES the two old components
    old_nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long")
    old_edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    labels0 = dedup.connected_components(old_nodes, old_edges, id_col="doc_id")
    new_nodes = spark.createDataFrame([(30,)], "doc_id long")
    new_edges = spark.createDataFrame([(11, 30), (3, 10)], "id_a long, id_b long")
    inc = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components_incremental(
            labels0, new_nodes, new_edges, id_col="doc_id"
        ).collect()
    }
    full = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components(
            old_nodes.unionByName(new_nodes), old_edges.unionByName(new_edges), id_col="doc_id"
        ).collect()
    }
    assert inc == full
    # the splice really merged everything reachable into min id 1
    assert dict(inc)[30] == 1 and dict(inc)[10] == 1 and dict(inc)[20] == 20

    # and on the real corpus: old = pairs among doc_id % 5 != 0
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", "source", 0.5, shingle_k=1)
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)
    old_pairs = pairs.filter((F.col("id_a") % 5 != 0) & (F.col("id_b") % 5 != 0))
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    new_pairs = pairs.filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
    at_rest = dedup.connected_components(old_docs.select("doc_id"), old_pairs, id_col="doc_id")
    inc2 = {
        tuple(r)
        for r in dedup.connected_components_incremental(
            at_rest, new_docs.select("doc_id"), new_pairs, id_col="doc_id"
        ).collect()
    }
    full2 = {
        tuple(r)
        for r in dedup.connected_components(docs.select("doc_id"), pairs, id_col="doc_id").collect()
    }
    assert inc2 == full2 and inc2


def test_incremental_cc_covers_edge_only_nodes(spark):
    """An endpoint that appears ONLY in new_edges (caller forgot to
    list it in new_nodes) must still reach the output with correct
    connectivity — seeds derive from the edges themselves (ADVICE r3:
    self-healing caller contract)."""
    from z316_sales_data_pipeline_spark.operators import dedup

    labels0 = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_id long")
    new_nodes = spark.createDataFrame([], "doc_id long")
    # 7 and 8 appear only as edge endpoints; 8 bridges into the old component
    new_edges = spark.createDataFrame([(7, 8), (8, 2)], "id_a long, id_b long")
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components_incremental(
            labels0, new_nodes, new_edges, id_col="doc_id"
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (7, 1), (8, 1)}


def test_cluster_labels_maintained_through_snapshot_sink(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r3 item 5, end-to-end: ingest (v=1 labels over the
    corpus minus the batch) → maintain (incremental CC over the batch)
    → consume (split/query reads _LATEST) equals a one-shot batch
    recompute; v=1 time travel still reads the pre-batch labels."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.plans import pair_graph
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    # point the warehouse at a fresh tmp dir so this test exercises the
    # cold build (v=1 → maintain → v=2) regardless of harness cache state
    monkeypatch.setattr(pair_graph, "_CACHE_ROOT", tmp_path / "wh")

    maintained = pair_graph.cluster_labels(spark, sf_dir, threshold=0.5, shingle_k=1)
    docs = load_table(spark, sf_dir, "documents")
    pairs = pair_graph.jaccard_pair_graph(spark, sf_dir, threshold=0.5, shingle_k=1)
    full = dedup.connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    assert {tuple(r) for r in maintained.collect()} == {tuple(r) for r in full.collect()}

    # the snapshot sink really holds both versions: v=1 = pre-batch corpus
    import os

    (cc_dir,) = [d for d in os.listdir(tmp_path / "wh") if d.startswith("cc_labels_")]
    t = str(tmp_path / "wh" / cc_dir)
    v1 = sinks.read_snapshot(spark, t, version=1)
    assert v1.filter(F.col("doc_id") % 5 == 0).count() == 0  # batch not yet ingested
    assert sinks.read_snapshot(spark, t).count() == docs.count()  # _LATEST covers all


def test_power_iteration_finds_dominant_axis(spark):
    """Synthetic data with variance concentrated on axis 1: after 3
    power iterations the loading vector is unit-norm and dominated by
    that axis."""
    import math

    from z316_sales_data_pipeline_spark.operators import similarity

    rows = [(i, [((i % 7) - 3.0) * 10.0, (i % 2) * 0.1, ((i % 3) - 1.0) * 0.1]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = {r["pos"]: r["loading"] for r in similarity.power_iteration_top_pc(df, "embedding", "vec_id").collect()}
    assert set(v) == {0, 1, 2}
    assert abs(math.sqrt(sum(x * x for x in v.values())) - 1.0) < 1e-4
    assert abs(v[0]) > 0.99 and abs(v[1]) < 0.1 and abs(v[2]) < 0.1


def test_simhash_banded_probe_equals_brute_force(spark, sf_dir):
    """Pigeonhole exactness: the banded (band, value) candidate join +
    popcount filter finds EXACTLY the pairs a brute-force Hamming ≤ 3
    scan finds — the index only prunes, never loses (and max_hamming
    >= n_bands is rejected)."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    corpus_sigs = dedup.simhash_signatures(corpus, "text", "doc_id", 16, portable=True)
    got = {
        (r["doc_id"], r["n_near"], r["min_hamming"], r["first_near"])
        for r in dedup.simhash_near_dup_incremental(
            new_docs, corpus_sigs, "text", "doc_id", 16, 4, 3, portable=True
        ).collect()
    }
    new_sigs = dedup.simhash_signatures(new_docs, "text", "doc_id", 16, portable=True)
    brute = (
        new_sigs.select(F.col("doc_id"), F.col("simhash").alias("ns"))
        .crossJoin(
            corpus_sigs.select(F.col("doc_id").alias("cid"), F.col("simhash").alias("cs"))
        )
        .withColumn("h", F.bit_count(F.col("ns").bitwiseXOR(F.col("cs"))))
        .filter(F.col("h") <= 3)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min("h").cast("int").alias("min_hamming"),
            F.min("cid").alias("first_near"),
        )
    )
    want = {
        (
            r["doc_id"],
            r["n_near"] or 0,
            r["min_hamming"],
            r["first_near"],
        )
        for r in new_sigs.select("doc_id").join(brute, "doc_id", "left").collect()
    }
    assert got == want and got
    with _pytest.raises(ValueError):
        dedup.simhash_near_dup_incremental(
            new_docs, corpus_sigs, "text", "doc_id", 16, 4, 4, portable=True
        )


def test_materialized_cache_invalidates_on_corpus_change(spark, tmp_path, monkeypatch, sf_dir):
    """The at-rest cache key includes the corpus file identity: a new
    corpus snapshot (different mtime/size) builds a NEW cache dir
    instead of serving stale results — the self-invalidation the
    lakehouse contract claims."""
    import os
    import shutil

    from z316_sales_data_pipeline_spark.plans import pair_graph

    monkeypatch.setattr(pair_graph, "_CACHE_ROOT", tmp_path / "wh")
    # a private sf dir whose documents file we control
    sf2 = tmp_path / "sf"
    sf2.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", sf2 / "documents.parquet")

    first = pair_graph.full_shingle_table(spark, str(sf2), shingle_k=1, portable=True)
    n1 = first.count()
    dirs1 = {d for d in os.listdir(tmp_path / "wh") if d.startswith("mh_ex_full")}
    assert len(dirs1) == 1

    # "new snapshot": rewrite the documents file (fewer docs)
    docs = spark.read.parquet(str(sf2 / "documents.parquet")).filter(F.col("doc_id") < 10)
    tmp_out = str(tmp_path / "docs2")
    docs.write.parquet(tmp_out)
    os.remove(sf2 / "documents.parquet")
    shutil.move(tmp_out, str(sf2 / "documents.parquet"))

    second = pair_graph.full_shingle_table(spark, str(sf2), shingle_k=1, portable=True)
    dirs2 = {d for d in os.listdir(tmp_path / "wh") if d.startswith("mh_ex_full")}
    assert len(dirs2) == 2 and dirs1 < dirs2  # new key, old cache untouched
    assert second.select("doc_id").distinct().count() == 10
    assert n1 > second.count()


def test_cluster_labels_torn_build_self_repairs(spark, sf_dir, tmp_path, monkeypatch):
    """ADVICE r4 (medium): _LATEST alone is not a completion marker —
    write_snapshot flips it right after v=1, so a crash between the
    v=1 and v=2 writes used to leave a table that silently served
    PRE-BATCH labels forever. The fix builds both versions into a tmp
    dir installed by one atomic rename AND gates the cache hit on
    _LATEST >= 2. This test forges the crash state (v=1 only,
    _LATEST=1) and asserts the next call rebuilds to the full,
    post-batch labels."""
    import os
    import shutil

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.plans import pair_graph
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    monkeypatch.setattr(pair_graph, "_CACHE_ROOT", tmp_path / "wh")
    pair_graph.cluster_labels(spark, sf_dir, threshold=0.5, shingle_k=1).count()
    (cc_dir,) = [d for d in os.listdir(tmp_path / "wh") if d.startswith("cc_labels_")]
    t = str(tmp_path / "wh" / cc_dir)

    # forge the crashed-between-versions state the old code produced
    shutil.rmtree(f"{t}/v=2")
    with open(f"{t}/_LATEST", "w") as f:
        f.write("1")

    repaired = pair_graph.cluster_labels(spark, sf_dir, threshold=0.5, shingle_k=1)
    docs = load_table(spark, sf_dir, "documents")
    assert repaired.count() == docs.count()  # batch docs present again
    with open(f"{t}/_LATEST") as f:
        assert int(f.read().strip()) >= 2
    pairs = pair_graph.jaccard_pair_graph(spark, sf_dir, threshold=0.5, shingle_k=1)
    full = dedup.connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    assert {tuple(r) for r in repaired.collect()} == {tuple(r) for r in full.collect()}
    # and the repaired table still offers v=1 time travel
    assert sinks.read_snapshot(spark, t, version=1).count() > 0


def test_materialized_repairs_torn_cache_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A stale cache dir that is not complete (left by a crashed
    pre-rename-era writer) used to make the post-build rename
    fail and be misread as a lost race — the torn dir was then read
    as-is. The install now re-checks completeness after a failed rename
    and repairs by replacing the torn dir with the fresh complete
    build; a genuinely lost race keeps the rival's complete dir and
    discards ours. Both paths are exercised for a ``_materialized``
    cache (complete = ``_SUCCESS``) and a maintained two-segment cache
    (complete = ``_LATEST >= 2``)."""
    import glob
    import os
    import shutil

    from z316_sales_data_pipeline_spark.plans import pair_graph

    monkeypatch.setattr(pair_graph, "_CACHE_ROOT", tmp_path / "wh")
    sf2 = tmp_path / "sf"
    sf2.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", sf2 / "documents.parquet")

    def latest(out):
        with open(os.path.join(out, "_LATEST")) as f:
            return int(f.read().strip())

    def tear_segments(out):  # crashed between the v=1 and v=2 commits
        shutil.rmtree(os.path.join(out, "v=2"))
        with open(os.path.join(out, "_LATEST"), "w") as f:
            f.write("1")

    cases = [  # (cache name, load, forge torn state, is complete)
        (
            "mh_ex_full",
            lambda: pair_graph.full_shingle_table(spark, str(sf2), shingle_k=1, portable=True),
            lambda out: os.remove(os.path.join(out, "_SUCCESS")),
            lambda out: os.path.exists(os.path.join(out, "_SUCCESS")),
        ),
        (
            "sh_sigs",
            lambda: pair_graph.simhash_corpus_sigs(spark, str(sf2)),
            tear_segments,
            lambda out: latest(out) >= 2,
        ),
    ]
    real_fresh_tmp = pair_graph._fresh_tmp
    for name, load, tear, complete in cases:
        want = load().count()
        (d,) = [x for x in os.listdir(tmp_path / "wh") if x.startswith(name)]
        out = str(tmp_path / "wh" / d)

        tear(out)
        assert load().count() == want
        assert complete(out), name  # repaired in place

        # lost race: a rival installs its complete build while ours is
        # still being written — the rename fails, theirs is kept
        rival = str(tmp_path / f"rival_{name}")
        shutil.copytree(out, rival)
        open(os.path.join(rival, "_RIVAL"), "w").close()
        tear(out)

        def rival_wins(o, rival=rival):
            tmp = real_fresh_tmp(o)
            shutil.rmtree(o)
            shutil.copytree(rival, o)
            return tmp

        monkeypatch.setattr(pair_graph, "_fresh_tmp", rival_wins)
        assert load().count() == want
        monkeypatch.setattr(pair_graph, "_fresh_tmp", real_fresh_tmp)
        assert complete(out) and os.path.exists(os.path.join(out, "_RIVAL")), name
        assert not glob.glob(f"{out}.tmp-*"), name  # our build discarded


def test_two_phase_global_ordering_equals_global_window(spark):
    """VERDICT r4 items 2-4's primitive: the range-partition +
    partition-local window + broadcast-offset composition must equal
    the single-partition global window BIT-FOR-BIT — row_number,
    running integer sum, and the ntile reconstruction (odd totals, so
    bucket sizes differ and the padding arithmetic is exercised)."""
    from z316_sales_data_pipeline_spark.operators import windows as W

    rows = [(i, (i * 37) % 101, ((i * 13) % 7) * 10) for i in range(1007)]
    df = spark.createDataFrame(rows, "id long, key int, val long")
    order = [F.col("key").desc(), F.col("id").asc()]

    ranked, total = W.two_phase_row_number(df, order, "r", num_partitions=8)
    assert total == 1007
    want_rank = df.withColumn(
        "r", F.row_number().over(Window.orderBy(*order)).cast("long")
    )
    assert {tuple(x) for x in ranked.collect()} == {tuple(x) for x in want_rank.collect()}

    summed, tot = W.two_phase_running_sum(df, order, "val", "rs", num_partitions=8)
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_sum = df.withColumn("rs", F.sum("val").over(w))
    assert tot == sum(r[2] for r in rows)
    assert {tuple(x) for x in summed.collect()} == {tuple(x) for x in want_sum.collect()}

    for n in (4, 10, 3):
        got_nt = {
            (x["id"], x["q"])
            for x in ranked.withColumn(
                "q", W.ntile_from_rank(F.col("r"), n, total)
            ).collect()
        }
        want_nt = {
            (x["id"], x["q"])
            for x in df.withColumn("q", F.ntile(n).over(Window.orderBy(*order))).collect()
        }
        assert got_nt == want_nt, n

    # fewer rows than buckets: the base==0 edge
    tiny = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    tr, tn = W.two_phase_row_number(tiny, [F.col("id").asc()], "r", num_partitions=4)
    got = {(x["id"], x["q"]) for x in tr.withColumn("q", W.ntile_from_rank(F.col("r"), 5, tn)).collect()}
    want = {
        (x["id"], x["q"])
        for x in tiny.withColumn("q", F.ntile(5).over(Window.orderBy("id"))).collect()
    }
    assert got == want


def test_ngram_jaccard_incremental_partitions_the_full_pair_set(spark, sf_dir):
    """The maintained pair graph's correctness core: pairs(corpus ∪
    batch) partitions EXACTLY into pairs(corpus×corpus) ⊎ pairs
    touching the batch — so the append-segment table (v=1 corpus
    pairs, v=2 incremental probe) equals the one-shot batch build,
    while each ingest costs O(batch × block), never corpus²."""
    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = F.col("doc_id") % 5 == 0
    full = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", "source", threshold=0.5, shingle_k=1
        ).collect()
    }
    corpus_only = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs.filter(~batch), "text", "doc_id", "source", threshold=0.5, shingle_k=1
        ).collect()
    }
    touching = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs_incremental(
            docs.filter(batch),
            docs.filter(~batch),
            "text",
            "doc_id",
            "source",
            threshold=0.5,
            shingle_k=1,
        ).collect()
    }
    assert corpus_only | touching == full
    assert not (corpus_only & touching)  # a true partition, no overlap
    assert touching  # the batch really contributes pairs at this sf


def test_ivf_layout_append_maintenance_equals_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """The maintained IVF layout's correctness core: appending the
    arriving vectors assigned with the FROZEN centroid model equals a
    one-shot full rebuild — exact because the quantizer is the n_cells
    lowest-id vectors, which all live in the base segment, so a fresh
    rebuild derives the bit-identical model (retraining the quantizer
    is a rebuild by definition). Both segments keep the cell
    partitioning; the basePath read prunes on v and cell."""
    import os

    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.plans import pair_graph
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    monkeypatch.setattr(pair_graph, "_CACHE_ROOT", tmp_path / "wh")
    at_rest = pair_graph.ivf_embeddings(spark, sf_dir, n_cells=16)

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = similarity._centroids(emb, "embedding", "vec_id", 16)
    want = similarity.ivf_assign(emb, "embedding", cents)
    key = lambda r: (r["vec_id"], r["cell"])  # noqa: E731
    assert {key(r) for r in at_rest.collect()} == {key(r) for r in want.collect()}

    (d,) = [x for x in os.listdir(tmp_path / "wh") if x.startswith("ivf_seg_")]
    t = str(tmp_path / "wh" / d)
    segs = sorted(x for x in os.listdir(t) if x.startswith("v="))
    assert segs == ["v=1", "v=2"]
    # the appended segment holds only the arriving slice, cell-partitioned
    v2 = spark.read.parquet(f"{t}/v=2")
    assert 0 < v2.count() < at_rest.count()
    assert any(x.startswith("cell=") for x in os.listdir(f"{t}/v=2"))


def test_span_index_antijoin_append_equals_distinct_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """The maintained span index's correctness core: distinctness
    spans documents, so the appended segment is the arriving slice's
    hashes ANTI-JOINED against the base — the segment union must equal
    the one-shot distinct over the whole corpus split, with the two
    segments disjoint (a shared hash is kept once, from v=1)."""
    import os

    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.plans import pair_graph
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    monkeypatch.setattr(pair_graph, "_CACHE_ROOT", tmp_path / "wh")
    got = {r["__h"] for r in pair_graph.span_corpus_index(spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    want = {
        r["__h"]
        for r in dedup.span_hash_table(corpus, "text", "doc_id", 8)
        .select("__h")
        .distinct()
        .collect()
    }
    assert got == want and got

    (d,) = [x for x in os.listdir(tmp_path / "wh") if x.startswith("span_idx_")]
    t = str(tmp_path / "wh" / d)
    v1 = {r["__h"] for r in spark.read.parquet(f"{t}/v=1").collect()}
    v2 = {r["__h"] for r in spark.read.parquet(f"{t}/v=2").collect()}
    assert not (v1 & v2)  # anti-join really removed the overlap
    assert v1 | v2 == want
