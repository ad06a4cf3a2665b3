"""Physical-plan regression guards.

Perf properties are invariants too: these tests pin the plan shapes the
100 TB design depends on, so a refactor that silently de-broadcasts a
dimension join or drops an aggregation out of codegen fails CI, not a
benchmark three rounds later.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def _plan(spark, sf_dir, name: str) -> str:
    df = entrymod.bench_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _runtime_plan(plan: str) -> str:
    """Strip the cached-lineage subtrees printed under every
    InMemoryRelation node: with persist_fact (lineage KEPT — the r9
    grain rule) the plan string shows the frame's full derivation
    below the InMemoryRelation, but at runtime those operators never
    execute (the InMemoryTableScan serves blocks; the lineage runs
    only on block loss). Plan assertions about the runtime path —
    "scanned once", "no re-scan per consumer" — must therefore ignore
    those subtrees, exactly as they were invisible under the old
    lineage-severing localCheckpoint."""
    import re

    out, skip_past = [], None
    for line in plan.split("\n"):
        m = re.search(r"[A-Za-z]", line)
        depth = m.start() if m else 0
        if skip_past is not None:
            if depth > skip_past:
                continue
            skip_past = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_past = depth
    return "\n".join(out)


def test_flagship_broadcasts_and_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pedidos_fact")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # order-grain agg only


def test_lookup_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "d1_item_product_lookup")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_brute_force")
    assert "TakeOrderedAndProject" in plan, plan


def test_minhash_aggregates_stay_in_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "minhash_near_dup")
    assert "ObjectHashAggregate" not in plan, plan


def test_q1_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    # 7 referenced lineitem columns, not the full 16-column table
    assert len(cols) == 7, scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in scan, scan


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_join_clicks")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan


def test_asof_join_single_shuffle_no_join_node(spark, sf_dir):
    # carry-forward formulation: ONE exchange on the key, zero join operators
    plan = _plan(spark, sf_dir, "asof_join")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_q10_broadcasts_dims_and_prereduces_fact(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_revenue")
    assert "BroadcastHashJoin" in plan, plan
    # the lineitem returnflag filter must reach the parquet scan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_q4_semi_join_prunes_lineitem_payload(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_priority_count")
    assert "LeftSemi" in plan, plan
    scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "lineitem" in l
    )
    cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    assert len(cols) == 2, scan  # l_orderkey + l_returnflag only


def test_stratified_sample_single_agg_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stratified_sample")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q7_nation_pair_filter_pushed_to_both_dim_scans(spark, sf_dir):
    """Catalyst must infer the per-side nation-name disjunction from the
    pair predicate and push it into BOTH broadcast nation scans — the
    fact side never sees rows for unrelated nations' suppliers early."""
    plan = _plan(spark, sf_dir, "q7_volume_shipping")
    assert "SortMergeJoin" not in plan, plan
    nation_scans = [
        l for l in plan.splitlines() if "FileScan parquet" in l and "nation" in l
    ]
    assert sum("NATION_" in s for s in nation_scans) == 2, plan


def test_q17_decorrelated_avg_broadcasts_back(spark, sf_dir):
    """The hand-decorrelated per-part average must come back as a
    broadcast build side with the quantity cutoff as a residual join
    condition — no sort-merge, no second shuffle of the fact."""
    plan = _plan(spark, sf_dir, "q17_small_qty_revenue")
    assert "partial_avg" in plan, plan
    assert "qty_cutoff" in plan and "SortMergeJoin" not in plan, plan
    brand_scans = [l for l in plan.splitlines() if "p_brand" in l and "FileScan" in l]
    assert all("Brand#1" in s for s in brand_scans) and brand_scans, plan


def test_q22_anti_join_filter_pushed_below(spark, sf_dir):
    """NOT EXISTS compiles to LeftAnti with the large-order filter
    pushed into the orders scan, so the anti-join build side is small
    enough to broadcast at any scale where few orders are 'large'."""
    plan = _plan(spark, sf_dir, "q22_idle_customers")
    assert "LeftAnti, BuildRight" in plan, plan
    orders_scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "o_totalprice" in l
    )
    assert "460000" in orders_scan, plan


def test_contamination_check_stays_in_codegen(spark, sf_dir):
    """Shingle explode feeds plain hash aggregates (no collect_set /
    ObjectHashAggregate); the train-set dedup is a key-only aggregate."""
    plan = _plan(spark, sf_dir, "contamination_check")
    assert "ObjectHashAggregate" not in plan, plan
    assert "partial_count" in plan and "Generate explode" in plan, plan


def test_contamination_check_bloom_prunes_before_distinct(spark, sf_dir):
    """The train-shingle side is pruned by the explicit eval-shingle
    bloom (broadcast bitset join + bit test) BELOW its distinct, so the
    big shuffle only carries candidates; and pruning is invisible to
    results (no false negatives; FPs die in the exact join)."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from z316_sales_data_pipeline_spark.functions import text
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    plan = _plan(spark, sf_dir, "contamination_check")
    # the bloom application: broadcast join on the bitset + shift/mask test
    assert "shiftrightunsigned" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan

    got = {tuple(r) for r in m.queries()["contamination_check"](spark, sf_dir).collect()}
    # unpruned reference: same aggregation without the bloom
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(text.shingles("text", 3))).alias("s")
    )
    train = sh.filter(F.col("source") != "src0").select("s").distinct().withColumn("__hit", F.lit(1))
    want = {
        tuple(r)
        for r in sh.filter(F.col("source") == "src0")
        .join(train, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_matched"),
            F.round(
                F.sum(F.coalesce("__hit", F.lit(0))) / F.count(F.lit(1)).cast("double"), 6
            ).alias("contamination"),
        )
        .collect()
    }
    assert got == want and got


def test_dataset_split_is_narrow(spark, sf_dir):
    """Split assignment is a pure per-row function — zero exchanges."""
    plan = _plan(spark, sf_dir, "dataset_split")
    assert "Exchange" not in plan, plan


def test_doc_chunks_is_narrow_generate(spark, sf_dir):
    """Chunking is scan → project → explode — zero exchanges, so the
    shard writer streams at scan speed at any scale."""
    plan = _plan(spark, sf_dir, "doc_chunks")
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_tfidf_hash_aggs_no_window_sort(spark, sf_dir):
    """tf and df are codegen hash aggregates; the top-k window sorts
    only the tiny per-group relation. No ObjectHashAggregate, and no
    sort-based aggregate for the big token relation."""
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "ObjectHashAggregate" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final for tf and df


def test_q6_pure_scan_aggregate(spark, sf_dir):
    """Q6 must be scan → filter → partial/final agg: no joins, no
    window, predicates pushed, only the 4 referenced columns read."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "Join" not in plan, plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    assert len(cols) == 4, scan  # shipdate, discount, quantity, extendedprice
    assert "PushedFilters: [IsNotNull" in scan, scan


def test_q8_star_join_no_cartesian(spark, sf_dir):
    """Q8's 6-way star: dimensions broadcast, never a cartesian or
    nested-loop product."""
    plan = _plan(spark, sf_dir, "q8_market_share")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q21_compiles_to_semi_plus_anti(spark, sf_dir):
    """EXISTS + NOT EXISTS must stay LeftSemi + LeftAnti joins on key
    columns — no row-exploding inner join followed by dedup."""
    plan = _plan(spark, sf_dir, "q21_waiting_suppliers")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """The pairwise cosine is confined to the cluster-key self-join —
    never a cartesian/nested-loop product over the embedding table —
    and the normed base is materialized once: the final plan's RUNTIME
    path reads the persisted frame (InMemoryTableScan), never the
    parquet source (6 re-scans before the fix; cached lineage under
    InMemoryRelation is stripped — it only runs on block loss)."""
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    rt = _runtime_plan(plan)
    assert rt.count("FileScan parquet") == 0, rt
    assert "InMemoryTableScan" in rt, rt


def test_vocab_coverage_heap_topn_window_after(spark, sf_dir):
    """Top-n by frequency compiles to TakeOrderedAndProject (per-
    partition heap) — the running-sum window never sees the full
    vocabulary."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert "TakeOrderedAndProject" in plan, plan
    # the window input is the take-ordered result, not the token agg:
    # Window appears above TakeOrdered in the operator listing
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_source_mixture_scans_corpus_once(spark, sf_dir):
    """The source-grain aggregate is materialized once (eager
    checkpoint) and both the totals and the projection derive from it —
    the final plan must contain ZERO parquet scans (without the
    checkpoint, Catalyst re-inlines the aggregate per consumer and the
    corpus is scanned twice)."""
    plan = _plan(spark, sf_dir, "source_mixture")
    assert plan.count("FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_vocab_coverage_scans_corpus_once(spark, sf_dir):
    """Same single-materialization contract for the vocab-grain count
    relation feeding both the total and the top-n."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert plan.count("FileScan parquet") == 0, plan


def test_nearest_centroid_probe_broadcasts_model(spark, sf_dir):
    """The incremental probe joins the k·dim centroid relation as a
    broadcast build side — the new batch never shuffles on pos.
    Asserted on the probe subplan itself (in the full query it is
    materialized behind a checkpoint and invisible to the final plan);
    the full query's final plan must contain zero parquet scans (the
    pre-fix plan re-scanned the embeddings parquet 24 times)."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assign = similarity.kmeans_assign(emb, "embedding", "vec_id", "label", n_iters=1)
    cents = similarity.centroid_table(assign, emb, "embedding", "vec_id")
    probe = similarity.nearest_centroid_assign(
        emb.filter(F.col("vec_id") % 5 == 0), "embedding", "vec_id", cents
    )
    probe_plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in probe_plan, probe_plan

    df = m.queries()["semantic_dedup_incremental"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    rt = _runtime_plan(plan)
    assert rt.count("FileScan parquet") == 0, rt


def test_event_transitions_single_window_pass(spark, sf_dir):
    """One window over user_id; totals derive from the materialized
    confusion relation, so events are scanned once (zero FileScans in
    the final plan — the scan happened inside the checkpoint build)."""
    plan = _plan(spark, sf_dir, "event_transitions")
    assert plan.count("FileScan parquet") == 0, plan


def test_contrastive_triples_ring_joins_no_cartesian(spark, sf_dir):
    """The three candidate lookups are equi-joins on the ring position
    — no cartesian/nested-loop; the 1-row corpus count enters as a
    broadcast."""
    plan = _plan(spark, sf_dir, "contrastive_triples")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", ""
    ), plan
    # the count crossJoin is the documented 1-row broadcast
    assert "IdentityBroadcastMode" in plan or "BroadcastExchange" in plan, plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the same key/count join with ZERO
    Exchange: the write-once shuffle amortizes across every downstream
    join — the fact-to-fact co-location strategy at 100 TB (BigQuery
    clustering's join half, which sortWithinPartitions cannot give)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    import shutil

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a table dir orphaned by an earlier crashed session blocks
        # saveAsTable even after DROP (the catalog no longer knows it)
        shutil.rmtree(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:") + f"/{t}",
                      ignore_errors=True)
    sinks.write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    sinks.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        n_buckets=8,
    )
    # at test scale Catalyst would broadcast the small side, which hides
    # the property under test; force the fact-to-fact (sort-merge) path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderkey")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # co-located join AND agg both reuse the write-time bucketing
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # equality with the plain-parquet join
    expected = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
    ).count()
    total = j.agg(F.sum("count")).collect()[0][0]
    assert total == expected
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ivf_partitioned_at_rest_prunes_partitions(spark, sf_dir):
    """The at-rest IVF layout (embeddings partitioned by cell) turns
    the probe's cell filter into PARTITION PRUNING — the scan reads
    n_probe/n_cells of the files — and the pruned top-k equals the
    inline-assignment ivf_top_k result."""
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.plans import pair_graph
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    qv = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    at_rest = pair_graph.ivf_embeddings(spark, sf_dir, n_cells=16)
    cents = similarity._centroids(at_rest, "embedding", "vec_id", 16)
    probe = similarity.probe_cells(cents, qv, 4)
    probed = at_rest.filter(F.col("cell").isin(probe))
    scan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in scan and "cell" in scan.split("PartitionFilters", 1)[1][:120], scan
    got = {
        tuple(r)
        for r in similarity.brute_force_top_k(probed, "embedding", "vec_id", qv, 10).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    want = {tuple(r) for r in similarity.ivf_top_k(emb, "embedding", "vec_id", qv, 10).collect()}
    assert got == want and got
    # pruning is real: the probed scan touches fewer files than the table has partitions
    n_cells_present = at_rest.select("cell").distinct().count()
    assert n_cells_present > 4  # sanity: the layout actually spreads cells


def test_no_query_plans_cartesian_or_row_python(executed_plans):
    """Fleet-wide plan hygiene: NO registry entry may compile to a
    CartesianProduct (unbounded pair blowup) or BatchEvalPython
    (row-at-a-time Python UDF). Arrow-batched Pandas operators
    (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas) and
    broadcast nested-loop joins of O(1) relations are allowed — those
    are the sanctioned shapes. Catches the class of regression where a
    refactor silently drops a join condition or swaps a column
    expression for a Python lambda."""
    offenders = {}
    for name, (plan, _columns) in executed_plans.items():
        marks = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if marks:
            offenders[name] = marks
    assert not offenders, offenders


def _unpartitioned_ordered_windows(plan: str) -> list[str]:
    """Physical-plan lines whose Window node has an ORDER BY but no
    PARTITION BY — the 'WindowExec: No Partition Defined ... moving
    all data to a single partition' shape. Formatting (verified on
    this Spark): `Window [exprs], [part], [order]` when partitioned,
    `Window [exprs], [order]` when not (the 2nd group then carries
    ASC/DESC sort markers; a partition-only window's 2nd group does
    not), `Window [exprs]` when both are empty."""
    hits = []
    for line in plan.splitlines():
        if "Window " not in line:
            continue
        i = line.find("Window ")
        depth, groups, cur = 0, [], []
        for ch in line[i + 7 :]:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        if len(groups) == 1 or (
            len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1])
        ):
            hits.append(line.strip())
    return hits


# Unpartitioned ordered windows provably over BOUNDED relations — the
# only sanctioned sites. Anything new must either partition, use the
# two-phase shape (operators/windows.two_phase_row_number /
# two_phase_running_sum), or argue its way onto this list.
_BOUNDED_GLOBAL_WINDOW_SITES = {
    # cumulative walk over the merged histogram sketch: <= n_buckets
    # (64) rows regardless of data size (operators/sketch.py)
    "quantile_sketch",
    # cumulative coverage over the top-N (16) token rows only — the
    # window sits above the rank<=N filter (operators/corpus.py)
    "vocab_coverage",
    # rank assignment over two ALREADY-TRUNCATED top-20 retrieval
    # lists — the windows sit above LIMIT 20 (operators/similarity.py
    # rrf_fuse); the corpus never reaches them
    "rrf_fusion",
    # BH rank over the TEST-grain battery: one row per hypothesis,
    # dozens by construction (segments x metrics) — the unit-grain
    # scan reduces to test grain before the window
    # (operators/experiment.py fdr_bh)
    "fdr_bh_segments",
    # as-of fill + running-min p over the DAY-grain relation: bounded
    # by the calendar (~30 rows per month of monitoring), never unit
    # grain (operators/experiment.py always_valid_pvalue)
    "always_valid_pvalue",
}


def test_no_query_plans_unpartitioned_window_over_unbounded_relation(executed_plans):
    """Fleet-wide plan hygiene, r4 verdict item 5: NO registry entry
    may compile to an ORDER BY window with an empty partition spec
    over an unbounded relation — that window sorts the whole relation
    in ONE task (the named 100 TB scale-killer; this caught pareto_abc,
    rfm_segments and the contrastive_triples ring in r4, all since
    re-planned onto the two-phase zipWithIndex shape). Bounded sites
    (sketch-grain / post-LIMIT windows) are explicitly allowlisted."""
    offenders = {}
    for name, (plan, _columns) in executed_plans.items():
        if name in _BOUNDED_GLOBAL_WINDOW_SITES:
            continue
        hits = _unpartitioned_ordered_windows(plan)
        if hits:
            offenders[name] = hits[0][:160]
    assert not offenders, offenders


def test_unpartitioned_window_detector_sees_the_shape(spark):
    """The detector itself must stay calibrated to this Spark's plan
    formatting: red on a global ordered window, silent on partitioned
    and partition-only windows (else the fleet guard guards nothing)."""
    from pyspark.sql import Window as W

    df = spark.range(10).withColumn("k", F.col("id") % 2)
    glob = df.withColumn("r", F.row_number().over(W.orderBy("id")))
    part = df.withColumn("r", F.row_number().over(W.partitionBy("k").orderBy("id")))
    part_only = df.withColumn("s", F.sum("id").over(W.partitionBy("k")))
    plan = lambda d: d._jdf.queryExecution().executedPlan().toString()  # noqa: E731
    assert _unpartitioned_ordered_windows(plan(glob))
    assert not _unpartitioned_ordered_windows(plan(part))
    assert not _unpartitioned_ordered_windows(plan(part_only))


def test_graph_iterators_no_forced_broadcast_on_unbounded_sets(spark, monkeypatch):
    """r7 VERDICT item 2: bfs_hops / bfs_hops_bipartite / k_core must
    not broadcast-HINT their visited/survivor relations — on a
    near-dup graph node-grain = corpus-grain and a forced broadcast
    OOMs the driver at scale. Only the bounded hop-1 seed frontier may
    carry a hint; everything else is left to AQE (which reads exact
    checkpointed sizes and still broadcasts while small). The
    broadcast hint sites are counted by instrumenting the module's own
    F.broadcast handle — exactly one call (the seed) per invocation,
    INDEPENDENT of the hop/iteration count — plus a one-level
    plan-string sanity check that the single hint really lands as a
    ResolvedHint."""
    from z316_sales_data_pipeline_spark.operators import graph

    calls = []
    real_broadcast = graph.F.broadcast
    monkeypatch.setattr(
        graph.F, "broadcast", lambda df: (calls.append(1), real_broadcast(df))[1]
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    assoc = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "item long, group string")

    calls.clear()
    bfs = graph.bfs_hops(edges, seeds, max_hops=3)
    assert len(calls) == 1, "bfs_hops must hint ONLY the bounded seed frontier"
    assert bfs.count() == 4

    calls.clear()
    bip = graph.bfs_hops_bipartite(assoc, seeds, max_hops=3)
    assert len(calls) == 1, "bfs_hops_bipartite must hint ONLY the seed frontier"
    assert bip.count() == 2

    calls.clear()
    core = graph.k_core(edges, k=1, n_iters=3)
    assert len(calls) == 0, "k_core must not hint its unbounded survivor set"
    assert core.count() == 4

    # the one allowed hint is a real ResolvedHint in the analyzed plan
    from pyspark.sql.classic.dataframe import DataFrame  # concrete impl class

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    one = graph.bfs_hops(edges, seeds, max_hops=1)
    assert one._jdf.queryExecution().analyzed().toString().count("ResolvedHint") == 1


def test_ivm_retract_no_forced_broadcast_on_touched_keys(spark, monkeypatch):
    """r8 VERDICT item 2 / ADVICE: retractable_agg_maintain must not
    broadcast-HINT the CDC batch's touched-key set. A steady-state
    epoch's key set is small and AQE broadcasts it on its own, but a
    backfill replay ships a history-sized batch where touched keys ==
    the whole table, and a forced hint bypasses AQE's size check and
    OOMs the driver — the identical class removed from bfs/k_core in
    r8. Pinned the same way: instrument the module's F.broadcast
    handle (zero calls allowed) and assert the analyzed plan carries
    no ResolvedHint, so the semi-join's strategy is left to AQE."""
    from z316_sales_data_pipeline_spark.operators import ivm
    from pyspark.sql import functions as F

    calls = []
    real_broadcast = ivm.F.broadcast
    monkeypatch.setattr(
        ivm.F, "broadcast", lambda df: (calls.append(1), real_broadcast(df))[1]
    )

    snapshot = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k long, g string, v long"
    )
    base = snapshot.groupBy("g").agg(
        F.count("*").alias("n"), F.sum("v").cast("long").alias("v_sum")
    )
    changes = spark.createDataFrame(
        [(2, "b", 25, "upsert", 2), (3, None, None, "delete", 2)],
        "k long, g string, v long, op string, ver long",
    )
    out = ivm.retractable_agg_maintain(
        base, snapshot, changes, "k", "op", "ver", "g", {"v_sum": F.col("v")}
    )
    assert len(calls) == 0, "touched-key semi-join must not carry a broadcast hint"
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
    got = {r["g"]: (r["n"], r["v_sum"]) for r in out.collect()}
    assert got == {"a": (1, 10), "b": (1, 25)}


def test_fact_grain_frames_never_localcheckpoint(spark, monkeypatch):
    """r8 VERDICT item 3 — the persistence grain rule: localCheckpoint
    (executor-local, lineage-severing) is reserved for reductions and
    deliberate fail-stop pins; fact-grain frames go through
    persistence.persist_fact (DISK_ONLY + eager count, lineage kept so
    executor loss recomputes instead of killing the job). Pinned by
    instrumenting DataFrame.localCheckpoint during prefix_jaccard_join:
    exactly ONE call is allowed — the set-grain ``sets`` reduction —
    while the doc-grain ``members`` goes through persist_fact (also
    counted: exactly one persist_fact call)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from z316_sales_data_pipeline_spark import persistence
    from z316_sales_data_pipeline_spark.operators import dedup

    lc_calls, pf_calls = [], []
    real_lc = CDF.localCheckpoint
    real_pf = persistence.persist_fact
    monkeypatch.setattr(
        CDF, "localCheckpoint",
        lambda self, eager=True: (lc_calls.append(1), real_lc(self, eager))[1],
    )
    monkeypatch.setattr(
        dedup, "persist_fact", lambda df: (pf_calls.append(1), real_pf(df))[1]
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps"),
         (3, "a totally different text here"), (4, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    out = dedup.prefix_jaccard_join(docs, "text", "doc_id", threshold=0.5)
    rows = out.collect()
    assert len(lc_calls) == 1, "only the set-grain reduction may localCheckpoint"
    assert len(pf_calls) == 1, "the doc-grain members must persist_fact"
    assert any(r["jaccard"] == 1.0 for r in rows)  # the identical pair 1-4


def test_versioned_table_format_lives_only_in_sinks():
    """Source guard: the versioned-table protocol (the ``_LATEST``
    pointer, ``v=N`` version dirs, atomic ``os.replace``) is read and
    written only by ``sinks.py``; every other package module goes
    through its helpers, so the on-disk format cannot be re-implemented
    elsewhere. Scans code, not docstrings or comments: any string
    literal naming ``_LATEST`` or a ``v=``/``v=N`` path piece
    (including f-string pieces such as ``/v=``), and any ``os.replace``
    call."""
    import ast
    import pathlib
    import re

    import z316_sales_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "sinks.py" and path.parent == root:
            continue
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.value)
            for node in ast.walk(tree)
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
        }
        for node in ast.walk(tree):
            where = f"{path.relative_to(root)}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and ("_LATEST" in node.value or re.search(r"(?:^|/)v=\d*$", node.value))
            ):
                offenders.append(f"{where} literal {node.value!r}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "replace"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "os"
            ):
                offenders.append(f"{where} os.replace call")
    assert not offenders, "versioned-table format outside sinks.py:\n" + "\n".join(offenders)


def test_streaming_epoch_protocol_has_one_home():
    """Source guard: in ``streaming/pipeline.py`` the two epoch
    protocols (module docstring, mechanisms 1 and 2) and the
    token-budget fold each have one home, so per-sink copies cannot
    quietly come back. ``_read_commit`` and ``_write_commit`` are each
    called from exactly one function (qualified by its enclosing
    functions), exactly one ``raise`` carries the ``late/reordered``
    refusal (docstrings do not count), and ``_token_budget_fold_cum``
    has one call site. Every replay decision, ``int(epoch_id)``
    ordered against a marker (``int(epoch_id) <= …``), sits in
    ``_monotone_gate`` or ``_state_fold``, and every ``sinks.write_snapshot(...,
    meta=...)`` sits in ``_state_fold``, except the retrain model's
    write, whose ``_IVF_MODEL_EPOCH`` rides inside the monotone
    gate."""
    import ast
    import pathlib

    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    tree = ast.parse(pathlib.Path(P.__file__).read_text())
    callers: dict[str, set[str]] = {"_read_commit": set(), "_write_commit": set()}
    fold_cum_calls = []
    refusals = []
    replay_checks: set[str] = set()
    meta_writes: set[str] = set()

    def is_int_epoch(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "int"
            and [getattr(a, "id", None) for a in node.args] == ["epoch_id"]
        )

    def scan(node, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = where
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{where}.{child.name}" if where else child.name
            if isinstance(child, ast.Call):
                func = child.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                if name in callers:
                    callers[name].add(where)
                if name == "_token_budget_fold_cum":
                    fold_cum_calls.append(f"{where}:{child.lineno}")
                if (
                    name == "write_snapshot"
                    and getattr(func, "value", None) is not None
                    and getattr(func.value, "id", None) == "sinks"
                    and any(kw.arg == "meta" for kw in child.keywords)
                ):
                    meta_writes.add(where)
            if (
                isinstance(child, ast.Compare)
                and any(isinstance(op, (ast.Lt, ast.LtE, ast.Gt, ast.GtE)) for op in child.ops)
                and is_int_epoch(child.left)
            ):
                replay_checks.add(where.split(".")[0])
            if isinstance(child, ast.Raise) and any(
                isinstance(c, ast.Constant)
                and isinstance(c.value, str)
                and "late/reordered" in c.value
                for c in ast.walk(child)
            ):
                refusals.append(f"{where}:{child.lineno}")
            scan(child, inner)

    scan(tree, "")
    assert len(callers["_read_commit"]) == 1, sorted(callers["_read_commit"])
    assert len(callers["_write_commit"]) == 1, sorted(callers["_write_commit"])
    assert len(refusals) == 1, refusals
    assert len(fold_cum_calls) == 1, fold_cum_calls
    assert replay_checks == {"_monotone_gate", "_state_fold"}, sorted(replay_checks)
    assert meta_writes == {"_state_fold", "ivf_retrain_sink._write_model"}, sorted(meta_writes)


def test_ann_audit_kernel_has_one_home():
    """Source guard: in ``operators/similarity.py`` the ANN audit
    pipeline (module docstring) has one home, so per-audit copies
    cannot quietly come back. Counted by enclosing function (qualified
    by its enclosing functions): ``_query_sample_pred`` is called from
    one function, ``Window.partitionBy("query_id")`` appears in one
    function, and so does ``F.array_position``."""
    import ast
    import pathlib

    from z316_sales_data_pipeline_spark.operators import similarity as S

    tree = ast.parse(pathlib.Path(S.__file__).read_text())
    homes: dict[str, set[str]] = {
        "_query_sample_pred call": set(),
        'Window.partitionBy("query_id")': set(),
        "F.array_position": set(),
    }

    def scan(node, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = where
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{where}.{child.name}" if where else child.name
            if isinstance(child, ast.Call):
                func = child.func
                if isinstance(func, ast.Name) and func.id == "_query_sample_pred":
                    homes["_query_sample_pred call"].add(where)
                if (
                    isinstance(func, ast.Attribute)
                    and func.attr == "partitionBy"
                    and isinstance(func.value, ast.Name)
                    and func.value.id == "Window"
                    and any(
                        isinstance(a, ast.Constant) and a.value == "query_id" for a in child.args
                    )
                ):
                    homes['Window.partitionBy("query_id")'].add(where)
            if (
                isinstance(child, ast.Attribute)
                and child.attr == "array_position"
                and isinstance(child.value, ast.Name)
                and child.value.id == "F"
            ):
                homes["F.array_position"].add(where)
            scan(child, inner)

    scan(tree, "")
    spread = {what: sorted(fns) for what, fns in homes.items() if len(fns) != 1}
    assert not spread, spread


def test_minhash_kernel_has_one_home():
    """Source guard: across ``operators/dedup.py`` and
    ``__spark_entry__.py`` each piece of the near-dup kernel has one
    home, so per-caller copies cannot quietly come back. Counted by
    enclosing function (qualified by its enclosing functions): ``_perm``
    is called only in ``_signatures``, a join on
    ``["band_id", "band_hash"]`` appears only in ``_band_pairs``,
    ``"__ninter"`` is counted only in ``_intersections``, and the
    n-gram pair path (``ngram_*`` and ``_set_pairs``) reaches
    ``array_intersect`` only in ``_set_pairs``."""
    import ast
    import pathlib

    from z316_sales_data_pipeline_spark.operators import dedup as D

    homes: dict[str, set[str]] = {
        "_perm call": set(),
        "band join": set(),
        '.alias("__ninter")': set(),
        "n-gram array_intersect": set(),
    }

    def scan(node, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = where
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{where}.{child.name}" if where else child.name
            if isinstance(child, ast.Call):
                func = child.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                args = [a.value for a in child.args if isinstance(a, ast.Constant)]
                if name == "_perm":
                    homes["_perm call"].add(where)
                if name == "join" and any(
                    isinstance(a, ast.List)
                    and [getattr(e, "value", None) for e in a.elts] == ["band_id", "band_hash"]
                    for a in child.args
                ):
                    homes["band join"].add(where)
                if name == "alias" and args == ["__ninter"]:
                    homes['.alias("__ninter")'].add(where)
            if (
                isinstance(child, ast.Attribute)
                and child.attr == "array_intersect"
                and (where.startswith("ngram_") or where == "_set_pairs")
            ):
                homes["n-gram array_intersect"].add(where)
            scan(child, inner)

    for path in (D.__file__, entrymod.__file__):
        scan(ast.parse(pathlib.Path(path).read_text()), "")
    assert homes == {
        "_perm call": {"_signatures"},
        "band join": {"_band_pairs"},
        '.alias("__ninter")': {"_intersections"},
        "n-gram array_intersect": {"_set_pairs"},
    }, homes


def test_dedup_twin_kernels_have_one_home():
    """Source guard: across ``operators/dedup.py``,
    ``operators/similarity.py``, ``streaming/pipeline.py`` and
    ``__spark_entry__.py`` each kernel a batch dedup operator shares
    with its incremental twin has one home. Counted by enclosing
    function, qualified by its module: the rounded cosine
    ``F.round(dot(...) / (...), ...)`` is built only in
    ``similarity._cos_pairs``, the pointer-jump alias ``"jlabel"`` only
    in ``dedup._min_labels``, and the span rollup's ``"n_dup_windows"``
    alias only in ``dedup._span_report``."""
    import ast
    import pathlib

    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    homes: dict[str, set[str]] = {
        "rounded dot cosine": set(),
        '.alias("jlabel")': set(),
        '.alias("n_dup_windows")': set(),
    }

    def name_of(call: ast.Call):
        func = call.func
        return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)

    def scan(node, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = where
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{where}.{child.name}"
            if isinstance(child, ast.Call):
                name = name_of(child)
                args = [a.value for a in child.args if isinstance(a, ast.Constant)]
                if (
                    name == "round"
                    and child.args
                    and isinstance(child.args[0], ast.BinOp)
                    and isinstance(child.args[0].op, ast.Div)
                    and isinstance(child.args[0].left, ast.Call)
                    and name_of(child.args[0].left) == "dot"
                ):
                    homes["rounded dot cosine"].add(where)
                if name == "alias" and args == ["jlabel"]:
                    homes['.alias("jlabel")'].add(where)
                if name == "alias" and args == ["n_dup_windows"]:
                    homes['.alias("n_dup_windows")'].add(where)
            scan(child, inner)

    for mod in (D, S, P, entrymod):
        scan(ast.parse(pathlib.Path(mod.__file__).read_text()), mod.__name__.rsplit(".", 1)[-1])
    assert homes == {
        "rounded dot cosine": {"similarity._cos_pairs"},
        '.alias("jlabel")': {"dedup._min_labels"},
        '.alias("n_dup_windows")': {"dedup._span_report"},
    }, homes


def test_ivf_retrain_plan_releases_its_pins(spark, sf_dir):
    """``ivf_retrain_plan`` returns a driver-built row, so it releases
    every frame it pinned once its scalars are collected: a streaming
    caller runs it on every decision epoch, and a leaked corpus-grain
    pin per call would pile up for the life of the stream. Two calls
    on distinct splits (the second forced through the retrain arm)
    add no persistent RDD to the SparkContext. Compared by RDD id, not
    by count: late in a long session the ContextCleaner reclaims
    unrelated persisted RDDs, so the count alone can drop meanwhile."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for cut, recall_thresh_micro in ((300, 900_000), (400, 1_000_001)):
        corpus = emb.filter(F.col("vec_id") < cut)
        batch = emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < cut + 50))
        row = S.ivf_retrain_plan(
            corpus, batch, "embedding", "vec_id", recall_thresh_micro=recall_thresh_micro
        ).first()
        assert row["n_queries"] > 0
    assert row["retrain"] and row["fresh_recall_micro"] is not None
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def _job_ids(spark, fn) -> tuple[set[int], set[int]]:
    """Run ``fn()`` under a fresh job group; return the ids of the jobs
    in that group and the ids of every job the status store gained
    meanwhile, read once the listener bus has drained.

    The store lists jobs newest first and job ids only grow, so the
    jobs it gained are the leading ones above its newest id before the
    call; old jobs the store trims late in a long session
    (``spark.ui.retainedJobs``) cannot blur either set.
    """
    import itertools
    import uuid

    sc = spark.sparkContext
    bus, store = sc._jsc.sc().listenerBus(), sc._jsc.sc().statusStore()

    def newest_first():
        jobs = store.jobsList(None)
        return (jobs.apply(i).jobId() for i in range(jobs.size()))

    bus.waitUntilEmpty()
    last = next(newest_first(), -1)
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    gained = set(itertools.takewhile(lambda job_id: job_id > last, newest_first()))
    return set(sc.statusTracker().getJobIdsForGroup(group)), gained


def _jobs_run(spark, fn) -> int:
    """Spark jobs ``fn()`` submits, counted by job group in the status
    store (:func:`_job_ids`)."""
    return len(_job_ids(spark, fn)[0])


def _doc_slices(spark, sf_dir, n_epochs: int):
    """``n_epochs`` monotone-id slices of the sf documents, about 84
    docs each."""
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return [
        docs.filter((F.col("doc_id") >= 84 * i) & (F.col("doc_id") < 84 * (i + 1)))
        for i in range(n_epochs)
    ]


def _minhash_gate_stream(spark, sf_dir, tmp_path, n_epochs: int):
    """A fresh ``minhash_gate_sink`` and ``n_epochs`` document slices."""
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    fold = P.minhash_gate_sink(
        str(tmp_path / "st"), str(tmp_path / "acc"), str(tmp_path / "qua"), "text", "doc_id"
    )
    return fold, _doc_slices(spark, sf_dir, n_epochs)


def test_minhash_gate_sink_releases_its_pins(spark, sf_dir, tmp_path):
    """A stream folds epochs for as long as it runs, so a
    ``minhash_gate_sink`` epoch releases every frame it pinned: the
    batch's shingle and band rows, the verified pairs and the labeled
    split. Over four epochs no persistent RDD created during an epoch
    survives it (compared by RDD id, as in
    ``test_ivf_retrain_plan_releases_its_pins``)."""
    fold, slices = _minhash_gate_stream(spark, sf_dir, tmp_path, 4)
    jsc = spark.sparkContext._jsc
    for epoch, sl in enumerate(slices):
        before = set(jsc.getPersistentRDDs().keys())
        fold(sl, epoch)
        assert set(jsc.getPersistentRDDs().keys()) - before == set(), epoch


def test_minhash_gate_epoch_job_budget(spark, sf_dir, tmp_path):
    """A steady ``minhash_gate_sink`` epoch (prior segments at rest) runs
    at most 28 Spark jobs. The pair kernel pins only what it builds, so
    the batch's localCheckpointed shingle and band rows are not cached a
    second time (40 jobs per epoch before)."""
    fold, (sl0, sl1) = _minhash_gate_stream(spark, sf_dir, tmp_path, 2)
    fold(sl0, 0)
    assert _jobs_run(spark, lambda: fold(sl1, 1)) <= 28


def _semantic_gate_stream(spark, sf_dir, tmp_path, n_epochs: int):
    """A fresh ``semantic_gate_sink`` over a frozen cluster model (one
    label-seeded k-means step on the vectors with ``vec_id % 5 != 0``)
    and ``n_epochs`` monotone-id slices of the sf embeddings."""
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    corpus_arm = emb.filter(F.col("vec_id") % 5 != 0)
    assign = S.kmeans_assign(corpus_arm, "embedding", "vec_id", "label", n_iters=1)
    cents = S.centroid_table(assign, corpus_arm, "embedding", "vec_id")
    fold = P.semantic_gate_sink(
        str(tmp_path / "st"), str(tmp_path / "acc"), str(tmp_path / "qua"),
        "embedding", "vec_id", cents,
    )
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    step = -(-n // n_epochs)
    return fold, [
        emb.filter((F.col("vec_id") >= step * i) & (F.col("vec_id") < step * (i + 1)))
        for i in range(n_epochs)
    ]


def test_semantic_gate_sink_releases_its_pins(spark, sf_dir, tmp_path):
    """A ``semantic_gate_sink`` epoch releases every frame it pinned:
    the batch's normed assignment rows (both prune arms and the
    segment append read them) and the labeled split. Over four epochs
    no persistent RDD created during an epoch survives it (one per
    epoch did before)."""
    fold, slices = _semantic_gate_stream(spark, sf_dir, tmp_path, 4)
    jsc = spark.sparkContext._jsc
    for epoch, sl in enumerate(slices):
        before = set(jsc.getPersistentRDDs().keys())
        fold(sl, epoch)
        assert set(jsc.getPersistentRDDs().keys()) - before == set(), epoch


def test_semantic_gate_epoch_job_budget(spark, sf_dir, tmp_path):
    """A steady ``semantic_gate_sink`` epoch (prior assignment segments
    at rest) runs at most 19 Spark jobs: the pair kernel
    (``similarity._cos_pairs``) adds none."""
    fold, (sl0, sl1) = _semantic_gate_stream(spark, sf_dir, tmp_path, 2)
    fold(sl0, 0)
    assert _jobs_run(spark, lambda: fold(sl1, 1)) <= 19


def test_suffix_span_sink_releases_its_pins(spark, sf_dir, tmp_path):
    """A ``suffix_span_sink`` epoch releases every frame it pinned: the
    batch's localCheckpointed window rows and the kernel's candidate
    windows (``dedup._suffix_spans_pinned``), once the spans are
    appended. Over three epochs no persistent RDD created during an
    epoch survives it (2 per epoch did before), and the last, steady
    epoch runs at most 31 Spark jobs."""
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    fold = P.suffix_span_sink(str(tmp_path / "st"), str(tmp_path / "spans"), "text", "doc_id")
    jsc = spark.sparkContext._jsc
    jobs = {}
    for epoch, sl in enumerate(_doc_slices(spark, sf_dir, 3)):
        before = set(jsc.getPersistentRDDs().keys())
        jobs[epoch] = _jobs_run(spark, lambda: fold(sl, epoch))
        assert set(jsc.getPersistentRDDs().keys()) - before == set(), epoch
    assert jobs[2] <= 31, jobs


def _state_sink_stream(spark, tmp_path, sink: str):
    """A fresh full-image state sink and its two tiny epochs: the first
    bootstraps the state (and MV), the second folds onto them. The
    batches are parquet scans, as a stream's micro-batches are, so
    ``isEmpty`` runs a Spark job (a local relation answers it on the
    driver)."""
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    st, mv = str(tmp_path / "state"), str(tmp_path / "mv")
    scd2 = dict(key="k", attr="g", ts="ts", tiebreak="tb")
    scd2_rows = (
        "k long, g string, ts string, tb long",
        [(1, "a", "2024-01-01 00:00:00", 1), (2, "a", "2024-01-01 00:00:00", 2)],
        [(2, "b", "2024-01-02 00:00:00", 3), (3, "c", "2024-01-02 00:00:00", 4)],
    )
    make, (schema, *epochs) = {
        "scd2_history_sink": (lambda: P.scd2_history_sink(st, **scd2), scd2_rows),
        "scd2_agg_mv_sink": (lambda: P.scd2_agg_mv_sink(st, mv, **scd2), scd2_rows),
        "growth_accounting_sink": (
            lambda: P.growth_accounting_sink(st, mv, "user_id", "ts"),
            (
                "user_id long, ts string",
                [(1, "2024-01-01 08:00:00"), (2, "2024-01-01 09:00:00")],
                [(1, "2024-01-02 08:00:00")],
            ),
        ),
        "ab_readout_sink": (
            lambda: P.ab_readout_sink(st, mv, "uid", "x", "y"),
            ("uid long, x long, y long", [(1, 10, 20), (2, 5, 9), (3, 7, 7)], [(4, 3, 30), (1, 12, 26)]),
        ),
        "quantile_sketch_sink": (
            lambda: P.quantile_sketch_sink(st, mv, "v", "p", 0.0, 200.0, 16, (0.5, 0.9)),
            ("v double, p string", [(1.0, "a"), (120.0, "b")], [(3.0, "a"), (60.0, "a")]),
        ),
        "token_budget_sink": (
            lambda: P.token_budget_sink(st, "text", "doc_id", "source", 6),
            (
                "doc_id long, source string, text string",
                [(1, "s", "w1 w2 w3"), (2, "s", "w4 w5")],
                [(3, "s", "w6 w7 w8 w9")],
            ),
        ),
    }[sink]
    batches = []
    for i, rows in enumerate(epochs):
        df = spark.createDataFrame(rows, schema)
        if "ts" in df.columns:
            df = df.withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(str(tmp_path / f"batch{i}"))
        batches.append(spark.read.parquet(str(tmp_path / f"batch{i}")))
    return make(), batches


@pytest.mark.parametrize(
    "sink, steady, replay",
    [
        ("scd2_history_sink", 8, 1),
        ("scd2_agg_mv_sink", 20, 1),
        ("growth_accounting_sink", 17, 1),
        ("ab_readout_sink", 13, 1),
        ("quantile_sketch_sink", 13, 1),
        ("token_budget_sink", 22, 1),
    ],
)
def test_state_sink_epoch_job_budget(spark, tmp_path, sink, steady, replay):
    """Per-epoch job budget of each full-image state sink
    (``_state_fold``): a steady epoch (state at rest) and its replay
    run at most these many Spark jobs. A replay runs only the
    empty-batch check: the two sinks whose MV is derived from their
    state skip the MV rewrite when the MV's ``_STATE_VERSION`` meta
    names the committed state version (7 and 8 jobs before, and a new
    MV version with the same rows). ``scd2_agg_mv_sink`` no longer
    checks the batch for emptiness a second time in its history fold
    (21 jobs before), and
    a replayed ``growth_accounting_sink`` epoch no longer pins and
    collects its batch before it reads the marker (6 before). Budgets,
    not exact counts: the token-budget steady epoch has read both 21
    and 22 on one input."""
    fold, (b0, b1) = _state_sink_stream(spark, tmp_path, sink)
    fold(b0, 0)
    got = (_jobs_run(spark, lambda: fold(b1, 1)), _jobs_run(spark, lambda: fold(b1, 1)))
    assert got[0] <= steady and got[1] <= replay, (got, (steady, replay))


@pytest.mark.parametrize("sink", ["ab_readout_sink", "quantile_sketch_sink"])
def test_state_sink_replay_heals_a_stale_mv(spark, tmp_path, monkeypatch, sink):
    """A crash between the state commit and the MV write (the MV's
    ``write_snapshot`` raises once) leaves the MV derived from the
    previous state version. The epoch's replay merges nothing but
    rewrites the MV from the committed state, recording that state
    version as the MV's ``_STATE_VERSION`` meta; a second replay writes
    nothing. The healed MV has the rows of a run that never crashed."""
    from z316_sales_data_pipeline_spark import sinks

    clean_dir = tmp_path / "clean"
    clean_dir.mkdir()
    clean, (c0, c1) = _state_sink_stream(spark, clean_dir, sink)
    clean(c0, 0)
    clean(c1, 1)
    fold, (b0, b1) = _state_sink_stream(spark, tmp_path, sink)
    st, mv = str(tmp_path / "state"), str(tmp_path / "mv")
    fold(b0, 0)

    write = sinks.write_snapshot

    def crash_on_mv(df, table_dir, *args, **kwargs):
        if table_dir == mv:
            monkeypatch.setattr(sinks, "write_snapshot", write)
            raise OSError("crash before the MV write")
        return write(df, table_dir, *args, **kwargs)

    monkeypatch.setattr(sinks, "write_snapshot", crash_on_mv)
    with pytest.raises(OSError, match="crash before the MV write"):
        fold(b1, 1)
    v_state, v_mv = sinks._read_latest(st), sinks._read_latest(mv)
    assert sinks.snapshot_meta(mv, "_STATE_VERSION") == str(v_state - 1)
    fold(b1, 1)
    assert (sinks._read_latest(st), sinks._read_latest(mv)) == (v_state, v_mv + 1)
    assert sinks.snapshot_meta(mv, "_STATE_VERSION") == str(v_state)
    fold(b1, 1)
    assert sinks._read_latest(mv) == v_mv + 1

    def rows(d):
        return sorted(map(tuple, sinks.read_snapshot(spark, str(d)).collect()))

    assert rows(mv) == rows(clean_dir / "mv")


def _write_table(directory, name: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    directory.mkdir(exist_ok=True)
    pq.write_table(pa.table(columns), str(directory / f"{name}.parquet"))


def test_load_table_infers_schema_once_per_file(spark, tmp_path):
    """A second ``load_table`` of an unchanged file runs no Spark job:
    the schema inferred by the first load is reused (1 job at the
    parent, which re-inferred on every load)."""
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    _write_table(tmp_path, "t", {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    first = load_table(spark, str(tmp_path), "t")
    second = []
    assert _jobs_run(spark, lambda: second.append(load_table(spark, str(tmp_path), "t"))) == 0
    assert second[0].schema == first.schema
    assert sorted(second[0].collect()) == sorted(first.collect())


def test_load_table_reinfers_rewritten_file(spark, tmp_path):
    """A file rewritten at the same path with a different schema is
    re-inferred: the new column is visible and readable."""
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    _write_table(tmp_path, "t", {"a": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write_table(tmp_path, "t", {"a": [1, 2, 3], "c": [10.0, 20.0, 30.0]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c"]
    assert sorted((r["a"], r["c"]) for r in df.collect()) == [(1, 10.0), (2, 20.0), (3, 30.0)]


def test_load_table_missing_table_raises(spark, tmp_path):
    """A missing table takes the plain read and raises as before."""
    import pytest
    from pyspark.errors import AnalysisException

    from z316_sales_data_pipeline_spark.sources.tables import load_table

    for _ in range(2):
        with pytest.raises(AnalysisException):
            load_table(spark, str(tmp_path), "no_such_table")


def test_load_table_events_ts_is_timestamp(spark, sf_dir):
    """The ``events`` branch yields a ``timestamp`` ``ts`` both when it
    infers the schema and when it reuses the memoized one, with the
    same values."""
    import os

    from z316_sales_data_pipeline_spark.sources import tables

    tables._SCHEMAS.pop(os.path.abspath(f"{sf_dir}/events.parquet"), None)
    inferred = tables.load_table(spark, sf_dir, "events")
    reused = tables.load_table(spark, sf_dir, "events")
    for df in (inferred, reused):
        assert dict(df.dtypes)["ts"] == "timestamp"
    head = lambda df: df.orderBy("event_id").select("event_id", "ts").limit(20).collect()
    assert head(reused) == head(inferred)


def test_run_sales_pipeline_counts_match_written_tables(spark, sf_dir, tmp_path):
    """The counts observed on the write jobs equal the rows on disk."""
    from z316_sales_data_pipeline_spark.plans import pipeline

    out = str(tmp_path / "lake")
    counts = pipeline.run_sales_pipeline(spark, sf_dir, out)
    assert counts == {
        "pedidos": spark.read.parquet(f"{out}/pedidos").count(),
        "itens_pedido": spark.read.parquet(f"{out}/itens_pedido").count(),
    }
    assert counts["pedidos"] > 0 and counts["itens_pedido"] > 0


def test_run_sales_pipeline_job_budget(spark, sf_dir, tmp_path):
    """Job-budget guard: a second ``run_sales_pipeline`` in a session
    runs at most 8 Spark jobs on ``sf_dir`` (measured: 8). Before the
    source schema memo and the write-job row-count observations it ran
    25: one parquet schema-inference job for each of its 7 source-table
    loads, and 8 for re-listing and re-counting the two tables it had
    just written. With one enrichment and one orders frame per rebuild
    (no separate order-day join) it dropped from 10 to 8. A change that
    brings any of these back fails here."""
    from z316_sales_data_pipeline_spark.plans import pipeline

    pipeline.run_sales_pipeline(spark, sf_dir, str(tmp_path / "warm"))
    n = _jobs_run(spark, lambda: pipeline.run_sales_pipeline(spark, sf_dir, str(tmp_path / "lake")))
    assert n <= 8, f"run_sales_pipeline ran {n} Spark jobs, budget 8"


def test_run_sales_pipeline_jobs_stay_in_the_callers_group(spark, sf_dir, tmp_path):
    """Every job of a steady rebuild runs in the caller's job group, the
    ``itens_pedido`` write's jobs on the worker thread too: the group
    holds all 8 jobs the status store gained during the call. A plain
    ``threading.Thread`` starts without the caller's local properties,
    so its 4 jobs would leave the group and
    ``test_run_sales_pipeline_job_budget`` would count only the other 4."""
    from z316_sales_data_pipeline_spark.plans import pipeline

    pipeline.run_sales_pipeline(spark, sf_dir, str(tmp_path / "warm"))
    in_group, gained = _job_ids(
        spark, lambda: pipeline.run_sales_pipeline(spark, sf_dir, str(tmp_path / "lake"))
    )
    assert in_group == gained and len(gained) == 8, (sorted(in_group), sorted(gained))


@pytest.mark.parametrize("failing", ["_pedidos", "_itens"])
def test_run_sales_pipeline_raises_a_failed_fact_write(spark, sf_dir, tmp_path, monkeypatch, failing):
    """A fact that fails to build raises out of ``run_sales_pipeline``,
    whether it is built on the calling thread (``_pedidos``) or on the
    worker (``_itens``), and only once the other write, slowed down here,
    has finished: no thread outlives the call.

    One failure-path difference from writing the tables one after the
    other: the sibling table may now be overwritten when the other
    write fails. Neither write was atomic before either."""
    import os
    import threading
    import time

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.plans import pipeline, sales_facts

    class FactFailed(RuntimeError):
        pass

    def fail(items, orders):
        raise FactFailed(failing)

    def slow_write(df, path, *args, _write=sinks.write_partitioned, **kwargs):
        time.sleep(1.0)
        _write(df, path, *args, **kwargs)

    monkeypatch.setattr(sales_facts, failing, fail)
    monkeypatch.setattr(sinks, "write_partitioned", slow_write)
    threads = threading.active_count()
    out = tmp_path / "lake"
    with pytest.raises(FactFailed, match=failing):
        pipeline.run_sales_pipeline(spark, sf_dir, str(out))
    assert threading.active_count() == threads
    sibling = "itens_pedido" if failing == "_pedidos" else "pedidos"
    assert os.listdir(out) == [sibling] and (out / sibling / "_SUCCESS").exists()


def test_package_starts_threads_only_as_inheritable_threads():
    """Source guard: no module of the package names ``threading.Thread``
    (called, subclassed or passed) or a ``Thread`` imported from
    ``threading``. A driver thread that runs Spark jobs is a
    ``pyspark.InheritableThread``, which copies the caller's local
    properties, so a fan-out cannot drop jobs out of the caller's job
    group (and out of every job count taken by group)."""
    import ast
    import pathlib

    import z316_sales_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        modules = {"threading"} | {
            a.asname for n in ast.walk(tree) if isinstance(n, ast.Import)
            for a in n.names if a.name == "threading" and a.asname
        }
        names = {
            a.asname or a.name for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) and n.module == "threading"
            for a in n.names if a.name == "Thread"
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "Thread"
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
            ) or (isinstance(node, ast.Name) and node.id in names):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_run_sales_pipeline_loads_each_source_once(spark, sf_dir, tmp_path, monkeypatch):
    """One rebuild loads ``orders``, ``lineitem`` and ``part`` once each:
    both facts share one enrichment and one orders frame."""
    from collections import Counter

    from z316_sales_data_pipeline_spark.plans import pipeline, sales_facts

    loads = Counter()
    for mod in (pipeline, sales_facts):
        if hasattr(mod, "load_table"):
            real = mod.load_table

            def counting(spark, sf_dir, name, _real=real):
                loads[name] += 1
                return _real(spark, sf_dir, name)

            monkeypatch.setattr(mod, "load_table", counting)
    pipeline.run_sales_pipeline(spark, sf_dir, str(tmp_path / "lake"))
    assert loads == Counter({"orders": 1, "lineitem": 1, "part": 1}), loads


def test_run_sales_pipeline_writes_the_public_facts(spark, sf_dir, tmp_path):
    """The written tables, lineage columns excluded, are the public facts
    joined to their order day, row multiset for row multiset."""
    from z316_sales_data_pipeline_spark.plans import pipeline, sales_facts
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "lake")
    pipeline.run_sales_pipeline(spark, sf_dir, out)
    order_days = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pedido_id"), F.to_date("o_orderdate").alias("pedido_dia")
    )
    lineage = ("uuid", "source_id", "update_timestamp")
    for table, fact in (("pedidos", sales_facts.pedidos_fact), ("itens_pedido", sales_facts.itens_fact)):
        want = fact(spark, sf_dir).join(order_days, "pedido_id")
        got = spark.read.parquet(f"{out}/{table}").drop(*lineage)
        assert sorted(got.columns) == sorted(want.columns), table
        got = got.withColumn("pedido_dia", F.col("pedido_dia").cast("date")).select(want.columns)
        assert got.dtypes == want.dtypes, table
        assert got.count() == want.count() > 0, table
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), table


def _webhook_epoch(spark, root, produto, doc: dict):
    """One live webhook epoch: a landing file holding ``doc`` drained by
    ``run_multi_sink`` through parse → enrich → exactly-once append.
    Returns the finished query."""
    import json
    import os

    from pyspark.sql import types as T

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import joins
    from z316_sales_data_pipeline_spark.sources import json_ingest
    from z316_sales_data_pipeline_spark.streaming import pipeline

    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "doc.json"), "w") as f:
        f.write(json.dumps(doc) + "\n")

    def write(batch):
        rows = joins.lookup_join(json_ingest.parse_and_explode(batch), produto, "produto_id")
        sinks.append_snapshot(rows, os.path.join(root, "segments"), txn_key="epoch-0")

    schema = T.StructType([T.StructField("value", T.StringType())])
    stream = pipeline.file_stream(spark, landing, schema, fmt="text").withColumnRenamed("value", "payload")
    q = pipeline.run_multi_sink(stream, {"segments": write}, os.path.join(root, "checkpoint"))
    q.awaitTermination(120)
    return q


def _produto(spark, sf_dir):
    from z316_sales_data_pipeline_spark.plans import sales_facts
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    return sales_facts.with_categoria(load_table(spark, sf_dir, "part")).select(
        F.col("p_partkey").alias("produto_id"), "categoria"
    )


def _one_item_doc(produto_id) -> dict:
    return {
        "numero": 1,
        "situacao": "F",
        "itens": [{"linha": 1, "idProduto": produto_id, "valor": 2.5, "quantidade": 2.0}],
    }


def test_live_epoch_job_budget(spark, sf_dir, tmp_path):
    """Job-budget guard: a one-doc live epoch (``run_multi_sink`` →
    ``parse_and_explode`` → ``lookup_join`` → ``append_snapshot``) runs
    at most 2 Spark jobs: the ``part`` broadcast and the segment write
    (measured: 2). Caching the batch for its single sink added a third
    job that built the cache. The stream tags every job of the query,
    foreachBatch included, with its run id as job group."""
    produto = _produto(spark, sf_dir)
    q = _webhook_epoch(spark, str(tmp_path), produto, _one_item_doc(produto.first()["produto_id"]))
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert spark.read.parquet(str(tmp_path / "segments")).count() == 1
    assert n <= 2, f"a one-doc live epoch ran {n} Spark jobs, budget 2"


def test_ansi_errors_keep_their_class_without_origin_capture(spark):
    """The session turns PySpark's per-call DataFrame-origin capture off
    (py4j round trips on every Column call); an ANSI error still raises
    with its error class, only the Python call-site text is gone."""
    import pytest
    from pyspark.errors import ArithmeticException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


# ---------------------------------------------------------------------------
# The in-process file: FileSystem (z316_sales_data_pipeline_spark/jvm)
# ---------------------------------------------------------------------------
_IN_PROCESS = ("z316.fs.LocalFs", "z316.fs.LocalFs$Checksummed")


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def _stock_local_fs_classes(spark) -> tuple[str, str]:
    """The ``file:`` FileSystem and AbstractFileSystem classes a session
    gets without ``session.py``'s conf: Hadoop's defaults, resolved in a
    fresh ``Configuration`` (the service-loaded ``file`` scheme, which
    may be a ``LocalFileSystem`` subclass from another jar)."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    fs_cls = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", conf).getName()
    return fs_cls, conf.get("fs.AbstractFileSystem.file.impl")


def _local_fs_classes(spark) -> tuple[str, str]:
    """The session's ``file:`` FileSystem and AbstractFileSystem classes."""
    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    return fs.getClass().getName(), fc.getDefaultFileSystem().getClass().getName()


def test_session_local_fs_is_in_process(spark):
    """The session's ``file:`` FileSystem and its FileContext twin are
    the in-process classes of ``jvm/localfs.jar``."""
    assert _local_fs_classes(spark) == _IN_PROCESS


def _write_fs_scenario(spark, root: str, produto, produto_id) -> None:
    """A partitioned write, an ``append_snapshot`` and a streaming epoch
    (offset, commit and source logs under its checkpoint)."""
    import os

    from z316_sales_data_pipeline_spark import sinks

    spark.range(0, 40, 1, 4).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(
        os.path.join(root, "partitioned")
    )
    sinks.append_snapshot(spark.range(0, 5, 1, 1), os.path.join(root, "appended"), txn_key="t0")
    _webhook_epoch(spark, os.path.join(root, "stream"), produto, _one_item_doc(produto_id))


def _tree(root: str) -> list[tuple[str, str]]:
    """(relative path with UUIDs masked, octal mode) of every file and
    directory under ``root``, sorted."""
    import os
    import re

    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    out = []
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            out.append((uuid.sub("<uuid>", os.path.relpath(p, root)), oct(os.lstat(p).st_mode)))
    return sorted(out)


def test_local_fs_writes_what_stock_fs_writes(spark, sf_dir, tmp_path):
    """The same writes through Hadoop's stock local FileSystem (switched
    in for this test through the session's Hadoop conf, FileSystem cache
    off) and through the in-process one leave the same files and
    directories, ``.crc`` checksums included, with the same modes."""
    stock = _stock_local_fs_classes(spark)
    produto = _produto(spark, sf_dir)
    produto_id = produto.first()["produto_id"]
    keys = {
        "fs.file.impl": stock[0],
        "fs.file.impl.disable.cache": "true",
        "fs.AbstractFileSystem.file.impl": stock[1],
    }
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        assert _local_fs_classes(spark) == stock
        _write_fs_scenario(spark, str(tmp_path / "stock"), produto, produto_id)
    finally:
        for k in keys:
            spark.conf.unset(k)
    assert _local_fs_classes(spark) == _IN_PROCESS
    _write_fs_scenario(spark, str(tmp_path / "inproc"), produto, produto_id)

    want = _tree(str(tmp_path / "stock"))
    assert any(p.endswith(".crc") for p, _ in want)
    assert any(p.startswith("stream/checkpoint/offsets/") for p, _ in want)
    assert _tree(str(tmp_path / "inproc")) == want


def test_local_fs_checksum_still_catches_corruption(spark, tmp_path):
    """A flipped data byte under an intact ``.crc`` raises
    ``ChecksumException`` on read, through the FileSystem and the
    FileContext API alike, with and without a buffer size. Spark's
    checkpoint manager reads offset, commit and source log entries with
    FileContext's one-argument ``open``, which in stock Hadoop skips the
    check (``FilterFs.open(Path)`` bypasses ``ChecksumFs``)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    path = tmp_path / "data.bin"
    hpath = jvm.org.apache.hadoop.fs.Path(f"file://{path}")
    fs = hpath.getFileSystem(conf)
    out = fs.create(hpath)
    out.write(bytearray(b"z316" * 64))
    out.close()
    assert (tmp_path / ".data.bin.crc").exists()
    raw = bytearray(path.read_bytes())
    raw[10] ^= 0xFF
    path.write_bytes(bytes(raw))
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hpath.toUri(), conf)
    for opener in (fs.open, fc.open):
        for args in ((hpath, 4096), (hpath,)):
            with pytest.raises(Py4JJavaError) as err:
                opener(*args).read()
            assert err.value.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException"


def _raw_local_fs(spark, in_process: bool):
    jvm = spark._jvm
    fs = jvm.z316.fs.LocalFs() if in_process else jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(jvm.java.net.URI("file:///"), _hadoop_conf(spark))
    return fs.getRawFileSystem()


def test_local_fs_set_permission_matches_chmod(spark, tmp_path):
    """``setPermission`` sets what stock ``chmod`` sets: 0640 on a file,
    01750 (sticky) on a directory, and a directory keeps its set-group-ID
    bit as under ``chmod 0750``."""
    import os

    jvm = spark._jvm
    cases = [("f", False, "640", 0o640), ("d", True, "1750", 0o1750), ("g", True, "750", 0o2750)]
    for tag in ("stock", "inproc"):
        fs = _raw_local_fs(spark, tag == "inproc")
        for name, is_dir, perm, want in cases:
            p = tmp_path / f"{tag}-{name}"
            if is_dir:
                p.mkdir()
                if name == "g":
                    os.chmod(p, 0o2755)
            else:
                p.write_text("x")
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), jvm.org.apache.hadoop.fs.permission.FsPermission(perm))
            assert os.stat(p).st_mode & 0o7777 == want, (tag, name)


def test_local_fs_link_status_matches_stock(spark, tmp_path):
    """``getFileLinkStatus`` on a file, a directory, a symlink and a
    dangling symlink equals stock ``RawLocalFileSystem``'s, by plain and
    by ``file:``-qualified path (the stock one never sees a link
    through a qualified path)."""
    import os

    from py4j.protocol import Py4JJavaError

    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink("missing", tmp_path / "dangling")
    jvm = spark._jvm
    stock, inproc = _raw_local_fs(spark, False), _raw_local_fs(spark, True)

    def status(fs, p):
        try:
            st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(p))
        except Py4JJavaError as e:
            return e.java_exception.getClass().getName()
        return st.toString(), st.isSymlink()

    for name in ("file", "dir", "link", "dangling"):
        for p in (str(tmp_path / name), f"file://{tmp_path / name}"):
            assert status(inproc, p) == status(stock, p), p
    assert status(stock, str(tmp_path / "link"))[1] and status(stock, str(tmp_path / "dangling"))[1]


def test_local_fs_jar_matches_source(tmp_path):
    """Drift guard: ``jvm/localfs.jar`` is the build of ``jvm/LocalFs.java``
    with the command in that file's header; every class file compiles
    to the bytes of its jar entry."""
    import shutil
    import subprocess
    import zipfile
    from pathlib import Path

    import pyspark
    import pytest

    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    jvm_dir = Path(entrymod.__file__).parent / "z316_sales_data_pipeline_spark" / "jvm"
    api = Path(pyspark.__file__).parent / "jars" / "hadoop-client-api-3.4.2.jar"
    src = jvm_dir / "LocalFs.java"
    assert "javac --release 17 -cp <pyspark>/jars/hadoop-client-api-3.4.2.jar" in src.read_text()
    subprocess.run(["javac", "--release", "17", "-cp", str(api), "-d", str(tmp_path), str(src)], check=True)
    built = {str(p.relative_to(tmp_path)): p.read_bytes() for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(jvm_dir / "localfs.jar") as jar:
        shipped = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(built) == sorted(shipped)
    for name, data in built.items():
        assert shipped[name] == data, f"{name} differs from localfs.jar: rebuild it (see LocalFs.java)"
