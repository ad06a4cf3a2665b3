"""Regenerate docs/PLANS.md: formatted physical plans for the headline
queries, with the scale-relevant properties to check for each.

Usage: python tools/explain_plans.py

The plans are evidence that the declarative DAGs compile to the
physical shapes the 100 TB design calls for: column-pruned scans with
pushed filters, broadcast dimension joins, partial aggregation before
every exchange, TakeOrderedAndProject for top-k, no Python in the hot
path except where Arrow-batched by design.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from z316_sales_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# query -> what the plan must show (the reviewer's checklist)
CHECKLIST = {
    "pedidos_fact": (
        "Flagship order-grain fact. Expect: parquet scans pruned to the "
        "referenced columns with PushedFilters; part and orders sides "
        "broadcast (BroadcastHashJoin); ONE shuffle exchange, at the "
        "order-grain HashAggregate, with partial_sum map-side."
    ),
    "itens_fact": (
        "Line-grain fact with proportional discount allocation. Expect: "
        "broadcast dimension join; a single Window exchange on pedido_id "
        "shared by the allocation sums."
    ),
    "q1_pricing_summary": (
        "TPC-H Q1 shape. Expect: scan of exactly 7 lineitem columns, "
        "shipdate filter pushed, partial+final HashAggregate around one "
        "exchange, WholeStageCodegen spans covering scan→agg."
    ),
    "d1_item_product_lookup": (
        "Dimension lookup join. Expect: BroadcastHashJoin (never "
        "SortMergeJoin) with the part side broadcast; no exchange on the "
        "probe side."
    ),
    "minhash_near_dup": (
        "MinHash-LSH near-dup. Expect: codegen HashAggregate for the "
        "signature minima (no ObjectHashAggregate), band self-join on "
        "key columns only, exact-verify joins carrying (id, hash) pairs "
        "— payload text never shuffles. The static pair-verify joins "
        "show as SortMergeJoin (cardinality unknown pre-AQE): at this "
        "SF AQE converts them to broadcast at runtime; at lake scale, "
        "where candidate pairs are large, SMJ on id is the right plan."
    ),
    "knn_brute_force": (
        "Exact ANN baseline. Expect: TakeOrderedAndProject (per-partition "
        "heap + driver merge), NOT a global Sort + Limit."
    ),
    "ivf_top_k": (
        "IVF ANN, served from the cell-partitioned at-rest layout "
        "(r4). Expect: PartitionFilters with the probe cells on the "
        "scan — the files of 12/16 cells are never read — then "
        "TakeOrderedAndProject. 1.49 s -> 0.50 s at sf0.1."
    ),
    "ivf_pq_top_k": (
        "IVF-PQ serving (r5 second wave). Expect: PartitionFilters "
        "with the probe cells on the at-rest IVF scan; the codes-table "
        "scan reads only (vec_id, sub, code); BroadcastHashJoin with "
        "the 64-row ADC LUT; partial_sum before the exchange; "
        "TakeOrderedAndProject for the top-k — no raw vector column "
        "anywhere past the scans."
    ),
    "hypertable_rollup": (
        "Continuous-aggregate serve (r5 second wave). Expect: ONE "
        "partitioned parquet scan of the maintained partials (basePath "
        "read over v=N segments), then a single hash aggregate with "
        "partial_sum map-side — no scan of the raw events table in "
        "the plan at all."
    ),
    "hypertable_quantiles": (
        "Quantile continuous aggregate (r5 second wave). Expect: one "
        "partitioned scan of the maintained histogram partials, a "
        "PARTITIONED-by-bucket_day window for the cumulative walk "
        "(never an empty partition spec), final per-day hash agg."
    ),
    "label_propagation": (
        "3-iteration LPA over the at-rest pair graph (r5 second "
        "wave). Expect: Scan ExistingRDD roots (checkpointed label "
        "state per iteration), count hash agg + a SECOND hash agg for "
        "the argmax (max(struct(c, -lbl)) — no Window, no Sort: the "
        "row_number form cost a sort exchange per iteration, measured "
        "70.0 -> 25.8 s warm at 30x), node-grain left join — no "
        "CartesianProduct."
    ),
    "skew_profile": (
        "Key-skew profiler (r5 second wave). Expect: ONE hash "
        "aggregate on l_orderkey with partial_count map-side, a "
        "broadcast of the one-row totals, TakeOrderedAndProject for "
        "the top-20 — never a sort of the key space."
    ),
    "tumbling_counts": (
        "Windowed aggregate. Expect: window expansion projected before "
        "partial aggregation; one exchange on (window, event_type)."
    ),
    "asof_join": (
        "As-of temporal join. Expect: ONE exchange on user_id feeding a "
        "single Window (running last-carry) — no range join, no "
        "nested-loop, no per-row probe."
    ),
    "range_join_clicks": (
        "Interval join. Expect: hash equi-join on (user_id, __bucket) "
        "with the range predicate as a residual filter — never "
        "BroadcastNestedLoopJoin or CartesianProduct."
    ),
    "lead_lag_gaps": (
        "lead/lag sequence. Expect: one exchange on user_id, one Window "
        "with both lag frames fused."
    ),
    "q7_volume_shipping": (
        "Bilateral trade volume. Expect: all four dimension joins "
        "BroadcastHashJoin; the nation-pair OR-predicate decomposed and "
        "pushed into BOTH nation scans as a per-side disjunction; one "
        "exchange at the (nation, nation, year) aggregate."
    ),
    "q17_small_qty_revenue": (
        "Decorrelated correlated subquery. Expect: brand filter pushed "
        "into the part scan on both branches; the per-part avg aggregate "
        "broadcast back (BroadcastHashJoin with the quantity cutoff as "
        "residual condition); scalar final aggregate."
    ),
    "q22_idle_customers": (
        "NOT-EXISTS country rollup. Expect: LeftAnti BroadcastHashJoin "
        "with the o_totalprice filter pushed into the orders scan; the "
        "scalar avg enters as a 1-row IdentityBroadcast cross join "
        "(constant size at any scale)."
    ),
    "kmeans_refine": (
        "Iterative Lloyd refinement. Expect: the exploded (vid, pos, x) "
        "relation enters as a Scan ExistingRDD (eager localCheckpoint — "
        "constant plan depth per iteration); per-iteration BroadcastHash "
        "join of k·dim centroid cells; codegen HashAggregates with "
        "partial_avg/partial_sum/partial_min map-side."
    ),
    "funnel_conversion": (
        "Event funnel. Expect: event_type filters pushed into both "
        "events scans; the purchase-after-view bound is a residual "
        "condition on the user_id equi-join (no range/nested-loop "
        "join); one exchange on user_id reused by the aggregate."
    ),
    "retention_daily": (
        "DAU retention. Expect: distinct (user, day) aggregate before "
        "the self-join (pre-reduction), equi-join on user_id with the "
        "day+1 match as join-key arithmetic, counts partial-aggregated."
    ),
    "contamination_check": (
        "Train/eval shingle audit. Expect: Generate(explode) feeding "
        "codegen HashAggregates (key-only distinct for the train set — "
        "no ObjectHashAggregate); left join on the shingle string; at "
        "lake scale the join key is the natural bloom-filter column."
    ),
    "q8_market_share": (
        "6-way market-share star. Expect: every dimension side a "
        "BroadcastHashJoin (customer-nation-region collapses to a "
        "semi-join key filter), conditional-sum aggregate after the "
        "fact is reduced to (year, volume, supp_nation) — no cartesian."
    ),
    "q21_waiting_suppliers": (
        "EXISTS + NOT EXISTS lone-late-supplier. Expect: LeftSemi and "
        "LeftAnti joins on (order, supplier) key pairs — never an "
        "exploding inner join + dedup; distinct pushed before joins."
    ),
    "doc_pagerank": (
        "Integer PageRank, 3 fixed iterations. Expect: per iteration "
        "one shuffle (edges⋈ranks on src) + one hash aggregate on dst; "
        "ranks enter as Scan ExistingRDD (eager localCheckpoint) so "
        "plan depth is constant across iterations; all arithmetic "
        "64-bit integer (bit-exact oracle)."
    ),
    "doc_chunks": (
        "Token-window chunking. Expect: scan → project → Generate "
        "explode — ZERO exchanges; chunk rows stream straight to the "
        "shard writer at scan speed."
    ),
    "tfidf_top_terms": (
        "Per-group TF-IDF keywords. Expect: codegen HashAggregate "
        "partial+final for tf, a second hash agg over the reduced "
        "(group, term) relation for df (never a window sort over the "
        "token relation), broadcast 1-row group count, and a Window "
        "top-k only on the small scored relation."
    ),
    "g1_reconciliation_summary": (
        "Set-algebra reconciliation. Expect: key-only projections before "
        "the anti/semi joins; aggregates reduce to counts before any "
        "result assembly. The FullOuter set-equality joins are "
        "SortMergeJoin by necessity (full-outer cannot broadcast). The "
        "final BroadcastNestedLoopJoin Cross is the 1-row x 1-row "
        "summary assembly — constant-size at any data scale."
    ),
    "dup_clusters": (
        "Connected components over the AT-REST pair graph. Expect: the "
        "pair relation enters as a plain parquet Scan (materialized once "
        "per corpus snapshot by plans/pair_graph.py — no shingle "
        "tokenization anywhere in this plan); pointer-jumping rounds as "
        "Scan ExistingRDD (localCheckpoint) + hash aggregates."
    ),
    "dedup_incremental_exact": (
        "Continuous-ingestion exact dedup. Expect: the corpus fingerprint "
        "side pruned by the explicit bloom BEFORE the equi-join "
        "(BroadcastHashJoin on the bitset word + shift/mask filter below "
        "the exchange); the new-batch side tiny; final per-doc "
        "HashAggregate."
    ),
    "lm_bigram_score": (
        "Corpus bigram-LM scoring. Expect: Generate(explode) feeding "
        "codegen HashAggregates for both count relations (map-side "
        "partial counts — no cached intermediate, measured faster than "
        "persist+derive); the prefix totals and the per-doc probe join "
        "on the bigram key; ALL probability arithmetic 64-bit integer "
        "multiply + DIV (bit-exact oracle)."
    ),
    "semantic_dedup": (
        "SemDeDup cluster-then-prune. Expect: the pairwise cosine "
        "self-join shuffles on the cluster key (Σ|cluster|² bound, "
        "never n²); per-row norms projected once BEFORE the join; the "
        "dropped-id relation reduces to ids (HashAggregate distinct) "
        "before the final keep-flag left join."
    ),
    "minhash_eval": (
        "Banding-recall audit. Expect: ONE persisted shingle relation "
        "(InMemoryTableScan) feeding both the signature index and the "
        "exact-verify joins; candidate self-join on (band_id, "
        "band_hash) keys only; the final summary is 1-row × 1-row "
        "cross joins — constant-size at any sample size."
    ),
    "source_mixture": (
        "Temperature mixture plan. Expect: one codegen HashAggregate "
        "partial+final collapsing the corpus to source grain before "
        "any exchange, then a broadcast 1-row total — output "
        "O(|sources|) at any corpus size."
    ),
    "vocab_coverage": (
        "Vocab coverage curve. Expect: Generate(explode) → codegen "
        "HashAggregate to token grain; top-n via TakeOrderedAndProject "
        "(never a global sort of the vocabulary); the running-sum "
        "Window runs over only the top-n surviving rows."
    ),
    "dup_triangles": (
        "Triangle census. Expect: the at-rest pair relation enters as "
        "a parquet scan (materialized by plans/pair_graph.py) behind "
        "one checkpoint; two equi-joins on id pairs only (no "
        "cartesian); degree and wedge counts as codegen hash "
        "aggregates; final 1-row × 1-row assembly."
    ),
    "span_dedup": (
        "Span-level dedup. Expect: one Generate(explode) of the "
        "window transform with the rolling hash applied in the SAME "
        "narrow stage (window text never shuffles); the occurrence "
        "relation as Scan ExistingRDD feeding both the distinct-doc "
        "count and the per-doc rollup; hash join on the window hash."
    ),
    "heavy_hitters_cms": (
        "Count-min audit. Expect: the sketch build is explode → "
        "codegen HashAggregate to (part, row, bucket) grain — counter "
        "relation O(d·w), not O(keys); the probe joins the merged "
        "sketch and min-aggregates per key; the top-k exact side is "
        "TakeOrderedAndProject behind a checkpoint."
    ),
    "dup_clusters": (
        "Maintained cluster assignment (r4). Expect: a bare parquet "
        "scan of the _LATEST cluster-labels snapshot — NO Jaccard "
        "join, NO iterative CC in the plan; all of that ran once at "
        "materialization time and is amortized across every consumer."
    ),
    "repair_run": (
        "Checker repair loop as one plan. Expect: the fingerprint "
        "relation as Scan ExistingRDD (checkpointed — text hashed "
        "once) feeding the keep-rule Window, the left_anti delete and "
        "BOTH count aggregates; the final report join is a tiny "
        "per-source relation."
    ),
    "simhash_incremental": (
        "Banded SimHash probe (r4). Expect: the corpus side is a "
        "parquet scan of the at-rest signature table (corpus text "
        "never re-hashed); candidate equi-join on (band, value) key "
        "columns; popcount filter only after the join — no quadratic "
        "term anywhere."
    ),
    "span_dedup_incremental": (
        "Span-level probe (r4). Expect: corpus side = parquet scan of "
        "the distinct window-hash index; only the new batch runs the "
        "window Generate + rolling hash; hash join on __h then one "
        "codegen aggregate to doc grain."
    ),
    "ann_recall_eval": (
        "ANN approximation audit (r4). Expect: ONE Scan ExistingRDD of "
        "the checkpointed (vid, v, cell) relation feeding both arms; "
        "the brute arm is BroadcastNestedLoopJoin with the tiny query "
        "batch broadcast; per-query top-k via Window over candidate "
        "rows only."
    ),
    "quality_prune": (
        "Quality pruning (r4). Expect: a single documents scan with "
        "the quality expression fused in the scan stage, one Window "
        "exchange on source for the ntile — no join, no second scan."
    ),
    "pareto_abc": (
        "ABC classification via two-phase prefix sum (r5). Expect: "
        "RangePartitioning exchange on (__rs desc, partkey), a Window "
        "whose partition spec is __pid (NEVER an empty partition "
        "spec), and a BroadcastHashJoin against the tiny offsets "
        "relation — no single-task sort of the part dimension."
    ),
    "rfm_segments": (
        "RFM quartiles via two-phase ranks (r5). Expect: three "
        "RangePartitioning exchanges (one per metric), each Window "
        "partitioned by __pid, ntile reconstructed as arithmetic on "
        "the global rank — zero unpartitioned ordered windows."
    ),
    "decile_lift": (
        "Customer decile lift (r5). Expect: one hash agg to customer "
        "grain, the two-phase rank shape (range exchange + __pid "
        "window + broadcast offsets), then one decile hash agg and a "
        "broadcast of the one-row total."
    ),
    "minhash_calibration": (
        "LSH estimator calibration (r5). Expect: signature build as "
        "ONE hash agg over the at-rest shingle scan (Scan ExistingRDD "
        "after the checkpoint), band self-join on (band_id, "
        "band_hash) keys only, exact-intersect via the shingle "
        "double-join, final 17-row hash agg — no CartesianProduct."
    ),
    "prefix_jaccard_join": (
        "Exact set-similarity join, dedupe-first prefix filtering "
        "(r8). Expect: ONE documents scan feeding the gram explode "
        "with fingerprint64 fused in the Generate stage (longs "
        "shuffle, never gram text); Scan ExistingRDD roots for the "
        "checkpointed member/set relations; the candidate self-join "
        "keys on the exploded PREFIX grams only with the length "
        "filter BEFORE the pair distinct; verification as "
        "array_intersect projections — no second fact shuffle, no "
        "CartesianProduct."
    ),
    "rrf_fusion": (
        "Reciprocal-rank fusion (r8). Expect: two corpus token "
        "explodes (one per ranker family), each reduced by ONE "
        "doc-grain hash agg with the tf pivot fused; 1-row stats "
        "BroadcastNestedLoopJoin; TakeOrderedAndProject top-20 per "
        "ranker; the global rank windows sit ABOVE the LIMIT (20-row "
        "inputs — allowlisted bounded site); fusion is a k-scale hash "
        "agg over the sorted struct fold."
    ),
    "ndcg_eval": (
        "Graded ANN ranking audit (r8). Expect: shared (vid, v, cell) "
        "Scan ExistingRDD (checkpointed assignment feeds both arms); "
        "probed arm joins cells then per-query top-k Window over "
        "candidates only; exact arm is BroadcastNestedLoopJoin with "
        "the fixed query batch broadcast; DCG folds as an exact "
        "integer hash agg (element_at on the literal weight array — "
        "no float sum)."
    ),
    "ivm_join_delta": (
        "O(delta) join-MV maintenance (r8). Expect: the base-MV arm "
        "and the delta arm UNION; BOTH lineitem scans carry the "
        "l_shipdate PushedFilter (base < cutoff, delta >= cutoff); "
        "the orders dimension joins BroadcastHashJoin on both arms; "
        "no re-join of the base against the dimension beyond its own "
        "arm, no shuffle of the union output."
    ),
    "snapshot_diff": (
        "Version-to-version diff (r8). Expect: two events scans each "
        "reduced by a (user_id) hash agg with the max(struct) winner "
        "pick (no row_number sort), ONE SortMergeJoin FullOuter on "
        "the null-safe key, and the change filter ABOVE the join — "
        "output is change-grain, never table-grain."
    ),
    "scd2_fold_late": (
        "SCD2 fold/repair split (r8). Expect: the three-way union "
        "(untouched pass-through / folded / key-scoped rebuilt); "
        "late-key detection as a join against the open rows' "
        "(last_ts, last_tb) watermark columns; every window "
        "partitioned by user_id; the batch-key semi/anti joins "
        "broadcast (O(batch) relations) — history is never "
        "re-sorted whole."
    ),
    "measure_correlations": (
        "Exact-moment Pearson matrix (r8). Expect: ONE lineitem scan "
        "into a single HashAggregate producing ALL 15 decimal(38,0) "
        "moments (partial_sum map-side), then the 6-pair matrix "
        "unfolds from literals via explode — no second scan, no "
        "per-pair job, no float aggregate anywhere."
    ),
    "collocation_pmi": (
        "Document-level PMI collocations (r8). Expect: one documents "
        "scan, (doc, token) distinct, the pair self-join keyed on "
        "doc_id (doc-local — Σ|doc-vocab|², never vocab²), unigram "
        "counts broadcast back, TakeOrderedAndProject top-20."
    ),
    "arrival_burstiness": (
        "Inter-arrival burstiness (r8). Expect: ONE key-partitioned "
        "window exchange for the lag, then a hash agg to key grain "
        "producing exact decimal moments; B computed in the final "
        "projection — no float accumulation, no second exchange."
    ),
    "revenue_bridge": (
        "Price/volume bridge (r8). Expect: one lineitem scan with the "
        "year PushedFilter, BroadcastHashJoin against part, ONE hash "
        "agg producing all four conditional sums (no per-year scan), "
        "effects as final projections."
    ),
    "revenue_waterfall": (
        "Monthly waterfall (r8). Expect: one lineitem scan, one hash "
        "agg to month grain with all four exact micro-dollar sums "
        "partial-aggregated map-side — nothing else."
    ),
    "top_event_paths": (
        "User-day path mining (r8). Expect: one events scan, ONE "
        "shuffle to (user, day) grain with the path assembled from "
        "array_sort(collect_list(struct)) — no window — then the "
        "path-count hash agg and TakeOrderedAndProject top-20."
    ),
    "chi_square_dow": (
        "Cell-grain chi-square audit (r8). Expect: one events scan to "
        "the contingency hash agg; the row/col marginals reduce FROM "
        "the cells (no second fact scan) and broadcast back; expected "
        "and (o−e)²/e as final projections."
    ),
    "value_drift_psi": (
        "PSI drift audit (r8). Expect: two period scans each reducing "
        "straight to the 10-bucket grain (integer binning fused in "
        "the scan stage), the old-period bounds as a broadcast 1-row "
        "aggregate, spine left-joins, and the PSI contribution as a "
        "final projection."
    ),
    "recs_hit_rate": (
        "Recommender backtest (r8). Expect: order-local pair "
        "self-joins on BOTH periods (shuffle on l_orderkey, never "
        "item×item), the train top-5 via an i-partitioned row_number "
        "window, a pair-grain LeftSemi hit join, and two 1-row "
        "aggregates broadcast for the metric row."
    ),
    "bag_setops": (
        "Bag-semantics set ops (r8). Expect: exceptAll/intersectAll "
        "compile to aggregate+generate (count-difference replicate) — "
        "no sort, no join of the raw multisets — then one (key, op) "
        "hash agg per arm and a union."
    ),
    "unpivot_measures": (
        "UNPIVOT surface (r8). Expect: one lineitem scan, one "
        "month-grain hash agg with all four exact sums, then Expand "
        "(the unpivot) — zero additional shuffles."
    ),
    "window_rank_suite": (
        "Ranking-function suite (r8). Expect: ONE exchange on p_type "
        "shared by all four rank functions (two Window operators over "
        "the same sort — dense_rank/percent_rank/cume_dist share the "
        "price order, row_number adds the partkey tiebreak)."
    ),
    "skyline_parts": (
        "2-D skyline / Pareto frontier (r8). Expect: ONE exchange on "
        "p_type feeding both the RANGE-frame cheaper-rows max and the "
        "(p_type, price) equal-price max; the dominance filter is a "
        "projection — no self-join, no NOT EXISTS nested loop."
    ),
    "basket_triples": (
        "3-way co-purchase (r8). Expect: the self-join CHAIN keyed on "
        "l_orderkey throughout (order-local — Σ C(|basket|,3), never "
        "|parts|³), pair/triple filters pushed into the joins, "
        "TakeOrderedAndProject top-10."
    ),
    "seasonal_strength": (
        "Weekly-cycle strength (r8). Expect: one events scan to the "
        "(type, day) grain, then ONE hash agg producing the 7 pivoted "
        "(s_d, k_d) integer pairs + totals; eta² is a fixed-order "
        "7-term projection — no float aggregate, no per-dow join."
    ),
    "embedding_norm_audit": (
        "Vector-norm hygiene (r8). Expect: one embeddings scan with "
        "the sequential array fold fused (no explode), one label-grain "
        "hash agg — min/max/threshold counts only, no float sums."
    ),
    "scd2_agg_mv": (
        "SCD2→IVM serving composition (r9). Expect: the epoch-2 fold "
        "and the MV delta both keyed on user_id (shared partitioning); "
        "snapshot_diff is ONE full-outer join; the retract merge is ONE "
        "full-outer join on the group key; NO broadcast hint anywhere "
        "(AQE decides), no Cartesian."
    ),
    "edit_distance_join": (
        "FastSS deletion-neighborhood join (r9). Expect: distinct "
        "string relation, the neighborhood explode feeding a "
        "fingerprint equi-join (self-join on __nh, never a Cartesian), "
        "levenshtein as a post-join filter, and the id expansion as "
        "two more equi-joins."
    ),
    "containment_join": (
        "Exact set-containment join (r9). Expect: dedupe-first (set "
        "fingerprint aggregate BEFORE pairing), shared-gram equi-join "
        "within (group, gram), pair HashAggregate producing the exact "
        "intersection count, integer threshold filter — no Cartesian, "
        "no float accumulate."
    ),
    "sorted_neighborhood_dedup": (
        "Sorted-neighborhood blocking (r9). Expect: ONE "
        "repartitionByRange (the two-phase global ordering), "
        "partition-local Window (never unpartitioned), offset explode "
        "on the left, ONE position equi-join, levenshtein filter."
    ),
    "monetary_unit_sample": (
        "PPS systematic sample (r9). Expect: the two-phase running sum "
        "(range exchange + partition-local window + broadcast offset "
        "join), then a pure filter — no single-partition WindowExec, "
        "no second scan."
    ),
    "growth_accounting": (
        "Growth accounting (r9). Expect: one (user, day) "
        "distinct-aggregate, ONE user-partitioned window exchange "
        "shared by lag/lead/min, then two small day-grain aggregates "
        "merged by a full-outer join on the KB-sized day relation."
    ),
    "lm_trigram_backoff": (
        "Trigram backoff coverage (r9). Expect: one documents scan "
        "exploding target trigrams, reference sets reduced to "
        "vocab-grain distinct relations joined as int64 fingerprints "
        "(three hash joins), no string shuffles, count-grain output."
    ),
    "interval_union_length": (
        "Islands-and-gaps coverage (r9). Expect: one key-partitioned "
        "Window exchange shared by the running-max flag and the island "
        "cumsum, then two hash aggregates — integer micros throughout."
    ),
    "ks_two_sample": (
        "Two-sample KS (r9, re-planned after the fleet window guard "
        "fired). Expect: two value-grain count aggregates, a full-outer "
        "merge, then TWO two-phase running sums (repartitionByRange + "
        "partition-local Window + broadcast offset joins) — NO "
        "unpartitioned ordered Window; answer via TakeOrdered(1)."
    ),
    "bm25_incremental": (
        "Incremental BM25 (r9). Expect: the delta's token explode is "
        "the ONLY corpus-grain Generate on the live path; the base "
        "partial is a doc-grain relation unioned in; stats reduce to "
        "one broadcast row; TakeOrderedAndProject top-20."
    ),
    "token_run_lengths": (
        "Repetition-run audit (r9). Expect: one doc-partitioned Window "
        "exchange shared by the lag flag and the run cumsum, two hash "
        "aggregates, max-struct argmax — no unpartitioned window, no "
        "self-join."
    ),
    "quantile_disc_groups": (
        "Type-1 group quantiles (r9). Expect: (group, value) count "
        "aggregate, ONE group-partitioned Window for cum + total, the "
        "3-literal q explode, and a (group, q) min — integer "
        "thresholds, no percentile_approx, no global sort."
    ),
    "phrase_search": (
        "Positional phrase search (r9). Expect: the posting relation "
        "filtered per term BEFORE the joins (tiny posting lists), n-1 "
        "equi-joins on (doc, pos+i), one count aggregate."
    ),
    "topk_diverse": (
        "Diversity-constrained top-k (r9). Expect: key-grain revenue "
        "aggregate, broadcast customer-segment join, TWO stacked "
        "key-partitioned Windows (quota rank then group rank) — no "
        "unpartitioned window, no self-join."
    ),
    "hierarchy_shares": (
        "Share-of-parent rollup (r9). Expect: ONE leaf-grain fact "
        "aggregate; each ancestor level a HashAggregate over the "
        "level below (no second fact scan); parent totals broadcast "
        "back; one division per share."
    ),
    "prefix_cluster": (
        "Boilerplate prefix groups (r9). Expect: narrow md5 "
        "projection (slice of the token split — no explode), ONE hash "
        "aggregate to cluster grain, count>1 filter."
    ),
    "mann_whitney_value": (
        "Mann-Whitney U (r10). Expect: fact scan filtered to the two "
        "groups with PushedFilters, ONE hash aggregate to distinct-"
        "VALUE grain, the two-phase running sum (range exchange + "
        "partition-local window — NO 'Window: No Partition Defined'), "
        "then a one-row moment aggregate; z/effect are post-agg "
        "projections."
    ),
    "cuped_adjustment": (
        "CUPED (r10). Expect: one orders scan -> customer-grain "
        "conditional-sum HashAggregate (partial map-side) -> one-row "
        "decimal moment aggregate; theta/std/rho2 are a final Project "
        "— no second fact scan, no window."
    ),
    "srm_check": (
        "Sample-ratio mismatch (r10). Expect: distinct on the id, "
        "md5-bucket HashAggregate to arm grain, one-row total "
        "BroadcastNestedLoopJoin (the one-row stats-join pattern), "
        "cell chi-square as a Project."
    ),
    "order_totals_reconcile": (
        "Header-vs-detail reconcile (r10). Expect: lineitem pruned to "
        "4 columns -> order-grain HashAggregate; orders pruned to 3 "
        "columns; the header join shuffles BOTH sides on the order "
        "key (same key as the aggregate — Exchange reuse), then a "
        "status-grain rollup."
    ),
    "ab_readout": (
        "A/B readout composition (r10). Expect: one orders scan -> "
        "customer-grain conditional sums -> arm-grain decimal moment "
        "HashAggregate + one-row pooled moments joined back broadcast "
        "(BroadcastNestedLoopJoin on a single row); CUPED adjustment "
        "is a final Project."
    ),
    "link_prediction": (
        "Common-neighbor link prediction (r10). Expect: at-rest pair "
        "scan, symmetrize + distinct, ONE self-join on the shared-"
        "neighbor key, anti-join against edges, degree joins, "
        "TakeOrderedAndProject for the top-k (no global sort)."
    ),
    "t_closeness": (
        "t-closeness EMD audit (r10). Expect: one customer scan -> "
        "(group, bucket) HashAggregate; tiny broadcast grid; the "
        "cumulative CDF window is PARTITIONED by group (no "
        "'No Partition Defined'); group-grain output with one float "
        "division."
    ),
    "wilcoxon_signed_rank": (
        "Paired signed-rank shift test (r10). Expect: customer-grain "
        "conditional sums -> distinct-|d| HashAggregate -> the "
        "two-phase running sum (range exchange + partition-local "
        "window), one-row moment aggregate; z is a guarded Project."
    ),
    "paired_t_test": (
        "Paired t (r10). Expect: one orders scan -> customer-grain "
        "sums -> one-row decimal moment aggregate -> guarded Project; "
        "no window anywhere."
    ),
    "auc_eval": (
        "Exact ROC-AUC (r10). Expect: the Mann-Whitney shape verbatim "
        "(distinct-value HashAggregate, two-phase running sum, one-row "
        "moments), AUC as a guarded final Project."
    ),
    "deterministic_shuffle": (
        "Seedless training order (r10). Expect: narrow md5 projection, "
        "the two-phase GLOBAL rank (range exchange + partition-local "
        "window — never a per-shard window), shard-grain min-rank "
        "aggregate joined back; NO per-key WindowExec."
    ),
    "token_budget_select": (
        "Budgeted per-source selection (r10). Expect: quality/token "
        "projection, two-phase partitioned running sum (range exchange "
        "over (source, quality desc, id)), source-grain offset join, "
        "budget filter — NO per-source window."
    ),
    "token_budget_incremental": (
        "Incremental budgeted selection (r12). Expect: the batch arm "
        "scored like token_budget_select; the at-rest arm enters as the "
        "(tiny) SELECTED relation only — a union of the two feeding the "
        "same two-phase running sum + budget filter; the full corpus is "
        "scanned once for the prior selection, never re-ranked with the "
        "batch; NO per-source window."
    ),
    "ivf_incremental_recall": (
        "Aged-index recall audit (r12). Expect: the SAME shape as "
        "ann_recall_eval (one checkpointed (vid, v, cell) relation, "
        "broadcast query batch, per-query top-k windows over candidates "
        "only) — the stale centroid model is a broadcast literal from "
        "the corpus arm; the union add no extra shuffle."
    ),
    "ivf_cell_drift": (
        "Aged-index occupancy audit (r12). Expect: two assignment "
        "projections (broadcast centroid literal dots, no shuffle), two "
        "cell-grain hash aggregates, spine outer joins on the 16-row "
        "range, one-row totals broadcast back. Empty cells present."
    ),
    "trigram_doc_logprob": (
        "Perplexity-proxy scoring (r12). Expect: one trigram explode; "
        "five n-gram-grain count aggregates (far below corpus grain) "
        "hash-joined back on int64 fingerprints; scores are "
        "floor-scaled micro-units summed as longs per doc — the only "
        "doubles are one ln per joined row and the final avg division."
    ),
    "doc_ngram_repetition": (
        "Within-doc repetition screen (r12). Expect: one explode per "
        "gram width to (doc, gram) grain, partial-aggregated hash "
        "counts, doc-grain reduction — no cross-doc state, no joins "
        "beyond the two doc-grain stat merges; embarrassingly parallel."
    ),
    "dim_truncation_recall": (
        "Matryoshka truncation audit (r12). Expect: ONE checkpointed "
        "candidate relation (corpus x broadcast fixed query batch) "
        "carrying full + every truncated cosine; per-width top-k are "
        "windows over those shared candidates — no new scans per "
        "width; width-grain output with exact hit sums."
    ),
    "mmr_rerank": (
        "MMR diversified top-k (r12). Expect: the pool is a "
        "TakeOrderedAndProject over the scan (linear, fixed-size "
        "result); the plan ENDS there — the greedy is a bounded "
        "driver-side loop over the collected pool (the probe_cells "
        "O(1)-model precedent), and the output is a LocalTableScan."
    ),
    "mix_epoch_plan": (
        "Mixture epoch planner (r12). Expect: one size-linear hash "
        "aggregate to source grain, two one-row broadcast stat joins "
        "(total, quantized normalizer), all epoch/shortfall math in "
        "the final projection over ~|sources| rows."
    ),
    "ivf_append_assign": (
        "Incremental-index write side (r12). Expect: a single narrow "
        "projection over the batch scan — the 16-dot argmax against "
        "broadcast centroid literals; no shuffle, no join."
    ),
    "mutual_information": (
        "Categorical dependence audit (r11). Expect: ONE hash aggregate "
        "(partial+final) to the (lang, source) cell grain off the scan; "
        "marginals are cell-grain aggregates broadcast back (stats-join); one-row "
        "output."
    ),
    "target_encode_loo": (
        "LOO target encoding (r11). Expect: key-grain HashAggregate "
        "broadcast back over the fact (BroadcastHashJoin) — NO window "
        "over the 5 giant segment partitions; assert_true riding the "
        "projection."
    ),
    "jaro_winkler_rescore": (
        "JW rescoring of FastSS candidates (r11). Expect: neighborhood "
        "explode + fingerprint self-join on int64 keys, exact-levenshtein "
        "verify, and ArrowEvalPython ONLY above the surviving-pair "
        "relation — the corpus scan itself stays JVM-side."
    ),
    "recs_mrr": (
        "Rank-quality backtest (r11). Expect: the recs_hit_rate plan "
        "(order-local pair counting, per-i top-k window) plus a LEFT "
        "join carrying rank; one exact int64 agg, one final division."
    ),
    "quantile_match_normalize": (
        "Cross-source quantile matching (r11). Expect: two two-phase "
        "rank pipelines (range exchanges, partition-local windows, "
        "broadcast offsets), a key-grain size join, and an equi-join on "
        "the pooled rank — NO single-task global window anywhere."
    ),
    "domain_cap_sample": (
        "Per-domain cap (r11). Expect: md5-hash projection, two-phase "
        "partitioned rank (range exchange), cap filter — NO per-source "
        "window."
    ),
    "always_valid_pvalue": (
        "mSPRT sequential monitor (r11). Expect: ONE size-linear hash "
        "aggregate to (day, arm) grain; cumulative windows, the as-of "
        "fill, Lambda and the running-min p all over the ~30-row "
        "day-grain relation."
    ),
    "fdr_bh_segments": (
        "BH-corrected test battery (r11). Expect: two stacked aggregates "
        "to test grain (10 rows), one-row totals broadcast, the A&S "
        "polynomial as plain projection arithmetic, rank window over 10 "
        "rows, one-row max-k broadcast."
    ),
    "mde_power": (
        "MDE sizing screen (r11). Expect: one exact-decimal-moment "
        "HashAggregate to event_type grain; all floats post-aggregation."
    ),
    "local_clustering": (
        "Per-node clustering (r11). Expect: the triangle census joins on "
        "int64 id pairs, ONE explode crediting 3 vertices per triangle, "
        "a union-count degree aggregate, left join + projection."
    ),
    "heaps_law_curve": (
        "Vocabulary growth curve (r11). Expect: token explode feeding "
        "two hash aggregates (per-doc counts, min-doc per type), "
        "doc-grain joins, then TWO two-phase running sums — no "
        "single-task window over the unbounded doc grain."
    ),
    "conformal_interval": (
        "Split-conformal audit (r11). Expect: (key, day) hash aggregate, "
        "calendar-bounded per-key lag/rank windows, broadcast joins for "
        "the order-statistic pick and coverage — no unit-grain window."
    ),
    "propensity_strata": (
        "Stratified matching readout (r11). Expect: two-phase rank + "
        "exact ntile over the PART dimension, broadcast to the fact "
        "scan, one stratum-grain HashAggregate."
    ),
    "acf_table": (
        "Autocorrelation table (r11). Expect: one (key, day) hash "
        "aggregate off the scan (pinned via Scan ExistingRDD), a "
        "broadcast 7-row lag spine, an equi-join on (key, day+lag), "
        "one (key, lag)-grain moment aggregate."
    ),
    "qq_drift": (
        "Q-Q drift deciles (r11). Expect: two-phase per-period ranks "
        "(range exchange over (period, value, id)), a broadcast "
        "9-row cut spine, equi-joins for the order-statistic picks — "
        "no giant-key window."
    ),
    "poisson_fit": (
        "Poisson dispersion screen (r11). Expect: one order-grain "
        "count aggregate, one exact-moment aggregate + one k-grain "
        "histogram over it, a one-row broadcast cross join."
    ),
    "interarrival_fit": (
        "Inter-arrival CV (r11). Expect: two-phase per-key ranks over "
        "(key, micros, id), the pinned ranked relation self-joined on "
        "(key, rank-1), one key-grain moment aggregate."
    ),
    "temperature_mix": (
        "Mixture weights (r11). Expect: one source-grain aggregate "
        "(pinned), two one-row broadcast cross joins (total, "
        "normalizer) — all floats post-aggregation."
    ),
    "spearman_corr": (
        "Spearman rho (r11). Expect: two distinct-VALUE-grain "
        "aggregates each feeding a two-phase running sum (range "
        "exchanges, never a single-task window), midrank maps joined "
        "back by value, one moment aggregate."
    ),
    "cramers_v": (
        "Cramer's V (r11). Expect: the MI skeleton — one cell-grain "
        "aggregate (pinned), margins broadcast back, one-row output; "
        "no window over the cell relation."
    ),
    "cohens_kappa": (
        "Cohen's kappa (r11). Expect: confusion cells pinned once, "
        "diagonal / marginal-product aggregates as one-row broadcast "
        "cross joins, exact decimal numerators."
    ),
    "minhash_gate": (
        "Near-dup gate labels (r13). Expect: the minhash_near_dup "
        "pipeline unchanged (banded candidates, exact verify, never "
        "all-pairs) plus ONE distinct projection of the pairs' greater "
        "side and a left join back to the id spine — label derivation "
        "adds no new shuffle class."
    ),
    "suffix_dedup_spans": (
        "Exact substring spans (r13). Expect: one Generate (posexplode "
        "windows), a content-keyed hash aggregate for the cross-doc "
        "duplicate reduce, a hash join back, then per-DOC window "
        "functions (partitionBy id — bounded keys via the max_tokens "
        "guard, never a global window)."
    ),
    "suffix_spans_incremental": (
        "Incremental substring spans (r13). Expect: batch-only "
        "Generate; the at-rest window table contributes a "
        "distinct-content projection to a hash join keyed on window "
        "text; per-doc islands as in the batch twin."
    ),
    "ivf_retrain_plan": (
        "Retrain decision (r13). Expect: a LocalTableScan of the "
        "one-row decision (the heavy arms — drift counts, shared brute "
        "checkpoint, two capped audits — run as separate bounded jobs "
        "before the row is assembled; model-grain collects only)."
    ),
    "curation_funnel": (
        "End-to-end curation funnel (r14). Expect: the checkpointed "
        "narrow base (no text column) feeding the flag joins; ONE "
        "final aggregate with 24 conditional sums (partial-agg before "
        "its single exchange) expanded by Generate(stack) — no window, "
        "no join in the funnel aggregation itself; the shingle arm "
        "confined to semi-join-pruned doc text with the bloom filter "
        "ahead of the exact contamination join."
    ),
    "curation_funnel_incremental": (
        "Curation fold (r14). Expect: batch-only scoring projections; "
        "the at-rest side appearing ONLY as the materialized levels "
        "scan, a bloom-pruned fingerprint probe, eval shingles, and "
        "the budget (selected ∪ gated batch) two-phase re-rank; the "
        "same single stacked funnel aggregate on top."
    ),
    "curation_report": (
        "Per-source release report (r14). Expect: ONE source-grain "
        "hash aggregate over the labeled relation (partial-agg before "
        "its single exchange), integer div projections for the ppm "
        "shares — no window, no join after the levels flags."
    ),
}


def main() -> None:
    spark = get_spark("explain")
    qs = entrymod.bench_queries()
    out = [
        "# Physical plans (auto-generated — `python tools/explain_plans.py`)",
        "",
        f"Captured at sf_dir={SF_DIR} on local[*]; AQE on (plans show",
        "`AdaptiveSparkPlan isFinalPlan=false` — runtime re-optimization",
        "may further coalesce shuffles / switch to broadcast).",
        "",
    ]
    for name, check in CHECKLIST.items():
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", check, "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(Path(__file__).resolve().parents[1] / "docs" / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(CHECKLIST)} plans)")


if __name__ == "__main__":
    main()
