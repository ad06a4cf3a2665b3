"""End-to-end training-corpus build (north-star composition).

documents → curation cascade (keep) → near-dup collapse (connected
components over the blocked Jaccard pair graph, longest-doc survivor)
→ deterministic train/val/test split → overlapping token-window
chunking → shard write partitioned by split.

Each stage is an individually oracle-checked operator (curation_filter,
ngram_jaccard, dup_clusters / cluster_representative, dataset_split,
doc_chunks in ``__spark_entry__``); this plan pins their COMPOSITION —
the thing a user of the engine actually runs to turn a raw document
lake into training shards.

Scale shape: one scan of documents feeds the curation predicates
(codegen, no shuffle); the only heavy exchanges are the blocked
pair self-join and the label-propagation joins, both key-only; split
and chunking are narrow maps, so the shard write streams at scan
speed partitioned by the (low-cardinality) split column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import sinks
from ..functions import text
from ..operators import bloom, corpus, dedup
from ..persistence import pin_fact
from ..sources.tables import load_table


def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-branch of the curation cascade (same predicates as the
    oracle-checked ``curation_filter`` query)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        (F.length("text") >= 50)
        & (text.quality_score("text") >= 0.5)
        & (text.language_id("text") != "und")
    )


def collapse_near_dups(
    kept: DataFrame, threshold: float = 0.5, shingle_k: int = 1
) -> DataFrame:
    """Keep one survivor per near-dup cluster (longest doc, id ties).

    Same pair graph + keep-rule as the ``cluster_representative``
    query; returns full doc rows for the survivors.
    """
    pairs = dedup.ngram_jaccard_pairs(
        kept, "text", "doc_id", "source", threshold=threshold, shingle_k=shingle_k
    )
    cc = dedup.connected_components(kept.select("doc_id"), pairs, id_col="doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        cc.join(kept, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "cluster_id")
    )


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    chunk_tokens: int = 64,
    stride: int = 48,
    pack_budget: int = 2048,
) -> dict[str, int]:
    """Full corpus build; returns stage counts for observability.

    The shard table is partitioned by split (train/val/test) so a
    trainer reads its split with pure partition pruning; chunk rows
    are sorted within partitions by (doc_id, chunk_idx) for row-group
    locality of a document's windows.

    Alongside the shards, the build emits the governance sidecars a
    training run consumes with the data — each an individually
    oracle-checked operator, pinned here in composition:

    - ``{out}_packs``   — token-budget sequence packs over the chunks
      (``corpus.sequence_pack``), the dataloader's unit of work;
    - ``{out}_mixture`` — temperature mixture plan over the SURVIVOR
      corpus (``corpus.source_mixture``) — sampling weights must be
      computed on what remains after curation/dedup, not the raw lake;
    - ``{out}_bpe``     — the BPE merge table induced from the
      survivor corpus (``corpus.bpe_merges``), i.e. the tokenizer is
      trained on exactly the text the model will see;
    - ``{out}_manifest`` — per-file stats manifest over the shard
      table (``sinks.stats_manifest``): row counts + (doc_id,
      chunk_idx) min/max per physical file, the planner-facing
      metadata a lakehouse log would carry.

    The four sidecar counts come from ``count(1)`` observations riding
    their write jobs (``sinks.counted``), not from re-reading them.
    """
    docs = load_table(spark, sf_dir, "documents")
    kept = curated_documents(spark, sf_dir)
    # corpus-grain (fact) frame consumed 4x below across several
    # actions: lazy DISK_ONLY pin (the first write materializes it),
    # not localCheckpoint — lineage must survive executor loss (grain
    # rule in persistence.py).
    survivors = pin_fact(collapse_near_dups(kept))
    split_docs = corpus.dataset_split(survivors, "doc_id")
    chunks = corpus.chunk_documents(
        split_docs, "text", "doc_id", chunk_tokens, stride, carry_cols=("split",)
    )
    sinks.write_partitioned(
        chunks, out_dir, "split", cluster_cols=["doc_id", "chunk_idx"], mode="overwrite"
    )
    written = spark.read.parquet(out_dir)
    packs = corpus.sequence_pack(
        written, "split", "doc_id", "chunk_idx", "n_tokens", budget=pack_budget
    )

    def write_counted(df: DataFrame, path: str) -> int:
        df, obs = sinks.counted(df)
        df.write.mode("overwrite").parquet(path)
        return obs.get["rows"]

    n_packs = write_counted(packs, f"{out_dir}_packs")
    n_sources = write_counted(corpus.source_mixture(survivors, "text", "source"), f"{out_dir}_mixture")
    n_merges = write_counted(corpus.bpe_merges(survivors, "text", n_merges=3), f"{out_dir}_bpe")
    n_files = write_counted(
        sinks.stats_manifest(spark, out_dir, ["doc_id", "chunk_idx"]), f"{out_dir}_manifest"
    )
    return {
        "docs": docs.count(),
        "kept": kept.count(),
        "survivors": survivors.count(),
        "chunks": written.count(),
        "packs": n_packs,
        "mixture_sources": n_sources,
        "bpe_merges": n_merges,
        "manifest_files": n_files,
    }


CURATION_STAGES = (
    "s0_raw",
    "s1_quality",
    "s2_lang",
    "s3_exact_dedup",
    "s4_decontaminated",
    "s5_token_budget",
)


def curation_levels(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    source_col: str,
    *,
    keep_lang: str = "en",
    min_quality_x3: int = 3,
    eval_source: str = "src0",
    shingle_k: int = 8,
    budget_tokens: int = 200,
) -> DataFrame:
    """Doc-grain curation audit: the LAST funnel stage each document
    survives, as one labeled relation.

    The stages are the standard pretraining-curation cascade, each an
    already-oracle-checked operator of this repo, pinned here in
    composition (the read-path sibling of :func:`run_corpus_pipeline`,
    which pins the write path):

      0. raw lake
      1. quality gate   — integer quality ``quality_score_int3 >=
                          min_quality_x3`` (the token-budget family's
                          exact grain, no float seam)
      2. language gate  — ``lang == keep_lang`` (null-safe: an unknown
                          lang drops, as the SQL twin's equality does)
      3. exact dedup    — min-id winner per md5 of normalized text
                          (``dedup_exact`` keep rule)
      4. decontamination— drop the eval source itself plus any
                          surviving train doc sharing a distinct
                          ``shingle_k``-gram with the RAW eval set
                          (``contamination_check`` semantics: eval is
                          fixed upstream of curation); the train-side
                          shingle stream is pruned by an explicit
                          bloom built from the small eval-shingle set
                          before the exact semi-join, so the 100 TB
                          side never shuffles in full — false
                          positives die in the exact join, false
                          negatives are impossible, results are
                          bit-identical with pruning on or off
      5. token budget   — per-source greedy prefix under
                          ``budget_tokens`` (``token_budget_select``
                          semantics via the shared scored relation)

    Returns (doc_id, lang, source, quality_x3, n_tokens, fp, level)
    with level in 0..5 = the highest stage index the doc is still a
    member of (stage k's surviving set is exactly ``level >= k`` —
    the chain is a monotone subset cascade by construction).

    Scale shape: ONE text scan feeds a narrow checkpointed base
    (ids, integer score, token count, 16-byte fingerprint — no text
    retained); the only second text touch is the shingle arm, and it
    reads just the eval source plus the stage-3 survivors (semi-join
    pushdown). The dedup winner set, the contaminated-id set and the
    budget selection are key-only relations joined back as flags, so
    every exchange after the base projection carries ids and scalars,
    never documents.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # Lazy persist (r14): base is consumed by three arms (stage-1/2
    # filter chain, the winner flag join, the final labeling join) —
    # the pin stops re-scoring text per arm, while staying LAZY so the
    # whole cascade executes as one job at the consumer's action
    # instead of paying an eager materialization job up front (the
    # iterative-loop lesson, operators/graph.py module docstring);
    # persist also keeps lineage, the right 100 TB posture for a
    # doc-grain frame (persistence.py).
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
        text.quality_score_int3(text_col).alias("quality_x3"),
        text.whitespace_token_count(text_col).cast("long").alias("n_tokens"),
        F.md5(norm).alias("fp"),
    ).persist()

    s2 = base.filter(
        (F.col("quality_x3") >= min_quality_x3)
        & F.col("lang").eqNullSafe(F.lit(keep_lang))
    )
    winners = s2.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    s3 = s2.join(winners, ["fp", "doc_id"], "semi")

    # pinned lazily: the distinct eval-shingle set feeds BOTH the bloom
    # build and the exact semi-join — without the pin each consumer
    # re-explodes and re-distincts the eval text. Kept LAZY after a
    # measured r15 A/B: the eager checkpoint serialized the shingle
    # job ahead of the cascade and read 1.76 → 3.14 s at local[32];
    # the driver's own contended r14 capture showed no race penalty
    # here (curation_funnel 1.75 s).
    eval_sh = (
        docs.filter(F.col(source_col) == eval_source)
        .select(F.explode(F.array_distinct(text.shingles(text_col, shingle_k))).alias("s"))
        .distinct()
        .persist()
    )
    ebloom = bloom.build_bloom(eval_sh, "s")
    train = s3.filter(F.col("source") != eval_source)
    train_text = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).join(train.select("doc_id"), "doc_id", "semi")
    train_sh = train_text.select(
        "doc_id", F.explode(F.array_distinct(text.shingles("__text", shingle_k))).alias("s")
    )
    # small id set, consumed twice (s4 below + the level flag join):
    # one LAZY pin stops the shingle arm re-executing per branch while
    # keeping the cascade a single job (see the base pin note above)
    contaminated = (
        bloom.bloom_prune(train_sh, "s", ebloom)
        .join(eval_sh, "s", "semi")
        .select("doc_id")
        .distinct()
        .persist()
    )
    s4 = train.join(contaminated, "doc_id", "anti")
    s5 = corpus.token_budget_select_scored(
        s4.select("source", "doc_id", "quality_x3", "n_tokens"), "doc_id", budget_tokens
    )

    return (
        base.join(winners.withColumn("__w", F.lit(1)), ["fp", "doc_id"], "left")
        .join(contaminated.withColumn("__c", F.lit(1)), "doc_id", "left")
        .join(s5.select("doc_id").withColumn("__s", F.lit(1)), "doc_id", "left")
        .withColumn(
            "level",
            F.when(F.col("quality_x3") < min_quality_x3, F.lit(0))
            .when(~F.col("lang").eqNullSafe(F.lit(keep_lang)), F.lit(1))
            .when(F.col("__w").isNull(), F.lit(2))
            .when(
                (F.col("source") == eval_source) | F.col("__c").isNotNull(), F.lit(3)
            )
            .when(F.col("__s").isNull(), F.lit(4))
            .otherwise(F.lit(5)),
        )
        .select("doc_id", "lang", "source", "quality_x3", "n_tokens", "fp", "level")
    )


def curation_funnel(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    source_col: str,
    *,
    keep_lang: str = "en",
    min_quality_x3: int = 3,
    eval_source: str = "src0",
    shingle_k: int = 8,
    budget_tokens: int = 200,
    checksum_mod: int = 262139,
) -> DataFrame:
    """Per-stage attrition funnel over :func:`curation_levels`: one row
    per stage with the surviving doc count, surviving token mass, and
    a pair of multiset id checksums (sum and sum-of-squares of
    ``doc_id % checksum_mod`` — bounded so the squares never overflow
    a long even on the 30x scale-study replicas' shifted ids) that pin
    the EXACT surviving membership of every stage against the SQL
    twin, not just its cardinality.

    The funnel itself is a single pass over the labeled relation:
    stage k aggregates ``level >= k`` via 6x4 conditional sums in ONE
    map-side-combinable aggregate, then ``stack``s the scalar row to
    stage grain — no join, no window, no second scan.
    """
    lab = curation_levels(
        docs,
        text_col,
        id_col,
        lang_col,
        source_col,
        keep_lang=keep_lang,
        min_quality_x3=min_quality_x3,
        eval_source=eval_source,
        shingle_k=shingle_k,
        budget_tokens=budget_tokens,
    )
    return _funnel_rows(lab, checksum_mod)


def _funnel_rows(lab: DataFrame, checksum_mod: int) -> DataFrame:
    """The funnel aggregation over any (doc_id, n_tokens, level)
    relation: 6x4 conditional sums in one map-side-combinable
    aggregate, stacked to stage grain."""
    m = F.col("doc_id") % F.lit(checksum_mod)
    aggs = []
    for k in range(len(CURATION_STAGES)):
        keep = F.col("level") >= F.lit(k)
        aggs += [
            F.sum(keep.cast("long")).alias(f"c{k}"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(F.lit(0))).alias(f"t{k}"),
            F.sum(F.when(keep, m).otherwise(F.lit(0))).alias(f"o{k}"),
            F.sum(F.when(keep, m * m).otherwise(F.lit(0))).alias(f"p{k}"),
        ]
    stacked = ", ".join(
        f"'{name}', c{k}, t{k}, o{k}, p{k}" for k, name in enumerate(CURATION_STAGES)
    )
    return lab.agg(*aggs).select(
        F.expr(
            f"stack({len(CURATION_STAGES)}, {stacked})"
            " as (stage, n_docs, n_tokens, id_check1, id_check2)"
        )
    )


def curation_funnel_incremental(
    prior_docs: DataFrame,
    batch_docs: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    source_col: str,
    *,
    keep_lang: str = "en",
    min_quality_x3: int = 3,
    eval_source: str = "src0",
    shingle_k: int = 8,
    budget_tokens: int = 200,
    checksum_mod: int = 262139,
    prior_levels: DataFrame | None = None,
) -> DataFrame:
    """Fold a NEW document batch into an existing curation funnel and
    emit the UNION funnel — provably equal to
    :func:`curation_funnel` over ``prior_docs ∪ batch_docs`` without
    re-curating the at-rest corpus (the token_budget_incremental /
    minhash_incremental pattern applied to the whole cascade).

    Contracts that make the fold exact (each either structural or
    fail-stopped):

    - **Frozen eval** — ``batch_docs`` must contain no ``eval_source``
      rows (the eval set is fixed upstream of curation; a batch eval
      doc would retroactively contaminate at-rest survivors). Guarded
      by a fail-stop riding the batch projection.
    - **Monotone dedup winners** — a batch doc whose fingerprint is
      already at rest must have a HIGHER id than the at-rest winner
      (the gate-sink monotone-id contract); otherwise it would usurp
      the winner and silently change at-rest survivorship. Guarded by
      a fail-stop on the probe join: violation raises instead of
      diverging — rebuild via the batch path.
    - **Budget fold exactness** — the per-source cutoff-carrying
      prefix rule (:func:`~..operators.corpus.token_budget_select_incremental`);
      unlike stages 0–4, stage 5 is NOT append-only (a high-quality
      batch doc can evict an at-rest selected doc), so the union's
      stage-5 row is computed from the fold output, never summed.

    Stage 0–4 membership of at-rest docs is untouched by the batch
    (gates are stateless, winners are monotone, eval is frozen), so
    the union levels relation is (prior levels capped at 4) ∪ (batch
    levels 0–4), re-flagged to 5 by the fold's selected set.

    Scale shape: the at-rest corpus is touched ONLY through its
    levels relation (ids + scalars, materialize-once per corpus),
    its fingerprint index probe (bloom-pruned by the small batch's
    fingerprints before the join), the eval shingle set, and the
    budget family's (selected, cutoff) state — never re-read or
    re-scored. Everything scored from text is batch-sized.
    """
    if prior_levels is None:
        prior_levels = curation_levels(
            prior_docs,
            text_col,
            id_col,
            lang_col,
            source_col,
            keep_lang=keep_lang,
            min_quality_x3=min_quality_x3,
            eval_source=eval_source,
            shingle_k=shingle_k,
            budget_tokens=budget_tokens,
        )

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    no_eval = F.assert_true(
        ~F.col(source_col).eqNullSafe(F.lit(eval_source)),
        F.lit(
            "curation_funnel_incremental: batch contains eval-source rows —"
            " the eval set is frozen upstream of curation (a batch eval doc"
            " would retroactively contaminate at-rest survivors)"
        ),
    )
    b = batch_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.when(no_eval.isNull(), F.col(source_col)).alias("source"),
        text.quality_score_int3(text_col).alias("quality_x3"),
        text.whitespace_token_count(text_col).cast("long").alias("n_tokens"),
        F.md5(norm).alias("fp"),
    ).localCheckpoint(eager=True)

    b_s2 = b.filter(
        (F.col("quality_x3") >= min_quality_x3)
        & F.col("lang").eqNullSafe(F.lit(keep_lang))
    )
    # at-rest fingerprint index = (fp, winner id) of the at-rest
    # stage-3 survivors; bloom-pruned by the batch's fps so the 100 TB
    # side is probed, never rescanned into a shuffle
    fp_index = prior_levels.filter(F.col("level") >= 3).select(
        "fp", F.col("doc_id").alias("__rest_winner")
    )
    bbloom = bloom.build_bloom(b_s2, "fp")
    cand_idx = bloom.bloom_prune(fp_index, "fp", bbloom)
    usurp_guard = F.assert_true(
        F.col("__rest_winner").isNull() | (F.col("doc_id") > F.col("__rest_winner")),
        F.lit(
            "curation_funnel_incremental: monotone-id contract violated — a"
            " batch doc would usurp an at-rest dedup winner (lower id, same"
            " fingerprint); fold refused, rebuild via the batch path"
        ),
    )
    probed = b_s2.join(cand_idx, "fp", "left").withColumn(
        "__rest_hit", F.when(usurp_guard.isNull(), F.col("__rest_winner").isNotNull())
    )
    fresh = probed.filter(~F.col("__rest_hit")).drop("__rest_winner", "__rest_hit")
    bwin = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    b_s3 = fresh.join(bwin, ["fp", "doc_id"], "semi")

    eval_sh = (
        prior_docs.filter(F.col(source_col) == eval_source)
        .select(F.explode(F.array_distinct(text.shingles(text_col, shingle_k))).alias("s"))
        .distinct()
    )
    ebloom = bloom.build_bloom(eval_sh, "s")
    b_text = batch_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).join(b_s3.select("doc_id"), "doc_id", "semi")
    b_sh = b_text.select(
        "doc_id", F.explode(F.array_distinct(text.shingles("__text", shingle_k))).alias("s")
    )
    contaminated = (
        bloom.bloom_prune(b_sh, "s", ebloom)
        .join(eval_sh, "s", "semi")
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    b_s4 = b_s3.join(contaminated, "doc_id", "anti")

    prior_selected = prior_levels.filter(F.col("level") >= 5).select(
        "source", F.col("doc_id").alias(id_col), "quality_x3", "n_tokens"
    )
    prior_cut = corpus.token_budget_cutoff_scored(
        prior_levels.filter(F.col("level") >= 4).select(
            "source", "doc_id", "quality_x3", "n_tokens"
        ),
        "doc_id",
        budget_tokens,
    )
    batch_new_docs = batch_docs.join(
        b_s4.select(F.col("doc_id").alias(id_col)), id_col, "semi"
    )
    fold = corpus.token_budget_select_incremental(
        prior_selected,
        batch_new_docs,
        text_col,
        id_col,
        source_col,
        budget_tokens,
        prior_cut,
    )
    selected = fold.select(F.col(id_col).alias("doc_id")).withColumn("__sel", F.lit(1))

    b_lab04 = (
        b.join(contaminated.withColumn("__c", F.lit(1)), "doc_id", "left")
        .join(
            b_s3.select("doc_id").withColumn("__w3", F.lit(1)), "doc_id", "left"
        )
        .withColumn(
            "lvl4",
            F.when(F.col("quality_x3") < min_quality_x3, F.lit(0))
            .when(~F.col("lang").eqNullSafe(F.lit(keep_lang)), F.lit(1))
            .when(F.col("__w3").isNull(), F.lit(2))
            .when(F.col("__c").isNotNull(), F.lit(3))
            .otherwise(F.lit(4)),
        )
        .select("doc_id", "n_tokens", "lvl4")
    )
    union_lab = (
        prior_levels.select(
            "doc_id", "n_tokens", F.least(F.col("level"), F.lit(4)).alias("lvl4")
        )
        .unionByName(b_lab04)
        .join(selected, "doc_id", "left")
        .withColumn(
            "level",
            F.when((F.col("lvl4") == 4) & F.col("__sel").isNotNull(), F.lit(5)).otherwise(
                F.col("lvl4")
            ),
        )
        .select("doc_id", "n_tokens", "level")
    )
    return _funnel_rows(union_lab, checksum_mod)


def curation_report(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    source_col: str,
    *,
    keep_lang: str = "en",
    min_quality_x3: int = 3,
    eval_source: str = "src0",
    shingle_k: int = 8,
    budget_tokens: int = 200,
) -> DataFrame:
    """Per-source curation release report — the data-card grain of
    :func:`curation_funnel` (the span_contamination_report /
    source_data_card precedent): one row per source with its survivor
    count at every stage, raw and selected token mass, and the
    selected shares as FLOOR-SCALED integer ppm (ratios of small exact
    counts hit the .5 boundary in practice — micro-units, never
    round-6 floats). The eval source appears with zeros past stage 3
    (it is dropped there by definition), which is itself the report's
    audit value: a nonzero eval selection is a pipeline bug.

    One per-source hash aggregate over the labeled relation — the
    funnel's single-pass shape at source grain, no window, no join.
    """
    lab = curation_levels(
        docs,
        text_col,
        id_col,
        lang_col,
        source_col,
        keep_lang=keep_lang,
        min_quality_x3=min_quality_x3,
        eval_source=eval_source,
        shingle_k=shingle_k,
        budget_tokens=budget_tokens,
    )
    lvl = F.col("level")
    agg = lab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tok_raw"),
        F.sum((lvl >= 1).cast("long")).alias("n_quality"),
        F.sum((lvl >= 2).cast("long")).alias("n_lang"),
        F.sum((lvl >= 3).cast("long")).alias("n_dedup"),
        F.sum((lvl >= 4).cast("long")).alias("n_decontaminated"),
        F.sum((lvl >= 5).cast("long")).alias("n_selected"),
        F.sum(F.when(lvl >= 5, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tok_selected"),
    )
    return agg.select(
        "*",
        F.expr("n_selected * 1000000L div n_docs").alias("sel_docs_ppm"),
        F.when(
            F.col("tok_raw") > 0, F.expr("tok_selected * 1000000L div tok_raw")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sel_tok_ppm"),
    )
