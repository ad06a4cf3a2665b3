"""Deduplication operators (north-star training-data ops).

Four families, all shuffle-disciplined for the 100 TB target:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle on
  a 64-bit key, payload never moves (keep-rule via min_by).
- **MinHash + LSH**: shingle → n minhashes → b bands; candidate pairs
  only within equal band buckets (the classic Broder scheme), verified
  with exact shingle Jaccard. Self-join is bucket-local, so the
  quadratic blowup is bounded by bucket size, not corpus size.
- **SimHash**: per-token 64-bit hashes → bit-majority signature;
  near-dups share the signature (or a band of it).
- **n-gram Jaccard**: exact verified similarity on candidate pairs.
- **embedding cosine**: near-dup by cosine ≥ τ on candidate pairs.

Each batch operator and its incremental twin share one kernel: the
MinHash-LSH signatures and band pairs (``_signatures``,
``_band_pairs``, ``_intersections``) and the exact n-gram pairs
(``_set_pairs``); the block-local rounded cosine
(``similarity._cos_pairs``: ``embedding_near_dup_pairs``,
``semantic_dedup``, ``semantic_dedup_incremental``, and the streaming
``semantic_gate_sink``); min-label propagation with pointer jumping
(``_min_labels``: ``connected_components``,
``connected_components_incremental``); and the span-window rollup
(``_span_report`` over ``span_hash_table``: ``span_dedup``,
``span_dedup_incremental``). An incremental twin differs from its
batch form only in what it seeds the kernel with: at-rest labels,
representatives or window hashes.

Everything below is column algebra (higher-order array functions +
xxhash64) — no Python UDFs, so the hot path stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint64, shingles
from ..functions.vector import norm
from ..persistence import persist_fact, pin_fact, release
from .similarity import _cos_pairs


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized) text.

    groupBy(md5-like fingerprint) + min_by: single shuffle on the
    fingerprint; deterministic keep-rule (min id) like the reference's
    W2 dedup keep-rule.
    """
    # repartition first: a single-file source arrives as one split and
    # would run the normalize+hash regex serially on one core
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts)
        .withColumn("__fp", fingerprint64(text_col))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
# Permutation family: h_i(x) = (x * a_i + b_i) mod P over the hashed
# shingle x. P < 2^31 keeps every intermediate product under 2^62, so
# the arithmetic is ANSI-overflow-safe; a_i derives from the Knuth
# multiplicative constant. Affine-over-one-hash replaces the earlier
# xxhash64(s, i) family: hashing each shingle STRING n_hashes times was
# the dominant cost, and higher-order transform() expressions evaluate
# interpreted (outside whole-stage codegen). min() aggregate columns
# over an exploded (doc, shingle-hash) relation stay fully codegen'd
# and get map-side partial aggregation for free.
_MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _perm(h: Column, i: int) -> Column:
    a = (2654435761 * (i + 1)) % _MINHASH_P
    b = (40503 * i + 1) % _MINHASH_P
    return F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MINHASH_P))


def _rolling_hash(c: Column) -> Column:
    """Portable polynomial hash of an (already-normalized) string:
    fold(chars, 0, (acc, ch) -> (acc*31 + codepoint) mod 2^31-1).
    Bit-for-bit reproducible in ANSI SQL (DuckDB list_reduce), unlike
    xxhash64 — used by the oracle-checked portable MinHash variant.
    """
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * F.lit(31) + F.ascii(ch), F.lit(_MINHASH_P)),
    )


def _shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int, portable: bool = False
) -> DataFrame:
    """Exploded (id, h) relation: one row per DISTINCT shingle, hashed
    to 64-bit. array_distinct before the explode gives set semantics in
    the same narrow stage — no dedup shuffle. The explode runs AFTER a
    repartition by id (callers), so shingle generation parallelizes
    even when the source arrives as one split.
    """
    hash_fn = _rolling_hash(F.col("__s")) if portable else F.xxhash64("__s")
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("__s")
    ).select(id_col, hash_fn.alias("__h"))


def shingle_table(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3, portable: bool = False
) -> DataFrame:
    """The at-rest (id, shingle-hash) relation: one row per DISTINCT
    shingle, hashed to 64-bit and pre-reduced mod P. At lake scale this
    is the table you materialize once per corpus partition — signatures,
    the LSH band index and exact-verify all derive from it without ever
    re-reading document text.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return _shingle_hashes(
        df.select(F.col(id_col), F.col(text_col)).repartition(n_parts),
        text_col,
        id_col,
        shingle_k,
        portable,
    ).withColumn("__hp", F.pmod(F.col("__h"), F.lit(_MINHASH_P)))


def _signatures(ex: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """(id, __nsh, minhash) over a shingle table: ONE grouped pass
    yields the signature AND the per-doc distinct shingle count (the
    Jaccard denominator) — no second aggregation."""
    aggs = [F.min(_perm(F.col("__hp"), i)).alias(f"__m{i}") for i in range(n_hashes)]
    return (
        ex.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__nsh"), *aggs)
        .select(
            id_col, "__nsh", F.array(*[f"__m{i}" for i in range(n_hashes)]).alias("minhash")
        )
    )


def _band_pairs(index: DataFrame, id_col: str, probe: DataFrame | None = None) -> DataFrame:
    """Canonical distinct (id_a < id_b) pairs sharing a band bucket of
    ``index`` (id, band_id, band_hash). Band rows carry KEYS ONLY
    through the join shuffle. Without ``probe`` it is a self-join under
    ``<``; with one, ``probe`` × ``index`` under ``!=``, oriented by
    least/greatest (a pair inside the probe is found from both sides)."""
    right = index.select("band_id", "band_hash", F.col(id_col).alias("__ib"))
    left = (index if probe is None else probe).select(
        "band_id", "band_hash", F.col(id_col).alias("__ia")
    )
    joined = left.join(right, ["band_id", "band_hash"])
    if probe is None:
        pairs = joined.filter(F.col("__ia") < F.col("__ib")).select(
            F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b")
        )
    else:
        pairs = joined.filter(F.col("__ia") != F.col("__ib")).select(
            F.least("__ia", "__ib").alias("id_a"), F.greatest("__ia", "__ib").alias("id_b")
        )
    return pairs.dropDuplicates(["id_a", "id_b"])


def _intersections(pairs: DataFrame, ex: DataFrame, id_col: str) -> DataFrame:
    """``pairs`` plus ``__ninter`` = |A∩B| over the hashed shingle
    relation ``ex``: a double join counted per pair, left-joined back
    so pairs sharing no shingle count 0 (64-bit hashes: collision-safe
    in practice)."""
    ea = ex.select(F.col(id_col).alias("id_a"), "__h")
    eb = ex.select(F.col(id_col).alias("id_b"), "__h")
    inter = (
        pairs.join(ea, "id_a")
        .join(eb, ["id_b", "__h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__ninter"))
    )
    return pairs.join(inter, ["id_a", "id_b"], "left").na.fill({"__ninter": 0})


def minhash_index(
    ex: DataFrame, id_col: str, n_hashes: int = 16, n_bands: int = 8
) -> DataFrame:
    """The at-rest LSH index over a shingle table: (id, __nsh, band_id,
    band_hash), n_bands rows per doc. Partition/bucket it by band_hash
    at rest and candidate lookups become co-located joins.
    """
    return lsh_bands(_signatures(ex, id_col, n_hashes), n_bands, n_hashes // n_bands).select(
        id_col, "__nsh", "band_id", "band_hash"
    )


def _verified_jaccard(
    pairs: DataFrame, ex: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs by relational set
    algebra on the hashed shingle relation ``ex``; ``sizes`` is
    (id, __nsh). |A∪B| = |A|+|B|−|A∩B|."""
    return (
        _intersections(pairs, ex, id_col)
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("__nsh").alias("__na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__nsh").alias("__nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("__ninter") / (F.col("__na") + F.col("__nb") - F.col("__ninter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dup_incremental(
    corpus_ex: DataFrame,
    corpus_index: DataFrame,
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    portable: bool = False,
    ex_new: DataFrame | None = None,
    idx_new: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of a NEW batch: against the indexed corpus AND within
    the batch — the continuous-ingestion path at 100 TB.

    ``corpus_ex`` / ``corpus_index`` are the at-rest relations built
    once by :func:`shingle_table` + :func:`minhash_index` (in practice
    read back from parquet). Only the new batch is shingled and signed
    here; the corpus is touched through the band-index join and the
    candidate verify — never re-hashed, never rescanned. Id spaces must
    be disjoint. Output matches the full-corpus run restricted to pairs
    touching a new id (asserted in tests), because the hash family and
    banding are deterministic. Callers that also PERSIST the batch's
    relations (minhash_gate_sink appends them to the at-rest segments)
    pass the prebuilt ``ex_new``/``idx_new`` so the batch is shingled
    once, not twice; the caller owns their pins, this kernel pins and
    releases only what it builds.
    """
    built = []
    if ex_new is None:
        ex_new = shingle_table(new_docs, text_col, id_col, shingle_k, portable).persist()
        built.append(ex_new)
    if idx_new is None:
        idx_new = minhash_index(ex_new, id_col, n_hashes, n_bands).persist()
        built.append(idx_new)
    pairs = _band_pairs(corpus_index.unionByName(idx_new), id_col, probe=idx_new)
    sizes = corpus_index.unionByName(idx_new).select(id_col, "__nsh").dropDuplicates([id_col])
    ex_all = corpus_ex.unionByName(ex_new)
    result = _verified_jaccard(pairs, ex_all, sizes, id_col, threshold)
    out = persist_fact(result)  # pair-output grain: keep lineage
    release(*built)
    return out


def minhash_dedup_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    portable: bool = False,
    ex: DataFrame | None = None,
) -> DataFrame:
    """Per-document keep/drop labels from verified MinHash near-dup
    pairs — the keep-first-by-id gate rule: doc d is dropped iff SOME
    d' < d verifies ``jaccard(d, d') ≥ threshold``. Deliberately
    NON-transitive (a dup-of-a-dropped-dup is dropped too): every doc
    — kept or dropped — stays in the comparison set, which is exactly
    what makes this the batch twin of the streaming
    ``minhash_gate_sink`` (the sink folds EVERY arriving doc into the
    at-rest index, so under its monotone-id contract the stream's
    labels equal this function over all docs folded — the pinned law).
    A transitive survivor-only rule would be an iterative greedy
    (order-dependent folding, not expressible as one relational pass).

    Plan: the pair machinery is :func:`minhash_near_dup_pairs`
    unchanged (banded candidates, exact verify — never all-pairs);
    labels are one distinct projection of the pairs' greater side and
    a left anti-ish join back to the id spine. Docs too short to
    shingle form no pairs and are kept.
    """
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, threshold, n_hashes, n_bands, shingle_k, portable, ex
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "__drop", F.lit(1)
    )
    return (
        df.select(id_col)
        .join(dropped, id_col, "left")
        .select(id_col, F.col("__drop").isNull().alias("keep"))
    )


def lsh_bands(df: DataFrame, n_bands: int = 8, rows_per_band: int = 4) -> DataFrame:
    """Explode the minhash signature into (band_id, band_hash) rows.

    Docs sharing any band bucket are candidate pairs. Output has
    n_bands rows per doc — the only row amplification in the pipeline.
    One compact loop expression (band hash = xxhash64 over the band's
    signature slice) so codegen stays small; callers should persist the
    signature column first or the whole minhash expression gets inlined
    n_bands × rows_per_band times.
    """
    band_expr = F.expr(
        f"explode(transform(sequence(0, {n_bands - 1}), "
        f"b -> struct(b AS band_id, "
        f"xxhash64(slice(minhash, b * {rows_per_band} + 1, {rows_per_band})) AS band_hash)))"
    )
    return df.withColumn("band", band_expr).select(
        "*", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    ).drop("band")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.try_divide(inter.cast("double"), union.cast("double"))


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    portable: bool = False,
    ex: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH, verified with exact Jaccard.

    ``ex`` accepts a prebuilt (at-rest) shingle relation from
    :func:`shingle_table` — the dominant text-hashing stage then
    becomes a parquet scan (plans/pair_graph.full_shingle_table).

    ``portable=True`` swaps xxhash64 shingle hashing for the rolling
    polynomial hash, making every intermediate value (signatures,
    candidates, Jaccard) reproducible in ANSI SQL — the oracle checks
    that variant value-for-value, which transitively validates the
    banding/verification pipeline the fast variant shares.

    Plan shape: map (signatures) → explode (bands) → shuffle on
    (band_id, band_hash) → bucket-local self-join → exact verify →
    distinct pairs. At 100 TB the shuffle key cardinality is ~n_docs ×
    n_bands; hot buckets (boilerplate dups) are bounded by AQE skew
    splitting.

    Defaults (16 hashes = 8 bands × 2 rows) put the S-curve's steep
    part near J≈0.35: candidate recall at J=0.5 is ~0.90 (vs ~0.40 for
    8×4) — false positives cost only a cheap verified join, missed
    candidates are unrecoverable.
    """
    # Distinct (id, shingle-hash) relation — persisted because it feeds
    # the signature aggregation AND the candidate-pair intersection
    # join. At lake scale this is the shingle table you'd materialize
    # at rest (shingle_table writes exactly this). Everything downstream
    # is codegen'd hash aggregates / hash joins — no array columns, no
    # collect_set (ObjectHashAggregate falls out of whole-stage codegen
    # and measured ~2× slower end-to-end).
    ex = (ex if ex is not None else shingle_table(df, text_col, id_col, shingle_k, portable)).persist()
    sig = _signatures(ex, id_col, n_hashes).persist()
    pairs = _band_pairs(
        lsh_bands(sig.select(id_col, "minhash"), n_bands, n_hashes // n_bands), id_col
    )
    result = _verified_jaccard(pairs, ex, sig.select(id_col, "__nsh"), id_col, threshold)
    # Materialize the (tiny: pairs-only) result eagerly, then free both
    # cached intermediates — otherwise repeated invocations in one
    # session (bench runs fast + portable back to back) accumulate
    # cached shingle/signature blocks in executor memory. At lake scale
    # the pair set would be written to a table here anyway.
    out = persist_fact(result)  # pair-output grain: keep lineage
    ex.unpersist()
    sig.unpersist()
    return out


def _hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, group_col: str, shingle_k: int
) -> DataFrame:
    """(group, __id, __sh, __n): each doc's distinct xxhash64'd shingles
    and their count, the base of the exact n-gram pair builders."""
    return df.select(
        F.col(group_col),
        F.col(id_col).alias("__id"),
        F.array_distinct(
            F.transform(shingles(text_col, shingle_k), lambda s: F.xxhash64(s))
        ).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))


def _set_pairs(
    sets: DataFrame, group_col: str, threshold: float, probe: DataFrame | None = None
) -> DataFrame:
    """(group, id_a, id_b, jaccard ≥ threshold) over hashed shingle sets
    of :func:`_hashed_shingle_sets`, paired within ``group_col``.
    Without ``probe`` it is a self-join under ``<``; with one, ``probe``
    × ``sets`` under ``!=``, oriented by least/greatest and deduped on
    the canonical key (a pair inside the probe is found from both
    sides). |A∪B| = |A|+|B|−|A∩B| from the precomputed sizes."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            group_col, F.col("__id").alias(f"__i{s}"), F.col("__sh").alias(f"sh_{s}"),
            F.col("__n").alias(f"n{s}"),
        )

    joined = side(sets if probe is None else probe, "a").join(side(sets, "b"), group_col)
    if probe is None:
        pairs = joined.filter(F.col("__ia") < F.col("__ib")).withColumnsRenamed(
            {"__ia": "id_a", "__ib": "id_b"}
        )
    else:
        pairs = (
            joined.filter(F.col("__ia") != F.col("__ib"))
            .withColumn("id_a", F.least("__ia", "__ib"))
            .withColumn("id_b", F.greatest("__ia", "__ib"))
            .dropDuplicates([group_col, "id_a", "id_b"])
        )
    inter = F.col("__inter").cast("double")
    union = (F.col("na") + F.col("nb") - F.col("__inter")).cast("double")
    return (
        pairs.withColumn("__inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(F.try_divide(inter, union), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(group_col, "id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, group_col: str, threshold: float = 0.0, shingle_k: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs within a blocking group.

    Blocking on ``group_col`` keeps the self-join linear in group size —
    the SQL-oracle-friendly exact counterpart of the LSH path.

    Three costs are shaved off the naive block join without changing
    the result: (1) shingles are xxhash64'd to longs once per document,
    so the per-pair intersection compares 64-bit ints instead of
    strings (measured 2.5×; collision-safe in practice — same trade as
    the MinHash pipeline, and the counts are what the Jaccard needs);
    (2) the distinct-hash relation is persisted BEFORE the self-join,
    so tokenize→hash→distinct runs once per document instead of being
    re-inlined into each join side (3-6× on a dup-heavy corpus);
    (3) the union size is derived as |A|+|B|−|A∩B| from precomputed
    distinct sizes, halving the per-pair array work (no array_union
    materialization). A min/max size-ratio prune was measured a net
    LOSS here (near-dup pairs have near-equal sizes — it prunes little
    and taxes every pair) and deliberately left out.
    """
    base = _hashed_shingle_sets(df, text_col, id_col, group_col, shingle_k).persist()
    # same cache discipline as minhash_near_dup_pairs: materialize the
    # (pairs-only) result, then free the shingle cache
    out = persist_fact(_set_pairs(base, group_col, threshold))  # pair-output grain: keep lineage
    base.unpersist()
    return out


def ngram_jaccard_pairs_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    threshold: float = 0.0,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact-Jaccard pairs TOUCHING a new batch: new×new plus
    new×corpus within the blocking group — the probe that maintains an
    at-rest pair graph without ever re-pairing corpus×corpus. Id
    spaces must be disjoint. Union with the corpus-only pair segment
    reproduces :func:`ngram_jaccard_pairs` over everything exactly
    (the full pair set partitions into corpus×corpus and
    touching-batch; pinned in tests), which is what lets the pair
    graph live as an append-segment snapshot table
    (plans/pair_graph.py): per ingest the cost is
    O(|batch| × block size), not O(corpus²-per-block).

    Same shaved costs as the batch builder: hashed shingles computed
    once per side, persisted before the join, union size from
    |A|+|B|−|A∩B|. Output is canonical (id_a < id_b) regardless of
    which side a pair member arrived on.
    """
    # only the batch side is referenced twice (probe side + its slice
    # of the b side); the corpus side streams through the join once
    new_b = _hashed_shingle_sets(new_docs, text_col, id_col, group_col, shingle_k).persist()
    all_b = _hashed_shingle_sets(
        corpus_docs, text_col, id_col, group_col, shingle_k
    ).unionByName(new_b)
    # pair-output grain: keep lineage
    out = persist_fact(_set_pairs(all_b, group_col, threshold, probe=new_b))
    new_b.unpersist()
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_bits: int = 16, portable: bool = False
) -> DataFrame:
    """(id, simhash) via bit-majority of per-token hashes.

    Formulated as explode(tokens) → xxhash64 → n_bits conditional-sum
    aggregate columns → bit reassembly. All codegen with map-side
    partial aggregation (the earlier per-row filter() over a token-hash
    array evaluated interpreted, n_bits passes per document).

    ``portable=True`` swaps xxhash64 for the rolling polynomial hash so
    the whole signature is reproducible in ANSI SQL (value-checked
    oracle), same trade as ``minhash_near_dup_pairs(portable=True)``.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    hash_fn = _rolling_hash(F.col("__t")) if portable else F.xxhash64("__t")
    tokens = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(n_parts)
        .select(
            id_col,
            F.explode(
                F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
            ).alias("__t"),
        )
        .select(id_col, hash_fn.alias("__h"))
    )
    bit_sums = [
        F.sum(F.when(F.col("__h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1).otherwise(0)).alias(f"__b{b}")
        for b in range(n_bits)
    ]
    agg = tokens.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_sums)
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"__b{b}") * 2 > F.col("__n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.select(id_col, sig.alias("simhash"))


def simhash_dup_groups(
    df: DataFrame, text_col: str, id_col: str, n_bits: int = 16, portable: bool = False
) -> DataFrame:
    """Groups of documents sharing a SimHash signature (near-dup sets)."""
    return (
        simhash_signatures(df, text_col, id_col, n_bits, portable)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------
def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    block_col: str | list[str] | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ τ; optional blocking column(s) bound the join.

    Without blocking this is the O(n²) exact baseline (fine for dim
    tables / small corpora). With ``block_col`` the self-join shuffles
    on the block key — but the SHAPE of the block key decides whether
    this survives 100 TB: a fixed-cardinality key (e.g. ``label``) makes
    each block O(n/L) rows and the within-block pair join O((n/L)²) —
    still quadratic, just divided by a constant. The scale path blocks
    on an LSH ``hyperplane_bucket`` (similarity.py) whose plane count
    grows with the corpus (n_planes ≈ log2(n / target_block)), keeping
    within-block pair counts ~constant per block; pass
    ``["label", "bucket"]`` to get labeled approximate near-dup at
    corpus-growth-bounded cost (a cos≥τ pair split across buckets is
    missed — the standard LSH recall trade, which the banded-MinHash
    family quantifies via ``minhash_scurve``).
    """
    block_cols = (
        [block_col] if isinstance(block_col, str) else list(block_col) if block_col else []
    )
    # (For large blocks, prefer embedding_near_dup_blocked — one numpy
    # matmul per block instead of n² interpreted dot products.)
    base = df.select(F.col(id_col), F.col(vec_col), *block_cols).withColumn("__nrm", norm(vec_col))
    # the kernel keeps id_b < id_a; these pairs are ordered id_a < id_b
    return _cos_pairs(base, base, vec_col, id_col, block_cols, "<", threshold).select(
        *block_cols, F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cos"
    )


def embedding_near_dup_blocked(
    df: DataFrame, vec_col: str, id_col: str, threshold: float, block_col: str | list[str]
) -> DataFrame:
    """Blocked pairwise-cosine near-dup via applyInPandas + numpy.

    The 100 TB path for embedding dedup: shuffle once on the block
    key(s) (an LSH bucket / IVF cell / label, or a combination), then
    ONE vectorized matmul per block computes every pairwise cosine —
    versus n² per-pair dot products. Arrow moves each block as columnar
    batches; memory is bounded by the largest block (keep blocks ≤
    ~10⁴ vectors: block on a ``hyperplane_bucket`` whose plane count
    grows with the corpus — n_planes ≈ log2(n / target_block) — not on
    a fixed-cardinality key alone, whose blocks grow O(n); split hot
    blocks upstream with a salt).

    Output matches embedding_near_dup_pairs up to float-summation
    order (numpy pairwise vs sequential), asserted in tests with 1e-9
    tolerance.
    """
    import numpy as np
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.stack(pdf[vec_col].map(np.asarray, na_action=None).to_list()).astype("float64")
        norms = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(pdf), k=1)
        keep = sims[iu] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[iu[0][keep]],
                "id_b": ids[iu[1][keep]],
                "cos": np.round(sims[iu][keep], 6),
            }
        )

    block_cols = [block_col] if isinstance(block_col, str) else list(block_col)
    out_schema = "id_a long, id_b long, cos double"
    return (
        df.select(*[F.col(c) for c in block_cols], F.col(id_col), F.col(vec_col))
        .groupBy(*block_cols)
        .applyInPandas(per_block, out_schema)
    )


# ---------------------------------------------------------------------------
# Connected components (duplicate-cluster assignment)
# ---------------------------------------------------------------------------
def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iters: int = 20,
) -> DataFrame:
    """Cluster assignment over the near-dup pair graph: every node gets
    the MINIMUM id reachable from it (canonical representative).

    The one genuinely iterative algorithm in the engine: min-label
    propagation WITH pointer jumping, a driver-side loop over fully
    distributed steps (each iteration = two joins + one aggregate;
    nothing but the convergence counter ever reaches the driver). Each
    round a node takes the min of its own label, its neighbors' labels,
    and its label's label — the shortcutting step doubles the distance
    a label travels per round, so iterations needed is O(log diameter)
    instead of O(diameter) (a 10⁶-long boilerplate dup chain converges
    in ~20 rounds, not 10⁶). ``localCheckpoint`` truncates the lineage
    so plan size stays constant across iterations.

    Raises ``RuntimeError`` if the loop exhausts ``max_iters`` with
    labels still moving — returning non-converged labels would silently
    break the documented "minimum reachable id" contract.

    ``pairs`` needs columns id_a/id_b; ``nodes`` one id column (also
    covers isolated docs, which become singleton clusters).
    """
    labels = nodes.select(F.col(id_col).alias("nid"), F.col(id_col).alias("label"))
    return _min_labels(labels, pairs, id_col, max_iters, "connected_components")


def _min_labels(
    labels: DataFrame, pairs: DataFrame, id_col: str, max_iters: int, op: str
) -> DataFrame:
    """The min-label propagation loop of both connected-components
    forms: from the seed ``labels`` (nid, label), iterate over the
    undirected ``pairs`` (id_a, id_b) until no label moves, each round
    taking the min of a node's label, its neighbours' labels and its
    label's label (pointer jumping). Returns (``id_col``, cluster_id);
    raises ``RuntimeError`` naming ``op`` after ``max_iters`` rounds
    with labels still moving."""
    # No distinct: duplicate edges cannot change a MIN aggregate, so
    # deduplicating here would spend a full shuffle of the edge list to
    # buy nothing (pair inputs are typically unique already).
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    edges.persist()
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.nid)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # pointer jump: my label's label. Labels are always ids of
        # same-component nodes, so the lookup stays within the cluster.
        jump = labels.select(F.col("nid").alias("jnid"), F.col("label").alias("jlabel"))
        # carry the previous label through the checkpoint so convergence
        # is a scan of the materialized frame, not an extra join+shuffle
        stepped = (
            labels.join(neighbor_min, labels.nid == neighbor_min.src, "left")
            .join(jump, labels.label == jump.jnid, "left")
            .select(
                "nid",
                F.col("label").alias("__prev"),
                F.least(
                    F.col("label"),
                    F.coalesce("nlabel", "label"),
                    F.coalesce("jlabel", "label"),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("label") != F.col("__prev")).count()
        labels = stepped.select("nid", "label")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"{op} did not converge within max_iters={max_iters}; "
            "labels were still changing — raise max_iters (rounds needed is "
            "~log2 of the largest component's diameter)"
        )
    return labels.select(F.col("nid").alias(id_col), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Semantic dedup (cluster-then-prune over the embedding space)
# ---------------------------------------------------------------------------
def semantic_dedup(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): the embedding space is clustered first, then
    WITHIN each cluster a vector is dropped when it has a
    cosine >= ``threshold`` neighbor with a lower id — keeping exactly
    one deterministic representative per semantic near-dup chain. (The
    paper keeps a random member per group; the lowest-id rule is the
    deterministic, engine-portable equivalent.)

    Plan: pairwise cosine is confined to the cluster self-join —
    shuffle on the cluster key, cost Σ|cluster|² instead of n², which
    is the entire point of clustering first. Norms are precomputed per
    row (n, not n², HOF evaluations), cosine is rounded to 6 decimals
    before the threshold so the verdict is bit-portable, and the
    dropped-id set (tiny relative to the corpus) flags keep/drop via
    one left join.

    Input must already carry ``cluster_col`` (e.g. from
    ``similarity.kmeans_assign`` or an IVF cell / LSH bucket).
    Output: (id, cluster, keep boolean) at input grain.

    The normed base relation is pinned (lazy DISK_ONLY): it feeds both
    self-join sides AND the final keep-flag join, and without the pin
    each use re-scans the embedding source and re-evaluates
    the norm HOF (measured 6 parquet scans for the one query). At lake
    scale this is the clustered-assignment relation you'd persist at
    rest anyway.
    """
    base = (
        emb.select(F.col(id_col), F.col(cluster_col), F.col(vec_col))
        .withColumn("__nrm", norm(vec_col))
    )
    base = pin_fact(base)  # corpus-grain: keep lineage
    dropped = (
        _cos_pairs(base, base, vec_col, id_col, [cluster_col], "<", threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return base.join(
        dropped.withColumn("__drop", F.lit(True)), id_col, "left"
    ).select(id_col, cluster_col, F.col("__drop").isNull().alias("keep"))


def minhash_candidate_recall(
    df: DataFrame,
    text_col: str,
    id_col: str,
    true_threshold: float = 0.35,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    portable: bool = True,
) -> DataFrame:
    """Candidate-generation recall audit for the MinHash-LSH banding —
    the eval you run BEFORE trusting the banded pipeline at 100 TB.

    Verified near-dup output always has precision 1 (false candidates
    die in the exact-Jaccard verify); what the banding can silently
    lose is RECALL — true pairs that never share a band are gone
    forever. This measures it: ground truth = ALL-pairs exact Jaccard
    >= ``true_threshold`` over the input, compared against the raw
    band-join candidate set (pre-verify).

    Ground truth is quadratic by nature, so run this on a
    deterministic AUDIT SAMPLE (e.g. ``doc_id % k == 0``), never the
    full corpus. Sampling is sound for this eval because banding is a
    per-document pure function: a pair is a candidate iff the two docs
    share a band, independent of every other doc, so the sample's
    recall estimates the population's.

    One row: n_true, n_candidates, n_tp, recall, candidate_precision.
    """
    ex = shingle_table(df, text_col, id_col, shingle_k, portable).persist()
    cand = _band_pairs(minhash_index(ex, id_col, n_hashes, n_bands), id_col).persist()
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nsh"))
    all_pairs = (
        sizes.select(F.col(id_col).alias("id_a"))
        .crossJoin(sizes.select(F.col(id_col).alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    true_pairs = _verified_jaccard(all_pairs, ex, sizes, id_col, true_threshold).persist()
    n_true = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_tp = true_pairs.join(cand, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("n_tp"))
    out = (
        n_true.crossJoin(n_cand)
        .crossJoin(n_tp)
        .select(
            "n_true",
            "n_candidates",
            "n_tp",
            F.round(F.try_divide(F.col("n_tp"), F.col("n_true")), 6).alias("recall"),
            F.round(F.try_divide(F.col("n_tp"), F.col("n_candidates")), 6).alias(
                "candidate_precision"
            ),
        )
        .localCheckpoint(eager=True)
    )
    ex.unpersist()
    cand.unpersist()
    true_pairs.unpersist()
    return out


def semantic_dedup_incremental(
    corpus_kept: DataFrame,
    new_assigned: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Continuous-ingestion SemDeDup: prune a NEW batch (already
    assigned to the at-rest cluster model by
    ``similarity.nearest_centroid_assign``) against the at-rest KEPT
    representatives and within itself.

    A new vector survives iff it has no cosine >= ``threshold``
    neighbor among (a) the kept reps of its cluster and (b) lower-id
    new vectors of its cluster. Matching only against REPS (not
    dropped corpus vectors) is the SemDeDup retention contract: reps
    are what remain of the corpus, so they are what duplicates must be
    measured against. The corpus is touched only through its kept-rep
    relation and the k·dim centroid model — never re-clustered, never
    rescanned; per-batch cost is |batch| x (cluster-local reps + new),
    the continuous-ingestion shape.

    ``corpus_kept``: (cluster, vec) of at-rest representatives;
    ``new_assigned``: (id, cluster, vec) of the batch. Output:
    (id, cluster, keep) at batch grain. The normed batch relation is
    pinned lazily (three consumers: both in-batch join sides
    and the final keep-flag join — same re-scan trap as
    ``semantic_dedup``).
    """
    nb = (
        new_assigned.select(F.col(id_col), F.col(cluster_col), F.col(vec_col))
        .withColumn("__nrm", norm(vec_col))
    )
    nb = pin_fact(nb)  # batch-doc grain (history-sized on backfill): keep lineage
    reps = corpus_kept.select(F.col(cluster_col), F.col(vec_col)).withColumn("__nrm", norm(vec_col))
    drop_rep = _cos_pairs(nb, reps, vec_col, id_col, [cluster_col], threshold=threshold)
    drop_new = _cos_pairs(nb, nb, vec_col, id_col, [cluster_col], "<", threshold)
    dropped = (
        drop_rep.select(F.col("id_a").alias(id_col))
        .distinct()
        .unionByName(drop_new.select(F.col("id_a").alias(id_col)).distinct())
        .distinct()
    )
    return nb.join(dropped.withColumn("__drop", F.lit(True)), id_col, "left").select(
        id_col, cluster_col, F.col("__drop").isNull().alias("keep")
    )


def span_dedup(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """Cross-document SPAN-level duplication: for every document, the
    fraction of its k-token windows (stride 1) that also occur in at
    least one OTHER document — the hash-windowed approximation of
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"). Doc-level near-dup
    misses a copied paragraph inside an otherwise-unique page; this is
    the operator that sees it.

    Plan: one narrow Generate (windows via the shared shingle
    transform), windows hashed to the portable rolling 64-bit family
    in the same stage — only (id, hash) rows ever shuffle, never
    window text. The occurrence relation is materialized once (it
    feeds the cross-doc distinct count AND the per-doc rollup), then
    two codegen hash aggregates + one hash join on the window hash.
    Cost is O(total tokens), the same class as shingling.

    Output per doc (docs with ≥ k tokens): (id, n_windows,
    n_dup_windows, dup_span_frac).
    """
    # window-grain, 2 independent consumers: eager pin, keep lineage
    rel = persist_fact(span_hash_table(df, text_col, id_col, k))
    flagged = (
        rel.groupBy("__h")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )
    return _span_report(rel, flagged, id_col)


def _span_report(rel: DataFrame, dup_h: DataFrame, id_col: str) -> DataFrame:
    """Per-doc rollup of the (id, __h) window relation ``rel`` against
    ``dup_h``, the duplicated window hashes (one ``__h`` column, no
    repeats): (id, n_windows, n_dup_windows, dup_span_frac)."""
    return (
        rel.join(dup_h.withColumn("__dup", F.lit(1)), "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("__dup", F.lit(0))).alias("n_dup_windows"),
            F.round(
                F.sum(F.coalesce("__dup", F.lit(0))) / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_span_frac"),
        )
    )


def suffix_dedup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
    max_tokens: int = 4096,
) -> DataFrame:
    """EXACT maximal duplicated-substring spans — the suffix-array
    substring dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") re-expressed as a prefix-group
    plan: two corpus suffixes share an L-token prefix exactly when the
    same L-token window occurs at both positions, so grouping the
    corpus's L-token windows BY CONTENT is the suffix array's
    first-L-tokens bucket sort, and every repeated substring of length
    M ≥ L is a run of M − L + 1 repeated windows that the per-doc
    interval merge reassembles into one maximal [start, end) span.
    :func:`span_dedup` approximates this with window-hash FRACTIONS
    per doc; this operator emits the spans themselves — the removal
    mask (union of repeated regions, so overlapping distinct repeats
    merge — the Lee et al. removal semantics, not a claim that the
    merged span is verbatim-repeated as a whole).

    Duplication is cross-document (a window occurring in ≥ 2 distinct
    docs), matching span_dedup's rule, and judged on the window TEXT —
    exact, no hash-collision false positives (the agreement audit
    measures the raw hash channel against this truth; its 2 measured
    collisions at sf0.01 are what make the verify arm load-bearing).

    Plan (r14 re-key — the at-rest/shuffle key is a HASH, never text):
    one narrow Generate (positions via posexplode over the shared
    shingle transform — same normalization as every text operator)
    hashed in-stage to (id, pos, h); a hash-keyed candidate reduction
    (h in ≥ 2 distinct docs — a superset of true duplicates, never a
    miss); then the POSITIONAL VERIFY arm: candidate window text is
    re-extracted from the doc relation by (id, pos) slice and true
    duplicates are confirmed on (h, text) within candidate groups —
    window content exists only transiently inside the verify stage,
    bounded to candidates, and never lands at rest or keys a full-
    corpus shuffle (at 100 TB the old text-keyed form was ~8x corpus
    bytes at rest; this is 8 bytes a window). Finally a per-DOC
    gaps-and-islands window. Per-doc work is safe because the doc is
    the bounded key: the ``max_tokens`` fail-stop guard (the
    edit_distance_join max_len discipline) refuses documents that
    would break that bound instead of silently single-tasking them.

    Output: (id, span_start, span_end, span_len) — token offsets,
    0-based, end-exclusive; docs with no repeated window emit no rows.
    """
    hits = suffix_dup_hits(df, text_col, id_col, min_tokens, max_tokens)
    return _merge_window_islands(hits, id_col, min_tokens)


def suffix_dup_hits(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
    max_tokens: int = 4096,
) -> DataFrame:
    """(id, pos) of every VERIFIED cross-document duplicated L-token
    window position — the pre-merge hit relation behind
    :func:`suffix_dedup_spans` (which folds it into maximal spans) and
    the exact channel of the agreement audit (which counts it
    directly: counting positions here, not merged-span lengths, is
    what makes 'exact ≤ hash' a theorem rather than data-dependent —
    merged islands include gap positions that are not themselves
    duplicated, ADVICE r13)."""
    win = suffix_window_table(df, text_col, id_col, min_tokens, max_tokens)
    win = persist_fact(win)  # window-grain: candidate reduce + semi-join are independent stages — eager (lazy pin races, duplicating the window build)
    cand_h = (
        win.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )
    cand = win.join(cand_h, "__h", "left_semi")
    wrows = _extract_windows(df, cand, text_col, id_col, min_tokens)
    wrows = persist_fact(wrows)  # candidate grain: verify agg + join back (independent — eager)
    verified = (
        wrows.groupBy("__h", "__w")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h", "__w")
    )
    return wrows.join(verified, ["__h", "__w"], "left_semi").select(id_col, "pos")


def intra_doc_repeat_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
    max_tokens: int = 4096,
) -> DataFrame:
    """EXACT WITHIN-document repeated-substring spans, keep-first —
    the self-repetition scrub (degenerate generation loops, boiler-
    plate chains pasted twice into one page): an L-token window
    occurring ≥ 2 times in the SAME document marks every occurrence
    AFTER the first (positions ordered ascending) for removal; the
    kept first occurrence preserves one copy of the repeated content,
    which is the within-doc analogue of the cross-document family's
    keep-one posture (:func:`suffix_dedup_spans` masks cross-doc
    repeats regardless of position — the two masks compose by
    unioning span rows into :func:`apply_span_mask`).

    Plan: the same hash-only window spine (:func:`suffix_window_table`
    — (id, pos, hash), never text at rest), candidates = hashes with
    ≥ 2 occurrences within a doc (a (id, hash) count, map-side
    combinable), the shared positional verify arm re-slices candidate
    text and confirms on (id, hash, text), then a per-(id, text)
    min-pos window drops the first occurrence from the hit set and the
    shared per-doc island merge emits maximal spans. All windows are
    per-doc (bounded by the ``max_tokens`` fail-stop), so every stage
    keys on the doc id — no cross-doc shuffle at all.

    Output: (id, span_start, span_end, span_len) — positions of
    REPEATED (non-first) occurrences only; docs with no within-doc
    repeat emit no rows.
    """
    from pyspark.sql import Window

    win = suffix_window_table(df, text_col, id_col, min_tokens, max_tokens)
    win = persist_fact(win)  # window grain: candidate count + semi-join are independent — eager
    cand_h = (
        win.groupBy(id_col, "__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(id_col, "__h")
    )
    cand = win.join(cand_h, [id_col, "__h"], "left_semi")
    wrows = _extract_windows(df, cand, text_col, id_col, min_tokens)
    w = Window.partitionBy(id_col, "__w")
    hits = (
        wrows.withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__first", F.min("pos").over(w))
        .filter((F.col("__n") >= 2) & (F.col("pos") > F.col("__first")))
        .select(id_col, "pos")
    )
    return _merge_window_islands(hits, id_col, min_tokens)


def suffix_window_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
    max_tokens: int = 4096,
) -> DataFrame:
    """The at-rest relation behind the exact substring-dedup family:
    (id, pos, __h) — every L-token window position with the xxhash64
    of its content (position 0-based), NEVER the content itself (r14
    re-key, r13 verdict item 1: the text-keyed form was ~8x corpus
    bytes at rest and full-text shuffle keys in every probe). At lake
    scale you materialize this once per corpus partition; the batch
    audit and the incremental probe both read it instead of
    re-tokenizing text, and exactness comes from the shared positional
    verify arm (:func:`_extract_windows`) that re-slices candidate
    window text from the doc relation — the 64-bit space still
    collides at 100 TB window counts (birthday), so the verify arm is
    load-bearing, not belt-and-braces."""
    from ..functions.text import shingles

    guard = F.assert_true(
        F.col("pos") <= F.lit(int(max_tokens) - int(min_tokens)),
        F.lit(
            f"suffix_window_table: document exceeds max_tokens={max_tokens} — "
            "chunk it first (doc_chunks) or raise the cap deliberately"
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(shingles(text_col, min_tokens)).alias("pos", "__w")
    ).select(
        id_col,
        F.when(guard.isNull(), F.col("pos")).alias("pos"),
        F.xxhash64("__w").alias("__h"),
    )


def _extract_windows(
    docs: DataFrame,
    cand: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int,
) -> DataFrame:
    """The POSITIONAL VERIFY arm shared by the suffix family: given
    candidate window positions (id, pos, __h), re-extract each
    window's text from the doc relation by slicing the normalized
    token stream at pos — (id, pos, __h, __w). One doc-grain join and
    one tokenize pass over CANDIDATE DOCS only (positions fold to an
    array per doc first, so each doc's text is scanned once, not once
    per window); window content exists only inside this stage.

    The candidate join runs on the RAW text column and the tokenize
    projection sits ABOVE it (r15): with the projection below the
    join, the split/normalize expression was evaluated for EVERY doc
    before the inner join dropped the non-candidates — Catalyst never
    hoists an expensive projection past a join on its own, so the
    code order is what decides whether the verify arm tokenizes the
    corpus or just the candidate docs."""
    per_doc = cand.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("pos"), F.col("__h"))).alias("__cs")
    )
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    return (
        docs.select(F.col(id_col), F.col(text_col))
        .join(per_doc, id_col)
        .select(F.col(id_col), toks.alias("__toks"), F.col("__cs"))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    "__cs",
                    lambda c: F.struct(
                        c["pos"].alias("pos"),
                        c["__h"].alias("__h"),
                        F.array_join(
                            F.slice(
                                F.col("__toks"),
                                c["pos"] + F.lit(1),
                                F.lit(int(min_tokens)),
                            ),
                            " ",
                        ).alias("__w"),
                    ),
                )
            ).alias("__e"),
        )
        .select(id_col, F.col("__e.pos").alias("pos"), F.col("__e.__h").alias("__h"), F.col("__e.__w").alias("__w"))
    )


def suffix_dedup_spans_incremental(
    corpus_windows: DataFrame,
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
    max_tokens: int = 4096,
    win_new: DataFrame | None = None,
    corpus_docs: DataFrame | None = None,
    bloom_m_bits: int | None = None,
) -> DataFrame:
    """Exact substring-dedup spans of a NEW batch against the at-rest
    corpus window index AND within the batch — the continuous-ingestion
    member of the suffix family (the minhash_incremental pattern).
    ``corpus_windows`` is the at-rest :func:`suffix_window_table`
    output — (id, pos, hash), 8 bytes a window, never text (r14
    re-key); ``corpus_docs`` is the doc relation the positional verify
    arm re-slices CANDIDATE corpus windows from (the raw corpus is
    at rest in any lake — the verify touches only docs holding a
    hash-matched window, by (id, pos), partition-prunable).

    EXACTNESS: for a batch doc d, a window is duplicated in the full
    union run iff ≥ 2 distinct docs contain it; that is exactly
    "some corpus doc has it, OR another batch doc has it" — so the
    output equals :func:`suffix_dedup_spans` over (corpus ∪ batch)
    RESTRICTED to batch ids, bit for bit (the registry oracle runs the
    full-union SQL with that restriction — a per-round differential
    check). Hash matches are candidates only: both the corpus arm and
    the within-batch arm confirm on re-extracted (hash, text) before a
    position counts, so a 64-bit collision can never flag a span.
    Corpus docs' own spans can grow when the batch repeats
    their text; those belong to a corpus-side refresh, not the batch
    gate, exactly as minhash_near_dup_incremental scopes its output to
    pairs touching a new id.

    Scale: only the batch is tokenized in full; the corpus contributes
    one distinct-hash projection to the candidate semi-join plus a
    bounded positional re-slice of hash-matched windows.
    ``win_new`` accepts the batch's prebuilt window relation so a
    caller that also PERSISTS it (suffix_span_sink appends it to the
    at-rest segments) tokenizes once. ``bloom_m_bits`` arms the
    explicit bloom prune (operators/bloom.py): a bitset over the
    BATCH's window hashes — tiny, broadcast — drops non-matching
    corpus windows BEFORE the candidate semi-join's shuffle; no false
    negatives, false positives die in the semi-join, so the output is
    bit-identical with pruning on or off (pinned test) while the
    corpus-side shuffle shrinks to near the true match volume.
    """
    return _suffix_spans_pinned(
        corpus_windows, new_docs, text_col, id_col, min_tokens, max_tokens,
        win_new, corpus_docs, bloom_m_bits,
    )[0]


def _suffix_spans_pinned(
    corpus_windows: DataFrame,
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int,
    max_tokens: int,
    win_new: DataFrame | None,
    corpus_docs: DataFrame | None,
    bloom_m_bits: int | None,
) -> tuple[DataFrame, list[DataFrame]]:
    """:func:`suffix_dedup_spans_incremental`'s spans plus the frames it
    pinned to build them. The spans are lazy and read those pins, so a
    caller releases them (``persistence.release``) once the spans are
    consumed; ``suffix_span_sink`` does so after each epoch's append."""
    if corpus_docs is None:
        raise ValueError(
            "suffix_dedup_spans_incremental: corpus_docs is required — the "
            "at-rest window relation is hash-keyed (r14) and the exactness "
            "verify arm re-extracts candidate window text from the doc "
            "relation positionally"
        )
    pins = []
    if win_new is None:
        win_new = suffix_window_table(new_docs, text_col, id_col, min_tokens, max_tokens)
        win_new = persist_fact(win_new)  # batch-window grain: reused thrice by independent stages — eager
        pins.append(win_new)
    if bloom_m_bits:
        from .bloom import bloom_prune, build_bloom

        bl = build_bloom(win_new.select("__h"), "__h", bloom_m_bits)
        corpus_windows = bloom_prune(corpus_windows, "__h", bl, bloom_m_bits)
    # candidate hashes: matched in the corpus, or multi-doc within batch
    matched_h = (
        win_new.join(corpus_windows.select("__h"), "__h", "left_semi")
        .select("__h")
        .distinct()
    )
    batch_multi_h = (
        win_new.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nb"))
        .filter(F.col("__nb") >= 2)
        .select("__h")
    )
    cand_h = matched_h.unionByName(batch_multi_h).distinct()
    cand_new = win_new.join(cand_h, "__h", "left_semi")
    batch_w = persist_fact(
        _extract_windows(new_docs, cand_new, text_col, id_col, min_tokens)
    )  # candidate grain: corpus-verify join + within-batch agg + output (independent — eager)
    pins.append(batch_w)
    # verify arm, corpus side: re-slice ONLY hash-matched corpus windows
    cand_corpus = corpus_windows.join(matched_h, "__h", "left_semi")
    corpus_hw = (
        _extract_windows(corpus_docs, cand_corpus, text_col, id_col, min_tokens)
        .select("__h", "__w")
        .distinct()
    )
    # verify arm, batch side: text in >= 2 distinct batch docs
    batch_multi_hw = (
        batch_w.groupBy("__h", "__w")
        .agg(F.count_distinct(F.col(id_col)).alias("__nb"))
        .filter(F.col("__nb") >= 2)
        .select("__h", "__w")
    )
    dup_hw = corpus_hw.unionByName(batch_multi_hw).distinct()
    hits = batch_w.join(dup_hw, ["__h", "__w"], "left_semi").select(id_col, "pos")
    return _merge_window_islands(hits, id_col, min_tokens), pins


def eval_span_contamination(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
    max_tokens: int = 4096,
    bloom_m_bits: int | None = None,
) -> DataFrame:
    """Span-grain DECONTAMINATION audit: for each training document,
    the maximal token spans covered by L-token windows that occur
    VERBATIM anywhere in the eval set — the substring-exact
    counterpart of the doc-grain n-gram ``contamination_check``
    (which scores overlap fractions through a bloom-pruned join) and
    the third producer of :func:`apply_span_mask`'s removal-mask
    shape: scrubbing these spans decontaminates the training doc
    instead of dropping it (the Lee et al. removal posture applied to
    train/eval leakage).

    Plan (r14 re-key): the eval side reduces to ONE distinct
    (hash, window) projection — the eval set is the small, fixed
    relation (the same asymmetry contamination_check exploits), so it
    alone carries text. The train side is the linear hash-only window
    Generate (:func:`suffix_window_table` — 8 bytes a window, the
    relation you keep at rest); a hash semi-join narrows train windows
    to candidates, the shared positional verify arm re-slices their
    text from the train docs, and the (hash, text) semi-join against
    the eval projection confirms — a 64-bit collision can never flag a
    span. Then the shared per-doc island merge. ``bloom_m_bits`` arms
    the explicit bloom prune (operators/bloom.py): a bitset over the
    eval hashes — tiny, broadcast — drops non-matching train windows
    BEFORE the semi-join's shuffle; no false negatives, false
    positives die in the semi-join, so the output is bit-identical
    with pruning on or off (pinned test) — the lake-scale arm the
    contamination_check gate already runs.

    Output: (id, span_start, span_end, span_len) over TRAIN docs —
    docs with no eval-verbatim window emit no rows.
    """
    from ..functions.text import shingles

    win_train = suffix_window_table(
        train_docs, text_col, id_col, min_tokens, max_tokens
    )
    eval_hw = (
        eval_docs.select(F.explode(shingles(text_col, min_tokens)).alias("__w"))
        .distinct()
        .select(F.xxhash64("__w").alias("__h"), F.col("__w"))
    )
    eval_hw = pin_fact(eval_hw)  # eval grain: hash semi-join + verify join
    if bloom_m_bits:
        from .bloom import bloom_prune, build_bloom

        bl = build_bloom(eval_hw.select("__h"), "__h", bloom_m_bits)
        win_train = bloom_prune(win_train, "__h", bl, bloom_m_bits)
    cand = win_train.join(eval_hw.select("__h"), "__h", "left_semi")
    train_w = _extract_windows(train_docs, cand, text_col, id_col, min_tokens)
    hits = train_w.join(eval_hw, ["__h", "__w"], "left_semi").select(id_col, "pos")
    return _merge_window_islands(hits, id_col, min_tokens)


def apply_span_mask(
    docs: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Apply a token-span REMOVAL MASK to documents — the transform
    half consuming :func:`suffix_dedup_spans`' (or the streaming
    sink's appended) (id, span_start, span_end) rows: every token
    whose 0-based position falls in a masked [start, end) range is
    dropped and the survivors re-join in order. The exact-channel
    sibling of :func:`span_scrub` (which detects AND removes on the
    hash channel in one pass); splitting detect from remove is what
    lets the mask come from ANY producer — the batch op, the
    incremental fold, or the at-rest segments the streaming sink
    maintains.

    Output per input doc: (id, n_tokens, n_removed, scrubbed_text) —
    ``scrubbed_text`` is over the NORMALIZED token stream (lowercased,
    whitespace-collapsed: the stream the mask positions refer to).
    Docs with no mask rows pass through intact (n_removed 0).

    Plan: the mask folds to one array column per doc (collect_list of
    span structs — spans per doc are few by construction, the islands
    are merged maximal intervals), broadcast-friendly join back, then
    pure column algebra: an indexed transform + a nested exists()
    filter — no explode of the token stream, no shuffle beyond the
    mask join and its grouping.
    """
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    mask = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("__sps")
    )
    base = docs.select(F.col(id_col), toks.alias("__toks")).join(mask, id_col, "left")
    indexed = F.transform(
        "__toks", lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i"))
    )
    covered = lambda x: F.exists(  # noqa: E731
        F.coalesce("__sps", F.array().cast("array<struct<s:long,e:long>>")),
        lambda sp: (x["i"] >= sp["s"]) & (x["i"] < sp["e"]),
    )
    kept = F.filter(indexed, lambda x: ~covered(x))
    return base.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, lambda x: x["t"]), " ").alias("scrubbed_text"),
    )


def _merge_window_islands(hits: DataFrame, id_col: str, min_tokens: int) -> DataFrame:
    """Per-doc gaps-and-islands merge of duplicated window positions
    into maximal [start, end) token spans — shared by the batch and
    incremental suffix-dedup operators. Per-doc windows are safe: the
    doc is the bounded key (the max_tokens guard upstream)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    islanded = hits.withColumn(
        "__brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + F.lit(int(min_tokens))),
            1,
        ).otherwise(0),
    ).withColumn("__island", F.sum("__brk").over(w))
    return (
        islanded.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(int(min_tokens))).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).cast("long").alias("span_len"),
        )
    )


def connected_components_incremental(
    labels_at_rest: DataFrame,
    new_nodes: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    max_iters: int = 20,
) -> DataFrame:
    """Maintain the at-rest cluster assignment when a batch arrives:
    seed label propagation with the EXISTING labels (id, cluster_id)
    plus the new nodes self-labeled, then converge over only the new
    edges plus the implicit old equivalences.

    Key property: the at-rest labels are a COMPRESSED form of the old
    graph — each node's (id, cluster_id) row is a star edge to its
    component's canonical minimum, and stars preserve connectivity
    exactly. So the old edge list is never re-read: propagation runs
    over new_edges ∪ star(labels), |new_edges| + |labels| rows, and a
    new edge that splices two old components drags BOTH stars to the
    joint minimum in O(log diameter) pointer-jumping rounds — instead
    of re-running CC over the full corpus graph (the
    continuous-ingestion complement of minhash_near_dup_incremental,
    whose output pairs are exactly ``new_edges``).

    Note cluster ids stay canonical (component minimum over ALL
    members old and new) — asserted equal to a full recompute in
    tests.
    """
    seeds = labels_at_rest.select(F.col(id_col).alias("nid"), F.col("cluster_id").alias("label"))
    # seed nodes = new_nodes ∪ new_edges endpoints: an endpoint that is
    # in neither labels_at_rest nor new_nodes (caller under-reported the
    # batch) would otherwise vanish from the output and sever
    # connectivity through it (ADVICE r3) — deriving seeds from the
    # edges themselves makes the caller contract self-healing
    edge_nodes = new_edges.select(F.col("id_a").alias("nid")).unionByName(
        new_edges.select(F.col("id_b").alias("nid"))
    )
    fresh = (
        new_nodes.select(F.col(id_col).alias("nid"))
        .unionByName(edge_nodes)
        .distinct()
        .join(seeds.select("nid"), "nid", "left_anti")
        .select("nid", F.col("nid").alias("label"))
    )
    labels = seeds.unionByName(fresh)
    # star edges from the at-rest labels: connectivity-equivalent to
    # the old edge list (self-loops where id == cluster_id are inert)
    star = labels_at_rest.select(
        F.col(id_col).alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    all_pairs = new_edges.select("id_a", "id_b").unionByName(star)
    return _min_labels(labels, all_pairs, id_col, max_iters, "connected_components_incremental")


def simhash_near_dup_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
    portable: bool = True,
) -> DataFrame:
    """New-batch SimHash probe against the AT-REST corpus signature
    table — the SimHash member of the incremental-dedup family
    (exact: fingerprint+bloom; MinHash: band index; semantic: centroid
    model; here: banded signature index).

    The classic SimHash index trick: split the n_bits signature into
    ``n_bands`` equal bands; by pigeonhole, two signatures within
    Hamming distance ``n_bands - 1`` share at least one unchanged
    band, so the candidate join is an equi-join on (band, band_value)
    — keys only, no quadratic term — and the exact popcount
    (bit_count of XOR) runs on candidates alone. ``max_hamming`` must
    be < n_bands for zero false negatives (asserted). The corpus side
    is the materialized (id, simhash) relation — new batches never
    re-hash the corpus.

    Output: one row per NEW doc — candidate count, near-dup count,
    min Hamming distance and first (lowest-id) near-dup, nulls when
    the probe finds nothing.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming for the "
            f"banded index to be exact (got n_bands={n_bands})"
        )
    if n_bits % n_bands != 0:
        raise ValueError(
            f"n_bits={n_bits} must divide evenly into n_bands={n_bands} bands "
            "(a truncated band would silently weaken the pigeonhole guarantee)"
        )
    band_width = n_bits // n_bands
    mask = (1 << band_width) - 1

    def banded(sigs: DataFrame, idc: str) -> DataFrame:
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * band_width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_bands)
            ]
        )
        return sigs.select(F.col(idc), F.col("simhash"), F.explode(bands).alias("bv")).select(
            idc, "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
        )

    new_sigs = pin_fact(
        simhash_signatures(new_df, text_col, id_col, n_bits, portable)
    )  # batch-doc grain: keep lineage
    nb = banded(new_sigs.select(F.col(id_col), "simhash"), id_col)
    cb = banded(
        corpus_sigs.select(F.col(id_col).alias("corpus_id"), F.col("simhash").alias("c_sig"))
        .withColumnRenamed("c_sig", "simhash"),
        "corpus_id",
    ).withColumnRenamed("simhash", "c_sig")
    cand = (
        nb.join(cb, ["band", "val"])
        .select(id_col, "simhash", "corpus_id", "c_sig")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("simhash").bitwiseXOR(F.col("c_sig"))))
    )
    per_new = cand.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("hamming") <= max_hamming, 1).otherwise(0)).alias("n_near"),
        F.min(F.when(F.col("hamming") <= max_hamming, F.col("hamming"))).alias("min_hamming"),
        F.min(F.when(F.col("hamming") <= max_hamming, F.col("corpus_id"))).alias("first_near"),
    )
    return (
        new_sigs.select(id_col)
        .join(per_new, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            F.col("min_hamming").cast("int").alias("min_hamming"),
            F.col("first_near").cast("long").alias("first_near"),
        )
    )


def span_hash_table(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """The at-rest (id, window-hash) relation behind span-level dedup:
    every k-token window (stride 1), hashed with the portable rolling
    family — the substring-dedup sibling of :func:`shingle_table`.
    Materialize once per corpus snapshot; incremental probes and the
    batch span report both derive from it without re-reading text."""
    return (
        df.select(F.col(id_col), F.explode(shingles(text_col, k)).alias("__w"))
        .select(F.col(id_col), _rolling_hash(F.col("__w")).alias("__h"))
    )


def span_dedup_incremental(
    new_df: DataFrame,
    corpus_spans: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Span-level member of the incremental-dedup family: for each NEW
    doc, the fraction of its k-token windows already present in the
    AT-REST corpus window-hash index — catches a copied paragraph from
    the existing corpus without re-hashing the corpus. The probe
    shuffles (id, hash) pairs of the BATCH only; the corpus side is a
    distinct-hash scan of the materialized relation.

    Output per new doc with ≥ k tokens: (id, n_windows,
    n_dup_windows, dup_span_frac) — same shape as :func:`span_dedup`
    so downstream curation thresholds apply unchanged.
    """
    new_rel = pin_fact(span_hash_table(new_df, text_col, id_col, k))  # batch-doc grain
    return _span_report(new_rel, corpus_spans.select("__h").distinct(), id_col)


def span_scrub(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """Cross-document span REMOVAL — the transform half of span_dedup
    (detect → remove, Lee et al. 2021): every token covered by at
    least one k-token window that occurs in ≥ 2 documents is dropped,
    and the survivors are re-joined in order. Returns one row per
    input document: (id, n_tokens, n_kept, scrubbed_text) — documents
    shorter than k tokens, or with nothing duplicated, pass through
    intact; a fully-boilerplate document comes back empty (its row
    survives, the curation filter downstream decides its fate).

    Plan: windows are generated WITH their 1-based position and hashed
    to the portable rolling family in the projection stage (only
    (id, wpos, hash) rows shuffle, never window text); the window
    relation is materialized once (it feeds the cross-doc flag AND the
    duplicated-window probe — span_dedup's discipline); coverage
    explodes each duplicated window into its k token positions
    (O(dup_windows × k), bounded by total tokens); the kept-token
    reconstruction is one anti-join plus a per-doc ordered fold
    (array_sort over (pos, token) structs — collect_list order never
    matters). Everything is column algebra; O(total tokens) end to
    end, the same class as shingling.
    """
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    idx = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    wstruct = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("wpos"), F.array_join(F.slice("__toks", i, k), " ").alias("w")
        ),
    )
    win = (
        base.select(F.col(id_col), F.explode(wstruct).alias("__ws"))
        .select(
            F.col(id_col),
            F.col("__ws.wpos").alias("wpos"),
            _rolling_hash(F.col("__ws.w")).alias("__h"),
        )
    )
    win = persist_fact(win)  # window-grain, independent consumers: eager pin, keep lineage
    flagged = (
        win.groupBy("__h")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )
    covered = (
        win.join(flagged, "__h", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tok = base.select(
        F.col(id_col), F.posexplode("__toks").alias("__p0", "__tk")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), F.col("__tk"))
    kept = tok.join(covered, [id_col, "pos"], "left_anti")
    kept_agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__tk"))),
                lambda s: s["__tk"],
            ),
            " ",
        ).alias("__scrubbed"),
    )
    return (
        base.select(F.col(id_col), n.alias("n_tokens"))
        .join(kept_agg, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("__n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("__scrubbed"), F.lit("")).alias("scrubbed_text"),
        )
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_k: int = 2,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    SSJoin/PPJoin candidate scheme): every unordered pair of documents
    whose distinct ``shingle_k``-gram sets have Jaccard ≥ ``threshold``
    — no bands, no probability of a miss, no blocking key. The exact
    complement to MinHash-LSH (probabilistic) and the source-blocked
    ``ngram_jaccard_pairs`` (heuristic blocking): this is what a
    curation pipeline runs when a miss is not acceptable (license
    scrubbing, eval-set contamination).

    Prefix-filtering theorem: order every document's gram set by ONE
    global total order and keep only its first s - ⌈t·s⌉ + 1 grams
    (s = set size); any pair with J ≥ t MUST share a prefix gram, so
    joining on prefix grams alone is lossless. The global order here
    is (document frequency asc, gram asc) — rarest first — which also
    makes it maximally selective: candidate volume is bounded by the
    df of RARE grams, not the corpus.

    Plan shape — DEDUPE-FIRST, then prefix-join the distinct sets:

    1. one corpus scan → per-doc xxhash64 of each gram INSIDE the
       shingle transform → explode an array of LONGS, so only
       (doc, gram_hash) longs ever materialize or shuffle, never gram
       text (the minhash shingling discipline; standard caveat: a
       2^-64 collision could merge two grams);
    2. docs collapse to DISTINCT GRAM SETS (set fingerprint = hash of
       the sorted gram-hash array): on a duplicate-heavy corpus — the
       exact regime an exact join is run in — the quadratic candidate
       work shrinks from corpus² to distinct-sets², while identical
       docs pair up directly (J = 1 by definition, no verification).
       Measured at the 30× replica (every text a 30-way verbatim
       duplicate): the doc-grain join DID NOT FINISH in 9 minutes;
       this form is bounded by the 1× join plus the output expansion;
    3. candidates: self-join on each distinct set's RAREST
       s−⌈t·s⌉+1 grams only (df asc, gram asc order — the prefix
       filter is lossless for any consistent total order),
       length-filtered (t·sa ≤ sb, the PPJoin size bound) BEFORE the
       pair distinct;
    4. verification: array_intersect on the two sets' (≤ set-size)
       long arrays — set-pair grain, no second fact shuffle; the
       threshold test cross-multiplies integers (10·|∩| ≥
       10t·(sa+sb−|∩|)), so floats appear only in the reported
       jaccard (one exact division);
    5. expansion back to doc pairs is two joins on the set
       fingerprint — linear in the OUTPUT, which is the size of the
       answer itself (no algorithm beats it).
    """
    t_num, t_den = int(round(threshold * 10)), 10
    # hash INSIDE the per-doc transform so the Generate explodes an
    # array of LONGS, never gram strings (the minhash discipline —
    # measured 1.9x on the gram stage: a string explode materializes
    # every gram text per output row before the hash can run). The
    # grams are already normalized by shingles(), so xxhash64 directly
    # equals fingerprint64 (its re-normalization is idempotent here).
    grams = (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(shingles(text_col, k=shingle_k), lambda s: F.xxhash64(s))
            ).alias("g"),
        )
        .distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        grams.join(dfreq, "g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__df", "g"))).alias("__arr"))
        .select(
            F.col(id_col),
            F.transform("__arr", lambda s: s["g"]).alias("__grams"),
            F.size("__arr").alias("__s"),
        )
    )
    # collapse to distinct gram sets; members carry (fp, doc_id) only
    members = per_doc.select(
        F.col(id_col),
        fingerprint64(F.concat_ws(",", F.transform("__grams", lambda g: g.cast("string")))).alias("__fp"),
        F.col("__s"),
        F.col("__grams"),
    )
    # doc-grain (fact) frame consumed by sets + both expansions:
    # persist_fact (EAGER), NOT localCheckpoint — lineage must survive
    # executor loss at 100 TB (persistence.py grain rule). Eager, not
    # the lazy pin: the consumers (set reduction, identical-pair join
    # sides, both expansions) are INDEPENDENT stages that race to
    # materialize a lazy cache and each recompute it (measured 4.3 →
    # 15.3 s with a lazy pin, r14 opt round — the one-job rule only
    # helps when consumption is sequential).
    members = persist_fact(members)
    sets = (
        members.groupBy("__fp")
        .agg(
            F.min_by("__grams", F.col(id_col)).alias("__grams"),
            F.min("__s").alias("__s"),
            F.count(F.lit(1)).alias("__m"),
        )
        .localCheckpoint(eager=True)  # set-grain; consumed 3x below by independent stages
    )
    # identical-set pairs: J = 1 by definition, emitted directly
    ma = members.select(F.col("__fp"), F.col(id_col).alias("doc_a"), F.col("__s"))
    mb = members.select(F.col("__fp"), F.col(id_col).alias("doc_b"))
    identical = (
        ma.join(mb, "__fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("__s").cast("long").alias("n_inter"),
            F.col("__s").cast("long").alias("n_union"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    prefix_len = (
        F.col("__s") - F.ceil(F.col("__s") * F.lit(t_num) / F.lit(t_den)) + F.lit(1)
    ).cast("int")
    prefix = sets.select(
        F.col("__fp"),
        F.col("__s"),
        F.posexplode(F.slice("__grams", 1, prefix_len)).alias("__p0", "g"),
    ).select(F.col("__fp"), F.col("__s"), (F.col("__p0") + 1).alias("__p"), "g")
    a = prefix.select(
        F.col("__fp").alias("__fa"), F.col("__s").alias("__la"), F.col("__p").alias("__pa"), "g"
    )
    b = prefix.select(
        F.col("__fp").alias("__fb"), F.col("__s").alias("__lb"), F.col("__p").alias("__pb"), "g"
    )
    cand = (
        a.join(b, "g")
        .filter(F.col("__fa") < F.col("__fb"))
        # PPJoin length bound: t·max(sa,sb) ≤ min(sa,sb) is necessary
        # for J ≥ t — applied before the pair distinct to shrink it
        .filter(
            (F.col("__la") * t_num <= F.col("__lb") * t_den)
            & (F.col("__lb") * t_num <= F.col("__la") * t_den)
        )
        # PPJoin POSITIONAL filter (r10; lossless): for a qualifying
        # pair, its FIRST shared gram in the global order lies in both
        # prefixes (the prefix theorem) and has no shared predecessors,
        # so |∩| ≤ 1 + min(sa−pa, sb−pb) holds there and must reach the
        # overlap threshold α = t·(sa+sb)/(1+t); keeping a pair when
        # ANY shared prefix gram passes therefore loses nothing, while
        # matches deep in both prefixes — the bulk in a dense-gram
        # corpus (measured 2.74 M → fewer candidates for 238 true
        # pairs at sf0.1) — are pruned BEFORE the pair distinct.
        .filter(
            (
                F.lit(1)
                + F.least(F.col("__la") - F.col("__pa"), F.col("__lb") - F.col("__pb"))
            )
            * F.lit(t_num + t_den)
            >= (F.col("__la") + F.col("__lb")) * F.lit(t_num)
        )
        .select("__fa", "__fb")
        .distinct()
    )
    pa = sets.select(
        F.col("__fp").alias("__fa"),
        F.col("__grams").alias("__ga"),
        F.col("__s").alias("__sa"),
    )
    pb = sets.select(
        F.col("__fp").alias("__fb"),
        F.col("__grams").alias("__gb"),
        F.col("__s").alias("__sb"),
    )
    inter = F.size(F.array_intersect("__ga", "__gb"))
    union = F.col("__sa") + F.col("__sb") - inter
    set_pairs = (
        cand.join(pa, "__fa")
        .join(pb, "__fb")
        .filter(inter * F.lit(t_den) >= union * F.lit(t_num))
        .select(
            "__fa",
            "__fb",
            inter.cast("long").alias("n_inter"),
            union.cast("long").alias("n_union"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )
    ea = members.select(F.col("__fp").alias("__fa"), F.col(id_col).alias("__ida"))
    eb = members.select(F.col("__fp").alias("__fb"), F.col(id_col).alias("__idb"))
    cross = (
        set_pairs.join(ea, "__fa")
        .join(eb, "__fb")
        .select(
            F.least("__ida", "__idb").alias("doc_a"),
            F.greatest("__ida", "__idb").alias("doc_b"),
            "n_inter",
            "n_union",
            "jaccard",
        )
    )
    return identical.unionByName(cross)


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_key: Column,
    id_col: str,
    window: int = 4,
    max_dist: int = 2,
    compare_col: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández–Stolfo): sort the
    corpus once on a blocking key, then compare each record only with
    the next ``window-1`` records — O(n·w) comparisons instead of
    O(n²), the classic complement to hash blocking when near-dups
    CLUSTER under an ordering (names, codes, addresses) rather than
    under an equality key.

    Spark-first shape: ONE global ordering via two_phase_row_number
    (range shuffle, no single-partition WindowExec), then the w−1
    neighbor offsets EXPLODE on the left side and the pairing is ONE
    equi-join on position (never a range/theta join). The verify step
    is exact levenshtein on ``compare_col`` (defaults to the sort
    key), kept pairs have distance <= max_dist — candidates are a
    superset, the filter makes the result exact for the neighborhood
    semantics.

    At 100 TB: the range shuffle is the only corpus-grain movement;
    the offset explode multiplies rows by w−1 BEFORE the join but
    carries only (pos, id, key) — bytes stay small; AQE handles the
    join. Output grain: qualifying pairs (pos-adjacent, dist-verified).
    """
    from . import windows as _windows

    cmp_col = compare_col or "__snk"
    base = df.select(
        F.col(id_col),
        sort_key.alias("__snk"),
        *([] if compare_col is None else [F.col(compare_col)]),
    )
    ranked, _ = _windows.two_phase_row_number(
        base, [F.col("__snk").asc(), F.col(id_col).asc()], "__pos"
    )
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col(cmp_col).alias("__va"),
        F.explode(
            F.sequence(F.col("__pos") + 1, F.col("__pos") + (window - 1))
        ).alias("__pos"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"), F.col(cmp_col).alias("__vb"), "__pos"
    )
    return (
        left.join(right, "__pos")
        .withColumn("dist", F.levenshtein("__va", "__vb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def edit_distance_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """Exact small-edit-distance self-join (FastSS deletion
    neighborhoods): emit every unordered pair with levenshtein
    distance <= k (k in {1, 2}) WITHOUT an all-pairs product.

    Candidate generation: each string's deletion neighborhood to
    depth k (the string itself, every single-char deletion, and for
    k=2 every two-char deletion) — two strings within edit distance k
    always share a neighborhood member (each edit op leaves a common
    subsequence reachable by <= k deletions from both sides), so the
    bucket join on the neighborhood fingerprint is a LOSSLESS
    candidate filter; sharing a member only bounds the distance by
    2k, so candidates are verified with exact ``levenshtein`` before
    emission. Neighborhood size is O(len^k) per string — for the
    short keys this targets (names, codes, SKUs) that is ~tens of
    int64 fingerprints, shuffled instead of the strings themselves.

    At 100 TB: identical strings are collapsed FIRST (the
    prefix_jaccard dedupe-first lesson) so duplicate-heavy corpora
    cost x1 + output; the neighborhood join never goes all-pairs —
    only strings sharing a deletion bucket meet.

    Misuse guard (VERDICT r9): the neighborhood is O(len^k)
    fingerprints per string — ~tens for the short keys this targets,
    but a caller passing DOCUMENT TEXT would get a quadratic explode
    with no error. A runtime max-length aggregate over the (cheap,
    distinct-string-grain) key set refuses (ValueError, the
    ewma_forecast pattern) past ``max_len`` with coarsening advice;
    raise ``max_len`` deliberately if your keys really are longer.
    """
    if k not in (1, 2):
        raise ValueError("edit_distance_join supports k=1 or k=2")
    # distinct-string grain = a reduction; a LAZY pin is enough — the
    # guard's length collect right below materializes it, so the guard
    # scan and the join share one compute without an extra eager job.
    uniq = df.select(F.col(text_col).alias("__s")).distinct().persist()
    longest = uniq.agg(F.max(F.length("__s")).alias("m")).collect()[0]["m"]
    if longest is not None and int(longest) > max_len:
        uniq.unpersist()  # release the pin on the refusal path — the
        # raise would otherwise leave the cache entry registered for
        # the session's lifetime (ADVICE r14)
        raise ValueError(
            f"edit_distance_join: max length({text_col}) = {longest} exceeds "
            f"max_len={max_len}; the k={k} deletion neighborhood is "
            f"O(len^{k}) rows PER STRING, so long text explodes "
            "quadratically. This operator targets short keys (names, "
            "codes, SKUs) — for document text use minhash_near_dup / "
            "span_dedup, or pass a larger max_len deliberately."
        )
    ids = df.select(F.col(id_col), F.col(text_col).alias("__s"))

    # deletions via expr (substring arithmetic reads cleaner in SQL);
    # every sequence(1, n) needs the n >= 1 guard — sequence(1, 0)
    # DESCENDS ([1, 0]) and would emit phantom neighborhood members
    # for degenerate strings (ADVICE r9, the lm_trigram_backoff guard)
    neigh1 = F.expr(
        "CASE WHEN length(__s) >= 1 THEN "
        "transform(sequence(1, length(__s)), "
        "i -> concat(substring(__s, 1, i-1), substring(__s, i+1))) "
        "ELSE array() END"
    )
    if k == 1:
        neighborhood = F.array_union(F.array(F.col("__s")), neigh1)
    else:
        neigh2 = F.expr(
            "CASE WHEN length(__s) >= 2 THEN "
            "flatten(transform(sequence(1, length(__s)), i -> "
            "transform(sequence(1, length(__s) - 1), j -> "
            "concat(substring(concat(substring(__s, 1, i-1), substring(__s, i+1)), 1, j-1), "
            "substring(concat(substring(__s, 1, i-1), substring(__s, i+1)), j+1))))) "
            "ELSE array() END"
        )
        neighborhood = F.array_union(
            F.array_union(F.array(F.col("__s")), neigh1), F.array_distinct(neigh2)
        )
    rel = uniq.select(
        "__s", F.explode(neighborhood).alias("__n")
    ).select("__s", fingerprint64(F.col("__n")).alias("__nh")).distinct()
    # neighborhood-grain (O(len^k) rows per distinct string) and
    # consumed by BOTH self-join sides: lazy pin so the explode +
    # distinct run once, not per side
    rel = pin_fact(rel)
    cand = (
        rel.alias("l")
        .join(rel.alias("r"), "__nh")
        .filter(F.col("l.__s") < F.col("r.__s"))
        .select(F.col("l.__s").alias("__sa"), F.col("r.__s").alias("__sb"))
        .distinct()
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("dist") <= k)
    )
    a = ids.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa"))
    b = ids.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
    same = (
        ids.alias("x")
        .join(ids.alias("y"), "__s")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    diff = (
        cand.join(a, "__sa")
        .join(b, "__sb")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("dist").cast("long").alias("dist"),
        )
    )
    return same.unionByName(diff)


def containment_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact set-CONTAINMENT join within blocking groups: unordered
    pairs whose shingle sets satisfy |A∩B|/min(|A|,|B|) >= t — the
    quote/subset detector Jaccard misses (a paragraph fully contained
    in a long document has tiny Jaccard but containment 1.0).

    Same dedupe-first relational algebra as ngram_jaccard_pairs:
    identical gram SETS collapse to one fingerprint before pairing
    (duplicate-heavy corpora cost x1 + output), the shared-gram
    equi-join within the group emits one row per common gram and the
    pair aggregate IS the exact intersection count; both containments
    derive from exact integers, the threshold tests by integer
    cross-multiplication (10·|∩| >= 10t·min(sa,sb)), and the one
    float division happens at emission.
    """
    t_num = int(round(threshold * 10))
    grams = (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(
            F.col(group_col).alias("__grp"),
            F.col(id_col),
            # hash inside the transform, explode LONGS (the minhash /
            # prefix_jaccard discipline — a string explode is ~2x);
            # grams are pre-normalized, so xxhash64 == fingerprint64
            F.explode(
                F.transform(shingles(text_col, k=shingle_k), lambda s: F.xxhash64(s))
            ).alias("g"),
        )
        .distinct()
    )
    per_doc = grams.groupBy("__grp", id_col).agg(
        F.array_sort(F.collect_list("g")).alias("__grams"), F.count(F.lit(1)).alias("__s")
    )
    members = per_doc.select(
        "__grp",
        F.col(id_col),
        F.col("__s"),
        fingerprint64(
            F.concat_ws(",", F.transform("__grams", lambda g: g.cast("string")))
        ).alias("__fp"),
        F.col("__grams"),
    )
    members = persist_fact(members)  # doc-grain: keep lineage (eager — independent consumers race a lazy pin)
    sets = members.groupBy("__grp", "__fp").agg(
        F.min_by("__grams", F.col(id_col)).alias("__grams"),
        F.min("__s").alias("__s"),
        F.count(F.lit(1)).alias("__m"),
    ).localCheckpoint(eager=True)  # set-grain reduction, consumed twice by independent stages
    rel = sets.select("__grp", "__fp", "__s", F.explode("__grams").alias("g"))
    pairs = (
        rel.alias("a")
        .join(rel.alias("b"), ["__grp", "g"])
        .filter(F.col("a.__fp") < F.col("b.__fp"))
        .groupBy("__grp", F.col("a.__fp").alias("__fa"), F.col("b.__fp").alias("__fb"))
        .agg(
            F.count(F.lit(1)).alias("__inter"),
            F.min("a.__s").alias("__sa"),
            F.min("b.__s").alias("__sb"),
        )
        .filter(
            F.lit(10) * F.col("__inter")
            >= F.lit(t_num) * F.least("__sa", "__sb")
        )
    )
    # identical-set pairs: containment 1.0 by definition
    ma = members.select("__grp", F.col("__fp"), F.col(id_col).alias("id_a"), F.col("__s"))
    mb = members.select("__grp", F.col("__fp"), F.col(id_col).alias("id_b"))
    identical = (
        ma.join(mb, ["__grp", "__fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("__grp"),
            "id_a",
            "id_b",
            F.col("__s").cast("long").alias("n_inter"),
            F.lit(1.0).alias("containment"),
        )
    )
    ea = members.select("__grp", F.col("__fp").alias("__fa"), F.col(id_col).alias("id_a"))
    eb = members.select("__grp", F.col("__fp").alias("__fb"), F.col(id_col).alias("id_b"))
    expanded = (
        pairs.join(ea, ["__grp", "__fa"])
        .join(eb, ["__grp", "__fb"])
        .select(
            F.col("__grp"),
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("__inter").cast("long").alias("n_inter"),
            F.round(
                F.col("__inter").cast("double") / F.least("__sa", "__sb"), 6
            ).alias("containment"),
        )
    )
    return identical.unionByName(expanded).withColumnRenamed("__grp", group_col)


def prefix_cluster(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_tokens: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Shared-prefix boilerplate groups (the C4-class crawl screen):
    documents whose first ``n_tokens`` normalized tokens are IDENTICAL
    cluster together — template pages, mirrored headers, scraped
    navigation. One narrow fingerprint projection + one hash
    aggregate; emits only groups with >= 2 members (cluster grain,
    far below corpus grain) with the minimum doc id as the canonical
    representative.
    """
    from ..functions.text import fingerprint64, shingles

    prefix = F.array_join(
        F.slice(
            F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "),
            1,
            n_tokens,
        ),
        " ",
    )
    # portable=True keys groups by md5 hex (SQL-reproducible, the
    # oracle-checked surface); default int64 xxhash64 is the scale
    # path (8 bytes on the shuffle wire vs 32) — the minhash
    # portable/xxhash64 twin pattern.
    fp = F.md5(prefix) if portable else fingerprint64(prefix)
    return (
        df.select(F.col(id_col), fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).cast("long").alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Jaro-Winkler rescoring (fuzzy-match ranking on verified candidates)
# ---------------------------------------------------------------------------
def _jaro_winkler_py(s: str | None, t: str | None) -> float | None:
    """Reference Jaro-Winkler similarity, pinned to DuckDB 1.0's
    convention (empirically verified on 3000 random pairs in
    tests/test_invariants.py): either string empty -> 0.0 (INCLUDING
    two empties), equal non-empty -> 1.0, match window
    max(len)//2 - 1, Winkler prefix boost (p=0.1, prefix cap 4)
    applied only when jaro > 0.7.

    Sequential greedy matching with used-flags — genuinely
    order-dependent per pair, which is why the Spark side runs this as
    an Arrow-batched pandas UDF (the sanctioned slow path) on
    VERIFIED candidate pairs only, never on the corpus scan.
    """
    if s is None or t is None:
        return None
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    if s == t:
        return 1.0
    win = max(ls, lt) // 2 - 1
    s_matched = [False] * ls
    t_matched = [False] * lt
    m = 0
    for i in range(ls):
        lo, hi = max(0, i - win), min(lt, i + win + 1)
        for j in range(lo, hi):
            if not t_matched[j] and s[i] == t[j]:
                s_matched[i] = t_matched[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    k = 0
    transpositions = 0
    for i in range(ls):
        if s_matched[i]:
            while not t_matched[k]:
                k += 1
            if s[i] != t[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    jaro = (m / ls + m / lt + (m - transpositions) / m) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s[:4], t[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


def jaro_winkler_rescore(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """Jaro-Winkler-scored fuzzy pairs: every unordered pair within
    edit distance <= k (the lossless FastSS candidate path of
    :func:`edit_distance_join`), rescored with the Jaro-Winkler
    similarity fuzzy-match rankers threshold on.

    Plan shape: candidate generation + levenshtein verification stay
    pure column algebra; the sequential JW kernel runs as an
    Arrow-batched pandas UDF over the SURVIVING pairs only (output-
    bound, ~0 rows per non-dup corpus), so the 100 TB scan never pays
    the Python tax. The DuckDB oracle computes the same pairs with its
    native ``jaro_winkler_similarity`` — a true cross-implementation
    check of the scoring kernel, not a mirrored formula.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kernel(sa, sb):
        return pd.Series(
            [_jaro_winkler_py(a, b) for a, b in zip(sa, sb)], dtype="float64"
        )

    # real annotation objects (not strings): this module uses
    # `from __future__ import annotations`, under which inline hints
    # become unresolvable strings for pandas_udf's signature inspection
    _kernel.__annotations__ = {"sa": pd.Series, "sb": pd.Series, "return": pd.Series}
    _jw = pandas_udf(_kernel, "double")

    pairs = edit_distance_join(df, text_col, id_col, k=k, max_len=max_len)
    names = df.select(F.col(id_col), F.col(text_col))
    a = names.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    b = names.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "dist",
            F.round(_jw(F.col("__ta"), F.col("__tb")), 6).alias("jw"),
        )
    )
