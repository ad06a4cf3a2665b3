"""At-rest derived relations, materialized once and shared.

Several curation queries consume the same expensive derived relations
over the documents table: the word-Jaccard pair graph (dup_clusters,
cluster_representative, doc_pagerank) and the MinHash corpus
shingle/index pair (minhash_incremental). Recomputing them per query
multiplies the dominant cost; at lake scale they are tables you
materialize once per corpus snapshot next to the data and every
consumer reads back. This module makes that real for the local
harness: the first caller builds and writes parquet keyed by (source
file identity, parameters); later callers do a pure parquet scan.

The cache key includes the documents file's mtime/size, so a new
corpus snapshot (or regenerated testdata) invalidates automatically —
the same contract as a lakehouse table pointing at a corpus version.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sinks
from ..operators import dedup
from ..sources.tables import load_table

# repo_root/spark-warehouse/_pair_graph — anchored to the package, not
# the cwd, so driver/bench/pytest all hit the same cache.
_CACHE_ROOT = Path(__file__).resolve().parents[2] / "spark-warehouse" / "_pair_graph"


def _fresh_tmp(out_dir: str) -> str:
    """Name the private build dir for ``out_dir`` and guarantee it
    starts EMPTY. A crashed build under a since-reused pid leaves its
    half-built segments behind, and a later append_snapshot into the
    reused dir would stack the new base ON TOP of the stale v=1 —
    installing a table with duplicated base rows (r5 ADVICE). The
    rmtree closes that; single-writer-per-pid, like the sinks."""
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def _sweep_stale_tmp(out_dir: str, min_age_sec: float = 3600.0) -> None:
    """After a successful install, opportunistically remove leftover
    sibling ``*.tmp-*`` build dirs: the winner's tmp was renamed away
    and a live loser deletes its own on the rename race, so anything
    still matching is a dead build's leaked disk (r5 ADVICE). Only
    dirs whose mtime is older than ``min_age_sec`` are swept (r6
    ADVICE): a LIVE concurrent builder still in its write phase also
    matches the glob, and rmtree'ing under its Spark write would fail
    it with an error that escapes ``_materialized``'s OSError
    fallback. Age is measured as the NEWEST mtime across the whole
    tmp tree (r7 ADVICE): a directory's own mtime only changes when
    its direct children churn, so a long single write phase that only
    creates task files under an already-created subdir would leave the
    top-level mtime stale — any file the live writer touched inside
    the tree resets the clock."""
    import glob
    import time

    now = time.time()
    for d in glob.glob(f"{out_dir}.tmp-*"):
        try:
            newest = os.path.getmtime(d)
            for root, dirs, files in os.walk(d):
                for name in dirs + files:
                    newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            if now - newest < min_age_sec:
                continue
        except OSError:
            continue  # vanished: the live owner finished or cleaned up
        shutil.rmtree(d, ignore_errors=True)


def _cache_dir(sf_dir: str, src_table: str, name: str, params_sig: str) -> str:
    """``_CACHE_ROOT/<name>_<digest>``: the cache dir of one derived
    relation, keyed by the ``src_table`` file identity (path, mtime,
    size) and ``params_sig``. Raises OSError if the source is missing."""
    src = os.path.join(os.path.realpath(sf_dir), f"{src_table}.parquet")
    st = os.stat(src)
    sig = f"{src}|{st.st_mtime_ns}|{st.st_size}|{params_sig}"
    return str(_CACHE_ROOT / f"{name}_{hashlib.md5(sig.encode()).hexdigest()[:16]}")


def _install(
    out_dir: str, complete: Callable[[str], bool], build: Callable[[str], None]
) -> None:
    """Build-once install of a cache dir: unless ``complete(out_dir)``
    already holds, ``build(tmp)`` fills a private tmp dir that one
    atomic rename then installs — a concurrent reader can never
    observe a half-written cache (the same discipline as the snapshot
    sink's ``_LATEST`` pointer flip). A failed rename is either a lost
    race (another builder's complete dir is in place: keep theirs,
    discard ours) or a torn dir left by a crashed pre-rename-era
    writer (not complete: remove it and install ours)."""
    if complete(out_dir):
        return
    tmp = _fresh_tmp(out_dir)
    build(tmp)
    try:
        os.rename(tmp, out_dir)
    except OSError:
        if complete(out_dir):
            shutil.rmtree(tmp, ignore_errors=True)  # lost a healthy race
        else:
            shutil.rmtree(out_dir, ignore_errors=True)  # torn dir: repair
            os.rename(tmp, out_dir)
    _sweep_stale_tmp(out_dir)


def _two_versions(table_dir: str) -> bool:
    """A maintained table is complete only once its v=2 is committed:
    ``_LATEST`` alone is not a completion marker, because it is
    flipped right after v=1 too."""
    return sinks._committed_version(table_dir) >= 2


def _materialized(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    params_sig: str,
    build: Callable[[], DataFrame],
    src_table: str = "documents",
    partition_by: str | None = None,
) -> DataFrame:
    """Build-once-read-many: parquet-materialize ``build()`` keyed by
    (``src_table`` file identity, ``params_sig``); fall back to the
    in-memory frame if the warehouse is unwritable. ``partition_by``
    writes a partitioned layout so consumers' filters on that column
    become partition pruning."""

    def write(tmp: str) -> None:
        w = build().write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(tmp)

    try:
        out = _cache_dir(sf_dir, src_table, name, params_sig)
        _install(out, lambda d: os.path.exists(os.path.join(d, "_SUCCESS")), write)
        return spark.read.parquet(out)
    except OSError:
        return build()


def jaccard_pair_graph(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    shingle_k: int = 1,
    batch_mod: int = 5,
) -> DataFrame:
    """The (id_a, id_b, jaccard) word-Jaccard pair relation over
    ``documents``, source-blocked — since r5 MAINTAINED as an
    append-segment snapshot table, completing the lineage: v=1 is the
    corpus×corpus pair segment (``doc_id % batch_mod == 0`` plays the
    arriving batch, exactly the split cluster_labels uses), v=2
    APPENDS only the pairs touching that batch, computed by the
    incremental probe (dedup.ngram_jaccard_pairs_incremental —
    O(batch × block), never re-pairing the corpus). The full pair set
    partitions into those two segments, so read_appended equals the
    one-shot batch build exactly (pinned in tests). Downstream,
    cluster_labels' v=1 CC consumes exactly segment v=1's pairs and
    its incremental CC consumes exactly segment v=2 — every relation
    in the pair-graph → labels → consumers chain now advances by
    O(batch) per ingest. Columns stay (source, id_a, id_b, jaccard),
    identical to the batch builder."""

    batch = F.col("doc_id") % batch_mod == 0
    args = dict(threshold=threshold, shingle_k=shingle_k)

    def docs() -> DataFrame:
        return load_table(spark, sf_dir, "documents")

    def touching(d: DataFrame) -> DataFrame:
        return dedup.ngram_jaccard_pairs_incremental(
            d.filter(batch), d.filter(~batch), "text", "doc_id", "source", **args
        )

    try:
        return _maintained_two_segments(
            spark,
            sf_dir,
            "pairs",
            f"{threshold}|{shingle_k}|{batch_mod}|v2-seg",
            lambda: dedup.ngram_jaccard_pairs(
                docs().filter(~batch), "text", "doc_id", "source", **args
            ),
            lambda v1: touching(docs()),
        )
    except OSError:
        return dedup.ngram_jaccard_pairs(docs(), "text", "doc_id", "source", **args)


def cluster_labels(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    shingle_k: int = 1,
    batch_mod: int = 5,
) -> DataFrame:
    """The at-rest (doc_id, cluster_id) near-dup cluster assignment,
    MAINTAINED through the versioned snapshot sink instead of recomputed
    per query — the last derived relation of the lakehouse contract.

    Build path models the continuous-ingestion loop a 100 TB corpus
    runs: v=1 is full CC over the corpus MINUS the most recent batch
    (``doc_id % batch_mod == 0`` plays the arriving batch), v=2 is the
    incremental maintenance of v=1 — ``connected_components_incremental``
    seeded by the v=1 star edges plus the batch's nodes/pairs, never
    re-reading the old edge list. The _LATEST pointer then serves every
    consumer (dup_clusters, cluster_representative, leakage_safe_split,
    dup_rate_by_source) with a pure parquet scan; v=1 stays readable for
    time travel. Equality with a one-shot batch recompute is asserted in
    tests/test_scale_recipes.py (incremental labels stay canonical).

    Falls back to direct CC if the warehouse is unwritable.
    """

    def docs() -> DataFrame:
        return load_table(spark, sf_dir, "documents").select("doc_id")

    def pairs() -> DataFrame:
        return jaccard_pair_graph(spark, sf_dir, threshold=threshold, shingle_k=shingle_k)

    def build(tmp_dir: str) -> None:
        # both versions land in the private tmp dir and install with
        # ONE atomic rename: a crash between the v=1 and v=2 writes
        # must not be mistaken for a finished build (it would silently
        # serve pre-batch labels to every consumer)
        d, p = docs(), pairs()
        batch = F.col("doc_id") % batch_mod == 0
        at_rest = dedup.connected_components(
            d.filter(~batch),
            p.filter((F.col("id_a") % batch_mod != 0) & (F.col("id_b") % batch_mod != 0)),
            id_col="doc_id",
        )
        sinks.write_snapshot(at_rest, tmp_dir)  # v=1: before the batch
        maintained = dedup.connected_components_incremental(
            sinks.read_snapshot(spark, tmp_dir),
            d.filter(batch),
            p.filter((F.col("id_a") % batch_mod == 0) | (F.col("id_b") % batch_mod == 0))
            .select("id_a", "id_b"),
            id_col="doc_id",
        )
        sinks.write_snapshot(maintained, tmp_dir)  # v=2: after maintenance

    try:
        table_dir = _cache_dir(
            sf_dir, "documents", "cc_labels", f"{threshold}|{shingle_k}|{batch_mod}|v1"
        )
        _install(table_dir, _two_versions, build)
        return sinks.read_snapshot(spark, table_dir)
    except OSError:
        return dedup.connected_components(docs(), pairs(), id_col="doc_id")


def full_shingle_table(
    spark: SparkSession,
    sf_dir: str,
    shingle_k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The at-rest (id, shingle-hash) relation over the WHOLE corpus —
    what dedup.shingle_table's docstring promises a lake would
    materialize. minhash_near_dup and its portable twin read this
    instead of re-hashing every document per query."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return dedup.shingle_table(docs, "text", "doc_id", shingle_k, portable)

    return _materialized(spark, sf_dir, "mh_ex_full", f"{shingle_k}|{portable}|v1", build)


def _maintained_two_segments(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    params_sig: str,
    build_base: Callable[[], DataFrame],
    build_append: Callable[[DataFrame], DataFrame],
    src_table: str = "documents",
    partition_by: str | None = None,
) -> DataFrame:
    """Shared build-or-read for the maintained append-segment tables:
    v=1 = ``build_base()``, v=2 = ``build_append(v1_frame)`` (only the
    arriving slice's rows), each laid out by ``partition_by``,
    installed by :func:`_install` (complete once ``_LATEST >= 2``),
    served via read_appended. Falls back to no caller — callers keep
    their own direct() fallback."""

    def build(tmp_dir: str) -> None:
        sinks.append_snapshot(build_base(), tmp_dir, partition_by=partition_by)
        v1 = sinks.read_snapshot(spark, tmp_dir, version=1)
        sinks.append_snapshot(build_append(v1), tmp_dir, partition_by=partition_by)

    table_dir = _cache_dir(sf_dir, src_table, name, params_sig)
    _install(table_dir, _two_versions, build)
    return sinks.read_appended(spark, table_dir)


def simhash_corpus_sigs(
    spark: SparkSession,
    sf_dir: str,
    exclude_mod: int = 5,
    n_bits: int = 16,
    portable: bool = True,
) -> DataFrame:
    """The at-rest (doc_id, simhash) signature table over the CORPUS
    split (doc_id % exclude_mod != 0) — the SimHash sibling of
    minhash_corpus_index, MAINTAINED the same way: v=1 = signatures of
    the corpus minus its most recent ingested slice (doc_id % 9 == 2),
    v=2 APPENDS only that slice's rows. Exactly equals the one-shot
    build because signatures are per-doc. Incremental probes band-join
    against these signatures instead of re-hashing the corpus."""

    sig = f"{exclude_mod}|{n_bits}|{portable}|v2-seg"

    def docs_split(pred) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.filter((F.col("doc_id") % exclude_mod != 0) & pred)

    recent = F.col("doc_id") % 9 == 2

    def direct() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return dedup.simhash_signatures(
            docs.filter(F.col("doc_id") % exclude_mod != 0), "text", "doc_id", n_bits, portable
        )

    try:
        return _maintained_two_segments(
            spark,
            sf_dir,
            "sh_sigs",
            sig,
            lambda: dedup.simhash_signatures(
                docs_split(~recent), "text", "doc_id", n_bits, portable
            ),
            lambda v1: dedup.simhash_signatures(
                docs_split(recent), "text", "doc_id", n_bits, portable
            ),
        )
    except OSError:
        return direct()


def span_corpus_index(
    spark: SparkSession,
    sf_dir: str,
    exclude_mod: int = 5,
    k: int = 8,
) -> DataFrame:
    """The at-rest DISTINCT window-hash index over the CORPUS split —
    the span-dedup sibling of minhash_corpus_index, MAINTAINED as an
    append-segment table. Distinctness spans documents, so the append
    is an ANTI-JOIN: v=2 holds only the arriving slice's window hashes
    NOT already in v=1 (keys-only join against the at-rest index —
    O(batch tokens) probe work), and the segment union is exactly the
    distinct-hash set of the whole corpus split (a hash seen by both
    sides is kept once, from v=1). Incremental span probes join
    against the union instead of re-hashing corpus text."""

    recent = F.col("doc_id") % 9 == 2

    def hashes(pred) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        part = docs.filter((F.col("doc_id") % exclude_mod != 0) & pred)
        return dedup.span_hash_table(part, "text", "doc_id", k).select("__h").distinct()

    def direct() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        corpus_docs = docs.filter(F.col("doc_id") % exclude_mod != 0)
        return dedup.span_hash_table(corpus_docs, "text", "doc_id", k).select("__h").distinct()

    try:
        return _maintained_two_segments(
            spark,
            sf_dir,
            "span_idx",
            f"{exclude_mod}|{k}|v2-seg",
            lambda: hashes(~recent),
            lambda v1: hashes(recent).join(v1, "__h", "left_anti"),
        )
    except OSError:
        return direct()


def ivf_embeddings(spark: SparkSession, sf_dir: str, n_cells: int = 16) -> DataFrame:
    """The embeddings table at rest in IVF layout: cell-assigned
    (similarity.ivf_assign) and PARTITIONED BY cell, so a probe's
    ``cell IN (...)`` filter compiles to partition pruning — the scan
    reads n_probe/n_cells of the files instead of filtering after a
    full read. Since r5 also MAINTAINED as an append-segment table:
    v=1 is the already-serving corpus, v=2 appends the arriving
    vectors (``vec_id % 9 == 2``, floored above the seed ids) assigned
    with the SAME frozen centroid model — the quantizer is the n_cells
    lowest-id vectors, all in the base, so the model a fresh full-build
    would derive is bit-identical and the appended assignment equals
    the one-shot rebuild (new vectors never retrain the coarse
    quantizer; that is a rebuild, exactly as in a served IVF index).
    Each segment keeps the cell partitioning, and read_appended's
    basePath scan prunes on BOTH v (time travel) and cell (probe).
    tests/test_plan_properties.py asserts the PartitionFilters appear
    and results equal the inline assignment path."""
    from ..operators import similarity

    # arriving slice floored above the seed ids: the frozen model ==
    # the model a full rebuild would pick
    arriving = (F.col("vec_id") % 9 == 2) & (F.col("vec_id") > 8 * n_cells)

    def assigned(split=None) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        cents = similarity._centroids(emb, "embedding", "vec_id", n_cells)
        return similarity.ivf_assign(
            emb if split is None else emb.filter(split), "embedding", cents
        )

    try:
        return _maintained_two_segments(
            spark,
            sf_dir,
            "ivf_seg",
            f"{n_cells}|v2-seg",
            lambda: assigned(~arriving),
            lambda v1: assigned(arriving),
            src_table="embeddings",
            partition_by="cell",
        )
    except OSError:
        return assigned()


def minhash_corpus_index(
    spark: SparkSession,
    sf_dir: str,
    exclude_mod: int = 5,
    n_hashes: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
    portable: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The at-rest (shingle_table, minhash_index) pair over the CORPUS
    split (doc_id % exclude_mod != 0 — the complement is the 'new
    batch' the incremental query probes with), MAINTAINED as
    append-segment snapshot tables (sinks.append_snapshot /
    read_appended) instead of rebuilt per corpus change — the heaviest
    derived relation gets the same continuous-ingestion treatment the
    CC labels got: v=1 is the shingles+signatures of the corpus MINUS
    its most recent ingested slice (``doc_id % 9 == 2`` plays that
    slice), v=2 APPENDS only that slice's rows with one pointer flip —
    O(batch) per ingest, old segments never rewritten, exactly the
    reference's B2 streaming-append semantics. Equality with a one-shot
    batch rebuild is exact because both relations are per-doc (no
    cross-doc aggregation), and is pinned — along with the multi-batch
    foreachBatch loop this build models — in
    tests/test_streaming.py::test_streaming_minhash_index_maintenance_matches_batch.
    The index segments are derived from the shingle segments, not from
    text — the same build lineage a lakehouse would have."""

    sig = f"{exclude_mod}|{n_hashes}|{n_bands}|{shingle_k}|{portable}|v2-seg"
    recent = F.col("doc_id") % 9 == 2  # the most recent ingested slice

    def corpus_docs() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.filter(F.col("doc_id") % exclude_mod != 0)

    def shingles(pred) -> DataFrame:
        return dedup.shingle_table(
            corpus_docs().filter(pred), "text", "doc_id", shingle_k, portable
        )

    def index_of(ex_segment: int) -> DataFrame:
        ex_segs = sinks.read_snapshot(spark, ex_dir, version=ex_segment)
        return dedup.minhash_index(ex_segs, "doc_id", n_hashes, n_bands)

    try:
        ex_dir = _cache_dir(sf_dir, "documents", "mh_seg_ex", sig)
        ex = _maintained_two_segments(
            spark, sf_dir, "mh_seg_ex", sig, lambda: shingles(~recent), lambda v1: shingles(recent)
        )
        idx = _maintained_two_segments(
            spark, sf_dir, "mh_seg_idx", sig, lambda: index_of(1), lambda v1: index_of(2)
        )
        return ex, idx
    except OSError:
        ex = dedup.shingle_table(corpus_docs(), "text", "doc_id", shingle_k, portable)
        return ex, dedup.minhash_index(ex, "doc_id", n_hashes, n_bands)


def pq_codes_table(
    spark: SparkSession, sf_dir: str, m: int = 4, n_codes: int = 16
) -> DataFrame:
    """The at-rest PQ codes table (operators/similarity.pq_encode) —
    the compressed-vector index a 100 TB ANN serving tier actually
    stores (m small ints per vector, ~64× smaller than the raw
    float32 embeddings), MAINTAINED as an append-segment table like
    its IVF sibling: v=1 encodes the already-serving corpus, v=2
    appends ONLY the arriving vectors (``vec_id % 9 == 2``, floored
    above the seed ids) encoded with the SAME frozen codebook — the
    codebook is the n_codes lowest-id vectors' subvectors, all in the
    base, so a fresh full rebuild derives the bit-identical model and
    the appended encoding equals the one-shot build (new vectors never
    retrain the codebook; that is a rebuild, exactly as in a served
    IVF-PQ index). Equality with the inline encode is pinned in
    tests/test_invariants.py. Falls back to the inline encode if the
    cache directory is unusable."""
    from ..operators import similarity

    def emb() -> DataFrame:
        return load_table(spark, sf_dir, "embeddings")

    arriving = (F.col("vec_id") % 9 == 2) & (F.col("vec_id") > 8 * n_codes)

    def build(pred) -> DataFrame:
        e = emb()
        cb = similarity._pq_codebook_df(e, "embedding", "vec_id", m, n_codes)
        return similarity.pq_encode(
            e.filter(pred), "embedding", "vec_id", m, n_codes, codebook=cb
        )

    try:
        return _maintained_two_segments(
            spark,
            sf_dir,
            "pq_codes",
            f"{m}|{n_codes}|v2-seg",
            lambda: build(~arriving),
            lambda v1: build(arriving),
            src_table="embeddings",
        )
    except OSError:
        return similarity.pq_encode(emb(), "embedding", "vec_id", m, n_codes)
