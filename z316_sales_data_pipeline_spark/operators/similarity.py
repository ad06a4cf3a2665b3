"""Similarity search over embedding columns (north-star ops).

- ``brute_force_top_k`` — exact cosine top-k: one codegen'd scan +
  TakeOrdered (no full sort, no shuffle of payloads). The correctness
  baseline.
- ``lsh_top_k`` — random-hyperplane LSH bucketing: probe only the
  query's bucket(s). The 100 TB path: the scan prunes to matching
  buckets (partition the table by ``bucket`` at rest and Catalyst
  turns it into partition pruning).
- ``ivf_top_k`` / ``ivf_pq_top_k`` / ``ivf_pq_rerank_top_k`` — coarse
  quantizer cells (and PQ codes) prune the scan.

ANN audits. The approximation checks behind top-k search measure what
an index configuration misses before it is served. They share one
private pipeline (the "ANN audit kernel" section below):

1. deterministic centroids — :func:`_centroids`, the n_cells lowest-id
   vectors (a k-means fit would drift run-to-run; a fixed model is
   what the SQL oracle replays);
2. assignment — :func:`_with_cell` materializes the dots to every
   centroid as ``__dots`` in their own projection, then takes one
   argmax (ties go to the lowest cell); :func:`_assigned` is the
   eagerly pinned (vid, v, cell) corpus relation;
3. the capped query batch — :func:`_query_batch` over
   :func:`_query_sample_pred`: at most ``query_cap`` queries at any
   corpus size;
4. the probed and exact arms — :func:`_probed` ranks each query's
   probe cells by centroid dot and joins them to the assigned corpus,
   keeping ``cell_rank``; :func:`_exact_top_k` is corpus × broadcast
   query batch, so its cost is linear in data and no audit has a
   quadratic term;
5. the per-query top-k — :func:`_top_n`, one ``row_number`` window
   per query with an id tie-break; cosines are rounded to 6 first, so
   both arms are engine-portable;
6. hits — :func:`_per_query_recall` (per query, zero for a query with
   no hit) or :func:`_recall_point` (one row per configuration).

:func:`ann_recall_eval`, :func:`ivf_incremental_recall`,
:func:`ivf_retrain_plan`, :func:`ivf_probe_sweep` and
:func:`ndcg_eval` run the whole pipeline; :func:`dim_truncation_recall`
and :func:`pq_recall_eval` use the query batch, the per-query top-k
and the hits over their own candidates; :func:`ivf_assign` and
:func:`embedding_outlier_audit` use the assignment. Each audit keeps
only its own part: nDCG weights, the probe sweep, truncation widths,
the PQ lookup table, the TVD decision, or the outlier moments.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..persistence import persist_fact, pin_fact

from ..functions.vector import cosine, dot, literal_vector, norm


def brute_force_top_k(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector.

    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject —
    per-partition heap + driver merge, no global sort shuffle.
    Deterministic tie-break on id.
    """
    q = literal_vector(query_vec)
    return (
        df.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — no numpy
    dependency at plan-build time, reproducible across engines)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            v.append((state / float(1 << 64)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_bucket(vec_col: Column | str, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Sign-of-dot-product LSH bucket id (0 .. 2^n_planes - 1)."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _hyperplanes(dim, n_planes, seed)
    acc = F.lit(0)
    for i, p in enumerate(planes):
        bit = F.when(dot(col, literal_vector(p)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        acc = acc + bit
    return acc


def lsh_top_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's bucket.

    Recall < 1 by construction; at rest, write the table partitioned by
    ``bucket`` so this becomes a partition-pruned scan of ~1/2^n_planes
    of the data.
    """
    dim = dim or len(query_vec)
    bucketed = df.withColumn("bucket", hyperplane_bucket(vec_col, dim, n_planes, seed))
    planes = _hyperplanes(dim, n_planes, seed)
    q_bucket = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) >= 0:
            q_bucket |= 1 << i
    return brute_force_top_k(bucketed.filter(F.col("bucket") == q_bucket), vec_col, id_col, query_vec, k)


def _centroids(df: DataFrame, vec_col: str, id_col: str, n_cells: int) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the n_cells lowest-id vectors.

    A k-means fit would drift run-to-run; fixed seeds keep the oracle
    and the invariant tests stable. At lake scale this is the tiny
    trained-centroid table you'd broadcast (it IS broadcast below —
    collected driver-side like any model parameter, never the data).
    """
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(rows)]


def ivf_top_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid cell,
    probe only the n_probe cells nearest the query, exact top-k within.

    Plan: one narrow map stage for assignment (greatest-of-dots over
    broadcast centroid literals — no Python, no shuffle), a pruning
    filter on the cell id, then TakeOrderedAndProject. At rest,
    partition the table by ``cell`` so the probe filter becomes
    partition pruning — the scan reads n_probe/n_cells of the data.
    """
    cents = _centroids(df, vec_col, id_col, n_cells)
    assigned = ivf_assign(df, vec_col, cents)
    probe = probe_cells(cents, query_vec, n_probe)
    return (
        brute_force_top_k(assigned.filter(F.col("cell").isin(probe)), vec_col, id_col, query_vec, k)
    )


def ivf_assign(df: DataFrame, vec_col: str, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Add the IVF ``cell`` column: cell = argmax_i dot(v, c_i).

    Materialize the n_cells dots into ONE array column in its own
    projection and argmax with array_position(array_max)
    (:func:`_with_cell`) — a greatest()+when-chain would
    re-evaluate each interpreted dot aggregate up to 3× (no CSE across
    HOF expressions; measured ~3× slower). Ties resolve to the lowest
    cell id (array_position returns the first match). This is the
    write-time half of the at-rest IVF layout: persist the output
    partitioned by ``cell`` and every probe becomes partition pruning.
    """
    return _with_cell(df, vec_col, cents).drop("__dots")


def probe_cells(
    cents: list[tuple[int, list[float]]], query_vec: list[float], n_probe: int
) -> list[int]:
    """The n_probe cells nearest the query — computed plan-build time
    (the centroid model is O(1)); ties break to the lowest cell."""
    q_dots = sorted(
        ((i, sum(a * b for a, b in zip(query_vec, c))) for i, c in cents),
        key=lambda t: (-t[1], t[0]),
    )
    return [i for i, _ in q_dots[:n_probe]]


# ---------------------------------------------------------------------------
# K-means (Lloyd) refinement — deterministic, oracle-checkable
# ---------------------------------------------------------------------------
def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seed_label_col: str,
    n_iters: int = 2,
) -> DataFrame:
    """Label-seeded Lloyd k-means over an embedding column, fully
    distributed and engine-portable.

    Seeds are the per-label centroids; each iteration re-assigns every
    vector to its nearest centroid (squared L2) and recomputes means.
    Everything is explode → codegen hash aggregates — the distance
    matrix is (vector, cluster, pos)-grain rows collapsed map-side, so
    no higher-order functions and no Python run per row. The driver
    loop only carries plan handles; nothing is collected.

    Determinism across engines (the oracle replays the same schedule):
    centroids and distances are rounded to 6 decimals before any
    comparison, and argmin ties break toward the lowest cluster id —
    float sum-order noise (~1e-13) cannot flip either.

    At lake scale: rows shuffled per iteration = N·dim (assignment
    join is a broadcast of k·dim centroid cells), so cost is linear in
    data size with a tiny all-to-one at each centroid update —
    the textbook Spark k-means shape without MLlib's private formats.
    """
    # Pinned once (lazy DISK_ONLY): every iteration joins this
    # (vid, pos, x) grain twice; recomputing the explode per use
    # would rescan the vectors 2·n_iters times. The InMemoryRelation
    # keeps the plan constant-depth across iterations, and the lazy
    # pin lets the whole loop run as one job.
    ex = pin_fact(
        df.select(
            F.col(id_col).alias("__vid"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x"),
        )
    )  # vector-x-dim grain (fact): keep lineage; one-explode lineage stays constant-depth
    seeds = df.select(F.col(id_col).alias("__vid"), F.col(seed_label_col).alias("cluster"))
    assign = seeds
    for _ in range(n_iters):
        cents = (
            assign.join(ex, "__vid")
            .groupBy("cluster", "__pos")
            .agg(F.round(F.avg("__x"), 6).alias("__c"))
        )
        dists = (
            ex.join(F.broadcast(cents), "__pos")
            .groupBy("__vid", "cluster")
            .agg(F.sum((F.col("__x") - F.col("__c")) * (F.col("__x") - F.col("__c"))).alias("__d2"))
        )
        assign = dists.groupBy("__vid").agg(
            F.min_by("cluster", F.struct(F.round("__d2", 6).alias("d"), F.col("cluster"))).alias(
                "cluster"
            )
        )
    return assign.select(F.col("__vid").alias(id_col), "cluster")


# ---------------------------------------------------------------------------
# Rounded-cosine pair kernel (kNN graph, embedding near-dup, SemDeDup)
# ---------------------------------------------------------------------------
def _cos_pairs(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    id_col: str,
    on: list[str],
    pair: str | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Every ``left`` x ``right`` row pair sharing the ``on`` key(s) (a
    cross join when ``on`` is empty) with ``cos``, their cosine rounded
    to 6 decimals so every verdict on it is engine-portable. Each side
    carries ``on``, ``vec_col`` and its precomputed L2 norm ``__nrm``
    (n norm evaluations, not n²: higher-order functions run
    interpreted, so the per-pair work must be a single dot product).
    ``left`` also carries ``id_col``, out as ``id_a``; with ``pair`` so
    does ``right``, out as ``id_b``, and the pairs are cut before any
    cosine is computed: ``"<"`` keeps ``id_b < id_a``, ``"!="`` drops
    self pairs. With ``threshold`` only pairs at ``cos >= threshold``
    remain. Output: ``on``, ``id_a``, [``id_b``,] ``cos``. The kernel
    pins nothing; callers pin their sides at their own grain."""
    a = left.select(
        *on, F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__nrm").alias("__na")
    )
    b = right.select(
        *on,
        *([F.col(id_col).alias("id_b")] if pair else []),
        F.col(vec_col).alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    joined = a.join(b, on) if on else a.crossJoin(b)
    if pair == "<":
        joined = joined.filter(F.col("id_b") < F.col("id_a"))
    elif pair == "!=":
        joined = joined.filter(F.col("id_a") != F.col("id_b"))
    out = joined.withColumn(
        "cos", F.round(dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6)
    )
    if threshold is not None:
        out = out.filter(F.col("cos") >= threshold)
    return out.drop("__va", "__na", "__vb", "__nb")


# ---------------------------------------------------------------------------
# kNN graph — top-k neighbors for EVERY vector
# ---------------------------------------------------------------------------
def knn_graph(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Directed kNN graph: for each vector, its k nearest neighbors by
    cosine (the clustering / semantic-dedup building block).

    With ``block_col`` the candidate set is the vector's block (label,
    LSH bucket, IVF cell) and the self-join shuffles on the block key —
    the 100 TB path, cost Σ|block|² instead of n². Without it, the
    exact O(n²) baseline. Pairs come from :func:`_cos_pairs`; ranking
    is one window per query vector over the rounded cosine, so the
    result is engine-portable (ties break toward the lower neighbor
    id).
    """
    on = [block_col] if block_col else []
    base = df.select(F.col(id_col), F.col(vec_col), *on).withColumn("__nrm", norm(vec_col))
    w = Window.partitionBy("id_a").orderBy(F.col("cos").desc(), F.col("id_b").asc())
    return (
        _cos_pairs(base, base, vec_col, id_col, on, "!=")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("id_a").alias("vec_id"), F.col("id_b").alias("neighbor_id"), "cos", "rnk")
    )


def knn_graph_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    block_col: str = "label",
) -> DataFrame:
    """Numpy twin of ``knn_graph``: one matmul + partial-sort per block
    via applyInPandas, instead of |block|² interpreted dot products.

    Blocks partition the vectors, so each vector's entire candidate
    set lives in its block and the per-block pandas task can rank
    locally — no second shuffle. Ranking matches the expression/SQL
    version bit-for-bit: cosine rounded to 6 decimals first, ties
    toward the lower neighbor id. ~5× faster than the expression
    form at sf0.1 (interpreted HOFs are the cost; see dedup module).
    """
    import numpy as np
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos": [], "rnk": []}).astype(
            {"vec_id": "int64", "neighbor_id": "int64", "cos": "float64", "rnk": "int32"}
        )
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.stack(pdf[vec_col].map(np.asarray, na_action=None).to_list()).astype("float64")
        norms = np.linalg.norm(mat, axis=1)
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(sims, -np.inf)  # exclude self
        ids = pdf[id_col].to_numpy()
        kk = min(k, n - 1)
        # per row: order by (-cos, neighbor_id); ids are ascending by
        # construction so a stable argsort on -cos breaks ties right
        order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(n), kk)
        cols = order.ravel()
        return pd.DataFrame(
            {
                "vec_id": ids[rows],
                "neighbor_id": ids[cols],
                "cos": sims[rows, cols],
                "rnk": np.tile(np.arange(1, kk + 1), n).astype("int32"),
            }
        )

    out_schema = "vec_id long, neighbor_id long, cos double, rnk int"
    return (
        df.select(F.col(block_col), F.col(id_col), F.col(vec_col))
        .groupBy(block_col)
        .applyInPandas(per_block, out_schema)
    )


def _cluster_means(clustered: DataFrame, vec_col: str) -> DataFrame:
    """(cluster, __pos, __c): the round-6 per-cluster mean of
    ``vec_col`` over a (cluster, vec) relation, one row per cluster and
    vector position. Round-6 matches ``kmeans_assign``'s internal
    centroids, so an assignment against these means is bit-portable to
    the SQL oracle."""
    return (
        clustered.select(
            "cluster", F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x")
        )
        .groupBy("cluster", "__pos")
        .agg(F.round(F.avg("__x"), 6).alias("__c"))
    )


def centroid_table(assign: DataFrame, df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(cluster, __pos, __c) centroid relation from an assignment — the
    model-parameter half of a Lloyd step, materialized as a tiny k·dim
    relation you persist at rest and broadcast to probes (the cluster
    model new batches are assigned against): :func:`_cluster_means` of
    ``df`` joined to ``assign``."""
    clustered = assign.select(id_col, "cluster").join(df.select(id_col, vec_col), id_col)
    return _cluster_means(clustered, vec_col)


def nearest_centroid_assign(df: DataFrame, vec_col: str, id_col: str, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest (squared-L2) centroid from a
    (cluster, __pos, __c) relation — the probe half of a Lloyd step,
    reused by incremental semantic dedup. The centroid relation is
    broadcast (k·dim rows — model parameters, not data); the explode +
    two hash aggregates are the same codegen shape as
    ``kmeans_assign``'s iteration, with the same round-6 +
    lowest-cluster tie-break for engine portability."""
    ex = df.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x"),
    )
    dists = (
        ex.join(F.broadcast(centroids), "__pos")
        .groupBy("__vid", "cluster")
        .agg(F.sum((F.col("__x") - F.col("__c")) * (F.col("__x") - F.col("__c"))).alias("__d2"))
    )
    return (
        dists.groupBy("__vid")
        .agg(
            F.min_by("cluster", F.struct(F.round("__d2", 6).alias("d"), F.col("cluster"))).alias(
                "cluster"
            )
        )
        .select(F.col("__vid").alias(id_col), "cluster")
    )


def power_iteration_top_pc(
    df: DataFrame, vec_col: str, id_col: str, n_iters: int = 3
) -> DataFrame:
    """Top principal component of the embedding space by FIXED power
    iteration — the whitening/compression precursor (dominant-direction
    removal à la common-component postprocessing for embeddings).

    Same engine recipe as PageRank/k-means: a driver loop over fully
    distributed steps with every stage rounded to 6 decimals before it
    feeds the next (centered means, covariance cells, matvec results,
    normalized loadings), so the schedule is bit-portable to the
    unrolled-CTE oracle; the deterministic all-ones start avoids RNG
    and sign ambiguity. Fixed iterations define the result (like the
    engine's 3-step PageRank) — convergence is the caller's knob.

    Plan: explode once (checkpointed), covariance by a vid-local
    self-join collapsed to d² cells (checkpointed — every iteration
    reuses it), then per iteration one broadcast-sized join + hash
    aggregate over the d² relation and an O(1) norm row. Cost after
    the covariance build is independent of corpus size.

    Output: (pos, loading) at dimension grain.
    """
    ex = pin_fact(
        df.select(
            F.col(id_col).alias("__vid"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x"),
        )
    )  # vector-x-dim grain (fact): lazy pin; one-explode lineage stays constant-depth
    means = ex.groupBy("__pos").agg(F.round(F.avg("__x"), 6).alias("__mu"))
    cent = persist_fact(
        ex.join(F.broadcast(means), "__pos")
        .select("__vid", "__pos", (F.col("__x") - F.col("__mu")).alias("__xc"))
    )  # centered grain (fact): both covariance sides consume it as
    # independent stages — eager pin (r15, VERDICT r14 item 1)
    a = cent.select("__vid", F.col("__pos").alias("p"), F.col("__xc").alias("__xa"))
    b = cent.select("__vid", F.col("__pos").alias("q"), F.col("__xc").alias("__xb"))
    cov = (
        a.join(b, "__vid")
        .groupBy("p", "q")
        .agg(F.round(F.sum(F.col("__xa") * F.col("__xb")), 6).alias("c"))
        # d²-grain reduction probed by every iteration — eager pin so
        # the covariance self-join runs exactly once (grain rule:
        # reductions may localCheckpoint)
        .localCheckpoint(eager=True)
    )
    v = means.select(F.col("__pos").alias("q")).withColumn("v", F.lit(1.0))
    for _ in range(n_iters):
        w = (
            cov.join(v, "q")
            .groupBy("p")
            .agg(F.round(F.sum(F.col("c") * F.col("v")), 6).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("__n"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("p").alias("q"), F.round(F.col("w") / F.col("__n"), 6).alias("v")
        )
    return v.select(F.col("q").alias("pos"), F.col("v").alias("loading"))


def _query_sample_pred(vid: Column, query_mod: int, query_cap: int) -> Column:
    """Deterministic FIXED-SIZE query sample for the recall/ranking
    audits: ``id % query_mod == 0 AND id < query_cap·query_mod`` — at
    most ``query_cap`` queries at ANY corpus size (the minhash_eval
    id-cap discipline). The exact ground-truth arm of every audit is
    corpus × queries; a modulus alone makes queries ∝ corpus and the
    audit quadratic at lake scale — the r12 verdict's one remaining
    scale-killer, measured at 7.42× warm on the 30× replica before
    the cap. Every oracle twin mirrors the same two-clause predicate."""
    return (vid % query_mod == 0) & (vid < query_cap * query_mod)


# ---------------------------------------------------------------------------
# ANN audit kernel — the shared pipeline in the module docstring
# ---------------------------------------------------------------------------
def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The audits' (vid, v array<double>) corpus relation."""
    return df.select(F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v"))


def _dots(v: Column, cents: list[tuple[int, list[float]]]) -> Column:
    return F.array(*[dot(v, literal_vector(c)) for _, c in cents])


def _with_cell(df: DataFrame, vec_col: str, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Add ``__dots`` (the dot to every centroid) in its own projection,
    then ``cell`` = its argmax, lowest cell on ties. Two steps, so each
    dot aggregate appears once in the physical plan."""
    return df.withColumn("__dots", _dots(F.col(vec_col), cents)).withColumn(
        "cell", (F.array_position("__dots", F.array_max("__dots")) - 1).cast("int")
    )


def _assigned(
    df: DataFrame, vec_col: str, id_col: str, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vid, v, cell), EAGERLY pinned (r15, VERDICT r14 item 1): the
    assignment feeds the query batch, the probed join and the exact
    arm — independent stages of one action, which race a lazy cache
    and each recompute the n_cells-dot argmax over the corpus."""
    return persist_fact(_with_cell(_vectors(df, id_col, vec_col), "v", cents).drop("__dots"))


def _query_batch(
    df: DataFrame, id_col: str, vec_col: str, query_mod: int, query_cap: int
) -> DataFrame:
    """(query_id, qv array<double>): the capped query batch."""
    return df.filter(_query_sample_pred(F.col(id_col), query_mod, query_cap)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )


def _top_n(df: DataFrame, n: int, by: Column, tie: str, rank: str = "__rn") -> DataFrame:
    """Each query's first ``n`` rows by ``by``, ties to the lowest
    ``tie``; the 1-based position is kept as ``rank``."""
    w = Window.partitionBy("query_id").orderBy(by, F.col(tie).asc())
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _cos() -> Column:
    return F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cos")


def _top_k_by_cos(cand: DataFrame, k: int, rank: str = "__rn") -> DataFrame:
    return _top_n(cand, k, F.col("cos").desc(), "vid", rank)


def _probed(
    e: DataFrame, q: DataFrame, cents: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """(query_id, vid, cell_rank, cos): every assigned vector in each
    query's ``n_probe`` nearest cells (centroid dot desc, cell asc)."""
    cells = q.select("query_id", "qv", F.posexplode(_dots(F.col("qv"), cents)).alias("cell", "dp"))
    probe = _top_n(cells, n_probe, F.col("dp").desc(), "cell", "cell_rank")
    return probe.join(e, "cell").select("query_id", "vid", "cell_rank", _cos())


def _exact_top_k(e: DataFrame, q: DataFrame, k: int, rank: str = "__rn") -> DataFrame:
    """(query_id, vid, rank): the brute-force top-k by cosine."""
    cand = e.crossJoin(F.broadcast(q)).select("query_id", "vid", _cos())
    return _top_k_by_cos(cand, k, rank).select("query_id", "vid", rank)


def _hit_pairs(approx: DataFrame, exact: DataFrame, key: str) -> DataFrame:
    keys = ["query_id", key]
    return approx.select(*keys).join(exact.select(*keys), keys)


def _per_query_recall(
    q: DataFrame, approx: DataFrame, exact: DataFrame, k: int, key: str = "vid"
) -> DataFrame:
    """(query_id, n_hits, recall_at_k) for every query of the batch."""
    hits = _hit_pairs(approx, exact, key).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    n_hits = F.coalesce("n_hits", F.lit(0))
    return q.select("query_id").join(hits, "query_id", "left").select(
        "query_id",
        n_hits.cast("long").alias("n_hits"),
        F.round(n_hits / F.lit(float(k)), 6).alias("recall_at_k"),
    )


def _recall_point(approx: DataFrame, exact: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """One row (n_queries, n_hits, mean_recall) over the whole batch;
    mean recall is one division of two exact integers, round-6."""
    n_queries = q.select(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        _hit_pairs(approx, exact, "vid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .crossJoin(F.broadcast(n_queries))
        .select(
            "n_queries",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double")
                / (F.col("n_queries").cast("double") * F.lit(float(k))),
                6,
            ).alias("mean_recall"),
        )
    )


def ann_recall_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_mod: int = 100,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    query_cap: int = 500,
) -> DataFrame:
    """Recall@k of the IVF-probed ANN against the exact brute-force
    baseline, per query, over a deterministic query batch
    (``id % query_mod == 0 AND id < query_cap·query_mod`` — bounded by
    CONSTRUCTION, see :func:`_query_sample_pred`) — the
    approximation-audit for the ANN
    path, sibling of the MinHash banding-recall audit: before shipping
    an index configuration you measure what the probe misses.

    Plan: the ANN audit pipeline in the module docstring, end to end;
    at lake scale you sample the same fixed number of queries from a
    100 TB corpus and the audit cost stays put.
    """
    cents = _centroids(df, vec_col, id_col, n_cells)
    return _recall_eval_with_cents(
        _assigned(df, vec_col, id_col, cents), cents, query_mod, k, n_probe, query_cap
    )


def _recall_eval_with_cents(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    query_mod: int,
    k: int,
    n_probe: int,
    query_cap: int,
    brute: DataFrame | None = None,
) -> DataFrame:
    """Shared recall@k body: probe the given centroid model over the
    assigned corpus ``e`` (:func:`_assigned` under the same model),
    compare to exact brute force — called with fresh centroids
    by :func:`ann_recall_eval` and with the at-rest (stale) model by
    :func:`ivf_incremental_recall`. ``brute`` accepts a precomputed
    (query_id, vid) exact top-k — it is MODEL-INDEPENDENT, so a caller
    auditing two quantizers over the same corpus (ivf_retrain_plan)
    pays it once."""
    q = _query_batch(e, "vid", "v", query_mod, query_cap)
    ivf = _top_k_by_cos(_probed(e, q, cents, n_probe), k)
    return _per_query_recall(q, ivf, _exact_top_k(e, q, k) if brute is None else brute, k)


def ivf_append(
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
    cents: list[tuple[int, list[float]]],
) -> DataFrame:
    """Incremental IVF index maintenance, write side: assign a NEW
    embedding batch to the EXISTING (frozen) coarse-quantizer cells —
    the continuous-ingestion path for the at-rest IVF layout. Only the
    batch is scanned; the at-rest partitions are appended to, never
    rewritten, and the centroid model is the tiny broadcast literal it
    always was (:func:`ivf_assign`). Re-training the quantizer is a
    separate, deliberate act — :func:`ivf_incremental_recall` is the
    audit that tells you when the frozen model has aged enough to
    warrant it.

    Output: (id, vec, cell) rows for the batch, ready to append
    partition-by-``cell`` onto the at-rest layout.
    """
    return ivf_assign(
        new_vecs.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)),
        vec_col,
        cents,
    ).select(F.col(id_col), F.col(vec_col), "cell")


def ivf_incremental_recall(
    corpus: DataFrame,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
    query_mod: int = 100,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    query_cap: int = 500,
) -> DataFrame:
    """Recall@k of the AGED IVF index: the coarse quantizer was
    trained on ``corpus`` alone (the at-rest model — n_cells lowest-id
    corpus vectors, exactly what :func:`ivf_top_k` would have frozen
    at build time), but the index now also holds ``new_vecs`` appended
    via :func:`ivf_append`, and recall is measured on the GROWN
    corpus. This is the maintenance audit of incremental ANN: as
    appended batches drift from the training distribution, probed
    recall decays, and this table — same per-query grain as
    :func:`ann_recall_eval` — is the evidence for scheduling a
    re-train. With an empty batch it reduces to ann_recall_eval
    exactly (pinned as a law test).

    Scale: identical plan shape to ann_recall_eval (the ANN audit
    pipeline in the module docstring); the stale centroid model adds
    nothing — it is the same O(n_cells·dim) broadcast literal.
    """
    cents = _centroids(corpus, vec_col, id_col, n_cells)
    union = corpus.select(F.col(id_col), F.col(vec_col)).unionByName(
        new_vecs.select(F.col(id_col), F.col(vec_col))
    )
    return _recall_eval_with_cents(
        _assigned(union, vec_col, id_col, cents), cents, query_mod, k, n_probe, query_cap
    )


def dim_truncation_recall(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: tuple[int, ...] = (8, 16, 32),
    query_mod: int = 100,
    k: int = 10,
    query_cap: int = 500,
) -> DataFrame:
    """Recall@k under EMBEDDING TRUNCATION: rank by cosine over only
    the first d dimensions and measure overlap with the full-dimension
    exact top-k, per truncation width — the Matryoshka-representation
    audit (Kusupati et al. 2022): if a model's embeddings front-load
    information, serving a 4× shorter prefix buys 4× less index
    storage and bandwidth at a measured recall cost, and this table IS
    that measurement (sibling of :func:`pq_recall_eval`, which audits
    quantization instead of truncation).

    One candidate relation (corpus × broadcast capped query batch, see
    the module docstring) computes the full-width cosine AND every
    truncated cosine in the same pass — scan cost is linear in data
    and does not grow with ``len(dims)``; each width then pays one
    per-query top-k window over the shared candidates (the
    ivf_probe_sweep sharing shape). Output at WIDTH grain with exact
    integer hit sums; mean recall is one division of two exact
    integers, round-6.
    """
    e = _vectors(df, id_col, vec_col)
    q = _query_batch(e, "vid", "v", query_mod, query_cap)
    cand = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vid",
        F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cos_full"),
        *[
            F.round(
                cosine(F.slice(F.col("qv"), 1, d), F.slice(F.col("v"), 1, d)), 6
            ).alias(f"cos_{d}")
            for d in dims
        ],
    )
    cand = persist_fact(cand)  # candidate grain: every width's top-k arm
    # is an independent stage — eager pin (r15, VERDICT r14 item 1)

    def top_k(c: str) -> DataFrame:
        return _top_n(cand, k, F.col(c).desc(), "vid")

    full = top_k("cos_full")
    return reduce(
        DataFrame.unionByName,
        [
            _recall_point(top_k(f"cos_{d}"), full, q, k).select(
                F.lit(d).cast("int").alias("dim"), "*"
            )
            for d in dims
        ],
    )


def embedding_outlier_audit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Per-cell embedding OUTLIER audit: assign every vector to its
    nearest centroid cell, quantize the squared distance to its own
    centroid to integer micro-units, and flag vectors whose distance
    z-score within the cell exceeds ``z_thresh`` — the curation screen
    for mis-embedded documents (truncated inputs, wrong modality,
    encoder failures) that sit far from everything in their own
    neighborhood. Output at CELL grain: n, mean/std of distance², and
    the outlier count.

    Exactness: d² = (v·v − 2·v·c) + c·c is ONE shared float
    expression per row (no accumulation across rows); it is floored
    to 1e-6-units BEFORE the per-cell reduction, so the cell moments
    are exact integers (sums as decimal(38,0) — squares of micro
    units pass int64) and mean/std/z are shared-verbatim float
    expressions over the 16-row cell relation. Plan: one narrow
    assignment map (broadcast centroid literals), one cell-grain hash
    aggregate, one broadcast stats join back for the outlier count.
    """
    cents = _centroids(df, vec_col, id_col, n_cells)
    cc = F.array(*[F.lit(sum(x * x for x in c)) for _, c in cents])
    assigned = (
        _with_cell(_vectors(df, id_col, vec_col), "v", cents)
        .withColumn(
            "__d2",
            dot(F.col("v"), F.col("v"))
            - F.lit(2.0) * F.element_at("__dots", F.col("cell") + 1)
            + F.element_at(cc, F.col("cell") + 1),
        )
        .withColumn("__d2q", F.floor(F.col("__d2") * F.lit(1000000.0)).cast("long"))
        .select("vid", "cell", "__d2q")
    )
    assigned = persist_fact(assigned)  # corpus-grain assignment: the
    # stats aggregate and the outlier probe are independent consumers —
    # eager pin (r15, VERDICT r14 item 1)
    stats = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__d2q").cast("decimal(38,0)").alias("__s"),
        F.sum(F.col("__d2q").cast("decimal(19,0)") * F.col("__d2q").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("__ss"),
    )
    mean = F.col("__s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("__ss").cast("double") - F.col("__s").cast("double") * F.col("__s").cast("double") / F.col("n").cast("double")
    ) / F.col("n").cast("double")
    std = F.sqrt(var)
    enriched = stats.select(
        "cell", "n", mean.alias("__mean"), std.alias("__std")
    )
    outliers = (
        assigned.join(F.broadcast(enriched), "cell")
        .filter(
            (F.col("__std") > 0)
            & (
                F.col("__d2q").cast("double") - F.col("__mean")
                > F.lit(float(z_thresh)) * F.col("__std")
            )
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_outliers"))
    )
    return (
        enriched.join(outliers, "cell", "left")
        .select(
            "cell",
            "n",
            F.round(F.col("__mean"), 6).alias("mean_d2_micro"),
            F.round(F.col("__std"), 6).alias("std_d2_micro"),
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


def mmr_rerank(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results from the relevance top-``pool``,
    each step maximizing ``lam·rel − (1−lam)·max_sim_to_selected`` —
    the diversified top-k a retrieval surface serves when the plain
    cosine list is ten near-duplicates of the same document
    (:func:`~.windows.topk_diverse` imposes a categorical quota; MMR
    needs no labels — the embedding itself is the diversity signal).

    Plan: the pool is a distributed TakeOrderedAndProject (linear
    scan, fixed-size result); the greedy runs DRIVER-SIDE over the
    collected pool — a bounded k·pool² float loop on an O(1)-size
    model relation, the probe_cells precedent, NOT a corpus collect.
    Engine-exactness: rel and pairwise sims are recomputed on the
    driver with Python's sequential left-fold dot and banker's-round
    (both bit-matching DuckDB's ``list_dot_product`` + ``round``), so
    the unrolled-greedy SQL oracle replays the selection decision for
    decision; ties break to the lowest id at every step. The pool cut
    itself orders by ``F.bround`` (HALF_EVEN) — Spark's HALF_UP
    ``round`` would flip pool-boundary membership vs the oracle's
    half-even-rounded pool whenever a cosine's 6th decimal lands on a
    rounding tie (r12 advice), the same seam the trigram_doc_logprob
    docstring warns about.
    """
    from math import sqrt

    from pyspark.sql import types as T

    e = _vectors(df, id_col, vec_col)
    q = literal_vector(query_vec)
    pool_rows = (
        e.select("vid", "v", F.bround(cosine(F.col("v"), q), 6).alias("__rel"))
        .orderBy(F.col("__rel").desc(), F.col("vid").asc())
        .limit(pool)
        .collect()
    )

    def pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def pycos(a, b):
        return round(pydot(a, b) / (sqrt(pydot(a, a)) * sqrt(pydot(b, b))), 6)

    vecs = {r["vid"]: [float(x) for x in r["v"]] for r in pool_rows}
    rel = {vid: pycos(v, [float(x) for x in query_vec]) for vid, v in vecs.items()}
    sim = {
        (a, b): pycos(vecs[a], vecs[b]) for a in vecs for b in vecs if a != b
    }
    selected: list[int] = []
    remaining = set(vecs)
    while remaining and len(selected) < k:
        if not selected:
            pick = min(remaining, key=lambda vid: (-rel[vid], vid))
        else:
            def score(vid):
                worst = max(sim[(vid, s)] for s in selected)
                return lam * rel[vid] - (1.0 - lam) * worst
            pick = min(remaining, key=lambda vid: (-score(vid), vid))
        selected.append(pick)
        remaining.discard(pick)
    out = [(i + 1, vid, rel[vid]) for i, vid in enumerate(selected)]
    # the id field keeps the INPUT's id type — a hardcoded 'vid long'
    # would crash or silently coerce string ids (r12 advice)
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("vid", df.schema[id_col].dataType, False),
            T.StructField("rel", T.DoubleType(), False),
        ]
    )
    return df.sparkSession.createDataFrame(out, schema).select(
        "rank", F.col("vid").alias(id_col), "rel"
    )


def _drift_cell_counts(
    corpus: DataFrame,
    new_vecs: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    n_cells: int,
) -> DataFrame:
    """Spine-joined EXACT per-cell occupancy counts of both arms under
    a frozen quantizer — shared by :func:`ivf_cell_drift` (share/drift
    readout) and :func:`ivf_retrain_plan` (integer-exact TVD decision).
    One assignment pass per arm, two cell-grain hash aggregates, empty
    cells present as zero rows."""

    def cell_counts(df: DataFrame, out: str) -> DataFrame:
        return (
            ivf_assign(
                df.select(F.col(vec_col).cast("array<double>").alias(vec_col)),
                vec_col,
                cents,
            )
            .groupBy("cell")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    spark = corpus.sparkSession
    spine = spark.range(n_cells).select(F.col("id").cast("int").alias("cell"))
    rest = cell_counts(corpus, "n_rest")
    new = cell_counts(new_vecs, "n_new")
    return (
        spine.join(rest, "cell", "left")
        .join(new, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_rest", F.lit(0)).cast("long").alias("n_rest"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )


def ivf_cell_drift(
    corpus: DataFrame,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
) -> DataFrame:
    """Per-cell occupancy drift of the aged IVF index: how the
    appended batch distributes over the FROZEN cells vs how the
    training corpus did — the cheap leading indicator that
    :func:`ivf_incremental_recall`'s recall decay follows (a batch
    that piles into a few cells is off the training distribution, and
    hot cells also break the at-rest layout's pruning economics).

    One assignment pass per arm (broadcast centroid literals, no
    shuffle), two cell-grain hash aggregates, and an explicit
    0..n_cells-1 SPINE outer-joined with the counts — empty cells are
    rows too (the srm_check zero-arm lesson: a cell the batch
    abandons, or one it floods that the corpus never used, is the
    most extreme drift and must not vanish from the audit). Shares
    are single float divisions over exact int64 counts, round-6.
    """
    cents = _centroids(corpus, vec_col, id_col, n_cells)
    joined = _drift_cell_counts(corpus, new_vecs, vec_col, cents, n_cells)
    tots = joined.agg(
        F.sum("n_rest").cast("long").alias("__tr"), F.sum("n_new").cast("long").alias("__tn")
    )
    rest_share = F.col("n_rest").cast("double") / F.col("__tr").cast("double")
    new_share = F.col("n_new").cast("double") / F.col("__tn").cast("double")
    return (
        joined.crossJoin(F.broadcast(tots))
        .select(
            "cell",
            "n_rest",
            "n_new",
            F.round(rest_share, 6).alias("rest_share"),
            F.when(F.col("__tn") > 0, F.round(new_share, 6)).alias("new_share"),
            F.when(F.col("__tn") > 0, F.round(new_share - rest_share, 6)).alias("drift"),
        )
    )


def ivf_retrain_plan(
    corpus: DataFrame,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
    query_mod: int = 100,
    query_cap: int = 500,
    drift_thresh_micro: int = 100_000,
    recall_thresh_micro: int = 900_000,
) -> DataFrame:
    """WHEN-TO-RETRAIN, encoded as a plan instead of operator judgment
    — the decision step the incremental-ANN loop (ivf_append_sink →
    :func:`ivf_cell_drift` → :func:`ivf_incremental_recall`) left
    implicit, in the repair_run detect→act→verify shape
    (plans/reconcile.py:108). One decision row:

    - drift arm: total-variation distance between the batch's and the
      corpus's cell occupancy under the FROZEN quantizer, computed in
      EXACT integers (S = Σ_c |n_new_c·tr − n_rest_c·tn|; TVD =
      S/(2·tn·tr)); exceeds iff S·10^6 > 2·thresh·tn·tr — no float
      ever meets a threshold (the pareto_abc rounding discipline);
    - recall arm: aged-index recall@k over the capped deterministic
      query batch (:func:`_recall_eval_with_cents` with the stale
      model); below iff hits·10^6 < thresh·n_queries·k, exact;
    - decision: retrain iff either trips. On retrain the plan REBUILDS
      the quantizer with the standard batch convention
      (:func:`_centroids` over the GROWN corpus — exactly what
      :func:`ivf_top_k` would freeze, so a fresh index reproduces
      ivf_top_k bit-for-bit: the pinned law test) and audits the fresh
      model's recall on the same queries; otherwise the fresh column
      is NULL and nothing is rebuilt.

    Scale: the decision consumes one n_cells-row model relation and
    two scalar aggregates (collected driver-side — the probe_cells
    precedent, model grain, never the data); the heavy arms are the
    same capped audits the loop already runs, and the retrain arm is
    paid ONLY when the decision trips. Everything it pins is released
    once the scalars are collected: the returned row is driver-built,
    and a streaming caller runs this on every decision epoch.
    """
    spark = corpus.sparkSession
    stale = _centroids(corpus, vec_col, id_col, n_cells)
    union = corpus.select(F.col(id_col), F.col(vec_col)).unionByName(
        new_vecs.select(F.col(id_col), F.col(vec_col))
    )
    counts = _drift_cell_counts(corpus, new_vecs, vec_col, stale, n_cells).collect()
    tr = sum(int(r["n_rest"]) for r in counts)
    tn = sum(int(r["n_new"]) for r in counts)
    s_tvd = sum(abs(int(r["n_new"]) * tr - int(r["n_rest"]) * tn) for r in counts)
    drift_tvd_micro = (s_tvd * 1_000_000) // (2 * tn * tr) if tn > 0 and tr > 0 else None
    drift_exceeded = (
        tn > 0 and tr > 0 and s_tvd * 1_000_000 > 2 * drift_thresh_micro * tn * tr
    )
    # the exact brute-force top-k is MODEL-INDEPENDENT — pay it once
    # (pinned at query×k grain) and share it across the aged and
    # fresh audits instead of recomputing the corpus×queries arm twice
    eu = _vectors(union, id_col, vec_col)
    brute = _exact_top_k(eu, _query_batch(eu, "vid", "v", query_mod, query_cap), k)
    brute = brute.persist()  # query-x-k grain; both recall arms (lazy pin)

    def recall_hits(cents: list[tuple[int, list[float]]]) -> tuple[int, int]:
        e = _assigned(union, vec_col, id_col, cents)
        try:
            r = (
                _recall_eval_with_cents(e, cents, query_mod, k, n_probe, query_cap, brute=brute)
                .agg(F.sum("n_hits").cast("long").alias("h"), F.count(F.lit(1)).alias("nq"))
                .first()
            )
        finally:
            e.unpersist()
        return int(r["h"] or 0), int(r["nq"])

    try:
        aged_hits, nq = recall_hits(stale)
        aged_recall_micro = (aged_hits * 1_000_000) // (nq * k) if nq > 0 else None
        recall_below = nq > 0 and aged_hits * 1_000_000 < recall_thresh_micro * nq * k
        retrain = bool(drift_exceeded or recall_below)
        fresh_recall_micro = None
        if retrain:
            fresh_hits, fresh_nq = recall_hits(_centroids(union, vec_col, id_col, n_cells))
            if fresh_nq > 0:
                fresh_recall_micro = (fresh_hits * 1_000_000) // (fresh_nq * k)
    finally:
        brute.unpersist()

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n_corpus", T.LongType(), False),
            T.StructField("n_new", T.LongType(), False),
            T.StructField("drift_tvd_micro", T.LongType(), True),
            T.StructField("aged_hits", T.LongType(), False),
            T.StructField("n_queries", T.LongType(), False),
            T.StructField("aged_recall_micro", T.LongType(), True),
            T.StructField("drift_exceeded", T.BooleanType(), False),
            T.StructField("recall_below", T.BooleanType(), False),
            T.StructField("retrain", T.BooleanType(), False),
            T.StructField("fresh_recall_micro", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(
        [
            (
                tr,
                tn,
                drift_tvd_micro,
                aged_hits,
                nq,
                aged_recall_micro,
                bool(drift_exceeded),
                bool(recall_below),
                retrain,
                fresh_recall_micro,
            )
        ],
        schema,
    )


def ivf_probe_sweep(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_mod: int = 100,
    k: int = 10,
    n_cells: int = 16,
    probes: tuple[int, ...] = (1, 2, 4, 8),
    query_cap: int = 500,
) -> DataFrame:
    """The n_probe TUNING TABLE for the IVF index: mean recall@k over
    the deterministic query batch at each probe count — what an
    operator reads to pick the recall/cost point before serving
    (:func:`ann_recall_eval` audits ONE configuration; this sweeps the
    knob). Outputs one row per probe count with exact-integer hit
    sums; the mean recall is a division of two exact integers, so it
    is the identical double in every engine.

    Cost shape: the expensive pieces are computed ONCE and shared
    across the whole sweep — the assigned corpus and the exact arm of
    the ANN audit pipeline (module docstring), and ONE probed
    candidate set at max(probes) cells per query with ``cell_rank``
    retained; each probe count is then a rank filter + per-query
    top-k window over that same candidate set, never a new scan.
    Adding a probe point to the sweep costs one window over the
    already-joined candidates.
    """
    cents = _centroids(df, vec_col, id_col, n_cells)
    e = _assigned(df, vec_col, id_col, cents)
    q = _query_batch(e, "vid", "v", query_mod, query_cap)
    # EAGER pins (r15, VERDICT r14 item 1): the candidate set and the
    # brute baseline each feed EVERY probe point's arm — independent
    # stages that race a lazy cache.
    cand = persist_fact(_probed(e, q, cents, max(probes)))
    brute = persist_fact(_exact_top_k(e, q, k))  # query-x-k grain
    return reduce(
        DataFrame.unionByName,
        [
            _recall_point(_top_k_by_cos(cand.filter(F.col("cell_rank") <= p), k), brute, q, k)
            .select(
                F.lit(p).cast("int").alias("n_probe"),
                "n_queries",
                F.col("n_hits").alias("sum_hits"),
                F.col("mean_recall").alias("mean_recall_at_k"),
            )
            for p in probes
        ],
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-vector ANN scale path
# ---------------------------------------------------------------------------
def pq_model(
    df: DataFrame, vec_col: str, id_col: str, m: int = 4, n_codes: int = 16
) -> tuple[list[tuple[int, int, list[float]]], int]:
    """Deterministic PQ codebook: split the embedding into ``m``
    subspaces and use the ``n_codes`` lowest-id vectors' subvectors as
    each subspace's code words (the same frozen-quantizer convention as
    :func:`_centroids` — a trained k-means codebook would drift
    run-to-run and break the oracle/invariant tests; the serving
    geometry is identical). Returns ``[(sub, code, subvector)]`` rows
    plus the subspace width. O(n_codes × dim) — a model parameter,
    collected driver-side and broadcast, never the data."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    dim = len(rows[0][1])
    d_sub = dim // m
    out = []
    for code, r in enumerate(rows):
        v = [float(x) for x in r[1]]
        for s in range(m):
            out.append((s, code, v[s * d_sub : (s + 1) * d_sub]))
    return out, d_sub


def _pq_codebook_df(df: DataFrame, vec_col: str, id_col: str, m: int, n_codes: int):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    model, d_sub = pq_model(df, vec_col, id_col, m, n_codes)
    schema = StructType(
        [
            StructField("sub", IntegerType()),
            StructField("code", IntegerType()),
            StructField("cv", ArrayType(DoubleType())),
        ]
    )
    return df.sparkSession.createDataFrame(model, schema), d_sub


def _sq_l2_scaled(a: Column, b: Column) -> Column:
    """Squared L2 distance as an exact-comparison key: the three dot
    products (||a||² - 2a·b + ||b||²) floor-scaled to micro-units and
    cast to bigint — floor truncates identically in Spark and DuckDB
    (round() would diverge half-up vs half-even at an exact .5), so
    ranking on this bigint is engine-portable with an id tie-break."""
    d = dot(a, a) - 2 * dot(a, b) + dot(b, b)
    return F.floor(d * 1000000).cast("long")


def _subspaces(df: DataFrame, vec_col: str, id_col: str, m: int, d_sub: int) -> DataFrame:
    """Explode each vector into its ``m`` subvectors (id, sub, sv) —
    a narrow Generate over the scan, no shuffle."""
    return df.select(
        F.col(id_col),
        F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("sub"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).select(
        id_col,
        "sub",
        F.slice(F.col("__v"), F.col("sub") * d_sub + 1, F.lit(d_sub)).alias("sv"),
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    n_codes: int = 16,
    codebook: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Encode every vector to ``m`` small codes: (id, sub, code) with
    code = argmin_c ||subvec - codeword_c||² (lowest code wins ties).

    Plan shape: broadcast the O(m × n_codes) codebook against the
    exploded subvector relation, then the argmin is a HASH AGGREGATE
    on (id, sub) — no sort, no window exchange; no shuffle of vector
    payloads. At rest this table replaces the raw vectors for
    first-pass search: m bytes-ish per vector instead of dim floats
    (64-dim float32 → 4 codes ≈ 64× smaller), which is what lets a
    100 TB corpus's index live in memory. Combine with the IVF cell
    layout (plans/pair_graph.ivf_embeddings) for IVF-PQ: partition
    pruning picks the cells, the ADC scan ranks inside them."""
    cb, d_sub = (
        codebook if codebook is not None else _pq_codebook_df(df, vec_col, id_col, m, n_codes)
    )
    sub_df = _subspaces(df, vec_col, id_col, m, d_sub)
    j = sub_df.join(F.broadcast(cb), "sub")
    # argmin as a hash aggregate, not a row_number window: min(struct)
    # is lexicographic, so the smallest distance wins and distance-ties
    # resolve to the lowest code — same semantics, but NO sort exchange
    # over the N×m×n_codes candidate relation (the same window→struct
    # swap measured at 30× on label_propagation: the sort was ~2/3 of
    # that query's warm time).
    return (
        j.groupBy(id_col, "sub")
        .agg(
            F.min(
                F.struct(
                    _sq_l2_scaled(F.col("sv"), F.col("cv")).alias("__d"), F.col("code")
                )
            ).alias("__m")
        )
        .select(F.col(id_col), F.col("sub").cast("int").alias("sub"), F.col("__m.code").alias("code"))
    )


def pq_recall_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_mod: int = 100,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    codes: DataFrame | None = None,
    query_cap: int = 500,
) -> DataFrame:
    """Recall@k of the PQ/ADC approximate scan vs the exact L2 top-k —
    the PQ twin of :func:`ann_recall_eval`. Per deterministic query
    (the :func:`_query_sample_pred` capped sample):
    (query_id, n_hits, recall_at_k).

    ADC (asymmetric distance computation): the query stays exact; each
    database vector is its codes, and the approximate distance is the
    sum over subspaces of a per-query LOOKUP TABLE entry
    LUT[sub, code] = ||q_sub - codeword||². The LUT is O(queries × m ×
    n_codes) — broadcast — and the scan costs m integer adds per
    database vector instead of dim multiplies; distances are exact
    bigint micro-units, so the sum is order-free and the ranking
    engine-portable. The exact arm ranks the same floor-scaled squared
    L2. This is the audit an operator runs before trusting the
    codes-only table for first-pass retrieval. Query batch, per-query
    top-k and hits are the ANN audit pipeline's (module docstring)."""
    cb, d_sub = _pq_codebook_df(df, vec_col, id_col, m, n_codes)
    if codes is None:
        codes = pq_encode(df, vec_col, id_col, m, n_codes, codebook=(cb, d_sub))

    queries = _query_batch(df, id_col, vec_col, query_mod, query_cap)
    q_subs = _subspaces(queries, "qv", "query_id", m, d_sub)
    lut = q_subs.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        "code",
        _sq_l2_scaled(F.col("sv"), F.col("cv")).alias("__ld"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("__ld").alias("__adist"))
    )
    exact = (
        df.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            F.col(id_col),
            _sq_l2_scaled(F.col("qv"), F.col(vec_col).cast("array<double>")).alias("__d"),
        )
    )
    return _per_query_recall(
        queries,
        _top_n(adc, k, F.col("__adist").asc(), id_col),
        _top_n(exact, k, F.col("__d").asc(), id_col),
        k,
        id_col,
    )


def ivf_pq_top_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    assigned: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ serving: coarse-quantizer partition pruning picks the
    candidate cells, then the ADC LUT ranks candidates from their PQ
    CODES — raw vectors are never touched at query time. This is the
    100 TB composition: pass ``assigned`` = the cell-partitioned
    at-rest layout (plans/pair_graph.ivf_embeddings — the cell filter
    compiles to partition pruning) and ``codes`` = the maintained
    codes table (plans/pair_graph.pq_codes_table); the query-time work
    is a pruned id scan + an O(m × n_codes) broadcast LUT + m bigint
    adds per candidate. Returns (id, adist) top-k, exact-integer
    ranking with id tie-break (engine-portable)."""
    import math as _math

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    cents = _centroids(df, vec_col, id_col, n_cells)
    probe = probe_cells(cents, query_vec, n_probe)
    if assigned is None:
        assigned = ivf_assign(df, vec_col, cents)
    cand = assigned.filter(F.col("cell").isin(probe)).select(id_col)

    model, d_sub = pq_model(df, vec_col, id_col, m, n_codes)
    lut_rows = []
    for s, c, cv in model:
        q = [float(x) for x in query_vec[s * d_sub : (s + 1) * d_sub]]
        qq = sum(a * a for a in q)
        qc = sum(a * b for a, b in zip(q, cv))
        cc = sum(b * b for b in cv)
        lut_rows.append((s, c, int(_math.floor((qq - 2 * qc + cc) * 1000000))))
    lut = df.sparkSession.createDataFrame(
        lut_rows,
        StructType(
            [
                StructField("sub", IntegerType()),
                StructField("code", IntegerType()),
                StructField("ld", LongType()),
            ]
        ),
    )
    if codes is None:
        codes = pq_encode(df, vec_col, id_col, m, n_codes)
    return (
        codes.join(cand, id_col)
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("ld").alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_rerank_top_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_short: int = 50,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    assigned: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Coarse-to-fine ANN serving: the IVF-PQ/ADC pass shortlists
    ``n_short`` candidates from the compressed codes (partition-pruned
    cells, no raw vectors), then ONLY those ``n_short`` rows are
    re-ranked with the EXACT distance from the raw vector table — the
    standard two-stage pattern (FAISS/ScaNN refine step) that buys
    back the quantization error for k « n_short while still never
    scanning raw vectors: at 100 TB the rerank is an id semi-join
    probing n_short rows of the at-rest embedding table (sorted or
    bucketed by id → a selective, prunable read), not a scan. Exact
    bigint micro-unit squared-L2, id tie-break — engine-portable.
    Returns (id, d2)."""
    shortlist = ivf_pq_top_k(
        df,
        vec_col,
        id_col,
        query_vec,
        k=n_short,
        n_cells=n_cells,
        n_probe=n_probe,
        m=m,
        n_codes=n_codes,
        assigned=assigned,
        codes=codes,
    )
    q = literal_vector([float(x) for x in query_vec])
    return (
        df.join(F.broadcast(shortlist.select(id_col)), id_col, "left_semi")
        .select(
            F.col(id_col),
            _sq_l2_scaled(F.col(vec_col).cast("array<double>"), q).alias("d2"),
        )
        .orderBy(F.col("d2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def sq8_reconstruction_stats(
    df: DataFrame,
    vec_col: str,
    group_col: str,
) -> DataFrame:
    """Scalar (int8) quantization audit: per-dimension [min, max] over
    the corpus defines a 256-level uniform grid; every value is encoded
    as ``floor((x - min) / step)`` (clamped) and reconstructed at the
    cell midpoint, and the per-group reconstruction error says what 4×
    compression would cost a 100 TB embedding store (the SQ sibling of
    pq_recall_eval's PQ audit).

    Portability: min/max are order-insensitive, and every per-value op
    (subtract / divide / floor / clamp) is a deterministic IEEE double
    expression, so codes are bit-identical across engines; only the
    error SUM is order-dependent, and it is rounded at the audit grain.
    Plan shape: posexplode is a narrow Generate; the 64-row dim-stats
    aggregate is eagerly materialized and broadcast back onto the
    second pass; one final hash aggregate to the group grain.
    Degenerate dimensions (max == min) encode as code 0 with zero
    error.
    """
    exploded = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    stats = (
        exploded.groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .withColumn("step", (F.col("hi") - F.col("lo")) / F.lit(255.0))
        .persist()  # dim-grain; encode + decode consumers (lazy pin)
    )
    code = F.when(F.col("step") == 0.0, F.lit(0.0)).otherwise(
        F.least(F.floor((F.col("x") - F.col("lo")) / F.col("step")), F.lit(255.0))
    )
    recon = F.col("lo") + (code + F.lit(0.5)) * F.col("step")
    err = F.when(F.col("step") == 0.0, F.lit(0.0)).otherwise(F.col("x") - recon)
    return (
        exploded.join(F.broadcast(stats), "dim")
        .select(F.col(group_col), err.alias("err"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.sum(F.col("err") * F.col("err")), 6).alias("sq_err_sum"),
            F.round(F.max(F.abs(F.col("err"))), 9).alias("max_abs_err"),
        )
    )


def rrf_fuse(
    ranked: dict[str, tuple[DataFrame, str]],
    id_col: str,
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of multiple ALREADY-TRUNCATED retrieval
    lists: score(d) = Σ_r 1/(k0 + rank_r(d)) over the rankers that
    returned d — the standard zero-tuning way to combine
    incommensurable scorers (BM25 + dense cosine + ...) into one list.

    ``ranked`` maps ranker name → (top-N DataFrame, score column);
    ranks are assigned here by (rounded score desc, id asc), so a
    last-ulp score difference can never flip a rank cross-engine. The
    fusion sum folds over the (name, rank) list SORTED by name — a
    fixed left-to-right float fold, deterministic for ANY number of
    rankers (a bare SUM's accumulation order is not). Every input is
    top-N bounded, so the windows, the union, and the fold all run on
    k-scale relations — the corpus never re-enters.
    """
    tagged = []
    for name in sorted(ranked):
        rdf, score_col = ranked[name]
        w = Window.orderBy(F.round(F.col(score_col), 6).desc(), F.col(id_col).asc())
        tagged.append(
            rdf.select(
                F.col(id_col),
                F.lit(name).alias("__ranker"),
                F.row_number().over(w).alias("__rank"),
            )
        )
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    folded = allr.groupBy(id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__ranker", "__rank"))),
            F.lit(0.0),
            lambda acc, x: acc + F.lit(1.0) / (F.lit(k0) + x["__rank"]),
        ).alias("__rrf"),
        *[
            F.min(F.when(F.col("__ranker") == n, F.col("__rank"))).alias(f"rank_{n}")
            for n in sorted(ranked)
        ],
    )
    return (
        folded.select(
            id_col, F.round("__rrf", 6).alias("rrf"),
            *[f"rank_{n}" for n in sorted(ranked)],
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ndcg_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_mod: int = 100,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    query_cap: int = 500,
) -> DataFrame:
    """nDCG@k of the IVF-probed ANN against the exact ranking, per
    query — the GRADED companion to :func:`ann_recall_eval`: recall
    counts hits, nDCG also penalizes returning them in the wrong
    order (relevance of a hit = k+1 − its exact rank; misses score 0).

    Float-free by construction: the discount weights 10^6/log2(r+1)
    are precomputed ONCE as integer literals shared verbatim with the
    SQL oracle, so DCG is an exact integer sum (rel · w_r) and the
    only division is the final dcg/idcg — no cross-engine libm or
    accumulation-order exposure anywhere. Plan: the ANN audit
    pipeline in the module docstring, with each arm's per-query rank
    kept (``rank_ret``, ``rank_exact``).
    """
    weights = [round(1_000_000 / math.log2(r + 1)) for r in range(1, k + 1)]
    idcg = sum((k + 1 - r) * weights[r - 1] for r in range(1, k + 1))

    cents = _centroids(df, vec_col, id_col, n_cells)
    e = _assigned(df, vec_col, id_col, cents)
    q = _query_batch(e, "vid", "v", query_mod, query_cap)
    ivf = _top_k_by_cos(_probed(e, q, cents, n_probe), k, "rank_ret")
    brute = _exact_top_k(e, q, k, "rank_exact")
    warr = F.array(*[F.lit(w) for w in weights])
    scored = (
        ivf.select("query_id", "vid", "rank_ret")
        .join(brute, ["query_id", "vid"], "left")
        .select(
            "query_id",
            (
                F.coalesce(F.lit(k + 1) - F.col("rank_exact"), F.lit(0)).cast("long")
                * F.element_at(warr, F.col("rank_ret"))
            ).alias("__term"),
        )
        .groupBy("query_id")
        .agg(F.sum("__term").alias("dcg_micro"))
    )
    return (
        q.select("query_id")
        .join(scored, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("dcg_micro", F.lit(0)).cast("long").alias("dcg_micro"),
            F.round(F.coalesce("dcg_micro", F.lit(0)) / F.lit(float(idcg)), 6).alias("ndcg"),
        )
    )
