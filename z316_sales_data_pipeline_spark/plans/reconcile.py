"""Reconciliation plans (SURVEY §3 honorable-mention entry point).

The reference's data_validation suite is pure set algebra over id
collections (gcs_to_bq-checker.py:37-60; api_to_gcs-checker.py:59-89)
plus keep-rule duplicate resolution (:130-173). Same semantics here,
over the driver tables: every check is a left_anti/except/full-outer on
the KEY ONLY, so at 100 TB the shuffle carries one column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..persistence import pin_fact
from ..sources.tables import load_table


def _setdiff_counts(a: DataFrame, b: DataFrame, prefix: str) -> DataFrame:
    """One-row summary of a↔b key-set relations via a single full-outer
    join on distinct keys (declarative twin of Python set -, &, |)."""
    a = a.select(F.col(a.columns[0]).alias("id")).distinct().withColumn("__a", F.lit(1))
    b = b.select(F.col(b.columns[0]).alias("id")).distinct().withColumn("__b", F.lit(1))
    j = a.join(b, "id", "full_outer")
    return j.agg(
        F.sum(F.when(F.col("__b").isNull(), 1).otherwise(0)).alias(f"{prefix}_only_a"),
        F.sum(F.when(F.col("__a").isNull(), 1).otherwise(0)).alias(f"{prefix}_only_b"),
        F.sum(F.when(F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1).otherwise(0)).alias(
            f"{prefix}_common"
        ),
        F.count(F.lit(1)).alias(f"{prefix}_union"),
    )


def reconciliation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's multi-way set-difference report as ONE summary row.

    Mirrors compare_ids (gcs_to_bq-checker.py:37-60) over the driver
    tables: orders↔lineitem order-key space and customer↔orders
    customer-key space. Two one-row aggregates cross-joined — constant
    output size regardless of input scale.
    """
    orders_k = load_table(spark, sf_dir, "orders").select("o_orderkey")
    lineitem_k = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    customer_k = load_table(spark, sf_dir, "customer").select("c_custkey")
    ocust_k = load_table(spark, sf_dir, "orders").select("o_custkey")
    ord_rel = _setdiff_counts(orders_k, lineitem_k, "ord")
    cust_rel = _setdiff_counts(customer_k, ocust_k, "cust")
    return ord_rel.crossJoin(cust_rel)


def repair_plan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> tuple[DataFrame, DataFrame]:
    """Detect-and-resolve half of the repair run: exact-dup groups by
    content fingerprint, keeper = min id per group (the reference's
    keep-rule collapses to first-ingested when every copy carries a real
    timestamp — driver ids are ingest-ordered), losers = everyone else.

    Returns (tagged, losers): ``tagged`` is the (id, source, fp, rn)
    relation the report aggregates over; ``losers`` is the delete list
    the sink side feeds to :func:`sinks.anti_join_delete`. One shuffle
    on the 128-bit fingerprint; the window partitions are dup groups
    (tiny), so no skew concern at corpus scale.

    Mirrors /root/reference/data_validation/api_to_gcs-checker.py:130-173
    (group folders by dados_id, resolve_duplicates keep-rule).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    from pyspark.sql import Window

    tagged = (
        docs.select(F.col(id_col), F.col(source_col), F.md5(norm).alias("fp"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("fp").orderBy(F.col(id_col).asc())),
        )
    )
    # doc-grain (fact), feeds the report AND the delete list; the
    # row_number recompute is deterministic (orderBy id asc), so the
    # lazy keep-lineage pin is safe
    tagged = pin_fact(tagged)
    losers = tagged.filter(F.col("rn") > 1).select(id_col, source_col, "fp")
    return tagged, losers


def repair_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end duplicate REPAIR run over ``documents`` — the
    reference's full checker loop composed as ONE relational plan
    (api_to_gcs-checker.py:192-207: detect dups → keep-rule keeper →
    delete losers → verify-count, with the delete as the B6 anti-join
    shape from :func:`sinks.anti_join_delete`). Per-source report:
    docs seen, dup groups touched, losers deleted, rows remaining
    after the delete, and the verify bit (remaining == docs − losers,
    computed from the POST-DELETE relation, not arithmetic — the same
    independent count the reference re-queries after its DELETE).
    """
    from .. import sinks
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tagged, losers = repair_plan(docs)
    survivors = sinks.anti_join_delete(tagged, losers.select("doc_id"), "doc_id")
    detect = tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.when(F.col("rn") > 1, F.col("fp"))).alias("n_dup_groups"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_losers"),
    )
    after = survivors.groupBy("source").agg(F.count(F.lit(1)).alias("n_after_delete"))
    return (
        detect.join(after, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_dup_groups",
            "n_losers",
            F.coalesce("n_after_delete", F.lit(0)).alias("n_after_delete"),
            (F.coalesce("n_after_delete", F.lit(0)) == F.col("n_docs") - F.col("n_losers"))
            .cast("int")
            .alias("verify_ok"),
        )
    )
