"""End-to-end batch pipeline driver (SURVEY §3.1 in batch form).

One DataFrame DAG: load → facts (joins + window allocation + rollups)
→ lineage columns (C6) → two partitioned, cluster-sorted sinks
(B2/B3). The streaming twin reuses the identical transforms under
foreachBatch (streaming/pipeline.py) — the reference's four Cloud
Functions become stage boundaries inside a single job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sinks
from ..functions import scalar
from . import sales_facts

SOURCE_ID = "z316-spark"
VERSION = "v1"


def with_lineage(df: DataFrame) -> DataFrame:
    """C6 — metadata columns on every row: uuid, source_id, load ts.

    Reference gcs_to_bq/main.py:272-277. uuid/current_timestamp are
    nondeterministic by design — excluded from oracle-checked queries,
    present on the write path.
    """
    return df.withColumns(
        {
            "uuid": scalar.gen_uuid(),
            "source_id": F.lit(f"{SOURCE_ID}-pdv_{VERSION}"),
            "update_timestamp": F.current_timestamp(),
        }
    )


def run_sales_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """The flagship hot path: facts computed once, fanned out to two
    day-partitioned, cluster-sorted tables (S6 multi-sink, batch form).

    Partition column = order date day (B3's TimePartitioning DAY);
    cluster sort = the reference's clustering fields
    (sales_to_bq/main.py:360-363 analogue).

    Each source table is loaded once: the lineitem ⋈ part enrichment
    and the orders frame (which carries the partition day) are built
    once and shared by both facts.

    The returned row counts come from ``count(1)`` observations riding
    each write job (``sinks.counted``), not from re-reading the
    written tables.
    """
    items = sales_facts.enriched_items(spark, sf_dir)
    orders = sales_facts._orders(spark, sf_dir)
    pedidos = sales_facts._pedidos(items, orders)
    itens = sales_facts._itens(items, orders)

    pedidos, pedidos_rows = sinks.counted(with_lineage(pedidos))
    itens, itens_rows = sinks.counted(with_lineage(itens))
    sinks.write_partitioned(
        pedidos,
        f"{out_dir}/pedidos",
        "pedido_dia",
        cluster_cols=["pedido_id"],
        mode="overwrite",
    )
    sinks.write_partitioned(
        itens,
        f"{out_dir}/itens_pedido",
        "pedido_dia",
        cluster_cols=["pedido_id", "produto_id"],
        mode="overwrite",
    )
    return {"pedidos": pedidos_rows.get["rows"], "itens_pedido": itens_rows.get["rows"]}
