"""End-to-end batch pipeline driver (SURVEY §3.1 in batch form).

One DataFrame DAG: load → facts (joins + window allocation + rollups)
→ lineage columns (C6) → two partitioned, cluster-sorted sinks
(B2/B3). The streaming twin reuses the identical transforms under
foreachBatch (streaming/pipeline.py). A rebuild is two write queries,
one per fact table, run at the same time on two driver threads (the
reference loads the two tables as independent BigQuery jobs): 8 Spark
jobs in all (each write's AQE query stages and its write job), every
one in the caller's job group.
"""

from __future__ import annotations

from pyspark import InheritableThread
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

    The two facts are built and written at the same time: ``pedidos``
    on the calling thread, ``itens_pedido`` on an ``InheritableThread``,
    which copies the caller's local properties so its jobs stay in the
    caller's job group. A small rebuild's stages are single-task, so one
    write's driver work (plan build, analysis, AQE re-planning, commit)
    runs while the other's tasks use idle cores. The call returns or
    raises only after both writes have finished; a failure in either is
    raised here. Neither table write is atomic, and a failure in one does
    not stop the other, so the sibling table may still be overwritten.
    """
    items = sales_facts.enriched_items(spark, sf_dir)
    orders = sales_facts._orders(spark, sf_dir)
    rows: dict[str, int] = {}
    failed: list[BaseException] = []

    def write(table: str, fact, cluster_cols: list[str]) -> None:
        df, obs = sinks.counted(with_lineage(fact(items, orders)))
        sinks.write_partitioned(
            df, f"{out_dir}/{table}", "pedido_dia", cluster_cols=cluster_cols, mode="overwrite"
        )
        rows[table] = obs.get["rows"]

    def write_itens() -> None:
        try:
            write("itens_pedido", sales_facts._itens, ["pedido_id", "produto_id"])
        except BaseException as e:
            failed.append(e)

    worker = InheritableThread(target=write_itens, name="run_sales_pipeline-itens_pedido")
    worker.start()
    try:
        write("pedidos", sales_facts._pedidos, ["pedido_id"])
    finally:
        worker.join()
    if failed:
        raise failed[0]
    return {"pedidos": rows["pedidos"], "itens_pedido": rows["itens_pedido"]}
