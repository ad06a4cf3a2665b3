"""Nested-JSON ingest path (SURVEY §2.A/F14/F15, §3.1 steps 1–3).

The reference's hot path carries one nested JSON document per sale
(TinyERP ``retorno.pedido`` with an ``itens`` array). Spark-side:
explicit ``StructType`` (§1.3 regime 1 — never inference), permissive
``from_json`` (missing → NULL), ``inline`` for the item fan-out.

For the driver tables we synthesize the documents from orders+lineitem
(deterministically, so the DuckDB oracle can compute the same result
relationally), then run the REAL parse→inline pipeline. This
tests that the JSON roundtrip preserves the analytics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import load_table

# The pedido document schema (mirror of gcs_to_bq/main.py:24-100's PDV
# shape, reduced to the fields the driver tables can populate).
PEDIDO_JSON_SCHEMA = T.StructType(
    [
        T.StructField("numero", T.LongType()),
        T.StructField("situacao", T.StringType()),
        T.StructField(
            "itens",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("linha", T.IntegerType()),
                        T.StructField("idProduto", T.LongType()),
                        T.StructField("valor", T.DoubleType()),
                        T.StructField("quantidade", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def synthesize_pedido_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One JSON document per order: header + sorted itens array."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    itens = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("linha"),
                    F.col("l_partkey").alias("idProduto"),
                    F.col("l_extendedprice").alias("valor"),
                    F.col("l_quantity").alias("quantidade"),
                )
            )
        ).alias("itens")
    )
    docs = orders.join(itens, orders.o_orderkey == itens.l_orderkey, "inner").select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("numero"),
                F.col("o_orderstatus").alias("situacao"),
                F.col("itens"),
            )
        ).alias("payload")
    )
    return docs


def parse_and_explode(payloads: DataFrame) -> DataFrame:
    """from_json (permissive) → inline itens → flat item rows.

    The reference's fan-out per line item (api_to_gcs/main.py:156-166,
    sales_to_bq/main.py:347) as one Generate operator: ``inline`` emits
    the item struct's fields as named columns, so no struct-field
    projection follows it.
    A null or empty ``itens`` yields no rows; a null element yields one
    row of null item fields.
    """
    parsed = payloads.select(F.from_json("payload", PEDIDO_JSON_SCHEMA).alias("doc"))
    return parsed.select(
        F.col("doc.numero").alias("numero"),
        F.col("doc.situacao").alias("situacao"),
        F.inline("doc.itens").alias("linha", "produto_id", "valor", "quantidade"),
    )


def json_ingest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full path: synthesize → parse → explode → order rollup.

    The oracle computes the same rollup straight from lineitem — equal
    results prove the JSON roundtrip is lossless for the analytics.
    """
    items = parse_and_explode(synthesize_pedido_json(spark, sf_dir))
    return items.groupBy("numero", "situacao").agg(
        F.count(F.lit(1)).alias("n_itens"),
        F.round(F.sum("valor"), 4).alias("valor_total"),
        F.round(F.sum(F.col("valor") * F.col("quantidade")), 4).alias("base_total"),
    )
