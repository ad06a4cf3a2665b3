"""The flagship analytical plan: sales star-schema facts.

Re-expresses the reference's analytical heart —
``data_transformation/sales_to_bq/main.py`` (process_pedido_data
:224-290 and process_item :168-221) — as one declarative DataFrame DAG
over the driver's TPC-H-ish tables, per the fixture mapping
(FIXTURES.md §8):

    lineitem ↔ itens          (valor=l_extendedprice, quantidade=l_quantity,
                               desconto%=l_discount*100)
    part     ↔ produto        (preco_custo=p_retailprice, categoria from
                               p_type/p_brand)
    orders   ↔ pdv header     (valor_faturado=o_totalprice; order-level
                               desconto string synthesized deterministically
                               to exercise F5's three parse paths)

Quirks preserved exactly (SURVEY §7 risk register):
- E2/E3 (sales_to_bq/main.py:107,116) do NOT multiply by quantity;
  E4 (:138) does. Both appear below, faithfully.
- F5 discount parse: percent-or-absolute, 0.0 on parse error, clamped
  at max(0, ·) (:120-132).
- F8 category split on ' >> ' with '' (not NULL) secundaria (:177-184).

Plan shape at scale: scan(lineitem) → broadcast-join(part) [zero
shuffle] → window(partition by order key) [one shuffle, reused by the
order-grain join that follows via the same hash partitioning] →
hash-agg rollup (partial map-side) → join(orders) [AQE decides
broadcast vs shuffle]. No Python touches a row.

The public facts are thin wrappers over private builders (``_orders``,
``_pedidos``, ``_itens``): a rebuild (``plans.pipeline.run_sales_pipeline``)
builds one ``enriched_items`` enrichment and one orders frame and hands
both to both facts, which carry the order day ``pedido_dia`` through the
orders join they already do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import scalar
from ..sources.tables import load_table


# ---------------------------------------------------------------------------
# Synthetic reference-payload columns over the TPC-H-ish tables.
# Deterministic (keyed on orderkey/partkey) so the DuckDB oracle can
# synthesize the identical strings and both engines parse them back.
# ---------------------------------------------------------------------------
def with_order_discount_str(orders: DataFrame) -> DataFrame:
    """Order-level discount string: percent | comma-absolute | malformed | zero.

    Mirrors the payload forms of pdv.desconto (FIXTURES.md §2: '5%',
    '10,50', malformed) hitting every branch of F5
    (sales_to_bq/main.py:120-132).
    """
    k = F.col("o_orderkey")
    return orders.withColumn(
        "desconto_str",
        F.when(k % 4 == 0, F.concat(((k % 7) + 1).cast("string"), F.lit("%")))
        .when(k % 4 == 1, F.regexp_replace(((k % 50).cast("double") + 0.5).cast("string"), r"\.", ","))
        .when(k % 4 == 2, F.lit("not-a-number"))
        .otherwise(F.lit("0")),
    )


def with_categoria(part: DataFrame) -> DataFrame:
    """Synthesize produto.categoria: 'Tipo >> Marca' or bare 'Tipo'.

    Exercises both branches of F8 (sales_to_bq/main.py:177-184): rows
    without the ' >> ' separator must yield secundaria = ''.
    """
    has_secondary = F.col("p_partkey") % 3 != 0
    return part.withColumn(
        "categoria",
        F.when(has_secondary, F.concat_ws(" >> ", F.col("p_type"), F.col("p_brand"))).otherwise(
            F.col("p_type")
        ),
    )


# SQL fragments for the same synthesis, shared by every oracle query.
SQL_DESCONTO_STR = """
    CASE WHEN o_orderkey % 4 = 0 THEN cast(o_orderkey % 7 + 1 AS VARCHAR) || '%'
         WHEN o_orderkey % 4 = 1 THEN replace(cast(cast(o_orderkey % 50 AS DOUBLE) + 0.5 AS VARCHAR), '.', ',')
         WHEN o_orderkey % 4 = 2 THEN 'not-a-number'
         ELSE '0' END
"""
SQL_CATEGORIA = """
    CASE WHEN p_partkey % 3 <> 0 THEN p_type || ' >> ' || p_brand ELSE p_type END
"""
# F5 as SQL over (ds, base) — keep textually in sync with scalar.parse_discount.
def sql_parse_discount(ds: str, base: str) -> str:
    return f"""
    greatest(0.0, coalesce(
        CASE WHEN contains({ds}, '%')
             THEN try_cast(replace(replace({ds}, '%', ''), ',', '.') AS DOUBLE) / 100.0 * {base}
             ELSE try_cast(replace({ds}, ',', '.') AS DOUBLE) END,
        0.0))
    """


# ---------------------------------------------------------------------------
# Item-grain enrichment: lineitem ⋈ produto(part) + per-item measures.
# ---------------------------------------------------------------------------
def enriched_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ broadcast(part): per-item cost/discount measures.

    Reference: process_item, sales_to_bq/main.py:168-221. Inner join =
    silent drop-on-miss (D1). desconto here is the ITEM discount percent
    (l_discount is fractional → ×100, the payload's percent form).
    """
    items = load_table(spark, sf_dir, "lineitem")
    produto = with_categoria(load_table(spark, sf_dir, "part"))
    valor = F.col("l_extendedprice")
    desconto_pct = F.col("l_discount") * 100.0
    qty = F.col("l_quantity")
    return items.join(
        F.broadcast(produto.select("p_partkey", "p_retailprice", "categoria", "p_name")),
        items.l_partkey == produto.p_partkey,
        "inner",
    ).withColumns(  # no new column reads another: one projection
        {
            "pedido_id": F.col("l_orderkey"),
            "produto_id": F.col("l_partkey"),
            "quantidade": qty,
            "valor": valor,
            "desconto": desconto_pct,
            "preco_custo": F.col("p_retailprice"),
            "custo_item": F.col("p_retailprice") * qty,
            "valor_bruto": scalar.gross_up(valor, desconto_pct),
            "desconto_produto": scalar.item_discount_amount(valor, desconto_pct),
            "categoria_principal": scalar.category_principal("categoria"),
            "categoria_secundaria": scalar.category_secundaria("categoria"),
        }
    )


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with the synthetic discount string and the order day
    (``pedido_dia``, the written tables' partition column)."""
    orders = with_order_discount_str(load_table(spark, sf_dir, "orders"))
    return orders.withColumn("pedido_dia", F.to_date("o_orderdate"))


# ---------------------------------------------------------------------------
# Order-grain rollup (E1–E5) + discount parse (F5) → pedidos fact.
# ---------------------------------------------------------------------------
def pedidos_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-grain analytical fact (reference `pedidos` table).

    Reference measure provenance:
      custo_total      E1 :89-100   sum(preco_custo × quantidade)
      valor_sem_desc   E2 :103-110  sum(valor / (1 − desconto/100))  [no ×qty]
      valor_produtos   E3 :113-117  sum(valor)                       [no ×qty]
      base_desconto    E4 :135-139  sum(valor × quantidade)
      desconto_itens   E5 :344-355  sum(per-item discount amount)
      desconto_pedido  F5 :120-132  parse(desconto_str, base)
      valor_faturado       :338     order header totalVenda (o_totalprice)
      lucro_bruto          :259-263 faturado − custo
    """
    items = enriched_items(spark, sf_dir)
    return _pedidos(items, _orders(spark, sf_dir)).drop("pedido_dia")


def _pedidos(items: DataFrame, orders: DataFrame) -> DataFrame:
    """``pedidos_fact`` over ``enriched_items`` and ``_orders``, with
    ``pedido_dia`` as its last column."""
    rollup = items.groupBy("pedido_id").agg(
        F.sum(F.col("preco_custo") * F.col("quantidade")).alias("custo_total"),
        F.sum(F.try_divide(F.col("valor"), F.lit(1.0) - F.col("desconto") / 100.0)).alias(
            "valor_sem_desconto"
        ),
        F.sum("valor").alias("valor_produtos"),
        F.sum(F.col("valor") * F.col("quantidade")).alias("base_desconto"),
        F.sum("desconto_produto").alias("desconto_itens"),
        F.count(F.lit(1)).alias("n_itens"),
    )
    joined = orders.join(rollup, orders.o_orderkey == rollup.pedido_id, "inner")
    return joined.select(
        F.col("pedido_id"),
        F.round("custo_total", 4).alias("custo_total"),
        F.round("valor_sem_desconto", 4).alias("valor_sem_desconto"),
        F.round("valor_produtos", 4).alias("valor_produtos"),
        F.round("base_desconto", 4).alias("base_desconto"),
        F.round("desconto_itens", 4).alias("desconto_itens"),
        F.col("n_itens"),
        F.round(scalar.parse_discount(F.col("desconto_str"), F.col("base_desconto")), 4).alias(
            "desconto_pedido"
        ),
        F.col("o_totalprice").alias("valor_faturado"),
        F.round(F.col("o_totalprice") - F.col("custo_total"), 4).alias("lucro_bruto"),
        F.col("pedido_dia"),
    )


PEDIDOS_FACT_SQL = f"""
WITH produto AS (
    SELECT p_partkey, p_retailprice FROM part
),
it AS (
    SELECT l_orderkey AS pedido_id,
           l_extendedprice AS valor,
           l_discount * 100.0 AS desconto,
           l_quantity AS quantidade,
           p_retailprice AS preco_custo
    FROM lineitem JOIN produto ON l_partkey = p_partkey
),
rollup_ AS (
    SELECT pedido_id,
           sum(preco_custo * quantidade) AS custo_total,
           sum(valor / (1.0 - desconto / 100.0)) AS valor_sem_desconto,
           sum(valor) AS valor_produtos,
           sum(valor * quantidade) AS base_desconto,
           sum(valor / (1.0 - desconto / 100.0) - valor) AS desconto_itens,
           count(*) AS n_itens
    FROM it GROUP BY pedido_id
),
o AS (
    SELECT o_orderkey, o_totalprice, {SQL_DESCONTO_STR} AS desconto_str
    FROM orders
)
SELECT pedido_id,
       round(custo_total, 4) AS custo_total,
       round(valor_sem_desconto, 4) AS valor_sem_desconto,
       round(valor_produtos, 4) AS valor_produtos,
       round(base_desconto, 4) AS base_desconto,
       round(desconto_itens, 4) AS desconto_itens,
       n_itens,
       round({sql_parse_discount("desconto_str", "base_desconto")}, 4) AS desconto_pedido,
       o_totalprice AS valor_faturado,
       round(o_totalprice - custo_total, 4) AS lucro_bruto
FROM o JOIN rollup_ ON o_orderkey = pedido_id
"""


# ---------------------------------------------------------------------------
# Line-grain fact with proportional allocation (W1/F7) → itens fact.
# ---------------------------------------------------------------------------
def itens_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The line-grain analytical fact (reference `itens_pedido` table).

    The order-level discount (F5) is allocated across items
    proportionally to item share of the order's value base —
    sales_to_bq/main.py:157-160,189-191 — here a window sum over
    pedido_id (W1) instead of the reference's two-pass Python loop.
    Conservation: sum(desconto_alocado) per order == desconto_pedido.
    """
    items = enriched_items(spark, sf_dir)
    return _itens(items, _orders(spark, sf_dir)).drop("pedido_dia")


def _itens(items: DataFrame, orders: DataFrame) -> DataFrame:
    """``itens_fact`` over ``enriched_items`` and ``_orders``, with
    ``pedido_dia`` as its last column."""
    w = Window.partitionBy("pedido_id")
    items = items.withColumn("base_desconto", F.sum(F.col("valor") * F.col("quantidade")).over(w))
    order_discount = orders.select("o_orderkey", "desconto_str", "pedido_dia")

    joined = items.join(order_discount, items.pedido_id == order_discount.o_orderkey, "inner")
    desconto_pedido = scalar.parse_discount(F.col("desconto_str"), F.col("base_desconto"))
    share = F.try_divide(F.col("valor") * F.col("quantidade"), F.col("base_desconto"))
    alocado = F.coalesce(desconto_pedido * share, F.lit(0.0))
    valor_liquido = F.col("valor") * F.col("quantidade") - alocado
    return joined.select(
        F.col("pedido_id"),
        F.col("produto_id"),
        F.col("l_linenumber").alias("linha"),
        F.col("quantidade"),
        F.col("valor"),
        F.round("desconto", 4).alias("desconto"),
        F.col("preco_custo"),
        F.round("custo_item", 4).alias("custo_item"),
        F.round("valor_bruto", 4).alias("valor_bruto"),
        F.round("desconto_produto", 4).alias("desconto_produto"),
        F.col("categoria_principal"),
        F.col("categoria_secundaria"),
        F.round(alocado, 4).alias("desconto_pedido_alocado"),
        F.round(valor_liquido, 4).alias("valor_liquido"),
        F.round(valor_liquido - F.col("custo_item"), 4).alias("lucro_item"),
        F.col("pedido_dia"),
    )


ITENS_FACT_SQL = f"""
WITH produto AS (
    SELECT p_partkey, p_retailprice, p_type, p_brand, {SQL_CATEGORIA} AS categoria
    FROM part
),
it AS (
    SELECT l_orderkey AS pedido_id,
           l_partkey AS produto_id,
           l_linenumber AS linha,
           l_quantity AS quantidade,
           l_extendedprice AS valor,
           l_discount * 100.0 AS desconto,
           p_retailprice AS preco_custo,
           p_retailprice * l_quantity AS custo_item,
           l_extendedprice / (1.0 - l_discount) AS valor_bruto,
           l_extendedprice / (1.0 - l_discount) - l_extendedprice AS desconto_produto,
           str_split(categoria, ' >> ')[1] AS categoria_principal,
           coalesce(str_split(categoria, ' >> ')[2], '') AS categoria_secundaria,
           sum(l_extendedprice * l_quantity) OVER (PARTITION BY l_orderkey) AS base_desconto
    FROM lineitem JOIN produto ON l_partkey = p_partkey
),
o AS (
    SELECT o_orderkey, {SQL_DESCONTO_STR} AS desconto_str FROM orders
),
j AS (
    SELECT it.*, {sql_parse_discount("o.desconto_str", "it.base_desconto")} AS desconto_pedido
    FROM it JOIN o ON it.pedido_id = o.o_orderkey
)
SELECT pedido_id, produto_id, linha, quantidade, valor,
       round(desconto, 4) AS desconto,
       preco_custo,
       round(custo_item, 4) AS custo_item,
       round(valor_bruto, 4) AS valor_bruto,
       round(desconto_produto, 4) AS desconto_produto,
       categoria_principal, categoria_secundaria,
       round(coalesce(desconto_pedido * (valor * quantidade) / base_desconto, 0.0), 4)
           AS desconto_pedido_alocado,
       round(valor * quantidade
             - coalesce(desconto_pedido * (valor * quantidade) / base_desconto, 0.0), 4)
           AS valor_liquido,
       round(valor * quantidade
             - coalesce(desconto_pedido * (valor * quantidade) / base_desconto, 0.0)
             - custo_item, 4) AS lucro_item
FROM j
"""
