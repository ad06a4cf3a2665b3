"""Source-format breadth: lenient CSV quarantine + verbatim-SQL parity."""

from __future__ import annotations

from pyspark.sql import types as T

import __spark_entry__ as entrymod
from z316_sales_data_pipeline_spark.sources import csv_source
from z316_sales_data_pipeline_spark.sources.tables import register_views


def test_csv_lenient_quarantines_bad_rows(spark, tmp_path):
    """PERMISSIVE parse: well-formed rows land typed, malformed rows
    keep their raw line in quarantine — nothing is silently dropped."""
    p = tmp_path / "in.csv"
    p.write_text(
        "id,amount,day\n"
        "1,10.5,2024-01-01\n"
        "2,not_a_number,2024-01-02\n"
        "3,7.25,2024-01-03\n"
        "4,1.0\n"  # missing column
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("day", T.DateType()),
        ]
    )
    parsed = csv_source.read_csv_lenient(spark, str(p), schema)
    clean, quarantine = csv_source.split_quarantine(parsed)
    ids = sorted(r["id"] for r in clean.collect())
    assert ids == [1, 3]
    bad = {r[csv_source.CORRUPT_COL] for r in quarantine.collect()}
    assert bad == {"2,not_a_number,2024-01-02", "4,1.0"}
    # clean + quarantine partitions the input
    assert clean.count() + quarantine.count() == 4


def test_oracle_sql_strings_run_verbatim_on_spark(spark, sf_dir):
    """Engine-portability spot check: a sample of the DuckDB oracle
    strings are plain enough ANSI to run VERBATIM on spark.sql over the
    registered views, producing the same rows as the DataFrame plans —
    the SQL-API twin of the differential harness."""
    register_views(spark, sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in ("q6_forecast_revenue", "q11_important_parts", "q15_top_supplier", "q20_promo_suppliers"):
        got = {tuple(r) for r in spark.sql(oracles[name]).collect()}
        want = {tuple(r) for r in qs[name](spark, sf_dir).collect()}
        assert got == want, name
        assert want or name == "q11_important_parts"  # q11 tiny at sf0.001


def test_parse_and_explode_edge_rows(spark):
    """Pins the item rows of the webhook parse: one row per ``itens``
    element with its fields as columns; a null array element gives one
    row of null item fields; a null or empty ``itens``, malformed JSON
    and a null payload give no row."""
    from z316_sales_data_pipeline_spark.sources import json_ingest

    payloads = [
        '{"numero": 1, "situacao": "F", "itens": ['
        '{"linha": 1, "idProduto": 10, "valor": 2.5, "quantidade": 2.0},'
        '{"linha": 2, "idProduto": 11}]}',
        '{"numero": 2, "situacao": "A", "itens": null}',
        '{"numero": 3, "situacao": "A", "itens": []}',
        '{"numero": 4, "situacao": "F", "itens": [null]}',
        '{"numero": 5, "itens": [{"linha": 1, "idProduto": 12, "valor": 1.0, "quantidade": 3.0}]}',
        '{"numero": 6, "situacao": "F", "itens": [',
        None,
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    out = json_ingest.parse_and_explode(df)
    assert out.dtypes == [
        ("numero", "bigint"),
        ("situacao", "string"),
        ("linha", "int"),
        ("produto_id", "bigint"),
        ("valor", "double"),
        ("quantidade", "double"),
    ]
    assert sorted(out.collect(), key=lambda r: (r.numero, r.linha or 0)) == [
        (1, "F", 1, 10, 2.5, 2.0),
        (1, "F", 2, 11, None, None),
        (4, "F", None, None, None, None),
        (5, None, 1, 12, 1.0, 3.0),
    ]
