from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from z316_sales_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def executed_plans(spark, sf_dir) -> dict[str, tuple[str, list[str]]]:
    """Every ``bench_queries()`` entry's executed plan string and output
    columns, built in one pass shared by the fleet-wide plan checks and
    the entry schema check."""
    import __spark_entry__ as entrymod

    out = {}
    for name, fn in entrymod.bench_queries().items():
        df = fn(spark, sf_dir)
        out[name] = (df._jdf.queryExecution().executedPlan().toString(), df.columns)
    return out
