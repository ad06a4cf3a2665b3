"""Contract checks for __spark_entry__ (driver interface)."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "pedido_id" in df.columns


def test_oracle_keys_cover_all_queries():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    # every oracle-checked entry has a value-check oracle — no rows-only
    # exceptions; the xxhash64 dedup twins live on the bench surface
    assert o == q
    extra = set(entrymod.bench_queries()) - q
    assert extra == {"minhash_near_dup_xxhash64", "simhash_groups_xxhash64"}


def test_registry_declares_each_entry_once():
    """Each registry name is written once in the entry module, as one
    ``_REGISTRY`` row (or one ``bench_queries()`` twin): a second list of
    names (an oracle dict, a reorder list) cannot come back."""
    tree = ast.parse(Path(entrymod.__file__).read_text())
    literals = Counter(
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    )
    repeated = {n: literals[n] for n in entrymod.bench_queries() if literals[n] != 1}
    assert not repeated, repeated


def test_queries_run_and_have_stable_schema(executed_plans):
    for name in entrymod.queries():
        _plan, columns = executed_plans[name]
        assert columns, name
