"""Driver-contract conformance: entry() runs, every queries() entry runs at
sf0.001, every oracle key exists in queries()."""

from __future__ import annotations

import os
import sys

import pytest

# the checkout this test file belongs to, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_every_plan_module_query_is_registered():
    """Every ``*QUERIES`` dict a plan module exports lands in the registry:
    a plan module that fails to import fails here instead of silently
    dropping its queries."""
    import importlib
    import pkgutil

    import osm_pbf_parquet_spark.plans as plans

    qs = entrymod.queries()
    exported = {}
    for info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for attr, value in vars(mod).items():
            if attr.endswith("QUERIES") and isinstance(value, dict):
                exported[f"{info.name}.{attr}"] = value
    assert len(exported) >= 13
    for name, table in exported.items():
        assert set(table) <= set(qs), name


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_each_query_runs(spark, name):
    df = entrymod.queries()[name](spark, SF)
    assert df.count() >= 0
