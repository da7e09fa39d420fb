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


def test_check_first_names_all_resolve():
    """A typo in _CHECK_FIRST silently loses the front-loading (the
    ordering comprehension skips unknown names) — so pin that every
    listed name exists in the registry, and that the gate-relevant
    head has no duplicates."""
    import __spark_entry__ as e

    reg = set(e.queries())
    missing = [n for n in e._CHECK_FIRST if n not in reg]
    assert not missing, f"_CHECK_FIRST names not in registry: {missing}"
    assert len(e._CHECK_FIRST) == len(set(e._CHECK_FIRST)), "duplicates"


def test_r9_rotation_inside_driver_cap():
    """The correctness driver checks the first 50 entries. The r9
    must-cover set is the LINE-LEVEL one computed by
    tools/taint_ledger.py on the final r9 tree (committed as
    TAINT_LEDGER.json) — all entries must be in-cap with zero
    displacements. This test re-derives the containment from the
    committed ledger instead of hand-pinning counts (the r8 advice
    flagged exactly that: restated arithmetic drifting from the
    committed evidence), so a ledger/cap drift fails here before the
    driver runs."""
    import json
    import os

    import __spark_entry__ as e

    head = list(e.queries())[:50]
    assert len(head) == 50
    root = os.path.join(os.path.dirname(__file__), "..")
    led = json.load(open(os.path.join(root, "TAINT_LEDGER.json")))
    # NEVER-CHECKED queries must always be in-cap — no alternate driver
    # evidence exists for them
    for name in led["never_checked"]:
        assert name in head, f"never-checked query displaced: {name}"
    if len(led["must_cover"]) <= 50:
        # cap suffices: the r9+ invariant — zero displacements
        assert led["displaced"] == []
        assert led["problems"] == []
        for name in led["must_cover"]:
            assert name in head, name
    else:
        # Optimization rounds' shared-operator edits taint more queries
        # than the cap holds (len(must_cover) vs cap — 70 vs 50 in the
        # committed r12 ledger). The invariant is then
        # EVIDENCE-BACKED displacement: every displaced query must be
        # oracle-matched in BOTH committed local-cluster falsifier
        # artifacts, which the falsifier produced on this tree.
        for art in ("LOCAL_CLUSTER_r12.json", "LOCAL_CLUSTER_r12_4x4.json"):
            lc = json.load(open(os.path.join(root, art)))
            reg = lc["registry"]
            for name in led["displaced"]:
                assert reg[name]["ok"] and reg[name]["oracle"], (
                    f"displaced query lacks falsifier evidence: {name} "
                    f"({art})"
                )
    # the r12-new gates are present and never-checked entries lead
    for name in ("pq_encode_artifact", "ivfpq_index_search",
                 "ivfpq_index_append"):
        assert name in led["never_checked"] and name in head
    # the r12 engine edits' tainted gates sit in-cap
    for name in (
        "ivfpq_topk", "pq_ann_topk", "stream_pq_encode",
        "bpe_encode_corpus", "stream_bpe_encode", "dsir_importance",
        "bm25_topk", "jaccard_join_exact", "mad_outliers",
    ):
        assert name in head
