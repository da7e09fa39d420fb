"""Driver contract for the spark-graft builder (PySpark target).

``entry`` smoke-runs the flagship query; ``queries``/``oracle_sql`` expose
the engine's declared operator surface (SURVEY.md §2) for the DuckDB
correctness gate. Implementations live in ``osm_pbf_parquet_spark``.

The correctness gate checks the first 50 registry entries each round, so
the registry is ordered by ``cap_order`` in ``TAINT_LEDGER.json``, which
``tools/taint_ledger.py`` derives; a query the ledger does not know yet
has never been checked and goes first.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)
_LEDGER = os.path.join(_HERE, "TAINT_LEDGER.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-shaped pricing
    summary (scan → partial agg → final agg)."""
    from osm_pbf_parquet_spark.plans.relational import q_pricing_summary

    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def _declared() -> dict[str, tuple]:
    """The registry in declaration order (plan module by plan module)."""
    from osm_pbf_parquet_spark.plans.advanced_queries import ADVANCED_QUERIES
    from osm_pbf_parquet_spark.plans.analytic_queries import ANALYTIC_QUERIES
    from osm_pbf_parquet_spark.plans.eval_queries import EVAL_QUERIES
    from osm_pbf_parquet_spark.plans.media_queries import MEDIA_QUERIES
    from osm_pbf_parquet_spark.plans.mining_queries import MINING_QUERIES
    from osm_pbf_parquet_spark.plans.osm_queries import OSM_QUERIES
    from osm_pbf_parquet_spark.plans.pipeline_queries import PIPELINE_QUERIES
    from osm_pbf_parquet_spark.plans.quality_queries import QUALITY_QUERIES
    from osm_pbf_parquet_spark.plans.relational import QUERIES as RELATIONAL
    from osm_pbf_parquet_spark.plans.sampling_queries import SAMPLING_QUERIES
    from osm_pbf_parquet_spark.plans.selection_queries import SELECTION_QUERIES
    from osm_pbf_parquet_spark.plans.stream_dedup_queries import (
        STREAM_DEDUP_QUERIES,
    )
    from osm_pbf_parquet_spark.plans.tokenizer_queries import TOKENIZER_QUERIES

    reg: dict[str, tuple] = {}
    for part in (
        RELATIONAL, OSM_QUERIES, ANALYTIC_QUERIES, PIPELINE_QUERIES,
        SAMPLING_QUERIES, ADVANCED_QUERIES, MINING_QUERIES, QUALITY_QUERIES,
        EVAL_QUERIES, MEDIA_QUERIES, TOKENIZER_QUERIES, STREAM_DEDUP_QUERIES,
        SELECTION_QUERIES,
    ):
        reg.update(part)
    return reg


def _registry() -> dict[str, tuple]:
    reg = _declared()
    try:
        with open(_LEDGER) as fh:
            order = json.load(fh)["cap_order"]
    except FileNotFoundError:
        order = []
    known = set(order)
    head = {n: v for n, v in reg.items() if n not in known}
    head.update((n, reg[n]) for n in order if n in reg)
    return head


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _oracle) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: oracle
        for name, (_fn, oracle) in _registry().items()
        if oracle is not None
    }
