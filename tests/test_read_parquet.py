"""``plans.relational.read_parquet``: a local Parquet path's schema is
inferred once (Spark infers it with a job on every plain read) and
inferred again only when the path's files or a schema-inference conf
changed."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from osm_pbf_parquet_spark.plans.relational import read_parquet

SF_DIR = "/root/testdata/sf0.001"

_groups = itertools.count()


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"read_parquet_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect())


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_second_read_of_unchanged_file_launches_no_job(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, a=pa.array([3, 1, 2], pa.int64()),
           s=pa.array(["x", None, "z"]))
    first, n_first = _jobs(spark, lambda: read_parquet(spark, str(path)))
    second, n_second = _jobs(spark, lambda: read_parquet(spark, str(path)))
    assert n_first >= 1, "the first read should infer the schema with a job"
    assert n_second == 0
    plain = spark.read.parquet(str(path))
    assert second.schema == plain.schema == first.schema
    assert _rows(second) == _rows(plain)


def test_rewritten_file_with_added_column_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, a=pa.array([1, 2], pa.int64()))
    assert read_parquet(spark, str(path)).columns == ["a"]
    _write(path, a=pa.array([1, 2], pa.int64()),
           b=pa.array([0.5, 1.5], pa.float64()))
    df = read_parquet(spark, str(path))
    assert df.columns == ["a", "b"]
    assert _rows(df) == _rows(spark.read.parquet(str(path)))


def test_part_file_added_to_directory_is_reinferred(spark, tmp_path):
    table = tmp_path / "d.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", a=pa.array([1, 2], pa.int64()))
    read_parquet(spark, str(table))
    _, n_warm = _jobs(spark, lambda: read_parquet(spark, str(table)))
    assert n_warm == 0
    _write(table / "part-1.parquet", a=pa.array([3], pa.int64()))
    df, n_after = _jobs(spark, lambda: read_parquet(spark, str(table)))
    assert n_after >= 1, "a new part file must re-infer the schema"
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_nanos_as_long_conf_is_part_of_the_key(spark, tmp_path):
    path = tmp_path / "ns.parquet"
    _write(path, ts=pa.array([1_000_000_001, 2_000_000_002],
                             pa.timestamp("ns")))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert dict(read_parquet(spark, str(path)).dtypes)["ts"] == "bigint"
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException) as plain:
            spark.read.parquet(str(path))
        with pytest.raises(AnalysisException) as memo:
            read_parquet(spark, str(path))
        assert memo.value.getCondition() == plain.value.getCondition()
        spark.conf.set(key, "true")
        df = read_parquet(spark, str(path))
        assert dict(df.dtypes)["ts"] == "bigint"
        assert sorted(r.ts for r in df.collect()) == [
            1_000_000_001, 2_000_000_002]
    finally:
        spark.conf.set(key, before)


def test_missing_path_raises_as_spark_does(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as memo:
        read_parquet(spark, path)
    assert type(memo.value) is type(plain.value)
    assert memo.value.getCondition() == plain.value.getCondition()


def test_registry_queries_build_without_jobs_on_a_warm_memo(spark):
    from osm_pbf_parquet_spark.plans.relational import (
        q_pricing_summary, q_region_revenue,
    )

    def build():
        return [q(spark, SF_DIR) for q in (q_pricing_summary,
                                           q_region_revenue)]

    build()
    _, n = _jobs(spark, build)
    assert n == 0
