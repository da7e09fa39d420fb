"""spark.read.format("osmpbf") — Python DataSource API tests.

Fixture expectations follow the reference golden tests
(osmpbf/tests/read.rs:109-208): test.osm.pbf = 3 nodes (105,106,108),
1 way (107), 1 relation (120). The fixture tests read the package's copy
(``osm_queries.FIXTURE``), then the reference's original where it exists.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pbf_encoder import golden_files

from osm_pbf_parquet_spark.plans.osm_queries import FIXTURE
from osm_pbf_parquet_spark.sources.pbf_datasource import register_osm_pbf
from osm_pbf_parquet_spark.sources.pbf_source import scan_pbf


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_osm_pbf(spark)


def test_load_matches_scan_pbf(spark):
    for fixture in golden_files():
        ds = spark.read.format("osmpbf").load(fixture)
        direct = scan_pbf(spark, fixture)
        assert ds.schema == direct.schema
        a = sorted(ds.collect(), key=lambda r: (r["type"], r["id"]))
        b = sorted(direct.collect(), key=lambda r: (r["type"], r["id"]))
        assert a == b
        assert [r["id"] for r in a] == [105, 106, 108, 120, 107]


def test_load_matches_scan_pbf_synthetic(spark, tmp_path):
    """``scan_pbf`` (range-fed ``mapInArrow``) and the ``osmpbf``
    DataSource (``partitions()``) return the same rows on a multi-blob
    synthetic PBF, with and without an explicit ``blobs_per_task``."""
    from pbf_encoder import write_synthetic_pbf

    pbf = str(tmp_path / "syn.osm.pbf")
    write_synthetic_pbf(pbf, n_nodes=1200, n_ways=120, n_rels=12,
                        nodes_per_block=100)

    def rows(df):
        # (id, type) leads and is unique, so tags never get compared
        return sorted(
            tuple(
                tuple(sorted(r[k].items())) if k == "tags" and r[k] else r[k]
                for k in df.columns
            )
            for r in df.collect()
        )

    for options in ({}, {"blobs_per_task": "3"}):
        ds = spark.read.format("osmpbf").options(**options).load(pbf)
        direct = scan_pbf(spark, pbf, blobs_per_task=(
            int(options["blobs_per_task"]) if options else None))
        assert ds.schema == direct.schema
        got = rows(direct)
        assert len(got) == 1200 + 120 + 12
        assert got == rows(ds)


def test_unknown_columns_raise_in_both_readers(spark, tmp_path):
    """One column check for both readers: ``scan_pbf`` used to drop an
    unknown column name silently where the DataSource raised."""
    from pbf_encoder import write_synthetic_pbf

    from osm_pbf_parquet_spark.sources.pbf_source import normalize_kinds_columns

    assert normalize_kinds_columns(["node"], ["lat", "id"]) == (
        ["node"], ["id", "type", "lat"])
    with pytest.raises(ValueError, match=r"unknown columns: \['bogus'\]"):
        normalize_kinds_columns(["node"], ["id", "lat", "bogus"])
    pbf = str(tmp_path / "syn.osm.pbf")
    write_synthetic_pbf(pbf, n_nodes=50, n_ways=5, n_rels=1)
    with pytest.raises(ValueError, match="unknown columns"):
        scan_pbf(spark, pbf, columns=["id", "bogus"])
    with pytest.raises(Exception, match="unknown columns"):
        spark.read.format("osmpbf").option("columns", "id,bogus").load(pbf).schema
    ds = spark.read.format("osmpbf").option("columns", " lat , id").load(pbf)
    assert ds.columns == ["id", "type", "lat"]


def test_type_filter_pushdown_count(spark):
    for fixture in golden_files():
        ds = spark.read.format("osmpbf").load(fixture)
        assert ds.filter("type = 'node'").count() == 3
        assert ds.filter("type IN ('node', 'way')").count() == 4
        assert ds.filter("type = 'relation'").count() == 1
        # impossible value → zero partitions of work, zero rows
        assert ds.filter("type = 'bogus'").count() == 0


def test_non_type_filters_still_apply(spark):
    for fixture in golden_files():
        ds = spark.read.format("osmpbf").load(fixture)
        # residual filters (yielded back from pushFilters) must be applied
        # by Catalyst post-scan
        assert ds.filter("type = 'node' AND id > 105").count() == 2
        assert ds.filter("element_at(tags, 'building') = 'yes'").count() == 1


def test_columns_option_prunes_schema(spark):
    for fixture in golden_files():
        ds = (
            spark.read.format("osmpbf")
            .option("columns", "id,lat,lon")
            .load(fixture)
        )
        assert set(ds.columns) == {"id", "lat", "lon", "type"}
        nodes = ds.filter("type = 'node'").collect()
        assert len(nodes) == 3
        assert all(r["lat"] is not None for r in nodes)


def test_kinds_option(spark):
    for fixture in golden_files():
        ds = spark.read.format("osmpbf").option("kinds", "way").load(fixture)
        rows = ds.collect()
        assert len(rows) == 1 and rows[0]["id"] == 107


def test_directory_load(spark, tmp_path):
    for i, fixture in enumerate(golden_files()):
        d = tmp_path / f"pbfs{i}"
        d.mkdir()
        shutil.copy(fixture, d / "a.osm.pbf")
        shutil.copy(fixture, d / "b.osm.pbf")
        ds = spark.read.format("osmpbf").load(str(d))
        assert ds.count() == 10


def test_bad_options_raise(spark):
    with pytest.raises(Exception):
        spark.read.format("osmpbf").option("columns", "nope").load(FIXTURE).count()
    with pytest.raises(Exception):
        spark.read.format("osmpbf").option("kinds", "mammal").load(FIXTURE).count()


def test_osmparquet_writer_roundtrip(spark, tmp_path):
    """df.write.format("osmparquet"): Spark-managed commit over the same
    pyarrow kind-writer machinery — output reads back identical to the
    generic JVM sink."""
    from osm_pbf_parquet_spark.sinks.osm_writer_datasource import register_osm_parquet
    from osm_pbf_parquet_spark.sinks.parquet_sink import write_osm_parquet
    from osm_pbf_parquet_spark.sources.pbf_source import scan_pbf
    from pyspark.sql import functions as F
    import os

    register_osm_parquet(spark)
    for i, fixture in enumerate(golden_files()):
        df = scan_pbf(spark, fixture)
        a_out = str(tmp_path / f"viads{i}")
        b_out = str(tmp_path / f"generic{i}")
        df.write.format("osmparquet").mode("overwrite").save(a_out)
        write_osm_parquet(df, b_out)
        assert os.path.exists(os.path.join(a_out, "_SUCCESS"))
        a = spark.read.parquet(a_out)
        b = spark.read.parquet(b_out)
        assert dict(a.dtypes) == dict(b.dtypes)
        cols = [c for c in a.columns]
        ax = a.select(*cols).withColumn("tags", F.map_entries("tags"))
        bx = b.select(*cols).withColumn("tags", F.map_entries("tags"))
        assert ax.exceptAll(bx).count() == 0
        assert bx.exceptAll(ax).count() == 0


def test_osmparquet_writer_append(spark, tmp_path):
    from osm_pbf_parquet_spark.sinks.osm_writer_datasource import register_osm_parquet
    from osm_pbf_parquet_spark.sources.pbf_source import scan_pbf

    register_osm_parquet(spark)
    for i, fixture in enumerate(golden_files()):
        df = scan_pbf(spark, fixture)
        out = str(tmp_path / f"appended{i}")
        df.write.format("osmparquet").mode("overwrite").save(out)
        df.write.format("osmparquet").mode("append").save(out)
        back = spark.read.parquet(out)
        counts = {r["type"]: r["count"] for r in back.groupBy("type").count().collect()}
        assert counts == {"node": 6, "way": 2, "relation": 2}


def test_osmparquet_writer_append_and_abort(spark, tmp_path):
    """On a synthetic PBF: an append job doubles every kind's rows next to
    the first job's files; ``abort()`` removes this job's final and
    ``.inprogress`` files, keeps the earlier jobs' files and writes no
    ``_SUCCESS``."""
    from osm_pbf_parquet_spark.sinks.osm_writer_datasource import (
        OsmParquetWriter,
        register_osm_parquet,
    )

    from pbf_encoder import write_synthetic_pbf

    pbf = str(tmp_path / "syn.osm.pbf")
    stats = write_synthetic_pbf(pbf, n_nodes=2000, n_ways=200, n_rels=20)
    expected = {"node": stats["nodes"], "way": stats["ways"],
                "relation": stats["relations"]}
    register_osm_parquet(spark)
    out = str(tmp_path / "appended")

    def counts():
        back = spark.read.parquet(out)
        return {r["type"]: r["count"] for r in back.groupBy("type").count().collect()}

    def listing():
        return sorted(
            os.path.join(d, f) for d in os.listdir(out)
            if os.path.isdir(os.path.join(out, d))
            for f in os.listdir(os.path.join(out, d))
        )

    df = scan_pbf(spark, pbf)
    df.write.format("osmparquet").mode("overwrite").save(out)
    assert counts() == expected
    first = listing()
    df.write.format("osmparquet").mode("append").save(out)
    assert counts() == {k: 2 * n for k, n in expected.items()}
    earlier = listing()
    assert set(first) < set(earlier)

    os.remove(os.path.join(out, "_SUCCESS"))
    writer = OsmParquetWriter({"path": out}, overwrite=False)
    mine = [
        os.path.join(out, "type=node", f"part-{writer.run_token}-00000-9-000.zstd.parquet"),
        os.path.join(out, "type=way",
                     f"part-{writer.run_token}-00001-10-000.zstd.parquet.inprogress"),
    ]
    for path in mine:
        open(path, "wb").close()
    writer.abort([None])
    assert not any(os.path.exists(p) for p in mine)
    assert listing() == earlier
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))


def test_osmparquet_writer_matches_fused_transcode(spark, tmp_path):
    """The ``osmparquet`` writer (wide batches split by ``type``) and the
    fused transcode (per-kind tables built from decoded blocks) write the
    same rows per kind, on a synthetic multi-blob PBF, with row groups
    small enough that both paths flush many times."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf
    from osm_pbf_parquet_spark.sinks.osm_writer_datasource import register_osm_parquet

    from pbf_encoder import write_synthetic_pbf

    pbf = str(tmp_path / "syn.osm.pbf")
    stats = write_synthetic_pbf(pbf, n_nodes=3000, n_ways=300, n_rels=30)
    register_osm_parquet(spark)
    ds_out = str(tmp_path / "viads")
    fused_out = str(tmp_path / "fused")
    (scan_pbf(spark, pbf).write.format("osmparquet").mode("overwrite")
        .option("rows_per_group", "700").save(ds_out))
    res = transcode_pbf(spark, pbf, fused_out, rows_per_group=700)
    expected = {"node": stats["nodes"], "way": stats["ways"],
                "relation": stats["relations"]}
    assert res["rows"] == expected
    assert os.path.exists(os.path.join(ds_out, "_SUCCESS"))
    for kind in expected:
        for out in (ds_out, fused_out):
            files = [os.path.join(out, f"type={kind}", f)
                     for f in os.listdir(os.path.join(out, f"type={kind}"))]
            assert all(f.endswith(".parquet") for f in files)
            meta = [pq.ParquetFile(f).metadata for f in files]
            assert sum(m.num_rows for m in meta) == expected[kind]
            assert "type" not in pq.ParquetFile(files[0]).schema_arrow.names
    a = spark.read.parquet(ds_out).withColumn("tags", F.map_entries("tags"))
    b = spark.read.parquet(fused_out).withColumn("tags", F.map_entries("tags"))
    assert dict(a.dtypes) == dict(b.dtypes)
    counts = {r["type"]: r["count"] for r in a.groupBy("type").count().collect()}
    assert counts == expected
    b = b.select(*a.columns)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
