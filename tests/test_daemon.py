"""The Python worker daemon's zip-import fix (``osm_pbf_parquet_spark._daemon``):
a worker re-reads a zip archive's directory only when the archive has
changed, and every importer of a changed archive still sees the change."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

from osm_pbf_parquet_spark import _daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_do_not_reread_pyspark_zip_between_tasks(spark):
    """A worker reused across two 4-task jobs keeps the very directory
    dict it read for pyspark.zip: no task re-reads it. The stock
    ``invalidate_caches`` would replace that dict before every task."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        keys = [k for k in zipimport._zip_directory_cache
                if os.path.basename(k) == "pyspark.zip"]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "dir_id": [id(zipimport._zip_directory_cache[keys[0]]) if keys else -1],
        })

    def run():
        df = spark.range(0, 4, 1, 4).mapInArrow(probe, "pid long, dir_id long")
        return {(r.pid, r.dir_id) for r in df.collect()}

    first, second = run(), run()
    if any(dir_id == -1 for _pid, dir_id in first | second):
        pytest.skip("the workers import pyspark from a directory, not pyspark.zip")
    ids = {}
    for pid, dir_id in first | second:
        ids.setdefault(pid, set()).add(dir_id)
    assert all(len(seen) == 1 for seen in ids.values()), ids
    assert {pid for pid, _ in first} & {pid for pid, _ in second}, "no worker reused"


_ZIP_CHANGE = textwrap.dedent("""
    import importlib, sys, zipfile, zipimport
    from osm_pbf_parquet_spark import _daemon

    path = sys.argv[1]

    def write(names):
        with zipfile.ZipFile(path, "w") as z:
            for name in names:
                z.writestr(name, "VALUE = %r\\n" % name)

    write(["pkg/__init__.py", "pkg/a.py", "pkg/sub/__init__.py", "pkg/sub/d.py"])
    sys.path.insert(0, path)
    import pkg.a  # importers held before the fix: the daemon's start-up
    assert _daemon.install()
    import pkg.sub.d  # an importer created after it
    importers = [i for i in sys.path_importer_cache.values()
                 if isinstance(i, zipimport.zipimporter) and i.archive == path]
    assert len(importers) == 3, importers
    held = id(zipimport._zip_directory_cache[path])
    importlib.invalidate_caches()
    assert id(zipimport._zip_directory_cache[path]) == held, "re-read unchanged"
    write(["pkg/__init__.py", "pkg/a.py", "pkg/b.py",
           "pkg/sub/__init__.py", "pkg/sub/c.py", "pkg/sub/d.py"])
    importlib.invalidate_caches()
    import pkg.b, pkg.sub.c
    assert (pkg.b.VALUE, pkg.sub.c.VALUE) == ("pkg/b.py", "pkg/sub/c.py")
    print("ok")
""")


@pytest.mark.skipif(not _daemon.needs_fix(), reason="Python >= 3.13 patches nothing")
def test_every_importer_sees_a_changed_zip(tmp_path):
    """After a zip archive gains modules, ``importlib.invalidate_caches``
    lets every importer of it find them, not only the first to re-read
    it (a per-path memo left the others stale), and an unchanged archive
    is not re-read. In a subprocess: the patch is process-wide."""
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_CHANGE, str(tmp_path / "lib.zip")],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_nothing_patched_from_python_3_13():
    """Python 3.13 only drops the shared cache on ``invalidate_caches``:
    there the daemon is plain ``pyspark.daemon``."""
    before = (zipimport.zipimporter.invalidate_caches, zipimport.zipimporter.__init__)
    assert not _daemon.needs_fix((3, 13, 0))
    assert _daemon.install((3, 13, 0)) is False
    assert (zipimport.zipimporter.invalidate_caches,
            zipimport.zipimporter.__init__) == before
    assert _daemon.needs_fix((3, 12, 1)) and _daemon.needs_fix((3, 10, 13))
