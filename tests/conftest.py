from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # Pin and pre-touch the test session's heap. The default 48g
    # lazily-grown heap bills first-touch page faults to tasks for the
    # whole suite (the SOAK_AB_r12 pathology); a pinned pre-touched heap
    # measured ~8% faster on a mid-size test file and removes the
    # growth-driven variance. Its size is half of host RAM, at most 12g:
    # a fixed 12g on a 16 GB host left ~1.5 GB for the Python workers.
    # setdefault so an explicit caller posture (soak/anchor harnesses)
    # wins.
    heap = _test_heap()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", heap)
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", f"-Xms{heap} -XX:+AlwaysPreTouch"
    )
    from osm_pbf_parquet_spark.session import get_spark

    s = get_spark("tests")
    yield s


def _test_heap() -> str:
    """Half of host RAM, capped at 12g, as a JVM size."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(12 * 1024, ram_mb // 2)}m"


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy tests excluded from the default driver tier "
        "(redundant-coverage sequential-reference/composition checks "
        "whose operators keep oracle-parity gates in the default tier; "
        "run all with -m 'slow or not slow')",
    )
