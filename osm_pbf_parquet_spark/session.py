"""SparkSession factory with engine defaults.

Scale posture: these confs are the local[32] test profile of settings that
also hold on a 1000-executor cluster — AQE for runtime re-planning (skew
joins, partition coalescing), shuffle partitions sized explicitly, Arrow
on for every Python<->JVM hop, UTC session time for oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import _daemon

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "osm_pbf_parquet_spark", **extra_confs) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # one BLAS/OMP thread per Python worker: every core already runs a
    # worker process, so library-internal thread pools (numpy/BLAS,
    # pyarrow) would oversubscribe cores ~32x. Must be set before the JVM
    # launches — workers inherit the JVM's env, which inherits ours.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # SPARK_GRAFT_MASTER overrides the master URL — the multi-process
    # falsifier (tools/local_cluster_check.py) sets e.g.
    # local-cluster[2,8,4096] so driver/executor serialization, broadcast
    # transport, and Python-worker spawning cross REAL process
    # boundaries instead of the single-JVM local[32] shortcut.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # SPARK_GRAFT_DRIVER_JAVA_OPTS: extra JVM flags for the driver
        # (local mode: the one JVM). Used by the soak A/B harness to pin
        # heap sizing (-Xms=-Xmx) — r12: the dedup soak leg's 2-4x
        # CPU-second spread across fresh JVMs on IDENTICAL plans tracks
        # GC pacing under lazy heap growth, not the engine.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the Spark
        # parquet reader rejects; read as raw int64 nanos instead
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # lets the osmpbf Python data source accept type=... predicates as
        # kind pushdown (sources/pbf_datasource.py::pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # the package root on the Python workers' path: workers do not
        # inherit the driver's sys.path, and the daemon module below is
        # imported before any task
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            + os.pathsep
            + os.environ.get("PYTHONPATH", ""),
        )
    )
    if _daemon.needs_fix():
        # Python workers fork from our daemon module, not pyspark.daemon:
        # up to Python 3.12, the importlib.invalidate_caches() PySpark
        # runs before every task re-reads pyspark.zip's whole directory
        # in each of a worker's 16 zip importers, 0.1-0.2 CPU-s per task.
        # _daemon re-reads an archive only when it has changed.
        builder = builder.config("spark.python.daemon.module", _daemon.__name__)
    if master.startswith("local-cluster"):
        # executors are separate JVMs here: size them from the master
        # string's per-worker MB (local-cluster[n,cores,mb]) — the JVM
        # default 1g OOMs the wide-row Arrow stages.
        mb = master.rstrip("]").rsplit(",", 1)[-1].strip()
        builder = (
            builder.config("spark.executor.memory", f"{mb}m")
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
        )
    for k, v in extra_confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
