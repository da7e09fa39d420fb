"""Partitioned zstd Parquet sink — the reference's output contract.

Parity targets:
- layout ``{out}/type={kind}/*.parquet``  (``osm-pbf-parquet/src/sink.rs:155-179``, W1)
- zstd compression, level-configurable    (``sink.rs:134-153``, W5)
- ~500MB target file size                 (``sink.rs:82-105`` + ``util.rs:61-63``, W3)

Spark-native mechanics replace the reference's hand-rolled sink pool
(``pbf.rs:159-181``): the dynamic-partition writer demuxes rows by kind
(P2), per-task writers roll files via ``maxRecordsPerFile`` (W3), and the
job-commit protocol replaces idle/forced flushes (W4).

Ordering note: the reference does not preserve input order (README.md:88).
``sort_by_id=True`` is our deliberate improvement — clustering by id makes
Parquet row-group min/max stats act as the zone-map index the reference
builds by hand (``osmpbf/src/indexed.rs:174-222``), so id-range queries
prune row groups for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_osm_parquet(
    df: DataFrame,
    out_path: str,
    compression: str = "zstd",
    zstd_level: int | None = None,
    max_records_per_file: int | None = 5_000_000,
    sort_by_id: bool = False,
    mode: str = "overwrite",
    observe: str | None = None,
) -> dict | None:
    """Write the OSM DataFrame; with ``observe`` set, returns the A3
    progress metrics (element totals per kind) collected by the write job
    itself — no extra scan. The observation MUST attach downstream of the
    range-repartition: ``repartitionByRange`` runs a sampling job over its
    child plan, which would double-count an upstream observe node."""
    if sort_by_id:
        # range-cluster inside each type partition → row-group zone maps
        df = df.repartitionByRange("type", "id").sortWithinPartitions("type", "id")
    obs = None
    if observe:
        from ..operators.osm_ops import observe_elements

        df, obs = observe_elements(df, observe)
    writer = df.write.mode(mode).partitionBy("type").option("compression", compression)
    if zstd_level is not None:
        # level knob honored by parquet-mr (reference zstd 1-22,
        # sink.rs:139-149). Writer options merge into THIS write's Hadoop
        # conf — scoped per write, unlike a session-global conf.set (and a
        # 'spark.hadoop.'-prefixed runtime conf never reaches parquet-mr:
        # the prefix is only stripped at SparkContext creation).
        writer = writer.option("parquet.compression.codec.zstd.level", str(zstd_level))
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(out_path)
    return obs.get if obs is not None else None


def compact_parquet_dataset(
    spark,
    in_path: str,
    out_path: str,
    target_file_mb: int = 500,
    partition_col: str | None = None,
) -> dict:
    """Small-file compaction — the 100 TB operational chore: a dataset
    written by many tasks/ingests accumulates files far below the
    row-group-efficient size, and scan planning + footer reads start to
    dominate. Rewrites the dataset into ~``target_file_mb`` files,
    preserving an optional hive partition column.

    Sizing and the row-count stat come from the driver-side listing +
    parquet FOOTERS (metadata only — never a data pass); the only data
    movement is the one repartition→write. LOCAL-filesystem paths only
    (the listing is driver-local): fail fast on s3://hdfs://-style URIs
    rather than silently sizing from an empty glob and funnelling the
    dataset through one task.

    With a partition column, rows repartition on (partition_col, salt)
    where the salt range is the PER-HIVE-PARTITION file budget
    (n_out / n_hive_partitions) — hashing (partition, salt) combos into
    n_out tasks then makes each task hold ~one combo, so the write emits
    ~n_out total files instead of files-per-task-per-partition
    (~n_out × n_hive tiny files).

    Returns {"files_in", "files_out", "rows", "bytes_in"}.
    """
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    if "://" in in_path and not in_path.startswith("file://"):
        raise ValueError(
            "compact_parquet_dataset lists files driver-side and supports "
            f"local paths only; got {in_path!r}. On object stores, size "
            "from the catalog/filesystem listing and run the same "
            "repartition-write plan directly."
        )
    files = [
        f for f in _glob.glob(os.path.join(in_path, "**", "*.parquet"),
                              recursive=True)
        if os.path.isfile(f)
    ]
    if not files:
        raise ValueError(f"no parquet files under {in_path!r}")
    bytes_in = sum(os.path.getsize(f) for f in files)
    rows = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    n_out = max(1, (bytes_in + target_file_mb * 1024 * 1024 - 1)
                // (target_file_mb * 1024 * 1024))
    df = spark.read.parquet(in_path)
    if partition_col is not None:
        n_hive = len(
            {os.path.basename(os.path.dirname(f)) for f in files}
        )
        per_part = max(1, int(n_out) // max(n_hive, 1))
        salted = df.withColumn(
            "_c",
            F.pmod(
                F.spark_partition_id() + F.monotonically_increasing_id(),
                F.lit(per_part),
            ),
        )
        (
            salted.repartition(int(n_out), partition_col, "_c")
            .drop("_c")
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(out_path)
        )
    else:
        df.repartition(int(n_out)).write.mode("overwrite").parquet(out_path)
    files_out = [
        f for f in _glob.glob(os.path.join(out_path, "**", "*.parquet"),
                              recursive=True)
        if os.path.isfile(f)
    ]
    return {
        "files_in": len(files),
        "files_out": len(files_out),
        "rows": rows,
        "bytes_in": bytes_in,
    }
