"""``df.write.format("osmparquet")`` — Python DataSource WRITER API.

The idiomatic Spark 4 packaging of the native sink: any DataFrame in the
OSM wide schema (a ``scan_pbf`` result, a filtered subset, a repartitioned
stream) writes hive-partitioned ``type=*/`` zstd parquet through the same
pyarrow kind-writer machinery as ``sinks.native_sink`` — Arrow batches
flow straight from the executor into the C++ parquet writer
(``DataSourceArrowWriter``), never materializing Python row objects.

    from osm_pbf_parquet_spark.sinks.osm_writer_datasource import register_osm_parquet
    register_osm_parquet(spark)
    df.write.format("osmparquet").mode("overwrite") \
        .option("compression", "zstd").option("zstd_level", "3") \
        .save("/out/dir")

Commit protocol — the fused transcode's, driven here by Spark, which is
exactly what the API is for: ``__init__`` prepares the output and draws
the job's run token (``native_sink._prepare_output``); each task's
``write()`` returns the files it committed (renamed from ``.inprogress``
at task end) as its ``WriterCommitMessage``; the driver calls
``commit(messages)`` once every task succeeded -- ``_finalize_output``
keeps exactly those files of THIS job and drops ``_SUCCESS`` -- or
``abort()``, which removes every file of this job and writes no
``_SUCCESS``. Other jobs' files (``append``) are never touched. The
commit and abort list the output directory on the driver with
``os.listdir``, so, like ``transcode_pbf``, this writer needs driver and
executors to share one POSIX filesystem; on a cluster without one, use
``parquet_sink.write_osm_parquet``.

Unlike the fused sink this path receives whatever the upstream plan
produces (shuffles, filters, joins included), so it is the general-
purpose sink; the fused sink remains the fast path for the pure
PBF→parquet product flow.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from .native_sink import (
    _ROWS_PER_GROUP,
    _finalize_output,
    _prepare_output,
    _remove_uncommitted,
    _task_prefix,
    write_kind_tables,
)


class _Committed(WriterCommitMessage):
    """Files one task committed (picklable payload back to the driver)."""

    def __init__(self, files: list[str]):
        self.files = files


class OsmParquetWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osmparquet writer requires a save path")
        self.codec = options.get("compression", "zstd")
        level = options.get("zstd_level")
        self.level = int(level) if level is not None else (
            3 if self.codec == "zstd" else None
        )
        self.target_bytes = int(options.get("target_file_mb", 500)) * 1024 * 1024
        self.rows_per_group = int(options.get("rows_per_group", _ROWS_PER_GROUP))
        self.sort_by_id = options.get("sort_by_id", "false").lower() == "true"
        self.run_token = _prepare_output(self.path, overwrite)

    def write(self, iterator: Iterator) -> _Committed:  # executor side
        import pyarrow as pa

        tables = (pa.Table.from_batches([b]) for b in iterator)
        stats = write_kind_tables(
            tables, self.path, _task_prefix(self.run_token), self.codec, self.level,
            self.target_bytes, self.rows_per_group, self.sort_by_id,
        )
        return _Committed([s[1] for s in stats])

    def commit(self, messages) -> None:  # driver side, all tasks succeeded
        committed = {f for m in messages if m is not None for f in m.files}
        _finalize_output(self.path, committed, self.run_token)

    def abort(self, messages) -> None:  # driver side, job failed
        _remove_uncommitted(self.path, set(), self.run_token)


class OsmParquetDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "osmparquet"

    def writer(self, schema, overwrite: bool) -> OsmParquetWriter:
        return OsmParquetWriter(self.options, overwrite)


def register_osm_parquet(spark) -> None:
    spark.dataSource.register(OsmParquetDataSource)
