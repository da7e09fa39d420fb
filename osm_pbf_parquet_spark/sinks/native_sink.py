"""Fused transcode sink: parse + write in ONE distributed map stage.

The generic sink (``parquet_sink.write_osm_parquet``) routes kernel output
through Spark's row pipeline: every Arrow batch the parse kernel emits is
converted to JVM InternalRows (ArrowEvalPython), carried through the plan,
then re-encoded columnar by the JVM parquet writer. For the transcode
product — whose only consumer of the rows IS the parquet writer — that
row round-trip is pure overhead: measured at ~3× the cost of the parse
itself on a 130 MB input.

``transcode_pbf`` removes it. Each task parses its blob ranges and writes
hive-partitioned zstd parquet **directly from Arrow** with pyarrow's C++
writer, yielding only a tiny per-file stats batch. This is
the reference's own architecture — decode task feeding a parquet sink in
the same worker (``osm-pbf-parquet/src/pbf.rs:51-98`` →
``sink.rs:69-117``) — expressed Spark-first: the stage runs over
``spark.range`` with one row per blob group (``pbf_source.map_blob_groups``;
the group lists ride in the task closure), so each task is ONE Python
worker that reads, decodes and writes its group; Spark
schedules/distributes/retries the map stage, and the data plane stays
columnar end-to-end (PBF bytes → numpy → Arrow → parquet) with zero
per-row materialization anywhere.

One flush rule, like the reference's per-kind builders (``pbf.rs:183-220``,
``sink.rs:69-117``): ``_KindWriter`` is the only code that buffers and
flushes. Each task feeds ``(kind, part, rows)`` to ``_write_kind_parts``;
a kind's writer buffers the parts and, whenever it holds
``rows_per_group`` rows, builds a table with its route's ``build``, one
chunk per part, and writes it as a row group; the remainders follow at
task end. Parts are never concatenated, so a row group is held once, in
its parts' own buffers (the reference's builders likewise become the
batch its sink writes). The fused transcode's parts are each blob's
decoded blocks and ``build`` is ``decode.kind_table``
(``write_decoded_blocks``): no wide per-blob batch is built or split back
by ``type``. The ``osmparquet`` DataSource writer, whose input is a wide
DataFrame, feeds the per-kind slices of each batch (``write_kind_tables``).
Both routes flush at the same rows with the same per-blob chunks, so row
groups, file rolls and bytes come out identical.

Output contract parity (same as the generic sink):
- layout ``{out}/type={kind}/part-*.parquet``   (``sink.rs:155-179``, W1)
- zstd, level-configurable                       (``sink.rs:134-153``, W5)
- target file size rolling                       (``sink.rs:82-105``, W3)
- ``_SUCCESS`` marker on job completion          (commit protocol, W4)

One commit protocol for both writers (Spark's OutputCommitter only
serves the JVM writer path): ``_prepare_output`` clears the output for
overwrite and draws the job's run token; tasks write ``.inprogress``
files under ``_task_prefix`` names -- run token, partition and attempt
id, so concurrent speculative attempts never collide -- and rename them
to final names only at task end; the driver then keeps exactly the files
the winning attempts reported (``_finalize_output``) or none of them (the
``osmparquet`` writer's ``abort``), deleting this job's other files
(``_remove_uncommitted``) and never another job's. The driver-side
``os.listdir`` needs driver and executors to share one POSIX filesystem;
an object-store deployment would swap the rename for a multipart-commit
(documented limitation, same one the reference's local writer has).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from ..pbf.decode import ALL_KINDS, kind_table
from ..schema import OSM_TYPES

# one row group per ~this many rows: big enough for good column encoding
# and row-group-stat pruning, small enough to bound task memory (a 32 MB
# uncompressed blob holds ~8k-1M elements; groups accumulate across blobs)
_ROWS_PER_GROUP = 400_000


class _KindWriter:
    """Rolling parquet writer for one element kind inside one task: the one
    place that buffers parts and flushes a row group at ``rows_per_group``
    rows."""

    __slots__ = ("kind", "kind_dir", "prefix", "codec", "level", "target_bytes",
                 "rows_per_group", "sort_by_id", "build", "writer", "path",
                 "file_no", "rows", "pending", "pending_rows", "stats")

    def __init__(self, kind: str, kind_dir: str, prefix: str, codec: str,
                 level: int | None, target_bytes: int, stats: list,
                 rows_per_group: int, sort_by_id: bool,
                 build: Callable[[str, list], pa.Table]) -> None:
        os.makedirs(kind_dir, exist_ok=True)
        self.kind = kind
        self.kind_dir = kind_dir
        self.prefix = prefix
        self.codec = codec
        self.level = level
        self.target_bytes = target_bytes
        self.rows_per_group = rows_per_group
        self.sort_by_id = sort_by_id
        self.build = build
        self.writer: pq.ParquetWriter | None = None
        self.path = ""
        self.file_no = 0
        self.rows = 0
        self.pending: list = []
        self.pending_rows = 0
        self.stats = stats

    def _open(self, schema: pa.Schema) -> None:
        self.path = os.path.join(
            self.kind_dir, f"{self.prefix}-{self.file_no:03d}.{self.codec}.parquet"
        )
        # Encoding tuning, measured on the 10M-node bench input: dictionary
        # OFF everywhere (unique ids/coords make dict attempts pure waste)
        # + DELTA_BINARY_PACKED for the near-sorted int64 columns writes
        # the node table 1.8x faster AND 19% smaller (7.6s/213 MB ->
        # 4.3s/172 MB at zstd-3). BYTE_STREAM_SPLIT for lat/lon was faster
        # still but Spark's vectorized parquet reader rejects it — both
        # Spark and DuckDB read DELTA_BINARY_PACKED fine. Round-5 re-sweep:
        # extending delta to timestamp (INT64 physical) and the way-ref
        # list elements (near-sorted node ids) cuts write time another 33%
        # and output 13% at the same zstd-3 (1.48s/42.0 MB -> 0.99s/36.5 MB
        # on the 25 MB profile input); both Spark's vectorized reader and
        # DuckDB read the nested-element encoding (verified by aggregate
        # parity). DELTA_BYTE_ARRAY on user/tag strings measured neutral.
        delta_cols = {"id", "changeset", "uid", "version", "timestamp"}
        encoding = {
            f.name: "DELTA_BINARY_PACKED"
            for f in schema if f.name in delta_cols
        }
        if "nds" in schema.names:
            encoding["nds.list.element"] = "DELTA_BINARY_PACKED"
        self.writer = pq.ParquetWriter(
            self.path + ".inprogress", schema, compression=self.codec,
            compression_level=self.level,
            use_dictionary=False,
            column_encoding=encoding,
        )
        self.rows = 0

    def add(self, part, rows: int) -> None:
        self.pending.append(part)
        self.pending_rows += rows
        if self.pending_rows >= self.rows_per_group:
            self._flush_group()

    def _flush_group(self) -> None:
        if not self.pending_rows:
            return
        # hand the parts over: the table's chunks share their arrays, and
        # what it does not share (string indices, counts, masks) is freed
        # before the group is written rather than held through the write
        parts, self.pending, self.pending_rows = self.pending, [], 0
        table = self.build(self.kind, parts)
        del parts
        if self.sort_by_id:
            # row-group stats are the zone-map granularity (F2 parity):
            # sorting each group makes its id min/max exact. Blobs are
            # id-ordered in real planet files, so this is a near-no-op
            # local touch-up, not a shuffle.
            table = table.sort_by("id")
        if self.writer is None:
            self._open(table.schema)
        self.writer.write_table(table, row_group_size=self.rows_per_group)
        self.rows += table.num_rows
        # file_handle position ≈ compressed bytes flushed so far — the same
        # "estimate then roll" discipline as the reference's byte estimator
        if os.path.getsize(self.path + ".inprogress") >= self.target_bytes:
            self._roll()

    def _roll(self) -> None:
        if self.writer is None:
            return
        self.writer.close()
        os.replace(self.path + ".inprogress", self.path)
        self.stats.append((self.kind, self.path,
                           self.rows, os.path.getsize(self.path)))
        self.writer = None
        self.file_no += 1

    def close(self) -> None:
        self._flush_group()
        self._roll()


def _write_kind_parts(parts: Iterable[tuple[str, object, int]],
                      out_path: str, prefix: str, codec: str,
                      level: int | None, target_bytes: int,
                      rows_per_group: int, sort_by_id: bool,
                      build: Callable[[str, list], pa.Table]) -> list[tuple]:
    """Task-side write loop shared by every writer here: append each
    ``(kind, part, rows)`` to that kind's rolling writer, which builds its
    row groups with ``build``, and return the committed-file stats. On ANY
    failure every file this task produced is removed -- the open
    ``.inprogress`` partial AND files already rolled to final names (a
    rolled file from a failed attempt would otherwise survive a job-level
    failure in append mode and duplicate rows on the next tick's retry)."""
    stats: list[tuple] = []
    writers: dict[str, _KindWriter] = {}
    try:
        for kind, part, rows in parts:
            w = writers.get(kind)
            if w is None:
                w = writers[kind] = _KindWriter(
                    kind, os.path.join(out_path, f"type={kind}"),
                    prefix, codec, level, target_bytes, stats,
                    rows_per_group, sort_by_id, build,
                )
            w.add(part, rows)
            # drop the loop's reference: a written group must not stay
            # alive while the next part is produced
            del part
        for w in writers.values():
            w.close()
    except BaseException:
        for w in writers.values():
            if w.writer is not None:
                try:
                    w.writer.close()
                except Exception:
                    pass
                try:
                    os.remove(w.path + ".inprogress")
                except OSError:
                    pass
        for _kind, fpath, _rows, _bytes in stats:  # rolled final-named files
            try:
                os.remove(fpath)
            except OSError:
                pass
        raise
    return stats


def _concat_parts(_kind: str, parts: list[pa.Table]) -> pa.Table:
    return pa.concat_tables(parts)


def write_kind_tables(tables: Iterator, out_path: str, prefix: str,
                      codec: str, level: int | None, target_bytes: int,
                      rows_per_group: int, sort_by_id: bool) -> list[tuple]:
    """Write wide tables (all kinds, ``type`` as a column) -- the
    ``osmparquet`` DataSource writer's input: split each by ``type`` and
    write the per-kind slices, each one chunk of its row group."""

    def parts():
        for table in tables:
            if "type" not in table.column_names:
                raise ValueError("OSM writer requires a 'type' column")
            types = table.column("type")
            for kind in OSM_TYPES:
                part = table.filter(pc.equal(types, kind))
                if part.num_rows:
                    yield kind, part.drop_columns(["type"]), part.num_rows

    return _write_kind_parts(parts(), out_path, prefix, codec, level,
                             target_bytes, rows_per_group, sort_by_id,
                             _concat_parts)


def write_decoded_blocks(decoded: Iterable[dict], out_path: str, prefix: str,
                         codec: str, level: int | None, target_bytes: int,
                         rows_per_group: int, sort_by_id: bool) -> list[tuple]:
    """The fused task's write: each blob's decoded per-kind blocks
    (``decode_blob_entries`` output) are the parts, and each row group is
    built from its blocks by ``decode.kind_table``, without ``type``."""
    parts = (
        (kind, cols, cols.n)
        for per_kind in decoded
        for kind in OSM_TYPES
        if (cols := per_kind.get(kind)) is not None and cols.n
    )
    return _write_kind_parts(parts, out_path, prefix, codec, level,
                             target_bytes, rows_per_group, sort_by_id,
                             kind_table)


def _prepare_output(out_path: str, overwrite: bool) -> str:
    """Driver-side job start: clear ``out_path`` for an overwrite, create
    it, and return a new run token. Every file name of the job carries the
    token, so its commit and abort touch only this job's files."""
    if overwrite and os.path.exists(out_path):
        shutil.rmtree(out_path)
    os.makedirs(out_path, exist_ok=True)
    return f"j{uuid.uuid4().hex[:12]}"


def _task_prefix(run_token: str) -> str:
    """File-name prefix of the running task attempt."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return f"part-{run_token}-{ctx.partitionId():05d}-{ctx.taskAttemptId()}"


def _remove_uncommitted(out_path: str, committed: set[str],
                        run_token: str) -> None:
    """Delete this job's partition-dir files that are not in ``committed``:
    ``.inprogress`` partials from failed tasks and complete files from
    losing speculative attempts. Files without ``run_token`` belong to
    other jobs (append mode) and are never touched."""
    for kind_dir in os.listdir(out_path):
        full = os.path.join(out_path, kind_dir)
        if not os.path.isdir(full):
            continue
        for fname in os.listdir(full):
            fpath = os.path.join(full, fname)
            if run_token in fname and fpath not in committed:
                os.remove(fpath)


def _finalize_output(out_path: str, committed: set[str],
                     run_token: str) -> None:
    """Job commit: keep exactly the winning attempts' files, then write
    ``_SUCCESS``."""
    _remove_uncommitted(out_path, committed, run_token)
    with open(os.path.join(out_path, "_SUCCESS"), "w"):
        pass


def transcode_pbf(
    spark: SparkSession,
    path: str | list[str],
    out_path: str,
    compression: str = "zstd",
    zstd_level: int | None = 3,
    target_file_mb: int = 500,
    blobs_per_task: int | None = None,
    kinds=ALL_KINDS,
    mode: str = "overwrite",
    rows_per_group: int = _ROWS_PER_GROUP,
    sort_by_id: bool = False,
) -> dict:
    """PBF → hive-partitioned parquet in one fused map stage.

    Returns ``{"files": [...], "rows": {kind: n}, "bytes": total}``. The
    output reads back with ``spark.read.parquet(out_path)`` identically to
    the generic sink's (``tests/test_transcode.py`` pins the equivalence).
    """
    from ..sources.pbf_source import (
        _catalog_rows,
        decode_blob_entries,
        map_blob_groups,
        normalize_kinds_columns,
    )

    kinds_list, _ = normalize_kinds_columns(kinds, None)
    if mode not in ("overwrite", "error", "append"):
        raise ValueError(f"unsupported mode: {mode}")
    # The commit protocol (task-side renames + driver finalize over
    # os.listdir) requires driver and executors to share ONE POSIX
    # filesystem. That holds on local[*] masters; on a multi-node cluster
    # the driver would finalize against paths it cannot see and silently
    # produce empty/inconsistent output — fail fast instead.
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        raise ValueError(
            "transcode_pbf's fused sink assumes a shared POSIX filesystem "
            f"(task renames + driver finalize); master {master!r} is not "
            "local. Use sinks.parquet_sink.write_osm_parquet (Spark-managed "
            "commit) on a cluster."
        )
    if mode == "error" and os.path.exists(out_path):
        raise ValueError(f"output path exists: {out_path}")
    run_token = _prepare_output(out_path, overwrite=mode == "overwrite")

    rows, n_groups = _catalog_rows(
        path, spark.sparkContext.defaultParallelism, blobs_per_task,
        # kind-mixed round-robin runs: byte-equal contiguous chunks left
        # the way/relation span in one 4x-CPU straggler task (see
        # _catalog_rows) — the transcode's per-task outputs are
        # assignment-independent, so the fused sink takes the balanced
        # deal unconditionally
        interleave=True,
    )
    target_bytes = target_file_mb * 1024 * 1024
    level = zstd_level if compression == "zstd" else None

    def _transcode(entries: Iterator[tuple]) -> Iterator[pa.RecordBatch]:
        stats = write_decoded_blocks(
            decode_blob_entries(entries, kinds_list, None),
            out_path, _task_prefix(run_token), compression, level, target_bytes,
            rows_per_group, sort_by_id,
        )
        kind_col, files, n_rows, n_bytes = zip(*stats) if stats else ((),) * 4
        yield pa.RecordBatch.from_arrays(
            [pa.array(kind_col, pa.string()), pa.array(files, pa.string()),
             pa.array(n_rows, pa.int64()), pa.array(n_bytes, pa.int64())],
            names=["kind", "file", "rows", "bytes"],
        )

    stat_rows = map_blob_groups(
        spark, rows, n_groups, _transcode,
        "kind string, file string, rows long, bytes long",
    ).collect()

    committed = {r["file"] for r in stat_rows}
    _finalize_output(out_path, committed, run_token)

    per_kind: dict[str, int] = {}
    for r in stat_rows:
        per_kind[r["kind"]] = per_kind.get(r["kind"], 0) + r["rows"]
    return {
        "files": sorted(committed),
        "rows": per_kind,
        "bytes": sum(r["bytes"] for r in stat_rows),
    }
