"""Distributed OSM PBF scan: driver index pass + executor parse kernel.

Spark-first re-expression of the reference's scan pipeline
(``osm-pbf-parquet/src/pbf.rs:51-98`` tokio pipeline, ``osmpbf/src/
blob.rs:164-449`` readers):

1. **Index pass (driver)** — metadata-only scan of BlobHeaders (S3,
   ``blob.rs:422-448`` parity), a few dozen bytes per blob; each blob is
   assigned to a task group (``_catalog_rows``).
2. **Group feed** — ``map_blob_groups``: the stage input is
   ``spark.range(0, n_groups, 1, n_groups)``, one JVM-native row per
   group, and the groups' ``(path, offset, size)`` lists ride in the
   ``mapInArrow`` closure, so each task is ONE Python worker. Groups
   hold adjacent blobs (S3-friendly: fewer range GETs; local: sequential
   I/O).
3. **Parse kernel (executors)** — each task seeks to its ranges,
   decompresses (D1), and runs the vectorized PrimitiveBlock decoder.
   Spark's scheduler replaces the reference's hand-rolled
   semaphore/JoinSet admission control (``pbf.rs:66-96``).

Scale notes (100 TB posture):
- Parallelism is bounded by blob count: blobs average ~90 KB compressed
  (~8k elements each), so a planet file has on the order of 10⁶ blobs;
  ``blobs_per_task`` or the default one group per core keeps tasks few.
- The closure costs ~14 B per blob pickled; past PySpark's 1 MB threshold
  (a planet: ~14 MB) the pickled command is broadcast, once per executor.
- Kind/column pushdown reaches the kernel as plan literals — a node-only
  query never decodes way/relation groups (mirrors ``indexed.rs:277-278``).
- The kernel is stateless per blob; no cross-task shared state exists, so
  executor loss just re-runs tasks.
"""

from __future__ import annotations

import math
import os
from functools import partial
from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..pbf.blob import (
    TYPE_DATA, TYPE_HEADER, BlobError, decompress_blob, index_blobs, read_blob_at,
)
from ..pbf.decode import (
    ALL_KINDS, columns_to_arrow, decode_primitive_block, parse_header_block,
)
from ..pbf.proto import ProtoDecodeError
from ..schema import OSM_COLUMNS, pruned_schema


def _n_groups(n_blobs: int, parallelism: int, blobs_per_task: int | None) -> int:
    """Task-group count. Explicit ``blobs_per_task`` wins; otherwise ONE
    group per core, capped at one group per blob. One wave beats the
    classic 2×-parallelism over-decomposition here because the
    size-weighted contiguous grouping already equalizes task cost:
    measured on the 130 MB bench input, 32 groups = 95 MB/s vs 64 groups
    = 63 MB/s (and 118 vs 86 at 531 MB). Most of what a second wave
    re-paid was the Python worker's per-task fixed cost, which the
    engine's worker daemon (``_daemon``) now removes. Transcode of the
    75 MB benchmark input (4 × 208 blobs, 4 vCPU, median of 5 alternating
    runs per session, two sessions per side) at 4 / 8 / 12 groups:
    stock daemon 1.74–1.78 / 1.94–2.12 / 2.05–2.40 s wall and
    6.7–6.9 / 7.4–7.9 / 7.9–8.8 process-tree CPU-s; ``_daemon``
    1.69–1.86 / 1.74–1.90 / 1.83–1.97 s and 6.5–7.0 / 6.8–7.2 / 6.9–7.3
    CPU-s. One wave is still the fastest, by less. Contiguous chunking
    keeps each task's byte ranges adjacent (coalesced reads)."""
    if n_blobs == 0:
        return 1
    if blobs_per_task:
        return max(1, math.ceil(n_blobs / blobs_per_task))
    return min(n_blobs, max(1, parallelism))


def read_pbf_header(path: str) -> dict | None:
    """Decode the OSMHeader blob (bbox, features, replication cursor).
    Reference parity: ``osmpbf/src/block.rs:9-100`` (D10). Stops at the
    first OSMHeader (the first blob by spec) — no full-file index pass,
    which matters when this runs per incremental-ingest tick."""
    from ..pbf.blob import _read_blob_header
    from ..pbf.io import open_binary

    with open_binary(path) as f:
        while True:
            head = _read_blob_header(f)
            if head is None:
                return None
            blob_type, datasize, payload_offset = head
            if blob_type == TYPE_HEADER:
                return parse_header_block(
                    decompress_blob(read_blob_at(f, payload_offset, datasize))
                )
            f.seek(payload_offset + datasize)


def _normalize_paths(path) -> list[str]:
    return [path] if isinstance(path, str) else list(path)


def _group_boundaries(sizes: list[int], g: int) -> list[int]:
    """Split ``sizes`` into ``g`` contiguous chunks of ~equal total BYTES
    (not equal count): blob decode cost tracks payload size, and way/
    relation blobs run ~3× a dense-node blob's bytes — count-balanced
    chunks made the tail tasks (where ways/relations cluster in a planet
    file) the stragglers of every scan. Returns per-blob group ids."""
    total = sum(sizes)
    if total == 0 or g <= 1:
        return [0] * len(sizes)
    target = total / g
    gids: list[int] = []
    acc = 0.0
    gid = 0
    for s in sizes:
        # close the group when adding this blob crosses its byte budget,
        # never exceeding g-1 (remaining blobs pile into the last group)
        if acc + s > target * (gid + 1) and gid < g - 1 and acc > 0:
            gid += 1
        gids.append(gid)
        acc += s
    return gids


def _catalog_rows(path, parallelism: int,
                  blobs_per_task: int | None,
                  interleave: bool = False) -> tuple[list[tuple], int]:
    """One metadata pass per file → (catalog rows, group count). Accepts a
    single path or a list (a 100 TB corpus is many PBF files; the catalog
    unions their blob ranges). Contiguous size-weighted chunking: each
    group holds adjacent blobs totalling ~equal bytes, so every task
    issues coalesced range reads (files never interleave mid-group) AND
    gets ~equal decode work.

    ``interleave=True`` (the fused transcode sink) instead balances
    groups by DECODE WORK: least-loaded greedy assignment, largest blob
    first, weighted by each blob's declared decompressed size
    (``BlobInfo.raw_size``, peeked during indexing). Byte-equal
    contiguous chunks are NOT work-equal — decode cost per compressed
    byte spans ~7× by element kind (dense nodes compress ~2×,
    member-heavy relation blocks ~6×), and a planet-shaped file
    clusters ways/relations at the end: measured at the 531 MB bench
    tier, the one group holding that span ran 4.0 CPU-s against a
    1.17 CPU-s median and the whole stage waited on it (3.7 s wall for
    ~1.05 s of per-core work — guide §2.5 skew). Cost per RAW byte is
    within ~2× across kinds, so raw-weighted groups level the tail;
    same rows, same per-task outputs, different (balanced) assignment
    at the price of non-contiguous reads (still one ~100 KB–MB range
    read per blob)."""
    entries: list[tuple] = []
    weights: list[int] = []
    for p in _normalize_paths(path):
        infos = sorted(
            (i for i in index_blobs(p) if i.blob_type == TYPE_DATA),
            key=lambda b: b.offset,
        )
        entries.extend((p, i.offset, i.size) for i in infos)
        # decode-work weight: raw bytes × a clamped compression-ratio
        # factor. Raw bytes alone still underweights very-high-ratio
        # blocks (a 6×-compressed relation block is varint-dense — more
        # messages per raw byte; measured 2.4× the per-raw-byte cost of
        # a dense-node block), so blobs compressing far above the ~2×
        # dense-node norm get up to 4× extra weight. Heuristic, but the
        # failure mode is mild imbalance, not a stage-long straggler.
        weights.extend(
            int((i.raw_size or i.size)
                * min(4.0, max(1.0, i.raw_size / (2.0 * i.size))))
            for i in infos
        )
    n = len(entries)
    g = _n_groups(n, parallelism, blobs_per_task)
    if interleave and g > 1:
        import heapq

        heap = [(0, gid) for gid in range(g)]  # (load, gid), gid ties stable
        gids = [0] * n
        for j in sorted(range(n), key=lambda j: -weights[j]):
            load, gid = heapq.heappop(heap)
            gids[j] = gid
            heapq.heappush(heap, (load + weights[j], gid))
    else:
        gids = _group_boundaries([sz for (_p, _off, sz) in entries], g)
    rows = [
        (p, off, sz, gid) for (p, off, sz), gid in zip(entries, gids)
    ]
    return rows, g


def _group_entries(rows: list[tuple], n_groups: int) -> list[list[tuple]]:
    """Catalog rows → one ``(path, offset, size)`` entry list per group id,
    in group order (a group may be empty)."""
    groups: list[list[tuple]] = [[] for _ in range(max(n_groups, 1))]
    for p, off, sz, gid in rows:
        groups[gid].append((p, off, sz))
    return groups


def map_blob_groups(spark: SparkSession, rows: list[tuple], n_groups: int,
                    kernel: Callable[[Iterator[tuple]], Iterator[pa.RecordBatch]],
                    schema) -> DataFrame:
    """Run ``kernel`` over each group's ``(path, offset, size)`` entries,
    one group per task: task ``i`` of ``spark.range(0, n, 1, n)`` holds
    the one row ``i``, so partition id == group id. A JVM-native input
    keeps each task at one Python worker; a Python RDD input would hold a
    second one just to feed the tuples to the JVM."""
    groups = _group_entries(rows, n_groups)
    n = len(groups)

    def _task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from kernel(
            entry
            for b in batches
            for gid in b.column(0).to_pylist()
            for entry in groups[gid]
        )

    return spark.range(0, n, 1, n).mapInArrow(_task, schema=schema)


def pbf_blob_catalog(spark: SparkSession, path: str, blobs_per_task: int | None = None) -> DataFrame:
    """The blob-range catalog as a DataFrame: (path, offset, size, task_group).

    This is the engine's analog of a Parquet footer listing — a tiny
    metadata DataFrame (the PBF stages themselves use ``map_blob_groups``).
    """
    rows, _ = _catalog_rows(path, spark.sparkContext.defaultParallelism, blobs_per_task)
    return spark.createDataFrame(rows, "path string, offset long, size long, task_group int")


def normalize_kinds_columns(kinds, columns):
    """Validate kinds and columns and project the column list onto the
    canonical order with id/type always included (shared by ``scan_pbf``
    and the ``osmpbf`` DataSource so their pushdown semantics cannot
    drift)."""
    kinds = frozenset(kinds)
    bad = kinds - ALL_KINDS
    if bad:
        raise ValueError(f"unknown kinds: {sorted(bad)}")
    if columns is not None:
        bad = set(columns) - set(OSM_COLUMNS)
        if bad:
            raise ValueError(f"unknown columns: {sorted(bad)}")
        # id/type always needed downstream of a typed union
        columns = [c for c in OSM_COLUMNS if c in set(columns) | {"id", "type"}]
    return sorted(kinds), columns


class BlobDecodeError(ValueError):
    """A data blob failed to read, decompress or decode. Names the file
    and the blob's byte offset; the original ``BlobError`` /
    ``ProtoDecodeError`` is the ``__cause__``."""

    def __init__(self, path: str, offset: int, cause: Exception) -> None:
        super().__init__(
            f"{path}: blob at offset {offset}: {type(cause).__name__}: {cause}"
        )
        self.path = path
        self.offset = offset


def read_blob_entries(entries, decode: Callable):
    """The executor read loop: iterate (path, offset, size) triples,
    keeping one open handle per distinct path, and yield ``decode`` of
    each blob's decompressed payload. A read, decompress or decode
    failure is re-raised as ``BlobDecodeError`` naming the file and blob
    offset."""
    from ..pbf.io import open_binary

    handles: dict[str, object] = {}
    try:
        for p, off, size in entries:
            f = handles.get(p)
            if f is None:
                f = handles[p] = open_binary(p)
            try:
                out = decode(decompress_blob(read_blob_at(f, off, size)))
            except (BlobError, ProtoDecodeError) as exc:
                raise BlobDecodeError(p, off, exc) from exc
            yield out
    finally:
        for f in handles.values():
            f.close()  # type: ignore[union-attr]


def decode_blob_entries(entries, kinds: list[str], columns: list[str] | None):
    """``read_blob_entries`` yielding each blob's sealed per-kind
    accumulators (``decode_primitive_block`` output, payload already
    released)."""

    def decode(payload) -> dict:
        per_kind = decode_primitive_block(payload, kinds=kinds, columns=columns)
        for cols in per_kind.values():
            cols.seal()
        return per_kind

    return read_blob_entries(entries, decode)


def parse_blob_entries(entries, kinds: list[str], columns: list[str] | None):
    """The parse kernel shared by ``scan_pbf``'s ``mapInArrow`` closure
    and the ``osmpbf`` DataSource's ``read()``: ``decode_blob_entries``
    with each blob assembled into one wide Arrow batch; yields the
    non-empty ones."""
    for per_kind in decode_blob_entries(entries, kinds, columns):
        out = columns_to_arrow(per_kind, columns=columns)
        if out is not None and out.num_rows:
            yield out


def scan_pbf(
    spark: SparkSession,
    path: str | list[str],
    kinds: Iterable[str] = ALL_KINDS,
    columns: list[str] | None = None,
    blobs_per_task: int | None = None,
) -> DataFrame:
    """Distributed scan of one or more OSM PBF files → DataFrame in the
    OSM schema.

    ``kinds``/``columns`` are pushdown arguments honored inside the parse
    kernel (unwanted primitive groups are never decoded; unwanted columns
    never built) — the engine-side equivalent of Catalyst's
    PushDownPredicates/ColumnPruning for this non-Parquet source.
    """
    kinds_list, columns = normalize_kinds_columns(kinds, columns)
    spark_schema = pruned_schema(columns)

    # group count is known at index time — no Spark job needed for it
    rows, n_groups = _catalog_rows(
        path, spark.sparkContext.defaultParallelism, blobs_per_task
    )
    columns_list = list(columns) if columns is not None else None
    return map_blob_groups(
        spark, rows, n_groups,
        partial(parse_blob_entries, kinds=kinds_list, columns=columns_list),
        spark_schema,
    )


def estimate_rows_per_file(sample_df: DataFrame, target_mb: int = 500, sample_rows: int = 50_000) -> int:
    """Calibrate maxRecordsPerFile from a sample's on-wire row width —
    the engine's version of the reference's per-row byte estimator
    (``osm_arrow.rs:186-243`` + 500MB rolling, ``sink.rs:82-105``)."""
    sample = sample_df.limit(sample_rows).toPandas()
    if len(sample) == 0:
        return 5_000_000
    approx_bytes = int(sample.memory_usage(deep=True).sum())
    per_row = max(approx_bytes / len(sample) * 0.35, 16)  # ~zstd parquet ratio
    return max(int(target_mb * 1024 * 1024 / per_row), 10_000)
