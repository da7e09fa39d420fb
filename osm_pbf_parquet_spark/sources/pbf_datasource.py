"""``spark.read.format("osmpbf")`` — Python DataSource API integration.

The idiomatic Spark 4 packaging of the PBF scan (SURVEY §2.1 S1 lists the
``pyspark.sql.datasource`` route as the first-class alternative to the
``mapInArrow`` kernel): after ``register_osm_pbf(spark)``,

    df = spark.read.format("osmpbf").load("/path/planet.osm.pbf")
    df = (spark.read.format("osmpbf")
          .option("columns", "id,lat,lon")          # column pruning
          .load("/data/pbf/"))                       # file or directory

gives the same wide OSM DataFrame as ``scan_pbf`` with:

- **partition-per-blob-range**: ``partitions()`` returns contiguous blob
  groups (same grouping math as ``scan_pbf``), so Spark schedules one
  task per group and each task issues coalesced byte-range reads;
- **filter pushdown**: ``pushFilters`` accepts ``type = '...'`` /
  ``type IN (...)`` predicates and forwards them to the parse kernel as
  kind pushdown — a node-only query never decodes way/relation groups
  (reference parity: ``osmpbf/src/indexed.rs:277-278``). All other
  filters are left for Catalyst to evaluate post-scan;
- **column pruning** via the ``columns`` option (the Python DataSource
  API does not yet push projections, so pruning is opt-in here; the
  ``scan_pbf`` kernel arg remains the programmatic route);
- Arrow-batch reads: ``read()`` yields ``pyarrow.RecordBatch`` directly,
  so rows never materialize as Python objects.

Scale notes: ``partitions()`` is a driver-side metadata pass identical to
the catalog build — ~32 bytes read per blob (~90 KB on average). Each
InputPartition carries only (path, offset, size) triples; worker state is
one open file handle per distinct path per task.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
)

from ..pbf.decode import ALL_KINDS
from ..schema import pruned_schema


class _BlobRangePartition(InputPartition):
    def __init__(self, entries: list[tuple[str, int, int]]):
        self.entries = entries


def _expand_paths(path: str) -> list[str]:
    """A directory means every *.pbf under it (sorted, deterministic)."""
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".pbf")
            )
        if not out:
            raise FileNotFoundError(f"no *.pbf files under {path}")
        return sorted(out)
    return [path]


class OsmPbfDataSource(DataSource):
    """Batch data source for OpenStreetMap PBF files."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def _columns(self) -> list | None:
        from .pbf_source import normalize_kinds_columns

        cols = self.options.get("columns")
        if not cols:
            return None
        wanted = [c.strip() for c in cols.split(",") if c.strip()]
        return normalize_kinds_columns((), wanted)[1]

    def schema(self):
        return pruned_schema(self._columns())

    def reader(self, schema) -> "OsmPbfReader":
        return OsmPbfReader(self.options, self._columns())


class OsmPbfReader(DataSourceReader):
    def __init__(self, options, columns) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("osmpbf: .load(path) is required")
        from .pbf_source import normalize_kinds_columns

        self.paths = _expand_paths(path)
        self.columns = columns
        kinds = {
            k.strip()
            for k in options.get("kinds", ",".join(sorted(ALL_KINDS))).split(",")
            if k.strip()
        }
        self.kinds = set(normalize_kinds_columns(kinds, None)[0])
        bpt = options.get("blobs_per_task")
        self.blobs_per_task = int(bpt) if bpt else None

    def pushFilters(self, filters):
        """Accept type-equality predicates as kind pushdown; return the
        rest for Catalyst. An impossible type value yields zero kinds —
        partitions() then returns no work at all."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("type",):
                self.kinds &= {f.value}
            elif isinstance(f, In) and f.attribute == ("type",):
                self.kinds &= set(f.value)
            else:
                yield f

    def partitions(self) -> list[_BlobRangePartition]:
        from .pbf_source import _catalog_rows, _group_entries

        if not self.kinds:
            return [_BlobRangePartition([])]
        parallelism = os.cpu_count() or 8
        try:  # driver-side: size groups off the real cluster parallelism
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                parallelism = active.sparkContext.defaultParallelism
        except Exception:
            pass
        rows, n_groups = _catalog_rows(self.paths, parallelism, self.blobs_per_task)
        # gid = size-weighted contiguous chunks; empty groups are dropped
        parts = [_BlobRangePartition(g) for g in _group_entries(rows, n_groups) if g]
        return parts or [_BlobRangePartition([])]

    def read(self, partition: _BlobRangePartition) -> Iterator:
        from .pbf_source import parse_blob_entries

        yield from parse_blob_entries(
            partition.entries, sorted(self.kinds), self.columns
        )


def register_osm_pbf(spark) -> None:
    """Register the ``osmpbf`` format on this session (and enable Python
    data-source filter pushdown, which ``pushFilters`` requires)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OsmPbfDataSource)
