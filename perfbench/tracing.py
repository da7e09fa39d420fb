"""In-memory spans and the Spark-free kernel pass.

Spans are recorded by the benchmark around its calls into each layer's
public functions; the engine itself is not instrumented. They are kept in
memory and written once, when the run ends.

The kernel pass plays the role of the reference's criterion bench
(``benches/benchmark.rs``): one core, no Spark, every layer of the
transcode kernel timed on its own -- index, read, decompress, decode,
Arrow assembly, and the Parquet write fed with tables decoded in advance.
A way-only scan through the source's parse kernel follows it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager


class Tracer:
    """Spans ``(id, parent, name, start, end)`` plus counters."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        span = {"id": len(self.spans), "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children
        cover. Children of one span never overlap (one thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans,
                       "counts": self.counts}, f)


def kernel_pass(tracer: Tracer, pbf_paths: list[str], out_dir: str) -> None:
    """Decode every data blob of ``pbf_paths`` and write the decoded tables
    with the fused sink's task-side writer, one core, no Spark."""
    import pyarrow as pa

    from osm_pbf_parquet_spark.pbf.blob import (
        TYPE_DATA, decompress_blob, index_blobs, read_blob_at,
    )
    from osm_pbf_parquet_spark.pbf.decode import (
        columns_to_arrow, decode_primitive_block,
    )
    from osm_pbf_parquet_spark.sinks.native_sink import (
        _ROWS_PER_GROUP, write_kind_tables,
    )

    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("kernel"):
        for n_file, path in enumerate(pbf_paths):
            tables = []
            with tracer.span("blob.index"):
                infos = [i for i in index_blobs(path) if i.blob_type == TYPE_DATA]
            with open(path, "rb") as f:
                for info in infos:
                    with tracer.span("blob.read"):
                        raw = read_blob_at(f, info.offset, info.size)
                    with tracer.span("blob.decompress"):
                        payload = decompress_blob(raw)
                    with tracer.span("decode.decode"):
                        per_kind = decode_primitive_block(payload)
                    with tracer.span("decode.arrow"):
                        batch = columns_to_arrow(per_kind)
                    tracer.count("blob.count")
                    tracer.count("blob.bytes_in", len(raw))
                    tracer.count("blob.bytes_raw", len(payload))
                    for kind, cols in per_kind.items():
                        tracer.count(f"decode.{kind}_rows", cols.n)
                    if batch is not None:
                        tracer.count("decode.rows", batch.num_rows)
                        tables.append(pa.Table.from_batches([batch]))
            with tracer.span("sink.write"):
                stats = write_kind_tables(
                    iter(tables), out_dir, f"part-{n_file:05d}", "zstd", 3,
                    500 * 1024 * 1024, _ROWS_PER_GROUP, False,
                )
            tracer.count("sink.files", len(stats))
            tracer.count("sink.bytes_out", sum(s[3] for s in stats))
            tracer.count("sink.row_groups", _row_groups([s[1] for s in stats]))
    shutil.rmtree(out_dir, ignore_errors=True)


def way_scan(tracer: Tracer, path: str) -> None:
    """A way-only scan of ``path`` through the source's parse kernel:
    counts the data blobs it is handed (each is read and decompressed) and
    those that yield rows, the blobs a way query needs."""
    from osm_pbf_parquet_spark.pbf.blob import TYPE_DATA, index_blobs
    from osm_pbf_parquet_spark.sources.pbf_source import parse_blob_entries

    def entries():
        for info in index_blobs(path):
            if info.blob_type == TYPE_DATA:
                tracer.count("source.blobs_read")
                yield path, info.offset, info.size

    with tracer.span("source.way_scan"):
        for _batch in parse_blob_entries(entries(), ["way"], None):
            tracer.count("source.useful_blobs")


def _row_groups(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_row_groups for p in files)
