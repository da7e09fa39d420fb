"""PBF blob framing: sequential scan, metadata-only index, random access.

File layout (public spec, fileformat.proto): repeating
``[4-byte BE length][BlobHeader][Blob]``. Parity targets:

- sequential scan   — reference ``osmpbf/src/blob.rs:164-315`` (S1)
- seekable access   — reference ``osmpbf/src/blob.rs:317-449`` (S2)
- metadata-only idx — reference ``osmpbf/src/blob.rs:422-448``  (S3)

The index pass reads only the tiny BlobHeaders (skipping payloads), so a
single driver-side pass over a planet file touches a few MB; the payload
reads happen distributed, one byte-range per Spark task.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from typing import BinaryIO, Iterator

from .io import open_binary
from .proto import (
    ProtoDecodeError,
    iter_fields,
    length_delimited,
    message_fields,
    varint_field,
)

# Spec limits, enforced identically to the reference
# (``osmpbf/src/blob.rs:22,25``).
MAX_BLOB_HEADER_SIZE = 64 * 1024
MAX_BLOB_SIZE = 32 * 1024 * 1024

TYPE_HEADER = "OSMHeader"
TYPE_DATA = "OSMData"


class BlobError(ValueError):
    """Malformed blob framing (parity: ``osmpbf/src/error.rs:44-82``)."""


@dataclass(frozen=True)
class BlobInfo:
    """One blob's position in the file: what a scan task needs to fetch it."""

    blob_type: str  # "OSMHeader" | "OSMData" | other (reserved)
    offset: int  # byte offset of the Blob message payload
    size: int  # byte length of the Blob message
    header_offset: int  # offset of the 4-byte length prefix (for debugging)
    # the Blob's DECLARED decompressed size (fileformat.proto raw_size,
    # peeked from the message's first bytes during indexing; 0 when the
    # peek window didn't cover it). Decode work tracks RAW bytes far
    # better than compressed bytes — dense-node blocks compress ~2x,
    # member-heavy relation blocks ~6x — so the transcode scheduler
    # weights tasks by it (sources/pbf_source._catalog_rows).
    raw_size: int = 0


def _peek_raw_size(peek: bytes) -> int:
    """Parse the leading fields of a Blob message for raw_size (field 2,
    varint). Writers emit raw_size before the payload field; for
    uncompressed blobs (field 1, no raw_size) the payload's declared
    length IS the raw size. Returns 0 if the window is inconclusive —
    callers fall back to the compressed size."""
    i, n = 0, len(peek)

    def varint(j: int) -> tuple[int, int]:
        v, sh = 0, 0
        while j < n:
            b = peek[j]
            v |= (b & 0x7F) << sh
            j += 1
            if b < 0x80:
                return v, j
            sh += 7
        return -1, j  # ran off the window

    while i < n:
        tag, i = varint(i)
        if tag < 0:
            return 0
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = varint(i)
            if v < 0:
                return 0
            if fno == 2:
                return v
        elif wt == 2:
            ln, i = varint(i)
            if ln < 0:
                return 0
            if fno == 1:  # uncompressed payload: length == raw size
                return ln
            i += ln  # skip (payload fields are last in practice)
        else:
            return 0
    return 0


def _read_exact(f: BinaryIO, n: int) -> bytes:
    data = f.read(n)
    if len(data) != n:
        raise BlobError(f"unexpected EOF: wanted {n} bytes, got {len(data)}")
    return data


def _read_blob_header(f: BinaryIO) -> tuple[str, int, int] | None:
    """Read one [len][BlobHeader]; returns (type, datasize, payload_offset)
    or None at clean EOF."""
    start = f.tell()
    prefix = f.read(4)
    if len(prefix) == 0:
        return None
    if len(prefix) != 4:
        raise BlobError("truncated length prefix")
    header_size = struct.unpack(">I", prefix)[0]
    if header_size >= MAX_BLOB_HEADER_SIZE:
        raise BlobError(f"blob header too big: {header_size} at offset {start}")
    fields = message_fields(_read_exact(f, header_size))
    try:
        blob_type = bytes(length_delimited(fields, 1)[0]).decode("utf-8")
        datasize = varint_field(fields, 3)
    except (IndexError, ProtoDecodeError) as exc:  # missing or mistyped
        raise BlobError(f"invalid BlobHeader at offset {start}") from exc
    if datasize is None:  # required
        raise BlobError(f"invalid BlobHeader at offset {start}")
    if datasize >= MAX_BLOB_SIZE:
        raise BlobError(f"blob too big: {datasize} at offset {start}")
    return blob_type, datasize, f.tell()


def index_blobs(path: str) -> list[BlobInfo]:
    """Metadata-only scan: header reads + payload seeks (S3). Cheap enough
    to run on the driver for any file size — it reads ~32 bytes per ~16MB
    blob. Accepts plain paths or URLs (S5: ``pbf/io.py``)."""
    infos: list[BlobInfo] = []
    with open_binary(path) as f:
        while True:
            start = f.tell()
            head = _read_blob_header(f)
            if head is None:
                return infos
            blob_type, datasize, payload_offset = head
            # peek the Blob message's first bytes for raw_size (the
            # sequential header scan is already positioned here, so this
            # costs 24 bytes of the read we were about to seek past)
            peek = f.read(min(24, datasize))
            raw_size = _peek_raw_size(peek)
            infos.append(
                BlobInfo(blob_type, payload_offset, datasize, start, raw_size)
            )
            f.seek(datasize - len(peek), 1)


def iter_blobs(path: str) -> Iterator[tuple[BlobInfo, bytes]]:
    """Sequential full scan (S1): yields (info, raw Blob message bytes)."""
    with open_binary(path) as f:
        while True:
            start = f.tell()
            head = _read_blob_header(f)
            if head is None:
                return
            blob_type, datasize, payload_offset = head
            info = BlobInfo(blob_type, payload_offset, datasize, start)
            yield info, _read_exact(f, datasize)


def read_blob_at(f: BinaryIO, offset: int, size: int) -> bytes:
    """Random access (S2): fetch one Blob message by byte range."""
    f.seek(offset)
    return _read_exact(f, size)


def decompress_blob(blob_bytes: bytes) -> bytes:
    """Blob message → uncompressed payload (D1).

    Handles raw (field 1), zlib (3), lzma (4), zstd (7) per the spec; the
    reference supports raw + zlib and errors otherwise
    (``osmpbf/src/blob.rs:92-113``). The 32MB uncompressed guard matches
    ``blob.rs:25``.
    """
    # Parse the full message FIRST: proto2 field order is arbitrary, so
    # raw_size (field 2) may be serialized after the data field — deciding
    # per-field in stream order would skip the guard for that layout.
    raw_size = None
    data: tuple[int, memoryview] | None = None
    for field_no, wire, val in iter_fields(blob_bytes):
        if field_no == 2 and wire == 0:
            raw_size = val
        elif field_no in (1, 3, 4, 7) and wire == 2:
            data = (field_no, val)
    if raw_size is not None and raw_size >= MAX_BLOB_SIZE:
        raise BlobError(f"uncompressed blob too big: {raw_size}")
    if data is None:
        raise BlobError("blob has no supported data field (raw/zlib/lzma/zstd)")
    field_no, val = data
    if field_no == 1:
        out = bytes(val)
        if len(out) >= MAX_BLOB_SIZE:
            raise BlobError(f"uncompressed blob too big: {len(out)}")
        return out
    if field_no == 3:
        # max_length caps expansion even when raw_size is absent or lies —
        # a ~1000:1 zlib bomb would otherwise expand 32MB → 32GB
        d = zlib.decompressobj()
        try:
            out = d.decompress(bytes(val), MAX_BLOB_SIZE)
        except zlib.error as exc:
            raise BlobError(f"corrupt zlib stream in blob: {exc}") from exc
        if d.unconsumed_tail:
            raise BlobError(f"uncompressed blob too big: > {MAX_BLOB_SIZE}")
        if raw_size is not None and len(out) != raw_size:
            raise BlobError("zlib raw_size mismatch")
        return out
    if field_no == 4:
        import lzma

        # max_length caps expansion like the zlib branch — a crafted
        # few-KB lzma payload could otherwise expand unbounded before the
        # post-hoc size check runs
        d = lzma.LZMADecompressor()
        try:
            out = d.decompress(bytes(val), max_length=MAX_BLOB_SIZE)
        except lzma.LZMAError as exc:
            raise BlobError(f"corrupt lzma stream in blob: {exc}") from exc
        if not d.eof:
            # two distinct failures hide behind "not eof": the stream hit
            # the size cap with input left over (bomb), or all input was
            # consumed without reaching end-of-stream (truncation) — the
            # latter would otherwise be silently accepted as partial output
            # when raw_size is absent
            if not d.needs_input:
                raise BlobError(f"uncompressed blob too big: > {MAX_BLOB_SIZE}")
            raise BlobError("truncated lzma stream in blob")
    else:  # field_no == 7
        try:
            import zstandard  # noqa: F401 — optional, not in base image
        except ImportError as exc:
            raise BlobError("zstd-compressed blob but zstandard not installed") from exc
        out = zstandard.ZstdDecompressor().decompress(
            bytes(val), max_output_size=MAX_BLOB_SIZE
        )
    if len(out) >= MAX_BLOB_SIZE or (raw_size is not None and len(out) != raw_size):
        raise BlobError("uncompressed blob size violates raw_size/32MB guard")
    return out
