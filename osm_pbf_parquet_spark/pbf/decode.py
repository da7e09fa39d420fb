"""PrimitiveBlock → Arrow decode: the engine's parse kernel.

Decodes a PBF PrimitiveBlock payload into a ``pyarrow.RecordBatch`` in the
canonical wide OSM schema (schema.py). Parity targets in the reference:

- dense-node delta decode   ``osmpbf/src/dense.rs:86-183``   (D2)
- dense-info delta decode   ``osmpbf/src/dense.rs:244-316``  (D3)
- way-ref delta decode      ``osmpbf/src/elements.rs:327-350`` (D4)
- way locations decode      ``osmpbf/src/elements.rs:352-423`` (D5)
- relation-member decode    ``osmpbf/src/elements.rs:426-511`` (D6)
- stringtable decode        ``osmpbf/src/block.rs:426-456``   (D7/D8)
- element union / demux     ``osmpbf/src/block.rs:114-151``   (D9)
- header decode             ``osmpbf/src/block.rs:9-100``     (D10)
- per-kind row projection   ``osm-pbf-parquet/src/sink.rs:181-278`` (T1/T2)

Where the reference runs scalar per-element loops, this kernel decodes the
packed delta arrays with ``np.cumsum`` and builds Arrow arrays from flat
buffers + offsets — columnar end-to-end for the dominant dense-node path.
Every packed repeated field goes through one decoder,
``proto.finish_packed``: across a group's elements (``extract_ranges`` or
``PackedBatch`` lanes), or as one lane per DenseNodes/DenseInfo array.
The reference's three non-dense iterators (plain nodes, ways, relations)
are one decoder here: a field table (``_PLAIN_NODE``/``_WAY``/
``_RELATION``) names each message's required scalars and packed lists
(and the way's LocationsOnWays lists, read only for the ``locations``
column), ``_decode_elements`` decodes a whole group field at once, and
``_decode_elements_scalar`` is its row-at-a-time reference (and the path
for unpacked repeated fields); both end in ``_finish_elements``. Each
element's ``Info`` (the reference reads it with the element's own
protobuf reader, ``osmpbf/src/elements.rs:573-625``) is parsed by the same
lane-frontier scanner, in place over the Info spans, and both decoders
scatter its fields with ``_info_columns``.

Semantics honored (format-mandated, see SURVEY §1.3):
- coordinate degrees = 1e-9 × (offset + granularity × raw)
- timestamp ms = raw × date_granularity
- ``visible`` defaults true when absent
- a missing ``required`` field (element id, plain-node lat/lon) is a
  ProtoDecodeError; a scalar field sent twice keeps its last value, and
  an Info sent twice merges field by field
- int32 fields keep their low 32 bits (``_int32``); a present user
  string id outside the block's table is a ProtoDecodeError
- non-dense elements with metadata: missing user → empty string
  (``sink.rs:182-183``); dense nodes without DenseInfo → all metadata null
  (``sink.rs:203-220``).
"""

from __future__ import annotations

from typing import Iterable, NamedTuple

import numpy as np
import pyarrow as pa

from .proto import (
    PackedBatch,
    ProtoDecodeError,
    Wire2Ranges,
    count_packed,
    extract_ranges,
    finish_packed,
    iter_fields,
    length_delimited,
    message_fields,
    read_varint,
    scan_message_batch,
    scan_message_ranges,
    scan_wire2_fields,
    varint_field,
    zigzag_decode,
    zigzag_i64,
)

NANO = 1e-9
_KIND_NODE = "node"
_KIND_WAY = "way"
_KIND_RELATION = "relation"
ALL_KINDS = frozenset((_KIND_NODE, _KIND_WAY, _KIND_RELATION))
_MEMBER_TYPES = (_KIND_NODE, _KIND_WAY, _KIND_RELATION)


def _i64(raw: int) -> int:
    """Unsigned varint payload → two's-complement int64 (plain int64 fields)."""
    return raw - (1 << 64) if raw >= (1 << 63) else raw


def _int32(v):
    """protobuf's int32 parse rule, for an int or an int64 array: keep the
    low 32 bits as two's complement, as the reference's generated reader
    does. A negative value may arrive 32-bit-wrapped or as full 64-bit
    two's complement; a value past int32 wraps instead of failing late,
    at Arrow assembly."""
    return ((v & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000


def parse_header_block(payload: bytes) -> dict:
    """HeaderBlock → plain dict (bbox in degrees ×1e-9, features,
    replication metadata). Reference: ``osmpbf/src/block.rs:9-100``."""
    fields = message_fields(payload)

    def strings(fno: int) -> list[str]:
        return [bytes(v).decode("utf-8") for v in length_delimited(fields, fno)]

    def string(fno: int) -> str | None:
        return (strings(fno) or [None])[0]

    out: dict = {
        "bbox": None,
        "required_features": strings(4),
        "optional_features": strings(5),
        "writingprogram": string(16),
        "source": string(17),
        "osmosis_replication_timestamp": varint_field(fields, 32),
        "osmosis_replication_sequence_number": varint_field(fields, 33),
        "osmosis_replication_base_url": string(34),
    }
    bbox = (length_delimited(fields, 1) or [None])[0]
    if bbox is not None:
        bb = message_fields(bbox)
        # HeaderBBox is sint64 nanodegrees NOT obeying granularity
        # (osmformat.proto:88-97); all four sides are required.
        sides = {side: varint_field(bb, fno)
                 for fno, side in enumerate(("left", "right", "top", "bottom"), 1)}
        if None in sides.values():
            raise ProtoDecodeError("HeaderBBox without a required side")
        out["bbox"] = {side: zigzag_i64(v) * NANO for side, v in sides.items()}
    return out


class _StringTable:
    """Per-block string dictionary; index 0 reserved as delimiter
    (osmformat.proto:129-137). Strings decode lazily into a pyarrow array
    so tag/user columns are built with vectorized ``take``."""

    __slots__ = ("_n", "_payload", "_starts", "_lens", "_pa")

    def __init__(self, payload) -> None:
        self._pa: pa.Array | None = None
        self._payload = payload
        starts: list[int] = []
        lens: list[int] = []
        if payload is not None:
            view = memoryview(payload)
            pos = 0
            n = len(view)
            # lean split: a StringTable is strictly repeated field 1 wire 2
            # (key byte 0x0A); anything else falls back to the generic scan
            try:
                while pos < n:
                    if view[pos] != 0x0A:
                        raw = length_delimited(message_fields(payload), 1)
                        self._pa = _utf8(pa.array(
                            (bytes(v) for v in raw), type=pa.binary()
                        ))
                        self._n = len(raw)
                        return
                    pos += 1
                    ln = view[pos]
                    if ln < 0x80:
                        pos += 1
                    elif pos + 1 < n and view[pos + 1] < 0x80:
                        ln = (ln & 0x7F) | (view[pos + 1] << 7)
                        pos += 2
                    else:
                        ln, pos = read_varint(view, pos)
                    if pos + ln > n:
                        raise ProtoDecodeError("truncated length-delimited field")
                    starts.append(pos)
                    lens.append(ln)
                    pos += ln
            except IndexError as exc:
                raise ProtoDecodeError("truncated stringtable") from exc
        self._starts = np.asarray(starts, dtype=np.int64)
        self._lens = np.asarray(lens, dtype=np.int64)
        self._n = len(starts)

    def __len__(self) -> int:
        return self._n

    def arrow(self) -> pa.Array:
        """The table as an Arrow string array (built once; its buffers
        are copies, so it does not keep the block payload alive)."""
        if self._pa is None:
            if self._n == 0:
                self._pa = pa.array([], type=pa.string())
                return self._pa
            # zero-copy-ish assembly: extract all string bytes with one
            # boundary-delta mask, then wrap buffer + offsets as a binary
            # array; the cast validates UTF-8 (StringtableUtf8 parity)
            arr = np.frombuffer(self._payload, dtype=np.uint8)
            blob = extract_ranges(
                arr, self._starts, self._lens,
                np.zeros(self._n, dtype=np.int64), 1,
            )[0]
            offsets = np.zeros(self._n + 1, dtype=np.int32)
            np.cumsum(self._lens, out=offsets[1:])
            binarr = pa.Array.from_buffers(
                pa.binary(), self._n,
                [None, pa.py_buffer(offsets), pa.py_buffer(blob)],
            )
            self._pa = _utf8(binarr)
        return self._pa


def _utf8(binarr: pa.Array) -> pa.Array:
    try:
        return binarr.cast(pa.string())
    except pa.ArrowInvalid as exc:
        raise ProtoDecodeError("stringtable entry is not valid UTF-8") from exc


class _Columns:
    """Flat per-column accumulators for one element kind of one block;
    Arrow arrays are assembled from offsets + flat value buffers (no
    per-row objects). Tag keys/values, member roles and ``user_sid`` index
    the block's ``_stringtable`` until ``seal`` swaps it for ``strings``.

    A block holds only what it has. Each per-row accumulator (``_ROWS``)
    is a list of chunks that ``put`` gives to row ranges; a row no chunk
    covers reads as the accumulator's default, so an accumulator no
    decoder filled is absent (``[]``) and costs nothing: the counts of a
    kind without that list, the coordinates of ways and relations, the
    metadata of DenseNodes without DenseInfo, and every column the
    decode's projection left out. A nullable accumulator's ``<attr>_valid``
    mask is absent while every value it holds is valid. The flat lists
    (``_FLAT``: tag keys/values, way refs, relation members) and the
    LocationsOnWays lists are plain chunk lists."""

    def __init__(self) -> None:
        self._stringtable: _StringTable | None = None
        self.strings: pa.Array | None = None  # set by seal()
        self.n = 0
        # per-row accumulators and their masks, and each chunk's first row
        for attr in _ROWS:
            setattr(self, attr, [])
            if _ROWS[attr][1] is None:
                setattr(self, attr + "_valid", [])
        self._at: dict[str, list[int]] = {}
        # tags: flat key/val stringtable indices (counts: tag_counts)
        self.tag_keys: list[np.ndarray] = []
        self.tag_vals: list[np.ndarray] = []
        # nds: flat refs (counts: nd_counts)
        self.nd_refs: list[np.ndarray] = []
        # members: flat (type_idx, ref, role_sid) (counts: mem_counts)
        self.mem_types: list[np.ndarray] = []
        self.mem_refs: list[np.ndarray] = []
        self.mem_roles: list[np.ndarray] = []
        # LocationsOnWays (read on request): flat degrees + per-row counts
        self.loc_lat: list[np.ndarray] = []
        self.loc_lat_counts: list[np.ndarray] = []
        self.loc_lon: list[np.ndarray] = []
        self.loc_lon_counts: list[np.ndarray] = []

    def put(self, attr: str, values: np.ndarray,
            valid: np.ndarray | None = None) -> None:
        """Give per-row accumulator ``attr`` the values of the block's last
        ``values.size`` rows. ``valid`` marks which values of a nullable
        one are present: a mask is kept only when some are missing, and
        none present keeps nothing (the rows read as null)."""
        if valid is not None:
            if not valid.any():
                return
            if not valid.all():
                self._put(attr + "_valid", valid)
        self._put(attr, values)

    def _put(self, attr: str, values: np.ndarray) -> None:
        getattr(self, attr).append(values)
        self._at.setdefault(attr, []).append(self.n - values.size)

    def seal(self) -> None:
        """Check every string-table index (and member type) against THIS
        block's table, then keep the table as an Arrow array -- or an
        empty one when no row refers to it -- and drop the block's
        ``_StringTable``, so a sealed block no longer holds its blob's
        decompressed payload. The checks run while the blob is decoded, so
        a bad index fails as a decode error of that blob, not as an Arrow
        ``take`` error when its row group is assembled.

        Sealed, every accumulator is absent (``[]``, its default) or one
        array in its output dtype (``_ROWS``, ``_FLAT``): a per-row one
        spans all ``n`` rows, rows no chunk covered holding the default,
        and a nullable one has an ``<attr>_valid`` mask only where some
        row is null. Idempotent."""
        if self.strings is not None:
            return
        st = self._stringtable
        n_st = len(st) if st is not None else 0
        for attr, lo, hi, what in (
            ("tag_keys", 0, n_st, "stringtable index"),
            ("tag_vals", 0, n_st, "stringtable index"),
            ("mem_roles", 0, n_st, "stringtable index"),
            ("mem_types", 0, len(_MEMBER_TYPES), "relation member type"),
            # -1 = null user, -2 = empty string (see _ROWS)
            ("user_sid", -2, n_st, "user_sid"),
        ):
            for a in getattr(self, attr):
                if a.size and (int(a.min()) < lo or int(a.max()) >= hi):
                    raise ProtoDecodeError(f"{what} out of bounds")
        n_keys = sum(a.size for a in self.tag_keys)
        if n_keys != sum(a.size for a in self.tag_vals):
            raise ProtoDecodeError("tag keys and values differ in length")
        refers = (n_keys > 0 or bool(self.mem_roles)
                  or any(a.size and int(a.max()) >= 0 for a in self.user_sid))
        self.strings = (st.arrow() if refers and st is not None
                        else pa.array([], type=pa.string()))
        self._stringtable = None
        for attr, dtype in _FLAT.items():
            chunks = getattr(self, attr)
            if chunks:
                setattr(self, attr, [_concat(chunks, dtype)])
        for attr, (dtype, default) in _ROWS.items():
            self._seal_rows(attr, dtype, default)
        self._at = {}

    def _seal_rows(self, attr: str, dtype, default) -> None:
        chunks = getattr(self, attr)
        if not chunks:
            return
        starts = self._at[attr]
        whole = sum(a.size for a in chunks) == self.n
        if default is None:
            masks = getattr(self, attr + "_valid")
            if masks or not whole:
                valid = np.zeros(self.n, dtype=bool)
                for at, a in zip(starts, chunks):
                    valid[at:at + a.size] = True
                for at, m in zip(self._at.get(attr + "_valid", ()), masks):
                    valid[at:at + m.size] = m
                setattr(self, attr + "_valid", [valid])
        if whole:
            flat = _concat(chunks, dtype)
        else:
            flat = np.full(self.n, default or 0, dtype=dtype)
            for at, a in zip(starts, chunks):
                flat[at:at + a.size] = a
        setattr(self, attr, [flat])


def _concat(chunks: list[np.ndarray], dtype) -> np.ndarray:
    if not chunks:
        return np.empty(0, dtype=dtype)
    if len(chunks) == 1:
        return chunks[0].astype(dtype, copy=False)
    return np.concatenate(chunks, dtype=dtype)


def decode_primitive_block(
    payload: bytes,
    kinds: Iterable[str] = ALL_KINDS,
    columns: list[str] | None = None,
) -> dict[str, _Columns]:
    """Decode one PrimitiveBlock into per-kind column accumulators.

    ``kinds`` is the kind-pushdown: groups of unwanted kinds are skipped
    without decoding their payloads (mirrors the reference's
    skip-blobs-without-ways logic, ``osmpbf/src/indexed.rs:277-278``).
    ``columns`` prunes expensive columns (tags / nds / members / metadata)
    when the query doesn't need them. ``locations`` (the LocationsOnWays
    lat/lon of each way) is not a wide-schema column: it is decoded only
    when ``columns`` names it.
    """
    kinds = frozenset(kinds)
    want = set(columns) if columns is not None else None

    def _want(col: str) -> bool:
        return col in want if want is not None else col != "locations"

    fields = message_fields(payload)
    geo = block_geometry(fields)
    st = _StringTable((length_delimited(fields, 1) or [None])[0])

    out: dict[str, _Columns] = {}

    def cols_for(kind: str) -> _Columns:
        if kind not in out:
            out[kind] = _Columns()
        return out[kind]

    try:
        _decode_groups(fields, kinds, cols_for, geo, _want)
    except IndexError as exc:
        # inline varint fast paths index 1-2 bytes past a truncated
        # payload — surface as the module's decode error, not IndexError
        raise ProtoDecodeError("truncated message") from exc
    for kind_cols in out.values():
        kind_cols._stringtable = st
    return out


class BlockGeometry(NamedTuple):
    """A PrimitiveBlock's coordinate and date scales (its fields 17-20):
    degrees = 1e-9 × (offset + granularity × raw)."""

    granularity: int
    lat_offset: int
    lon_offset: int
    date_granularity: int


def block_geometry(fields: dict) -> BlockGeometry:
    """The scales of a PrimitiveBlock from its ``message_fields``.
    granularity/date_granularity are int32, offsets int64 — negative
    values are legal and arrive as unsigned varint bit patterns."""
    return BlockGeometry(
        _int32(varint_field(fields, 17, 100)) or 100,
        _i64(varint_field(fields, 19, 0)),
        _i64(varint_field(fields, 20, 0)),
        _int32(varint_field(fields, 18, 1000)) or 1000,
    )


def _decode_groups(fields, kinds, cols_for, geo: BlockGeometry, _want) -> None:
    for group_payload in length_delimited(fields, 2):
        # every PrimitiveGroup entry is a wire-2 submessage: one range scan
        # hands the element decoders zero-copy spans (no per-entry
        # memoryview, no re-join)
        fnos, ranges = scan_wire2_fields(group_payload)
        for fno in (1, 2, 3, 4):  # nodes, dense, ways, relations
            spec = _GROUP_ELEMENTS.get(fno)
            kind = spec.kind if spec is not None else _KIND_NODE
            m = fnos == fno
            if kind not in kinds or not m.any():
                continue
            if spec is None:  # DenseNodes: the first occurrence only
                i = int(np.flatnonzero(m)[0])
                dense = memoryview(ranges.buf)[
                    int(ranges.starts[i]):int(ranges.ends[i])
                ]
                _decode_dense_nodes(dense, cols_for(kind), *geo, _want)
            else:
                _decode_elements(
                    spec, Wire2Ranges(ranges.buf, ranges.arr,
                                      ranges.starts[m], ranges.ends[m]),
                    cols_for(kind), geo, _want,
                )
        # field 5 (changesets) is legacy/unused — ignored, as in the
        # reference (osmpbf/src/block.rs groups only nodes/dense/ways/rels).


# --- per-kind decoders -------------------------------------------------------


class _Element(NamedTuple):
    """One row of the field table: how a non-dense element message
    (osmformat.proto:184-262) fills ``_Columns``. Every kind also has
    packed tag keys/values (fields 2/3) and an ``Info`` (field 4)."""

    kind: str
    # required varint scalars (field, zigzag): id, then lat/lon for nodes
    scalars: tuple
    column: str | None  # the list column ``lists`` fill
    counts: str | None  # its per-row counts attribute
    # packed lists (field, attribute, zigzag, delta); counts come from the first
    lists: tuple
    # sint64 delta coordinate lists read for the ``locations`` column, each
    # with its own counts (field, attribute, ``BlockGeometry`` offset)
    locations: tuple = ()

    @property
    def repeated(self) -> tuple:
        """Every packed field of the message."""
        return (2, 3) + tuple(fno for fno, *_ in self.lists + self.locations)


_PLAIN_NODE = _Element(_KIND_NODE, ((1, True), (8, True), (9, True)), None, None, ())
_WAY = _Element(_KIND_WAY, ((1, False),), "nds", "nd_counts",
                ((8, "nd_refs", True, True),),
                ((9, "loc_lat", "lat_offset"), (10, "loc_lon", "lon_offset")))
_RELATION = _Element(_KIND_RELATION, ((1, False),), "members",
                     "mem_counts", ((9, "mem_refs", True, True),
                                    (8, "mem_roles", False, False),
                                    (10, "mem_types", False, False)))
# PrimitiveGroup field → its element message; field 2 (DenseNodes) has
# its own decoder
_GROUP_ELEMENTS = {1: _PLAIN_NODE, 3: _WAY, 4: _RELATION}


def _decode_elements(spec: _Element, payloads, c: _Columns,
                     geo: BlockGeometry, _want) -> None:
    """Every element of one group field at once: ``scan_message_batch``
    lane-frontier-parses all messages' top-level fields in ~6 numpy
    passes, then each packed field decodes in one vectorized pass across
    the group (per-element delta reset via segmented cumsum), and the
    same scanner parses every Info submessage in place. LocationsOnWays
    lat/lon arrays (way fields 9/10) are not emitted in the wide schema
    (parity: the reference sink ignores them too, sink.rs:233-234); they
    are decoded only for the ``locations`` column.

    The rare legal-but-unpacked encoding (a repeated field as individual
    wire-0 varints) drops the group to ``_decode_elements_scalar``."""
    arr, scalars, (rf, rl, rs, rn) = scan_message_batch(payloads)
    if bool(np.isin(scalars[0], spec.repeated).any()):
        return _decode_elements_scalar(spec, payloads, c, geo, _want)
    n0 = len(payloads)

    def chunks(fno: int):
        m = rf == fno
        return extract_ranges(arr, rs[m], rn[m], rl[m], n0)

    def info():
        m = rf == 4
        elems, starts = rl[m], rs[m]
        _, (fno, lane, val), _ = scan_message_ranges(arr, starts, starts + rn[m])
        if elems.size and np.bincount(elems).max() > 1:
            # an element sent Info twice: proto2 merges the occurrences
            # like one concatenated message, so order the (iteration-
            # major) fields by occurrence start; stable keeps each
            # occurrence's own field order
            order = np.argsort(starts[lane], kind="stable")
            fno, lane, val = fno[order], lane[order], val[order]
        return fno, elems[lane], val

    _finish_elements(spec, c, n0, scalars, chunks, info, geo, _want)


def _decode_elements_scalar(spec: _Element, payloads, c: _Columns,
                            geo: BlockGeometry, _want) -> None:
    """Row-at-a-time decode of the same group: the only path for repeated
    fields sent unpacked (proto2 readers must accept both encodings;
    planet files never emit it), and the reference the vectorized
    decoder is tested against."""
    n0 = len(payloads)
    lists = {fno: PackedBatch(n0) for fno in spec.repeated}
    rows: list[tuple] = []  # (field, element, value) of every wire-0 field
    infos: list[tuple] = []  # (element, Info payload), in message order
    for i, payload in enumerate(payloads):
        for fno, wire, val in iter_fields(payload):
            batch = lists.get(fno)
            if wire == 0:
                if batch is not None:
                    batch.add_scalar(i, val)
                else:
                    rows.append((fno, i, val))
            elif wire == 2:
                if batch is not None:
                    batch.add(i, val)
                elif fno == 4:
                    infos.append((i, val))
    _finish_elements(
        spec, c, n0, _wire0(rows), lambda fno: lists[fno].chunks(),
        lambda: _wire0([(fno, i, val) for i, info in infos
                        for fno, wire, val in iter_fields(info) if wire == 0]),
        geo, _want,
    )


def _wire0(rows: list[tuple]) -> tuple:
    """(field, element, value) rows → the wire-0 arrays of
    ``scan_message_batch``."""
    f, e, v = zip(*rows) if rows else ((), (), ())
    return (np.array(f, dtype=np.int64), np.array(e, dtype=np.int64),
            np.array(v, dtype=np.uint64))


def _finish_elements(spec: _Element, c: _Columns, n0: int, scalars, chunks,
                     info, geo: BlockGeometry, _want) -> None:
    """The tail both element decoders share. ``scalars`` is every wire-0
    occurrence as (field, element, uint64 value) arrays, each element's
    in message order; ``chunks(fno)`` → one packed field's chunks across
    the group, the arguments of ``finish_packed``; ``info()`` → the same
    arrays as ``scalars`` for the fields of every element's Info. A
    packed list of an unwanted column is counted, not decoded, so its
    varints and its pairing with its sibling lists are checked under
    every projection."""
    def lists(fields, wanted: bool) -> list:
        """(field, zigzag, delta) of each list → [(values, per-element
        counts)]; values are None when not ``wanted``."""
        if not wanted:
            return [(None, count_packed(*chunks(fno))) for fno, *_ in fields]
        return [finish_packed(*chunks(fno), zigzag=zigzag, delta=delta)
                for fno, zigzag, delta in fields]

    required = []
    for fno, zigzag in spec.scalars:
        raw, seen = _last(scalars, fno, n0)
        if not seen.all():
            raise ProtoDecodeError(f"{spec.kind} without required field {fno}")
        required.append(zigzag_decode(raw) if zigzag else raw.astype(np.int64))
    c.n += n0
    c.put("ids", required[0])
    if spec is _PLAIN_NODE:
        for name, raw, offset in (("lat", required[1], geo.lat_offset),
                                  ("lon", required[2], geo.lon_offset)):
            if _want(name):
                c.put(name, (offset + geo.granularity * raw) * NANO)
    (tag_keys, tag_counts), (tag_vals, val_counts) = lists(
        ((2, False, False), (3, False, False)), _want("tags"))
    if not np.array_equal(tag_counts, val_counts):
        raise ProtoDecodeError(f"{spec.kind} tag keys and values differ in length")
    if tag_keys is not None:
        c.put("tag_counts", tag_counts)
        if tag_keys.size:
            c.tag_keys.append(tag_keys)
            c.tag_vals.append(tag_vals)
    if spec.lists:
        wanted = _want(spec.column)
        decoded = lists([(fno, zigzag, delta)
                         for fno, _attr, zigzag, delta in spec.lists], wanted)
        counts = decoded[0][1]
        if any(not np.array_equal(n, counts) for _vals, n in decoded[1:]):
            raise ProtoDecodeError(f"{spec.kind} {spec.column} lists differ in length")
        if wanted:
            c.put(spec.counts, counts)
            if decoded[0][0].size:
                for (_fno, attr, *_), (vals, _n) in zip(spec.lists, decoded):
                    getattr(c, attr).append(vals)
    if spec.locations:
        wanted = _want("locations")
        decoded = lists([(fno, True, True) for fno, *_ in spec.locations], wanted)
        for (_fno, attr, offset), (raw, n) in zip(spec.locations, decoded):
            if wanted:
                getattr(c, attr).append(
                    (getattr(geo, offset) + geo.granularity * raw) * NANO)
                getattr(c, attr + "_counts").append(n)
    if any(map(_want, _META_COLUMNS)):
        for col, vals, valid in _info_columns(info(), n0, geo.date_granularity, _want):
            c.put(_META_ATTRS[col], vals, valid)


def _last(scalars, fno: int, n0: int):
    """Wire-0 field ``fno`` of ``n0`` elements → (uint64 values, presence
    mask). Each element's occurrences come in message order, so assigning
    in order keeps the last one (proto2: a scalar sent twice keeps its
    last value)."""
    sf, sl, sv = scalars
    m = sf == fno
    seen = np.zeros(n0, dtype=bool)
    seen[sl[m]] = True
    raw = np.zeros(n0, dtype=np.uint64)
    raw[sl[m]] = sv[m]
    return raw, seen


# Every per-row ``_Columns`` accumulator → (sealed dtype, default). A row
# no chunk covers reads as the default; None is null (the accumulator is
# nullable and gets a validity mask where it has to). Defined once: the
# decoders never write a default, and ``seal`` fills one only inside a
# block that has the accumulator for some of its rows; a block without it
# assembles as nulls or empty lists.
_ROWS = {
    "ids": (np.int64, 0),  # every row has one
    "lat": (np.float64, None),  # degrees
    "lon": (np.float64, None),
    "tag_counts": (np.int32, 0),
    "nd_counts": (np.int32, 0),
    "mem_counts": (np.int32, 0),
    "changeset": (np.int64, None),
    "ts_ms": (np.int64, None),
    "uid": (np.int32, None),
    # a string index; -1 = null user, -2 = empty string (an element whose
    # metadata has no user)
    "user_sid": (np.int32, -1),
    "version": (np.int32, None),
    "visible": (np.bool_, None),
}
# the flat accumulators' sealed dtypes: string indices are checked to lie
# below their table's length, member types below 3
_FLAT = {"tag_keys": np.int32, "tag_vals": np.int32, "nd_refs": np.int64,
         "mem_types": np.int8, "mem_refs": np.int64, "mem_roles": np.int32}
# metadata column → its ``_Columns`` accumulator
_META_ATTRS = {"version": "version", "timestamp": "ts_ms",
               "changeset": "changeset", "uid": "uid", "user": "user_sid",
               "visible": "visible"}
_META_COLUMNS = tuple(_META_ATTRS)
# Info and DenseInfo fields (osmformat.proto:139-175): (field, metadata
# column, delta-coded sint in DenseInfo)
_INFO_FIELDS = ((1, "version", False), (2, "timestamp", True),
                (3, "changeset", True), (4, "uid", True), (5, "user", True),
                (6, "visible", False))


def _meta_values(col: str, v: np.ndarray, date_granularity: int) -> np.ndarray:
    """Int64 Info/DenseInfo values of metadata column ``col`` → its
    accumulator's values. version/uid are int32 (``_int32``), timestamp
    counts ``date_granularity`` ms, changeset is int64."""
    if col == "timestamp":
        return v * date_granularity
    if col in ("uid", "version"):
        return _int32(v)
    if col == "user":
        return _user_sids(v)
    if col == "visible":
        return v != 0
    return v


def _info_columns(scalars, n0: int, date_granularity: int, _want):
    """The wire-0 fields of ``n0`` elements' Info messages, as ``scalars``
    arrays → (column, values, presence mask or None) for each wanted
    metadata column. Parity with the reference's ``Info`` getters
    (osmpbf/src/elements.rs:573-625): a field is valid when present, a
    missing user is ``""`` for a non-dense element (sink.rs:182-183),
    ``visible`` defaults true. version/uid (int32) and changeset/
    timestamp (int64) are plain varints: negatives arrive as two's
    complement."""
    for fno, col, _coded in _INFO_FIELDS:
        if not _want(col):
            continue
        raw, seen = _last(scalars, fno, n0)
        vals = _meta_values(col, raw.astype(np.int64), date_granularity)
        if col == "user":
            yield col, np.where(seen, vals, -2), None  # -2 → ""
        elif col == "visible":
            yield col, ~seen | vals, None
        else:
            yield col, vals, seen


def _user_sids(sids: np.ndarray) -> np.ndarray:
    """Present user string ids; a negative one (e.g. a uint32 sent as
    2^64 - 1) is out of bounds, not the null/empty sentinel it would
    alias (``seal`` checks the upper bound)."""
    if sids.size and int(sids.min()) < 0:
        raise ProtoDecodeError("user_sid out of bounds")
    return sids


def _decode_dense_nodes(payload, c: _Columns, granularity, lat_offset, lon_offset,
                        date_granularity, _want) -> None:
    """DenseNodes (osmformat.proto:209-219): the hot path — pure numpy.

    Delta chains reset per DenseNodes message; keys_vals is
    ``((<k> <v>)* 0)*`` with stringid 0 as delimiter. Every array is a
    one-lane ``_dense_array``, decoded only for a wanted column; lat/lon
    and each DenseInfo array must pair up with the ids whatever the
    projection.
    """
    f = message_fields(payload)
    ids = _dense_field(f.get(1, [])).finish(zigzag=True, delta=True)[0]
    n0 = ids.size
    if n0 == 0:
        return
    c.n += n0
    c.put("ids", ids)
    for fno, name, offset in ((8, "lat", lat_offset), (9, "lon", lon_offset)):
        raw = _dense_array(f.get(fno, []), n0, "DenseNodes", name, _want(name),
                           coded=True, absent_ok=False)
        if raw is not None:
            c.put(name, (offset + granularity * raw) * NANO)
    if 10 in f:
        keys_vals = _dense_field(f[10])
        if _want("tags"):
            _dense_tags(keys_vals.finish()[0], n0, c)
        else:
            keys_vals.count()  # its varints are checked under every projection

    # DenseInfo (osmformat.proto:159-175): parallel arrays, some delta-coded
    info = (length_delimited(f, 5) or [None])[0]
    if info is None:
        return  # every metadata column null
    fi = message_fields(info)
    for fno, col, coded in _INFO_FIELDS:
        vals = _dense_array(fi.get(fno, []), n0, "DenseInfo", col, _want(col),
                            coded=coded)
        if vals is not None:
            c.put(_META_ATTRS[col], _meta_values(col, vals, date_granularity))
        elif col == "user" and _want(col):
            # user present whenever DenseInfo has user_sids; missing → ""
            # parity (dense.rs DenseNodeInfo::user over parallel arrays)
            c.put("user_sid", np.full(n0, -2, dtype=np.int32))
        elif col == "visible" and _want(col):
            c.put("visible", np.ones(n0, dtype=bool))  # default true (dense.rs:310)


def _dense_field(values) -> PackedBatch:
    """Every occurrence of one DenseNodes/DenseInfo field (its
    ``message_fields`` values: packed chunks, or varints sent unpacked),
    in order, as one lane."""
    batch = PackedBatch(1)
    for v in values:
        if isinstance(v, int):
            batch.add_scalar(0, v)
        elif isinstance(v, memoryview):
            batch.add(0, v)
        else:
            raise ProtoDecodeError("dense array field is neither packed nor a varint")
    return batch


def _dense_array(values, n0: int, message: str, name: str, wanted: bool,
                 coded: bool = False, absent_ok: bool = True) -> np.ndarray | None:
    """A DenseNodes/DenseInfo parallel array → its int64 values (zigzag
    and delta when ``coded``), or None when it is absent or not
    ``wanted``. It must have one value per node id (or, where
    ``absent_ok``, none) under every projection: padding a short one
    would fabricate values, and a long one would fail only at Arrow
    assembly. An unwanted array is counted, not decoded."""
    batch = _dense_field(values)
    if wanted:
        vals = batch.finish(zigzag=coded, delta=coded)[0]
        size = vals.size
    else:
        vals, size = None, int(batch.count()[0])
    if size != n0 and not (absent_ok and size == 0):
        raise ProtoDecodeError(
            f"{message} {name} array length {size} != node count {n0}"
        )
    return vals if size else None


def _dense_tags(kv: np.ndarray, n0: int, c: _Columns) -> None:
    """Split packed ``((k v)* 0)*`` into per-node k/v index runs, vectorized."""
    if kv.size == 0:
        return
    zeros = np.flatnonzero(kv == 0)
    # entries between delimiters belong to consecutive nodes
    seg_starts = np.concatenate([[0], zeros + 1])[:n0]
    seg_ends = zeros[:n0] if zeros.size >= n0 else np.concatenate([zeros, [kv.size]])[:n0]
    if seg_ends.size < n0:  # trailing nodes with no delimiter → tagless
        pad = np.full(n0 - seg_ends.size, kv.size, dtype=np.int64)
        seg_ends = np.concatenate([seg_ends, pad])
        seg_starts = np.concatenate(
            [seg_starts, np.full(n0 - seg_starts.size, kv.size, dtype=np.int64)]
        ) if seg_starts.size < n0 else seg_starts
    pair_counts = (seg_ends - seg_starts) // 2
    c.put("tag_counts", pair_counts)
    total_pairs = int(pair_counts.sum())
    if total_pairs == 0:
        return
    # gather key positions: start, start+2, ... within each segment
    reps = np.repeat(seg_starts, pair_counts)
    within = np.arange(total_pairs) - np.repeat(
        np.concatenate([[0], np.cumsum(pair_counts)[:-1]]), pair_counts
    )
    key_pos = reps + 2 * within
    c.tag_keys.append(kv[key_pos])
    c.tag_vals.append(kv[key_pos + 1])


# --- Arrow assembly ----------------------------------------------------------


def columns_to_arrow(
    per_kind: dict[str, _Columns],
    columns: list[str] | None = None,
) -> pa.RecordBatch | None:
    """Assemble decoded accumulators into one wide RecordBatch (all kinds
    unioned, ``type`` as a column). Returns None when empty."""
    from ..schema import pruned_arrow_schema

    schema = pruned_arrow_schema(columns)
    batches = []
    for kind in (_KIND_NODE, _KIND_WAY, _KIND_RELATION):
        c = per_kind.get(kind)
        if c is None or c.n == 0:
            continue
        batches.append(_kind_batch(kind, c, schema))
    if not batches:
        return None
    if len(batches) == 1:
        return batches[0]
    merged = pa.Table.from_batches(batches).combine_chunks().to_batches()
    return merged[0] if merged else None


def kind_table(kind: str, blocks: list[_Columns]) -> pa.Table:
    """Assemble one kind's accumulators from any number of blocks (each a
    ``decode_primitive_block`` value for ``kind``) into one table in the
    full wide schema without ``type``, one chunk per block: the rows of
    ``columns_to_arrow`` over each block in turn, filtered to ``kind``.
    Nothing is concatenated: the numeric columns are views of the sealed
    blocks' arrays, so a row group is held once."""
    from ..schema import osm_arrow_schema

    schema = osm_arrow_schema()
    schema = schema.remove(schema.get_field_index("type"))
    return pa.Table.from_batches([_kind_batch(kind, c, schema) for c in blocks],
                                 schema=schema)


def _kind_batch(kind: str, c: _Columns, schema: pa.Schema) -> pa.RecordBatch:
    """The one assembly path: one block's accumulators of ``kind`` → a
    RecordBatch in ``schema``. String columns take from the block's own
    table (``seal`` checked every index against it); an accumulator the
    block lacks reads as its default."""
    c.seal()
    n = c.n
    arrays = []
    for field in schema:
        name = field.name
        if name == "id":
            arrays.append(pa.array(_concat(c.ids, np.int64), type=pa.int64()))
        elif name == "type":
            arrays.append(pa.DictionaryArray.from_arrays(
                pa.array(np.zeros(n, dtype=np.int32)), pa.array([kind])
            ).cast(pa.string()))
        elif name == "tags":
            arrays.append(_tags_array(c, n))
        elif name == "nds":
            arrays.append(_nds_array(c, n, field.type))
        elif name == "members":
            arrays.append(_members_array(c, n, field.type))
        elif name == "user":
            arrays.append(_user_array(c, n))
        elif name == "timestamp":
            ts = _nullable(c, "ts_ms", n, pa.timestamp("ms"))
            arrays.append(ts.cast(field.type))
        elif name in ("lat", "lon", "changeset", "uid", "version", "visible"):
            arrays.append(_nullable(c, name, n, field.type))
        else:  # pragma: no cover
            raise ValueError(f"unknown column {name}")
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _flat(c: _Columns, attr: str) -> np.ndarray:
    """Flat accumulator ``attr`` of a sealed block."""
    return _concat(getattr(c, attr), _FLAT[attr])


def _nullable(c: _Columns, attr: str, n: int, pa_type) -> pa.Array:
    """A nullable per-row accumulator as an Arrow array: all null when the
    block lacks it, else null where its mask says so (no validity mask
    when every row is valid)."""
    if not getattr(c, attr):
        return pa.nulls(n, pa_type)
    valid = getattr(c, attr + "_valid")
    return pa.array(getattr(c, attr)[0], type=pa_type,
                    mask=~valid[0] if valid else None)


def _string_refs(c: _Columns, attr: str) -> pa.Array:
    """A block's int32 string indices (``attr``) into its table."""
    return pa.array(_flat(c, attr), type=pa.int32())


def _offsets(c: _Columns, attr: str, n: int) -> pa.Array:
    """Per-row counts (``attr``) → list offsets."""
    offsets = np.zeros(n + 1, dtype=np.int32)
    if getattr(c, attr):
        np.cumsum(getattr(c, attr)[0], dtype=np.int32, out=offsets[1:])
    return pa.array(offsets, type=pa.int32())


def _tags_array(c: _Columns, n: int) -> pa.Array:
    offsets = _offsets(c, "tag_counts", n)
    keys = c.strings.take(_string_refs(c, "tag_keys"))
    vals = c.strings.take(_string_refs(c, "tag_vals"))
    return pa.MapArray.from_arrays(offsets, keys, vals)


def _nds_array(c: _Columns, n: int, list_type) -> pa.Array:
    offsets = _offsets(c, "nd_counts", n)
    refs = _flat(c, "nd_refs")
    struct = pa.StructArray.from_arrays([pa.array(refs, type=pa.int64())], ["ref"])
    arr = pa.ListArray.from_arrays(offsets, struct)
    return arr.cast(list_type)


def _members_array(c: _Columns, n: int, list_type) -> pa.Array:
    offsets = _offsets(c, "mem_counts", n)
    refs = _flat(c, "mem_refs")
    type_dict = pa.array(list(_MEMBER_TYPES), type=pa.string())
    types = type_dict.take(pa.array(_flat(c, "mem_types"), type=pa.int8()))
    roles = c.strings.take(_string_refs(c, "mem_roles"))
    struct = pa.StructArray.from_arrays(
        [types, pa.array(refs, type=pa.int64()), roles], ["type", "ref", "role"]
    )
    arr = pa.ListArray.from_arrays(offsets, struct)
    return arr.cast(list_type)


def _user_array(c: _Columns, n: int) -> pa.Array:
    if not c.user_sid:
        return pa.nulls(n, pa.string())
    sids = c.user_sid[0]
    # -1 → null; -2 → "" (missing user on an element that HAS metadata),
    # one entry past the block's table
    strings = pa.concat_arrays([c.strings, pa.array([""], type=pa.string())])
    idx = np.where(sids >= 0, sids,
                   np.where(sids == -2, np.int32(len(c.strings)), np.int32(0)))
    null_mask = sids == -1
    return strings.take(pa.array(idx, type=pa.int32(),
                                 mask=null_mask if null_mask.any() else None))
