"""Test-only OSM PBF *encoder* — generates synthetic .osm.pbf files so the
scan path can be differential-tested on multi-blob inputs without network
fixtures (the reference uses a downloaded Geofabrik extract,
``osm-pbf-parquet/test/test.sh:17-31``; we synthesize instead).

Implements the same public wire format the decoder reads: varint/zigzag,
packed fields, delta coding, stringtable, zlib blobs.
"""

from __future__ import annotations

import os
import struct
import zlib


def _varint(v: int) -> bytes:
    if v < 0:
        # plain (non-zigzag) int32/int64 fields carry negatives as 64-bit
        # two's complement (proto2 wire rule) — unmasked, the shift loop
        # below would never terminate
        v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _key(field_no: int, wire: int) -> bytes:
    return _varint((field_no << 3) | wire)


def _len_field(field_no: int, payload: bytes) -> bytes:
    return _key(field_no, 2) + _varint(len(payload)) + payload


def _packed_svarints(field_no: int, values, delta: bool = False) -> bytes:
    out = bytearray()
    prev = 0
    for v in values:
        d = v - prev if delta else v
        if delta:
            prev = v
        out += _varint(_zigzag(d))
    return _len_field(field_no, bytes(out))


def _packed_uvarints(field_no: int, values) -> bytes:
    out = bytearray()
    for v in values:
        out += _varint(v)
    return _len_field(field_no, bytes(out))


class StringTable:
    def __init__(self) -> None:
        self.strings: list[bytes] = [b""]  # index 0 reserved
        self.index: dict[bytes, int] = {}

    def add(self, s: str) -> int:
        b = s.encode("utf-8")
        if b not in self.index:
            self.index[b] = len(self.strings)
            self.strings.append(b)
        return self.index[b]

    def encode(self) -> bytes:
        body = b"".join(_len_field(1, s) for s in self.strings)
        return body


def encode_info(st: StringTable, meta: dict) -> bytes:
    out = bytearray()
    if "version" in meta:
        out += _key(1, 0) + _varint(meta["version"])
    if "timestamp_s" in meta:
        out += _key(2, 0) + _varint(meta["timestamp_s"])
    if "changeset" in meta:
        out += _key(3, 0) + _varint(meta["changeset"])
    if "uid" in meta:
        out += _key(4, 0) + _varint(meta["uid"])
    if "user" in meta:
        out += _key(5, 0) + _varint(st.add(meta["user"]))
    if "visible" in meta:
        out += _key(6, 0) + _varint(1 if meta["visible"] else 0)
    return bytes(out)


def encode_dense_nodes(st: StringTable, nodes: list[dict]) -> bytes:
    """nodes: [{id, lat_nano, lon_nano, tags: {k:v}, version, timestamp_s,
    changeset, uid, user, visible}] — lat/lon in raw granularity units."""
    ids = [n["id"] for n in nodes]
    lats = [n["lat_raw"] for n in nodes]
    lons = [n["lon_raw"] for n in nodes]
    kv: list[int] = []
    for n in nodes:
        for k, v in n.get("tags", {}).items():
            kv += [st.add(k), st.add(v)]
        kv.append(0)
    di = bytearray()
    di += _packed_uvarints(1, [n["version"] for n in nodes])
    di += _packed_svarints(2, [n["timestamp_s"] for n in nodes], delta=True)
    di += _packed_svarints(3, [n["changeset"] for n in nodes], delta=True)
    di += _packed_svarints(4, [n["uid"] for n in nodes], delta=True)
    di += _packed_svarints(5, [st.add(n["user"]) for n in nodes], delta=True)
    di += _packed_uvarints(6, [1 if n.get("visible", True) else 0 for n in nodes])
    body = bytearray()
    body += _packed_svarints(1, ids, delta=True)
    body += _len_field(5, bytes(di))
    body += _packed_svarints(8, lats, delta=True)
    body += _packed_svarints(9, lons, delta=True)
    body += _packed_uvarints(10, kv)
    return _len_field(2, bytes(body))  # PrimitiveGroup.dense = 2


def encode_way(st: StringTable, way: dict) -> bytes:
    body = bytearray()
    body += _key(1, 0) + _varint(way["id"])
    tags = way.get("tags", {})
    if tags:
        body += _packed_uvarints(2, [st.add(k) for k in tags])
        body += _packed_uvarints(3, [st.add(v) for v in tags.values()])
    body += _len_field(4, encode_info(st, way))
    body += _packed_svarints(8, way["refs"], delta=True)
    return _len_field(3, bytes(body))  # PrimitiveGroup.ways = 3


def encode_relation(st: StringTable, rel: dict) -> bytes:
    body = bytearray()
    body += _key(1, 0) + _varint(rel["id"])
    tags = rel.get("tags", {})
    if tags:
        body += _packed_uvarints(2, [st.add(k) for k in tags])
        body += _packed_uvarints(3, [st.add(v) for v in tags.values()])
    body += _len_field(4, encode_info(st, rel))
    members = rel.get("members", [])
    type_code = {"node": 0, "way": 1, "relation": 2}
    body += _packed_uvarints(8, [st.add(m["role"]) for m in members])
    body += _packed_svarints(9, [m["ref"] for m in members], delta=True)
    body += _packed_uvarints(10, [type_code[m["type"]] for m in members])
    return _len_field(4, bytes(body))  # PrimitiveGroup.relations = 4


def encode_primitive_block(groups: list[bytes], granularity: int = 100,
                           lat_offset: int = 0, lon_offset: int = 0,
                           date_granularity: int = 1000,
                           st: StringTable | None = None) -> bytes:
    st = st or StringTable()
    body = bytearray()
    body += _len_field(1, st.encode())
    for g in groups:
        body += _len_field(2, g)
    if granularity != 100:
        body += _key(17, 0) + _varint(granularity)
    if date_granularity != 1000:
        body += _key(18, 0) + _varint(date_granularity)
    if lat_offset:
        body += _key(19, 0) + _varint(lat_offset)
    if lon_offset:
        body += _key(20, 0) + _varint(lon_offset)
    return bytes(body)


def encode_header_block(required=("OsmSchema-V0.6", "DenseNodes"), optional=(),
                        writingprogram: str | None = None) -> bytes:
    body = bytearray()
    for s in required:
        body += _len_field(4, s.encode())
    for s in optional:
        body += _len_field(5, s.encode())
    if writingprogram is not None:
        body += _len_field(16, writingprogram.encode())
    return bytes(body)


def write_blob(f, blob_type: str, payload: bytes, compress=True) -> None:
    """``compress``: True/'zlib' (field 3), 'lzma' (field 4), False (raw
    field 1) — matches the Blob message's compression alternatives."""
    if compress == "lzma":
        import lzma

        blob = _key(2, 0) + _varint(len(payload)) + _len_field(4, lzma.compress(payload))
    elif compress:
        blob = _key(2, 0) + _varint(len(payload)) + _len_field(3, zlib.compress(payload))
    else:
        blob = _len_field(1, payload)
    header = _len_field(1, blob_type.encode()) + _key(3, 0) + _varint(len(blob))
    f.write(struct.pack(">I", len(header)))
    f.write(header)
    f.write(blob)


def write_synthetic_pbf(path: str, n_nodes: int = 5000, n_ways: int = 500,
                        n_rels: int = 50, nodes_per_block: int = 1000,
                        seed: int = 42) -> dict:
    """Deterministic synthetic file; returns expected summary stats."""
    import random

    rng = random.Random(seed)
    with open(path, "wb") as f:
        write_blob(f, "OSMHeader", encode_header_block())
        node_ids = list(range(1, n_nodes + 1))
        for start in range(0, n_nodes, nodes_per_block):
            st = StringTable()
            chunk = []
            for nid in node_ids[start : start + nodes_per_block]:
                chunk.append({
                    "id": nid,
                    "lat_raw": rng.randrange(-900_000_000 // 100, 900_000_000 // 100) * 10,
                    "lon_raw": rng.randrange(-1_800_000_000 // 100, 1_800_000_000 // 100) * 10,
                    "tags": {"name": f"n{nid}", "amenity": "bench"} if nid % 7 == 0 else {},
                    "version": rng.randrange(1, 5),
                    "timestamp_s": 1_500_000_000 + nid,
                    "changeset": 10_000 + nid % 97,
                    "uid": nid % 1000,
                    "user": f"user{nid % 50}",
                    "visible": nid % 113 != 0,
                })
            group = encode_dense_nodes(st, chunk)
            write_blob(f, "OSMData", encode_primitive_block([group], st=st))
        # ways + relations: one PrimitiveGroup per block holding many
        # elements (each encode_* returns a complete repeated-field entry,
        # so a multi-element group is their concatenation) — the realistic
        # planet-file shape, vs. one group per element
        way_ids = list(range(100_000, 100_000 + n_ways))
        for start in range(0, n_ways, nodes_per_block):
            st = StringTable()
            entries = []
            for wid in way_ids[start : start + nodes_per_block]:
                refs = sorted(rng.sample(node_ids, min(len(node_ids), rng.randrange(2, 12))))
                entries.append(encode_way(st, {
                    "id": wid, "refs": refs,
                    "tags": {"highway": "residential"} if wid % 3 == 0 else {},
                    "version": 1, "timestamp_s": 1_600_000_000 + wid,
                    "changeset": 5, "uid": 1, "user": "mapper", "visible": True,
                }))
            write_blob(f, "OSMData", encode_primitive_block([b"".join(entries)], st=st))
        rel_ids = list(range(500_000, 500_000 + n_rels))
        for start in range(0, n_rels, nodes_per_block):
            st = StringTable()
            entries = []
            for rid in rel_ids[start : start + nodes_per_block]:
                entries.append(encode_relation(st, {
                    "id": rid,
                    "members": [{"type": "way", "ref": 100_000 + rng.randrange(n_ways), "role": "outer"}],
                    "tags": {"type": "multipolygon"},
                    "version": 2, "timestamp_s": 1_650_000_000, "changeset": 6,
                    "uid": 2, "user": "relmapper", "visible": True,
                }))
            write_blob(f, "OSMData", encode_primitive_block([b"".join(entries)], st=st))
    return {"nodes": n_nodes, "ways": n_ways, "relations": n_rels}


# --- vectorized generator (bench-scale inputs) -------------------------------


def _np_uvarint_buf(values) -> tuple[bytes, "np.ndarray"]:
    """Encode a uint64 array as back-to-back varints. Returns (buffer,
    per-value byte lengths). Vectorized mirror of the decoder's
    mass-varint pass: lengths by threshold comparison, bytes scattered
    per position with continuation bits."""
    import numpy as np

    v = np.asarray(values, dtype=np.uint64)
    lens = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):
        lens += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    out = np.zeros(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    for k in range(int(lens.max(initial=0))):
        m = lens > k
        byte = ((v[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lens[m] > k + 1)
        out[starts[m] + k] = byte | (cont.astype(np.uint8) << 7)
    return out.tobytes(), lens


def _np_zigzag(v) -> "np.ndarray":
    import numpy as np

    x = np.asarray(v, dtype=np.int64)
    return ((x << 1) ^ (x >> 63)).astype(np.uint64)


def _np_packed_field(field_no: int, values, zigzag: bool, delta: bool) -> bytes:
    import numpy as np

    x = np.asarray(values, dtype=np.int64)
    if delta:
        x = np.diff(x, prepend=np.int64(0))
    u = _np_zigzag(x) if zigzag else x.astype(np.uint64)
    buf, _ = _np_uvarint_buf(u)
    return _len_field(field_no, buf)


def write_synthetic_pbf_fast(path: str, n_nodes: int, n_ways: int = 0,
                             n_rels: int = 0, nodes_per_block: int = 8000,
                             seed: int = 42) -> dict:
    """Numpy-vectorized synthetic PBF writer for bench-scale inputs
    (~10-20x faster than write_synthetic_pbf; same wire format, similar
    content distributions, not byte-identical)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    with open(path, "wb") as f:
        write_blob(f, "OSMHeader", encode_header_block())
        # --- dense node blocks ---
        for start in range(0, n_nodes, nodes_per_block):
            ids = np.arange(start + 1, min(start + nodes_per_block, n_nodes) + 1,
                            dtype=np.int64)
            B = ids.size
            lat = rng.integers(-9_000_000, 9_000_000, B) * 10
            lon = rng.integers(-18_000_000, 18_000_000, B) * 10
            tagged = ids % 7 == 0
            tag_ids = ids[tagged]
            # stringtable: [""] + per-tagged names + fixed + users
            names = [f"n{i}" for i in tag_ids]
            fixed = ["name", "amenity", "bench"]
            users = [f"user{u}" for u in range(50)]
            strings = [""] + names + fixed + users
            st_payload = b"".join(
                b"\x0a" + _varint(len(s)) + s
                for s in (x.encode() for x in strings)
            )
            name_idx = np.arange(1, 1 + len(names), dtype=np.int64)
            k_name, k_amen, v_bench = (len(names) + 1, len(names) + 2,
                                       len(names) + 3)
            user0 = len(names) + 4
            # keys_vals: tagged -> [k_name, name_i, k_amen, v_bench, 0]
            kv_len = np.where(tagged, 5, 1)
            kv_end = np.cumsum(kv_len)
            kv = np.zeros(int(kv_end[-1]), dtype=np.int64)
            t_start = kv_end[tagged] - 5
            kv[t_start] = k_name
            kv[t_start + 1] = name_idx
            kv[t_start + 2] = k_amen
            kv[t_start + 3] = v_bench
            di = (
                _np_packed_field(1, rng.integers(1, 5, B), False, False)  # version
                + _np_packed_field(2, 1_500_000_000 + ids, True, True)    # ts
                + _np_packed_field(3, 10_000 + ids % 97, True, True)      # changeset
                + _np_packed_field(4, ids % 1000, True, True)             # uid
                + _np_packed_field(5, user0 + ids % 50, True, True)       # user_sid
                + _np_packed_field(6, (ids % 113 != 0).astype(np.int64), False, False)
            )
            body = (
                _np_packed_field(1, ids, True, True)
                + _len_field(5, di)
                + _np_packed_field(8, lat, True, True)
                + _np_packed_field(9, lon, True, True)
                + _np_packed_field(10, kv, False, False)
            )
            group = _len_field(2, body)
            block = _len_field(1, st_payload) + _len_field(2, group)
            write_blob(f, "OSMData", block)
        # --- way blocks (vectorized refs; per-way assembly) ---
        refs_per_way = 10
        for wstart in range(0, n_ways, nodes_per_block):
            wids = np.arange(100_000 + wstart,
                             100_000 + min(wstart + nodes_per_block, n_ways),
                             dtype=np.int64)
            W = wids.size
            strings = ["", "highway", "residential", "mapper"]
            st_payload = b"".join(
                b"\x0a" + _varint(len(s)) + s
                for s in (x.encode() for x in strings)
            )
            refs = np.sort(rng.integers(1, max(n_nodes, 2), (W, refs_per_way)), axis=1)
            deltas = np.diff(refs, axis=1, prepend=np.zeros((W, 1), dtype=np.int64))
            flat, vlens = _np_uvarint_buf(_np_zigzag(deltas.ravel()))
            per_way_bytes = np.add.reduceat(vlens, np.arange(0, W * refs_per_way,
                                                             refs_per_way))
            offs = np.concatenate(([0], np.cumsum(per_way_bytes)))
            id_buf, id_lens = _np_uvarint_buf(wids.astype(np.uint64))
            id_offs = np.concatenate(([0], np.cumsum(id_lens)))
            info = _key(1, 0) + _varint(1) + _key(4, 0) + _varint(1) + \
                _key(5, 0) + _varint(3)
            info_field = _len_field(4, info)
            tag_field = (_packed_uvarints(2, [1]) + _packed_uvarints(3, [2]))
            k1, k8 = _key(1, 0), _key(8, 2)
            entries = []
            for i in range(W):
                body = (
                    k1 + id_buf[id_offs[i]:id_offs[i + 1]]
                    + (tag_field if wids[i] % 3 == 0 else b"")
                    + info_field
                    + k8 + _varint(int(per_way_bytes[i]))
                    + flat[offs[i]:offs[i + 1]]
                )
                entries.append(_len_field(3, body))
            block = _len_field(1, st_payload) + _len_field(2, b"".join(entries))
            write_blob(f, "OSMData", block)
        # --- relation blocks (small; reuse scalar encoder) ---
        if n_rels:
            st = StringTable()
            entries = []
            for j in range(n_rels):
                entries.append(encode_relation(st, {
                    "id": 500_000 + j,
                    "members": [{"type": "way",
                                 "ref": 100_000 + int(rng.integers(0, max(n_ways, 1))),
                                 "role": "outer"}],
                    "tags": {"type": "multipolygon"},
                    "version": 2, "timestamp_s": 1_650_000_000, "changeset": 6,
                    "uid": 2, "user": "relmapper", "visible": True,
                }))
            write_blob(f, "OSMData",
                       encode_primitive_block([b"".join(entries)], st=st))
    return {"nodes": n_nodes, "ways": n_ways, "relations": n_rels}


# --- mixed-encoding generator (Cook-Islands-shaped differential input) -------


def encode_plain_node(st: StringTable, node: dict) -> bytes:
    """Non-dense Node message (osmformat.proto:184-195): sint64 id,
    packed keys/vals, Info, sint64 lat/lon in granularity units."""
    body = bytearray()
    body += _key(1, 0) + _varint(_zigzag(node["id"]))
    tags = node.get("tags", {})
    if tags:
        body += _packed_uvarints(2, [st.add(k) for k in tags])
        body += _packed_uvarints(3, [st.add(v) for v in tags.values()])
    body += _len_field(4, encode_info(st, node))
    body += _key(8, 0) + _varint(_zigzag(node["lat"]))
    body += _key(9, 0) + _varint(_zigzag(node["lon"]))
    return _len_field(1, bytes(body))  # PrimitiveGroup.nodes = 1


def encode_way_with_locations(st: StringTable, way: dict) -> bytes:
    """Way message carrying the optional LocationsOnWays lat/lon arrays
    (packed delta sint64 fields 9/10, osmformat.proto:239-240)."""
    body = bytearray()
    body += _key(1, 0) + _varint(way["id"])
    tags = way.get("tags", {})
    if tags:
        body += _packed_uvarints(2, [st.add(k) for k in tags])
        body += _packed_uvarints(3, [st.add(v) for v in tags.values()])
    body += _len_field(4, encode_info(st, way))
    body += _packed_svarints(8, way["refs"], delta=True)
    body += _packed_svarints(9, way["lats"], delta=True)
    body += _packed_svarints(10, way["lons"], delta=True)
    return _len_field(3, bytes(body))


def write_mixed_pbf(path: str, n_dense: int = 9_000_000,
                    n_history: int = 3_000, n_plain: int = 4_000,
                    n_ways_loc: int = 2_000, n_ways: int = 2_000,
                    n_rels: int = 500, nodes_per_block: int = 8000,
                    seed: int = 1234) -> dict:
    """A realistically-shaped multi-blob differential input: the
    CI-runnable approximation of the reference's Geofabrik extract run
    (``osm-pbf-parquet/test/test.sh:17-31`` + ``validate.py:57-217``)
    that needs no network. One ~100 MB file (defaults) mixing every
    wire/encoding variant the reference fixtures exercise and this
    container can decode:

    - bulk DENSE node blocks with blob compression cycling
      zlib / raw / lzma (zstd needs the absent ``zstandard`` module —
      its decode path stays covered by the import-gated unit test)
    - a dense HISTORY block: every id twice (v1, then v2 with
      visible=false for even ids — deleted-at-head — and visible=true
      for odd), exercising dense-info delta decode with id repeats
    - non-dense (plain Node message) blocks, one zlib + one raw
    - ways WITH LocationsOnWays lat/lon arrays and ways without
    - a relation block, plus header optional features
      LocationsOnWays / HistoricalInformation

    Returns the element counts the differential test pins. Element rows
    total n_dense + 2*n_history + n_plain nodes.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    compress_cycle = ("zlib", "raw", "lzma")

    def _block_compress(i: int):
        # mostly zlib (planet-realistic), every 7th raw, every 97th lzma
        if i % 97 == 5:
            return "lzma"
        if i % 7 == 3:
            return False
        return True

    with open(path, "wb") as f:
        write_blob(f, "OSMHeader", encode_header_block(
            optional=("LocationsOnWays", "HistoricalInformation")))

        # --- bulk dense blocks, vectorized (same wire shapes as the
        #     fast writer), blob compression cycling ---
        block_i = 0
        for start in range(0, n_dense, nodes_per_block):
            ids = np.arange(start + 1,
                            min(start + nodes_per_block, n_dense) + 1,
                            dtype=np.int64)
            B = ids.size
            lat = rng.integers(-9_000_000, 9_000_000, B) * 10
            lon = rng.integers(-18_000_000, 18_000_000, B) * 10
            tagged = ids % 7 == 0
            names = [f"n{i}" for i in ids[tagged]]
            strings = [""] + names + ["name", "amenity", "bench"] + [
                f"user{u}" for u in range(20)]
            st_payload = b"".join(
                b"\x0a" + _varint(len(s)) + s
                for s in (x.encode() for x in strings))
            name_idx = np.arange(1, 1 + len(names), dtype=np.int64)
            k_name, k_amen, v_bench = (len(names) + 1, len(names) + 2,
                                       len(names) + 3)
            user0 = len(names) + 4
            kv_len = np.where(tagged, 5, 1)
            kv_end = np.cumsum(kv_len)
            kv = np.zeros(int(kv_end[-1]), dtype=np.int64)
            t0 = kv_end[tagged] - 5
            kv[t0] = k_name
            kv[t0 + 1] = name_idx
            kv[t0 + 2] = k_amen
            kv[t0 + 3] = v_bench
            di = (
                _np_packed_field(1, rng.integers(1, 5, B), False, False)
                + _np_packed_field(2, 1_500_000_000 + ids, True, True)
                + _np_packed_field(3, 10_000 + ids % 97, True, True)
                + _np_packed_field(4, ids % 1000, True, True)
                + _np_packed_field(5, user0 + ids % 20, True, True)
                + _np_packed_field(6, (ids % 113 != 0).astype(np.int64),
                                   False, False)
            )
            body = (
                _np_packed_field(1, ids, True, True)
                + _len_field(5, di)
                + _np_packed_field(8, lat, True, True)
                + _np_packed_field(9, lon, True, True)
                + _np_packed_field(10, kv, False, False)
            )
            block = _len_field(1, st_payload) + _len_field(2, _len_field(2, body))
            write_blob(f, "OSMData", block, compress=_block_compress(block_i))
            block_i += 1

        # --- dense HISTORY block: each id appears twice (v1 then v2);
        #     v2 of every even id is visible=false (deleted at head) ---
        hist_ids = np.repeat(
            np.arange(50_000_000, 50_000_000 + n_history, dtype=np.int64), 2)
        H = hist_ids.size
        versions = np.tile([1, 2], n_history)
        visible = np.ones(H, dtype=np.int64)
        visible[1::2] = (hist_ids[1::2] % 2).astype(np.int64)  # even ids deleted
        ts = 1_400_000_000 + hist_ids % 1000 + versions * 3600
        st_payload = b"\x0a\x00" + b"\x0a\x05histu"  # ["", "histu"]
        di = (
            _np_packed_field(1, versions, False, False)
            + _np_packed_field(2, ts, True, True)
            + _np_packed_field(3, 7_000 + versions, True, True)
            + _np_packed_field(4, np.full(H, 99, dtype=np.int64), True, True)
            + _np_packed_field(5, np.full(H, 1, dtype=np.int64), True, True)
            + _np_packed_field(6, visible, False, False)
        )
        hl = rng.integers(-8_000_000, 8_000_000, H) * 10
        ho = rng.integers(-17_000_000, 17_000_000, H) * 10
        body = (
            _np_packed_field(1, hist_ids, True, True)
            + _len_field(5, di)
            + _np_packed_field(8, hl, True, True)
            + _np_packed_field(9, ho, True, True)
        )
        block = _len_field(1, st_payload) + _len_field(2, _len_field(2, body))
        write_blob(f, "OSMData", block, compress="lzma")

        # --- plain (non-dense) node blocks: one zlib, one raw ---
        half = n_plain // 2
        for bi, (lo, hi) in enumerate(((0, half), (half, n_plain))):
            st = StringTable()
            groups = b"".join(
                encode_plain_node(st, {
                    "id": 60_000_000 + j,
                    "lat": int(rng.integers(-8_000_000, 8_000_000)) * 10,
                    "lon": int(rng.integers(-17_000_000, 17_000_000)) * 10,
                    "tags": {"power": "pole"} if j % 5 == 0 else {},
                    "version": 1, "timestamp_s": 1_600_000_000 + j,
                    "changeset": 42, "uid": 7, "user": "plainu",
                    "visible": True,
                })
                for j in range(lo, hi)
            )
            write_blob(f, "OSMData",
                       encode_primitive_block([groups], st=st),
                       compress=(bi == 0))

        # --- ways: with LocationsOnWays, then without ---
        st = StringTable()
        entries = []
        for j in range(n_ways_loc):
            nrefs = 4 + j % 5
            refs = sorted(int(rng.integers(1, max(n_dense, 2)))
                          for _ in range(nrefs))
            entries.append(encode_way_with_locations(st, {
                "id": 100_000 + j,
                "refs": refs,
                "lats": [int(rng.integers(-8_000_000, 8_000_000)) * 10
                         for _ in range(nrefs)],
                "lons": [int(rng.integers(-17_000_000, 17_000_000)) * 10
                         for _ in range(nrefs)],
                "tags": {"highway": "path"},
                "version": 1, "timestamp_s": 1_610_000_000 + j,
                "changeset": 9, "uid": 3, "user": "wayu", "visible": True,
            }))
        write_blob(f, "OSMData",
                   encode_primitive_block([b"".join(entries)], st=st))

        st = StringTable()
        entries = []
        for j in range(n_ways):
            nrefs = 3 + j % 4
            refs = sorted(int(rng.integers(1, max(n_dense, 2)))
                          for _ in range(nrefs))
            entries.append(encode_way(st, {
                "id": 200_000 + j,
                "refs": refs,
                "tags": {"highway": "residential"} if j % 2 == 0 else {},
                "version": 2, "timestamp_s": 1_620_000_000 + j,
                "changeset": 11, "uid": 4, "user": "wayv", "visible": True,
            }))
        write_blob(f, "OSMData",
                   encode_primitive_block([b"".join(entries)], st=st),
                   compress=False)

        # --- relations ---
        st = StringTable()
        entries = []
        for j in range(n_rels):
            entries.append(encode_relation(st, {
                "id": 500_000 + j,
                "members": [
                    {"type": "way", "ref": 100_000 + j % max(n_ways_loc, 1),
                     "role": "outer"},
                    {"type": "node", "ref": 1 + j, "role": ""},
                ],
                "tags": {"type": "multipolygon"},
                "version": 1, "timestamp_s": 1_650_000_000, "changeset": 6,
                "uid": 2, "user": "relu", "visible": True,
            }))
        write_blob(f, "OSMData",
                   encode_primitive_block([b"".join(entries)], st=st))

    return {
        "node_rows": n_dense + 2 * n_history + n_plain,
        "dense": n_dense,
        "history_ids": n_history,
        "plain": n_plain,
        "ways": n_ways_loc + n_ways,
        "ways_loc": n_ways_loc,
        "relations": n_rels,
        "hidden": int(np.count_nonzero(
            np.arange(50_000_000, 50_000_000 + n_history) % 2 == 0))
        + (n_dense // 113),
    }


# --- golden micro-fixture (the package's committed copy) ---------------------

# Raw DenseNodes coordinates at granularity 100 (1e-7 degrees) of the golden
# micro-fixture's nodes (FIXTURES.md §2; reference ``osmpbf/tests/read.rs``).
GOLDEN_NODES = {
    105: (521224031, 116284017),
    106: (521199235, 116256446),
    108: (521198991, 116310192),
}
# Every element's metadata. No document pins the changeset; 1 is this
# generator's choice.
GOLDEN_META = {"version": 1, "timestamp_s": 1049522828,  # 2003-04-05T06:07:08Z
               "changeset": 1, "uid": 17, "user": "testuser", "visible": True}


def write_golden_pbf(path: str, loc_on_ways: bool = False) -> None:
    """The golden micro-fixture: nodes 105/106/108 as DenseNodes, way 107
    (refs 105,106,108,105; tags building=yes, name=triangle) and relation
    120 (member way 107 as ``test_role``; tag rel_key=rel_value). The
    header requires OsmSchema-V0.6 and DenseNodes and names writingprogram
    0.43.1, with no bbox and no replication fields.

    ``loc_on_ways=False`` writes ``test.osm.pbf``: a header blob, then one
    data blob holding the three groups. ``loc_on_ways=True`` writes
    ``loc_on_ways.osm.pbf``: the header also declares the optional
    LocationsOnWays feature, way 107 carries its four inline locations,
    and the nodes and the way+relation sit in two data blobs."""
    nodes = [{"id": i, "lat_raw": lat, "lon_raw": lon, **GOLDEN_META}
             for i, (lat, lon) in GOLDEN_NODES.items()]
    refs = [105, 106, 108, 105]
    way = {"id": 107, "refs": refs, "tags": {"building": "yes", "name": "triangle"},
           **GOLDEN_META}
    rel = {"id": 120, "members": [{"type": "way", "ref": 107, "role": "test_role"}],
           "tags": {"rel_key": "rel_value"}, **GOLDEN_META}
    header = encode_header_block(
        optional=("LocationsOnWays",) if loc_on_ways else (), writingprogram="0.43.1")
    with open(path, "wb") as f:
        write_blob(f, "OSMHeader", header)
        st = StringTable()
        if loc_on_ways:
            write_blob(f, "OSMData",
                       encode_primitive_block([encode_dense_nodes(st, nodes)], st=st))
            st = StringTable()
            way_group = encode_way_with_locations(st, {
                **way, "lats": [GOLDEN_NODES[r][0] for r in refs],
                "lons": [GOLDEN_NODES[r][1] for r in refs]})
            groups = [way_group, encode_relation(st, rel)]
        else:
            groups = [encode_dense_nodes(st, nodes), encode_way(st, way),
                      encode_relation(st, rel)]
        write_blob(f, "OSMData", encode_primitive_block(groups, st=st))


# The reference's own original of ``test.osm.pbf``, where a checkout of the
# reference exists: tests that read the package copy repeat their
# assertions on it.
REFERENCE_TEST_PBF = "/root/reference/osmpbf/tests/test.osm.pbf"


def golden_files() -> list[str]:
    """The package's copy of ``test.osm.pbf``, then the reference's
    original where that file exists."""
    from osm_pbf_parquet_spark.plans.osm_queries import FIXTURE

    return [FIXTURE] + [p for p in (REFERENCE_TEST_PBF,) if os.path.exists(p)]
