"""Property-based encode→decode roundtrip tests (hypothesis).

The reference ships no property/fuzz layer (SURVEY §5) — its golden
fixtures pin a handful of hand-picked values. These tests search the
input space the wire format actually allows: negative delta chains,
arbitrary granularity/offset coordinate math, unicode tags and users,
metadata presence/absence, multi-block delta resets. Pure decode-layer
tests — no SparkSession — so hypothesis can run its full example budget
in seconds.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from osm_pbf_parquet_spark.pbf.decode import columns_to_arrow, decode_primitive_block

from pbf_encoder import (
    StringTable,
    _key,
    _len_field,
    _packed_svarints,
    _packed_uvarints,
    _varint,
    encode_dense_nodes,
    encode_primitive_block,
    encode_relation,
    encode_way,
)

NANO = 1e-9


def _as_dict(batch):
    """to_pydict with timestamp as raw int64 µs — extreme-but-valid wire
    timestamps exceed Python datetime's year range and would overflow the
    arrow→datetime conversion."""
    idx = batch.schema.get_field_index("timestamp")
    batch = batch.set_column(
        idx, "timestamp", batch.column("timestamp").cast("int64")
    )
    return batch.to_pydict()

# text that survives a utf-8 roundtrip (hypothesis text() already excludes
# surrogates); keep sizes small — the space, not the volume, finds bugs
short_text = st.text(max_size=12)
tags_dicts = st.dictionaries(short_text, short_text, max_size=4)

coord_raw = st.integers(min_value=-(2**31), max_value=2**31)
granularities = st.sampled_from([1, 57, 100, 1000])
offsets = st.integers(min_value=-(10**9), max_value=10**9)


def _expected_coord(offset: int, gran: int, raw: int) -> float:
    # same op order as the kernel: exact int64 nanodegrees, then * 1e-9
    return (offset + gran * raw) * NANO


@st.composite
def dense_node_lists(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    ids = draw(st.lists(st.integers(-(2**40), 2**40), min_size=n, max_size=n,
                        unique=True))
    nodes = []
    for i in range(n):
        nodes.append({
            "id": ids[i],
            "lat_raw": draw(coord_raw),
            "lon_raw": draw(coord_raw),
            "tags": draw(tags_dicts),
            "version": draw(st.integers(1, 2**31 - 1)),
            "timestamp_s": draw(st.integers(-(2**40), 2**40)),
            "changeset": draw(st.integers(-(2**40), 2**40)),
            "uid": draw(st.integers(-(2**31), 2**31 - 1)),
            "user": draw(short_text),
            "visible": draw(st.booleans()),
        })
    return nodes


@given(nodes=dense_node_lists(), gran=granularities, lat_off=offsets,
       lon_off=offsets, date_gran=st.sampled_from([1, 500, 1000]))
@settings(max_examples=60, deadline=None)
def test_dense_node_roundtrip(nodes, gran, lat_off, lon_off, date_gran):
    st_ = StringTable()
    group = encode_dense_nodes(st_, nodes)
    payload = encode_primitive_block(
        [group], granularity=gran, lat_offset=lat_off, lon_offset=lon_off,
        date_granularity=date_gran, st=st_,
    )
    batch = columns_to_arrow(decode_primitive_block(payload))
    assert batch.num_rows == len(nodes)
    got = _as_dict(batch)
    for i, n in enumerate(nodes):
        assert got["id"][i] == n["id"]
        assert got["lat"][i] == _expected_coord(lat_off, gran, n["lat_raw"])
        assert got["lon"][i] == _expected_coord(lon_off, gran, n["lon_raw"])
        assert dict(got["tags"][i]) == n["tags"]
        assert got["version"][i] == n["version"]
        assert got["changeset"][i] == n["changeset"]
        assert got["uid"][i] == n["uid"]
        assert got["user"][i] == n["user"]
        assert got["visible"][i] is n["visible"]
    for i, n in enumerate(nodes):
        assert got["timestamp"][i] == n["timestamp_s"] * date_gran * 1000


@given(nodes=dense_node_lists())
@settings(max_examples=25, deadline=None)
def test_dense_nodes_without_info_all_meta_null(nodes):
    """DenseNodes with NO DenseInfo → metadata all null, visible default
    true-but-invalid (sink.rs:203-220 parity)."""
    st_ = StringTable()
    ids = [n["id"] for n in nodes]
    kv: list[int] = []
    for n in nodes:
        for k, v in n["tags"].items():
            kv += [st_.add(k), st_.add(v)]
        kv.append(0)
    body = bytearray()
    body += _packed_svarints(1, ids, delta=True)
    body += _packed_svarints(8, [n["lat_raw"] for n in nodes], delta=True)
    body += _packed_svarints(9, [n["lon_raw"] for n in nodes], delta=True)
    body += _packed_uvarints(10, kv)
    group = _len_field(2, bytes(body))
    batch = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([group], st=st_)))
    got = _as_dict(batch)
    assert got["id"] == ids
    for col in ("version", "timestamp", "changeset", "uid", "user", "visible"):
        assert all(v is None for v in got[col]), col
    for i, n in enumerate(nodes):
        assert dict(got["tags"][i]) == n["tags"]


@st.composite
def way_lists(draw):
    n = draw(st.integers(min_value=1, max_value=15))
    ways = []
    used = set()
    for _ in range(n):
        wid = draw(st.integers(0, 2**40).filter(lambda x: x not in used))
        used.add(wid)
        ways.append({
            "id": wid,
            "refs": draw(st.lists(st.integers(-(2**40), 2**40), max_size=8)),
            "tags": draw(tags_dicts),
            "version": draw(st.integers(1, 2**31 - 1)),
            "timestamp_s": draw(st.integers(0, 2**40)),
            "changeset": draw(st.integers(0, 2**40)),
            "uid": draw(st.integers(0, 2**31 - 1)),
            "user": draw(short_text),
            "visible": draw(st.booleans()),
        })
    return ways


@given(ways=way_lists(), date_gran=st.sampled_from([1, 1000]))
@settings(max_examples=60, deadline=None)
def test_way_roundtrip(ways, date_gran):
    st_ = StringTable()
    entries = [encode_way(st_, w) for w in ways]
    payload = encode_primitive_block(
        [b"".join(entries)], date_granularity=date_gran, st=st_
    )
    batch = columns_to_arrow(decode_primitive_block(payload))
    assert batch.num_rows == len(ways)
    got = _as_dict(batch)
    for i, w in enumerate(ways):
        assert got["id"][i] == w["id"]
        assert [r["ref"] for r in got["nds"][i]] == w["refs"]
        assert dict(got["tags"][i]) == w["tags"]
        assert got["version"][i] == w["version"]
        assert got["uid"][i] == w["uid"]
        assert got["user"][i] == w["user"]
        assert got["visible"][i] is w["visible"]
        assert got["lat"][i] is None and got["lon"][i] is None
    for i, w in enumerate(ways):
        assert got["timestamp"][i] == w["timestamp_s"] * date_gran * 1000


@st.composite
def relation_lists(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    rels = []
    used = set()
    for _ in range(n):
        rid = draw(st.integers(0, 2**40).filter(lambda x: x not in used))
        used.add(rid)
        members = [
            {"type": draw(st.sampled_from(["node", "way", "relation"])),
             "ref": draw(st.integers(-(2**40), 2**40)),
             "role": draw(short_text)}
            for _ in range(draw(st.integers(0, 5)))
        ]
        rels.append({
            "id": rid, "members": members, "tags": draw(tags_dicts),
            "version": draw(st.integers(1, 2**31 - 1)),
            "timestamp_s": draw(st.integers(0, 2**40)),
            "changeset": draw(st.integers(0, 2**40)),
            "uid": draw(st.integers(0, 2**31 - 1)),
            "user": draw(short_text), "visible": draw(st.booleans()),
        })
    return rels


@given(rels=relation_lists())
@settings(max_examples=60, deadline=None)
def test_relation_roundtrip(rels):
    st_ = StringTable()
    entries = [encode_relation(st_, r) for r in rels]
    batch = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([b"".join(entries)], st=st_)
    ))
    assert batch.num_rows == len(rels)
    got = _as_dict(batch)
    for i, r in enumerate(rels):
        assert got["id"][i] == r["id"]
        assert dict(got["tags"][i]) == r["tags"]
        mems = got["members"][i]
        assert [(m["type"], m["ref"], m["role"]) for m in mems] == [
            (m["type"], m["ref"], m["role"]) for m in r["members"]
        ]
        assert got["user"][i] == r["user"]


@given(nodes=dense_node_lists(), split=st.integers(1, 24))
@settings(max_examples=25, deadline=None)
def test_delta_chains_reset_per_block(nodes, split):
    """Splitting the same nodes across two DenseNodes messages must decode
    identically to one message — delta chains reset per message."""
    split = min(split, len(nodes))
    st1 = StringTable()
    one = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([encode_dense_nodes(st1, nodes)], st=st1)
    ))
    st2 = StringTable()
    groups = [encode_dense_nodes(st2, nodes[:split])]
    if nodes[split:]:
        groups.append(encode_dense_nodes(st2, nodes[split:]))
    two = columns_to_arrow(decode_primitive_block(
        encode_primitive_block(groups, st=st2)))
    assert one.num_rows == two.num_rows
    assert _as_dict(one) == _as_dict(two)


@given(nodes=dense_node_lists(), kinds=st.sets(
    st.sampled_from(["node", "way", "relation"]), min_size=1))
@settings(max_examples=20, deadline=None)
def test_kind_pushdown_consistent(nodes, kinds):
    """Any kind subset decodes exactly the matching subset of a mixed
    block — pushdown can't change values, only membership."""
    st_ = StringTable()
    way = {"id": 7, "refs": [n["id"] for n in nodes[:3]], "tags": {},
           "version": 1, "timestamp_s": 0, "changeset": 0, "uid": 0,
           "user": "w", "visible": True}
    payload = encode_primitive_block(
        [encode_dense_nodes(st_, nodes), encode_way(st_, way)], st=st_
    )
    full = columns_to_arrow(decode_primitive_block(payload))
    sub = columns_to_arrow(decode_primitive_block(payload, kinds=kinds))
    want = {"node": len(nodes), "way": 1, "relation": 0}
    expect_rows = sum(want[k] for k in kinds)
    assert (0 if sub is None else sub.num_rows) == expect_rows
    if sub is not None:
        full_d = _as_dict(full)
        sub_d = _as_dict(sub)
        keep = [i for i, t in enumerate(full_d["type"]) if t in kinds]
        for col in full.schema.names:
            assert sub_d[col] == [full_d[col][i] for i in keep], col


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def test_group_scan_fallback_on_stray_scalar_field():
    """A group payload with a stray wire-0 field (unknown extension) is
    skipped by the group scan and decodes identically to the clean
    encoding."""
    st_ = StringTable()
    way = {"id": 9, "refs": [3, 5, 5], "tags": {"k": "v"}, "version": 2,
           "timestamp_s": 7, "changeset": 1, "uid": 4, "user": "u",
           "visible": True}
    clean_group = encode_way(st_, way)
    dirty_group = _key(15, 0) + _varint(99) + clean_group  # unknown field 15
    st2 = StringTable()
    _ = encode_way(st2, way)  # same stringtable contents
    a = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([clean_group], st=st_)))
    b = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([dirty_group], st=st_)))
    assert _as_dict(a) == _as_dict(b)


def test_way_unpacked_refs_scalar_fallback():
    """Proto2 readers must accept UNPACKED repeated encodings: a way whose
    refs arrive as individual wire-0 varints (zigzag deltas) decodes to
    the same refs as the packed form (exercises _decode_elements_scalar)."""
    st_ = StringTable()
    refs = [10, 4, 4, -6]
    packed_way = encode_way(st_, {"id": 1, "refs": refs, "tags": {},
                                  "version": 1, "timestamp_s": 0,
                                  "changeset": 0, "uid": 0, "user": "x",
                                  "visible": True})
    # unpacked: field 8, wire 0, one zigzag delta per ref
    body = bytearray()
    body += _key(1, 0) + _varint(1)
    prev = 0
    deltas = []
    for r in refs:
        deltas.append(r - prev)
        prev = r
    for d in deltas:
        body += _key(8, 0) + _varint(_zigzag(d))
    unpacked_way = _len_field(3, bytes(body))
    a = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([packed_way], st=st_)))
    b = columns_to_arrow(decode_primitive_block(
        encode_primitive_block([unpacked_way], st=st_)))
    got_a = [r["ref"] for r in _as_dict(a)["nds"][0]]
    got_b = [r["ref"] for r in _as_dict(b)["nds"][0]]
    assert got_a == refs and got_b == refs


# --- r6 mixed-generator encoders: plain nodes + LocationsOnWays ---------------


@st.composite
def plain_node_lists(draw):
    n = draw(st.integers(min_value=1, max_value=15))
    ids = draw(st.lists(st.integers(-(2**40), 2**40), min_size=n,
                        max_size=n, unique=True))
    return [{
        "id": ids[i],
        "lat": draw(coord_raw),
        "lon": draw(coord_raw),
        "tags": draw(tags_dicts),
        "version": draw(st.integers(1, 2**31 - 1)),
        "timestamp_s": draw(st.integers(-(2**40), 2**40)),
        "changeset": draw(st.integers(-(2**40), 2**40)),
        "uid": draw(st.integers(-(2**31), 2**31 - 1)),
        "user": draw(short_text),
        "visible": draw(st.booleans()),
    } for i in range(n)]


@given(nodes=plain_node_lists(), gran=granularities, lat_off=offsets,
       lon_off=offsets)
@settings(max_examples=40, deadline=None)
def test_plain_node_roundtrip(nodes, gran, lat_off, lon_off):
    """Non-dense Node messages (the mixed differential's plain blocks)
    roundtrip exactly: ids, coordinate math, tags, metadata."""
    from pbf_encoder import encode_plain_node

    st_ = StringTable()
    group = b"".join(encode_plain_node(st_, n) for n in nodes)
    payload = encode_primitive_block(
        [group], granularity=gran, lat_offset=lat_off, lon_offset=lon_off,
        st=st_,
    )
    batch = columns_to_arrow(decode_primitive_block(payload))
    assert batch.num_rows == len(nodes)
    got = _as_dict(batch)
    for i, n in enumerate(nodes):
        assert got["id"][i] == n["id"]
        assert got["lat"][i] == _expected_coord(lat_off, gran, n["lat"])
        assert got["lon"][i] == _expected_coord(lon_off, gran, n["lon"])
        assert dict(got["tags"][i]) == n["tags"]
        assert got["version"][i] == n["version"]
        assert got["user"][i] == n["user"]
        assert got["visible"][i] is n["visible"]


@st.composite
def loc_way_lists(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    ways = []
    for j in range(n):
        nrefs = draw(st.integers(min_value=1, max_value=6))
        ways.append({
            "id": draw(st.integers(1, 2**40)),
            "refs": sorted(draw(st.lists(
                st.integers(-(2**40), 2**40), min_size=nrefs,
                max_size=nrefs))),
            "lats": draw(st.lists(coord_raw, min_size=nrefs,
                                  max_size=nrefs)),
            "lons": draw(st.lists(coord_raw, min_size=nrefs,
                                  max_size=nrefs)),
            "tags": draw(tags_dicts),
            "version": draw(st.integers(1, 2**31 - 1)),
            "timestamp_s": draw(st.integers(-(2**40), 2**40)),
            "changeset": draw(st.integers(-(2**40), 2**40)),
            "uid": draw(st.integers(-(2**31), 2**31 - 1)),
            "user": draw(short_text),
            "visible": True,
        })
    return ways


@given(ways=loc_way_lists(), gran=granularities, lat_off=offsets,
       lon_off=offsets)
@settings(max_examples=40, deadline=None)
def test_way_with_locations_roundtrip(ways, gran, lat_off, lon_off):
    """LocationsOnWays ways: the wide-schema decode must be unperturbed
    by the extra packed fields 9/10 (refs/tags/meta exact), and the
    ``locations`` column of the block decoder must recover every
    per-vertex coordinate with the same granularity/offset math as
    nodes."""
    from osm_pbf_parquet_spark.pbf.decode import decode_primitive_block

    from pbf_encoder import encode_way_with_locations

    st_ = StringTable()
    group = b"".join(encode_way_with_locations(st_, w) for w in ways)
    payload = encode_primitive_block(
        [group], granularity=gran, lat_offset=lat_off, lon_offset=lon_off,
        st=st_,
    )
    batch = columns_to_arrow(decode_primitive_block(payload))
    assert batch.num_rows == len(ways)
    got = _as_dict(batch)
    for i, w in enumerate(ways):
        assert got["id"][i] == w["id"]
        assert [d["ref"] for d in got["nds"][i]] == w["refs"]
        assert dict(got["tags"][i]) == w["tags"]
        assert got["version"][i] == w["version"]
    assert not decode_primitive_block(payload)["way"].loc_lat  # on request only

    # per-vertex locations via the block decoder (D5 path)
    c = decode_primitive_block(payload, columns=["nds", "locations"])["way"]
    assert np.concatenate(c.nd_counts).tolist() == [len(w["refs"]) for w in ways]
    for attr, key, off in (("loc_lat", "lats", lat_off), ("loc_lon", "lons", lon_off)):
        assert np.concatenate(getattr(c, f"{attr}_counts")).tolist() == [
            len(w[key]) for w in ways]
        assert np.concatenate(getattr(c, attr)).tolist() == [
            _expected_coord(off, gran, v) for w in ways for v in w[key]]
