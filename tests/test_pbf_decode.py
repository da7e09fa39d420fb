"""Golden-fixture decoder tests.

Mirrors the reference's decoder test suite (``osmpbf/tests/read.rs``) over
the same five fixture files, asserting the same hard-coded expected values
(ids, degree coordinates, tags, refs, member roles, history visibility,
locations-on-ways). Those tests check the reference's own bytes, blob
layout and physical encodings, so they are skipped where its checkout is
absent. The tests that need only a small PBF of known content read the
package's copy of ``test.osm.pbf`` (``pbf_encoder.golden_files``)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest
from pbf_encoder import golden_files, write_golden_pbf

from osm_pbf_parquet_spark.pbf import blob as B
from osm_pbf_parquet_spark.pbf import decode as D
from osm_pbf_parquet_spark.pbf import proto as P

FIXDIR = "/root/reference/osmpbf/tests"
TEST_FILES = [
    f"{FIXDIR}/test.osm.pbf",
    f"{FIXDIR}/test_nozlib.osm.pbf",
    f"{FIXDIR}/test_nozlib_nodense.osm.pbf",
]
HISTORY_FILE = f"{FIXDIR}/deleted_nodes.osh.pbf"
LOC_ON_WAYS_FILE = f"{FIXDIR}/loc_on_ways.osm.pbf"


def _needs_reference(*paths):
    """Skip unless the reference's own fixture files exist."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference fixture missing: {', '.join(missing)}")


# --- proto primitives --------------------------------------------------------


def test_varint_roundtrip():
    buf = bytes([0x96, 0x01])  # 150
    assert P.read_varint(buf, 0) == (150, 2)


def test_packed_varints_vectorized():
    import random

    rng = random.Random(7)
    values = [rng.randrange(0, 2**60) for _ in range(1000)] + [0, 1, 127, 128, 2**63]
    encoded = bytearray()
    for v in values:
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                encoded.append(b | 0x80)
            else:
                encoded.append(b)
                break
    out = P.uvarints_from_raw(np.frombuffer(bytes(encoded), dtype=np.uint8))
    assert [int(x) for x in out] == [v for v in values]
    # the same run as packed chunks of one lane, cut after varint ends
    ends = [i + 1 for i, b in enumerate(encoded) if b < 0x80]
    pb = P.PackedBatch(1)
    for a, b in zip([0] + ends[99::100], ends[99::100] + [len(encoded)]):
        pb.add(0, memoryview(bytes(encoded))[a:b])
    vals, counts = pb.finish()
    assert vals.astype(np.uint64).tolist() == values and counts.tolist() == [len(values)]


def test_zigzag():
    enc = np.array([0, 1, 2, 3, 4, 4294967294], dtype=np.uint64)
    dec = P.zigzag_decode(enc)
    assert list(dec) == [0, -1, 1, -2, 2, 2147483647]


# --- blob framing ------------------------------------------------------------


@_needs_reference(*TEST_FILES, HISTORY_FILE, LOC_ON_WAYS_FILE)
def test_index_blobs_matches_reference_layout():
    # read.rs:215-221: test files have [OSMHeader, OSMData]
    for path in TEST_FILES:
        infos = B.index_blobs(path)
        assert [i.blob_type for i in infos] == [B.TYPE_HEADER, B.TYPE_DATA]
    assert [i.blob_type for i in B.index_blobs(HISTORY_FILE)] == [
        B.TYPE_HEADER, B.TYPE_DATA,
    ]
    # read.rs:379: loc_on_ways has 3 blobs
    assert [i.blob_type for i in B.index_blobs(LOC_ON_WAYS_FILE)] == [
        B.TYPE_HEADER, B.TYPE_DATA, B.TYPE_DATA,
    ]


def test_random_access_matches_sequential():
    for path in golden_files():
        seq = list(B.iter_blobs(path))
        with open(path, "rb") as f:
            for info, payload in seq:
                assert B.read_blob_at(f, info.offset, info.size) == payload


# --- full decode: the golden micro-fixture -----------------------------------


def _decode_file(path, **kw):
    batches = []
    header = None
    for info, raw in B.iter_blobs(path):
        payload = B.decompress_blob(raw)
        if info.blob_type == B.TYPE_HEADER:
            header = D.parse_header_block(payload)
        else:
            batch = D.columns_to_arrow(D.decode_primitive_block(payload, **kw),
                                       columns=kw.get("columns"))
            if batch is not None:
                batches.append(batch)
    import pyarrow as pa

    table = pa.Table.from_batches(batches) if batches else None
    return header, table


@pytest.mark.parametrize("path", [pytest.param(p, marks=_needs_reference(p)) for p in TEST_FILES])
def test_golden_content(path):
    header, table = _decode_file(path)
    rows = {(r["type"], r["id"]): r for r in table.to_pylist()}
    assert len(rows) == 5  # 3 nodes, 1 way, 1 relation (read.rs:309,322)

    n105 = rows[("node", 105)]
    n106 = rows[("node", 106)]
    n108 = rows[("node", 108)]
    assert n105["lat"] == pytest.approx(52.12240315616, abs=1e-7)
    assert n105["lon"] == pytest.approx(11.62840177902, abs=1e-7)
    assert n106["lat"] == pytest.approx(52.11992359584, abs=1e-7)
    assert n106["lon"] == pytest.approx(11.62564468943, abs=1e-7)
    assert n108["lat"] == pytest.approx(52.11989910567, abs=1e-7)
    assert n108["lon"] == pytest.approx(11.63101926915, abs=1e-7)
    for n in (n105, n106, n108):
        assert n["uid"] == 17
        assert n["user"] == "testuser"
        assert n["version"] == 1
        assert n["visible"] is True
        assert n["nds"] == []
        assert n["members"] == []
    # timestamp: 2003-04-05T06:07:08Z (test.osm)
    assert n105["timestamp"] == dt.datetime(2003, 4, 5, 6, 7, 8)

    way = rows[("way", 107)]
    assert [nd["ref"] for nd in way["nds"]] == [105, 106, 108, 105]  # read.rs:192
    assert dict(way["tags"]) == {"building": "yes", "name": "triangle"}
    assert way["lat"] is None and way["lon"] is None

    rel = rows[("relation", 120)]
    assert rel["members"] == [{"type": "way", "ref": 107, "role": "test_role"}]
    assert dict(rel["tags"]) == {"rel_key": "rel_value"}


@_needs_reference(HISTORY_FILE)
def test_history_visible_flags():
    # read.rs:354-372: 2 dense nodes, first deleted
    header, table = _decode_file(HISTORY_FILE)
    assert "HistoricalInformation" in header["required_features"]
    rows = table.to_pylist()
    assert len(rows) == 2
    assert rows[0]["visible"] is False
    assert rows[1]["visible"] is True


@_needs_reference(LOC_ON_WAYS_FILE)
def test_loc_on_ways():
    # read.rs:375-452
    header, table = _decode_file(LOC_ON_WAYS_FILE)
    assert "LocationsOnWays" in header["optional_features"]
    rows = {(r["type"], r["id"]): r for r in table.to_pylist()}
    way = rows[("way", 107)]
    assert [nd["ref"] for nd in way["nds"]] == [105, 106, 108, 105]
    assert dict(way["tags"]) == {"building": "yes", "name": "triangle"}
    rel = rows[("relation", 120)]
    assert rel["members"] == [{"type": "way", "ref": 107, "role": "test_role"}]

    # per-way locations decode (D5): the block decoder's locations column
    for info, raw in B.iter_blobs(LOC_ON_WAYS_FILE):
        if info.blob_type != B.TYPE_DATA:
            continue
        c = D.decode_primitive_block(B.decompress_blob(raw), kinds=["way"],
                                     columns=["nds", "locations"]).get("way")
        if c is None:
            continue
        assert np.concatenate(c.nd_refs).tolist() == [105, 106, 108, 105]
        np.testing.assert_allclose(
            np.concatenate(c.loc_lat),
            [52.1224031, 52.11992359584, 52.11989910567, 52.1224031], atol=1e-7,
        )
        np.testing.assert_allclose(
            np.concatenate(c.loc_lon),
            [11.6284017, 11.62564468943, 11.63101926915, 11.6284017], atol=1e-7,
        )


@_needs_reference(*TEST_FILES)
def test_encoding_variants_identical():
    # the three test files hold the same logical rows in different physical
    # encodings (zlib/raw, dense/plain) — decoded output must be identical
    # (read.rs:210-299 asserts the same across readers)
    tables = []
    for path in TEST_FILES:
        _, table = _decode_file(path)
        tables.append(table.sort_by([("type", "ascending"), ("id", "ascending")]))
    base = tables[0].to_pylist()
    for other in tables[1:]:
        assert other.to_pylist() == base


def test_kind_pushdown():
    for path in golden_files():
        _, table = _decode_file(path, kinds={"way"})
        assert table.column("type").to_pylist() == ["way"]
        _, table = _decode_file(path, kinds={"node"})
        assert table.num_rows == 3


def test_column_pruning():
    cols = ["id", "type", "lat", "lon"]
    for path in golden_files():
        _, table = _decode_file(path, columns=cols)
        assert table.column_names == cols
        assert table.num_rows == 5


@pytest.mark.parametrize("name, loc_on_ways", [("FIXTURE", False), ("LOC_FIXTURE", True)])
def test_package_fixtures_match_generator(name, loc_on_ways, tmp_path):
    """The package's committed golden fixtures are what
    ``pbf_encoder.write_golden_pbf`` writes: blob by blob, the same type
    and the same decompressed payload (the compressed bytes depend on the
    zlib build)."""
    from osm_pbf_parquet_spark.plans import osm_queries

    fresh = str(tmp_path / "golden.osm.pbf")
    write_golden_pbf(fresh, loc_on_ways=loc_on_ways)

    def blobs(path):
        return [(info.blob_type, B.decompress_blob(raw)) for info, raw in B.iter_blobs(path)]

    assert blobs(getattr(osm_queries, name)) == blobs(fresh)


@_needs_reference(TEST_FILES[0], TEST_FILES[2], LOC_ON_WAYS_FILE)
def test_header_decode():
    # read.rs:13-51: required/optional feature expectations per fixture
    header, _ = _decode_file(TEST_FILES[0])
    assert sorted(header["required_features"]) == ["DenseNodes", "OsmSchema-V0.6"]
    header, _ = _decode_file(TEST_FILES[2])
    assert header["required_features"] == ["OsmSchema-V0.6"]
    header, _ = _decode_file(LOC_ON_WAYS_FILE)
    assert header["optional_features"] == ["LocationsOnWays"]


def test_corrupt_input_raises():
    with pytest.raises((B.BlobError, P.ProtoDecodeError)):
        list(B.iter_blobs("/dev/null") if False else iter(()))  # placeholder
        raise B.BlobError("x")
    # truncated varint
    with pytest.raises(P.ProtoDecodeError):
        P.read_varint(b"\x80", 0)
    # oversized header guard
    import io, struct

    bad = struct.pack(">I", B.MAX_BLOB_HEADER_SIZE + 1) + b"\x00" * 10
    import tempfile, os

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(bad)
        name = f.name
    try:
        with pytest.raises(B.BlobError):
            B.index_blobs(name)
    finally:
        os.unlink(name)


def _data_group_payloads(path, field_no):
    """Collect (payload_list, block_geometry) for each group carrying
    repeated field ``field_no`` (1=plain nodes, 3=ways, 4=relations)."""
    out = []
    for info, raw in B.iter_blobs(path):
        if info.blob_type != B.TYPE_DATA:
            continue
        fields = P.message_fields(B.decompress_blob(raw))
        for group_payload in fields.get(2, []):
            group = P.message_fields(group_payload)
            if field_no in group:
                out.append((group[field_no], D.block_geometry(fields)))
    return out


def _cols_snapshot(c):
    cat = lambda chunks: np.concatenate([np.asarray(x) for x in chunks]) if chunks else np.empty(0)
    masks = [attr + "_valid" for attr, (_dtype, default) in D._ROWS.items()
             if default is None]
    return {
        name: cat(getattr(c, name))
        for name in ("ids", "lat", "lon", "tag_counts", "tag_keys",
                     "tag_vals", "nd_counts", "nd_refs", "mem_counts",
                     "mem_refs", "mem_roles", "mem_types", "changeset",
                     "ts_ms", "uid", "user_sid", "version", "visible", *masks)
    }


def _assert_decoders_agree(spec, payloads, geo, want=lambda col: True):
    cv, cs = D._Columns(), D._Columns()
    D._decode_elements(spec, payloads, cv, geo, want)
    D._decode_elements_scalar(spec, payloads, cs, geo, want)
    a, b = _cols_snapshot(cv), _cols_snapshot(cs)
    for name in a:
        assert np.array_equal(a[name], b[name], equal_nan=a[name].dtype.kind == "f"), \
            f"{spec.kind} field {name}"
    assert cv.n == cs.n == len(payloads)
    return cv


def test_vectorized_way_decode_matches_scalar(tmp_path):
    """The lane-frontier element decoder must agree field-for-field with
    the row-at-a-time reference on real multi-element groups: ways and
    relations of the synthetic file, plain nodes (with tags and Info),
    LocationsOnWays ways and relations of the mixed file."""
    import sys, os
    sys.path.insert(0, os.path.dirname(__file__))
    from pbf_encoder import write_mixed_pbf, write_synthetic_pbf

    path = str(tmp_path / "synthetic.osm.pbf")
    write_synthetic_pbf(path, n_nodes=300, n_ways=200, n_rels=40,
                        nodes_per_block=64)
    mixed = str(tmp_path / "mixed.osm.pbf")
    write_mixed_pbf(mixed, n_dense=500, n_history=10, n_plain=400,
                    n_ways_loc=50, n_ways=50, n_rels=30)
    cases = [(D._WAY, path, 3), (D._RELATION, path, 4),
             (D._PLAIN_NODE, mixed, 1), (D._WAY, mixed, 3),
             (D._RELATION, mixed, 4)]
    for spec, p, field_no in cases:
        groups = _data_group_payloads(p, field_no)
        assert groups, f"{p} must contain {spec.kind} groups"
        for payloads, geo in groups:
            _assert_decoders_agree(spec, payloads, geo)
    # column pruning takes the same route through the shared tail
    payloads, geo = _data_group_payloads(mixed, 1)[0]
    c = _assert_decoders_agree(D._PLAIN_NODE, payloads, geo,
                               want=lambda col: col in ("id", "lat"))
    assert not c.tag_keys and not c.version and not c.version_valid


def _info(*fields, extra=b""):
    """An Info body: wire-0 ``fields`` (field, value), then ``extra``."""
    from pbf_encoder import _key, _varint

    return b"".join(_key(fno, 0) + _varint(v) for fno, v in fields) + extra


def _way_with_info(wid, *infos):
    """A way message (refs [1, 2]) sending each of ``infos`` as an Info."""
    from pbf_encoder import _key, _len_field, _packed_svarints, _varint

    body = _key(1, 0) + _varint(wid) + _packed_svarints(8, [1, 2], delta=True)
    return body + b"".join(_len_field(4, info) for info in infos)


def _meta_rows(c):
    """Per element of a one-group block: (version, ts_ms, changeset, uid,
    user_sid, visible), None where the field is null -- an absent
    accumulator is null, an absent mask all valid."""
    def opt(attr):
        cat = lambda chunks, fill: (np.concatenate(chunks).tolist() if chunks
                                    else [fill] * c.n)
        vals = cat(getattr(c, attr), None)
        return [v if ok else None
                for v, ok in zip(vals, cat(getattr(c, attr + "_valid", []), True))]
    return list(zip(*map(opt, ("version", "ts_ms", "changeset", "uid",
                               "user_sid", "visible"))))


_GEO = D.BlockGeometry(100, 0, 0, 1000)


def _info_cases():
    from pbf_encoder import _key, _len_field

    return {  # Info occurrences → the element's metadata row
        "full": ([_info((1, 3), (2, 1000), (3, 77), (4, 42), (5, 5), (6, 1))],
                 (3, 1_000_000, 77, 42, 5, True)),
        "version_only": ([_info((1, 1))], (1, None, None, None, -2, True)),
        "absent": ([], (None, None, None, None, -2, True)),
        "empty": ([b""], (None, None, None, None, -2, True)),
        "deleted": ([_info((1, 2), (6, 0))], (2, None, None, None, -2, False)),
        "uid_32bit_negative": ([_info((1, 2), (4, (1 << 32) - 7))],
                               (2, None, None, -7, -2, True)),
        "uid_64bit_negative": ([_info((3, (1 << 64) - 5), (4, (1 << 64) - 7))],
                               (None, None, -5, -7, -2, True)),
        "unknown_wire2": ([_info((1, 9), extra=_len_field(7, b"abc") + _info((4, 13)))],
                          (9, None, None, 13, -2, True)),
        "wire1_wire5": ([_info((1, 4), extra=_key(8, 1) + bytes(8) + _key(9, 5)
                               + bytes(4) + _info((3, 6)))],
                        (4, None, 6, None, -2, True)),
        "field_twice": ([_info((1, 1), (4, 3), (1, 5))], (5, None, None, 3, -2, True)),
        # proto2 merges the two: the later one wins per field, a field
        # only the earlier one has survives
        "info_twice": ([_info((4, 8), (1, 1), (5, 2)), _info((1, 6), (2, 20))],
                       (6, 20_000, None, 8, 2, True)),
    }


def test_info_decodes_to_literal_values():
    """Every element's Info decodes the same in both decoders, alone and
    in one group with the others: present fields valid, 32- and 64-bit
    two's-complement negatives, absent or empty Info (user "", visible
    true), skipped wire-1/2/5 fields, a field or a whole Info sent
    twice."""
    cases = _info_cases()
    ways = [_way_with_info(i, *infos) for i, (infos, _) in enumerate(cases.values())]
    c = _assert_decoders_agree(D._WAY, ways, _GEO)
    assert dict(zip(cases, _meta_rows(c))) == {k: row for k, (_, row) in cases.items()}
    for name, way in zip(cases, ways):
        assert _meta_rows(_assert_decoders_agree(D._WAY, [way], _GEO)) == [cases[name][1]]


def test_info_decode_does_not_depend_on_neighbours(tmp_path):
    """A negative uid in 10-byte two's complement decodes as -7 whatever
    the other Infos of its group hold -- here one with an unknown wire-2
    field -- in both decoders and through the executor read loop."""
    from pbf_encoder import _len_field, encode_primitive_block, write_blob
    from osm_pbf_parquet_spark.sources.pbf_source import decode_blob_entries

    a = _way_with_info(1, _info((1, 2), (4, (1 << 64) - 7)))
    b = _way_with_info(2, _info((1, 9), extra=_len_field(7, b"abc")))
    rows = [(2, None, None, -7, -2, True), (9, None, None, None, -2, True)]
    assert _meta_rows(_assert_decoders_agree(D._WAY, [a, b], _GEO)) == rows
    path = str(tmp_path / "info.osm.pbf")
    with open(path, "wb") as f:
        write_blob(f, "OSMData", encode_primitive_block(
            [_len_field(3, a) + _len_field(3, b)]))
    info = B.index_blobs(path)[0]
    (per_kind,) = decode_blob_entries([(path, info.offset, info.size)], ["way"], None)
    got = D.kind_table("way", [per_kind["way"]]).select(["id", "uid", "version"])
    assert got.to_pylist() == [{"id": 1, "uid": -7, "version": 2},
                               {"id": 2, "uid": None, "version": 9}]


def _unpacked_way():
    from pbf_encoder import _key, _varint, _zigzag, _len_field, encode_info, StringTable

    st = StringTable()
    refs = [105, 106, 108, 105]
    deltas = [refs[0]] + [b - a for a, b in zip(refs, refs[1:])]
    body = _key(1, 0) + _varint(7)
    for d in deltas:  # unpacked: each ref its own wire-0 field
        body += _key(8, 0) + _varint(_zigzag(d))
    body += _len_field(4, encode_info(st, {"version": 2, "uid": 9, "user": "u"}))
    return D._WAY, st, body, {"nd_refs": refs, "ids": [7], "version": [2]}


def _unpacked_relation():
    from pbf_encoder import _key, _varint, _zigzag, _len_field, encode_info, StringTable

    st = StringTable()
    roles = [st.add("outer"), st.add("inner"), st.add("outer")]
    body = _key(1, 0) + _varint(11)
    # memids as one packed run split across two fields, types and roles
    # unpacked: proto2 concatenates every occurrence in order
    body += _len_field(9, _varint(_zigzag(40)) + _varint(_zigzag(-10)))
    body += _key(9, 0) + _varint(_zigzag(5))
    for r, t in zip(roles, (1, 1, 0)):
        body += _key(8, 0) + _varint(r)
        body += _key(10, 0) + _varint(t)
    body += _len_field(4, encode_info(st, {"version": 3}))
    return D._RELATION, st, body, {"mem_refs": [40, 30, 35], "mem_roles": roles,
                                   "mem_types": [1, 1, 0], "ids": [11], "version": [3]}


def _unpacked_plain_node():
    from pbf_encoder import _key, _varint, _zigzag, _len_field, encode_info, StringTable

    st = StringTable()
    k1, v1, k2, v2 = (st.add(s) for s in ("amenity", "bench", "name", "x"))
    body = _key(1, 0) + _varint(_zigzag(-3))
    for k, v in ((k1, v1), (k2, v2)):  # unpacked tag keys/values
        body += _key(2, 0) + _varint(k)
        body += _key(3, 0) + _varint(v)
    body += _len_field(4, encode_info(st, {"version": 4, "user": "u"}))
    body += _key(8, 0) + _varint(_zigzag(-250)) + _key(9, 0) + _varint(_zigzag(700))
    return D._PLAIN_NODE, st, body, {"tag_keys": [k1, k2], "tag_vals": [v1, v2],
                                     "ids": [-3], "version": [4],
                                     "lat": [-250 * 100e-9], "lon": [700 * 100e-9]}


@pytest.mark.parametrize("case", [_unpacked_way, _unpacked_relation, _unpacked_plain_node],
                         ids=["way", "relation", "plain_node"])
def test_unpacked_repeated_fields_fall_back(case):
    """proto2 allows repeated numeric fields to arrive unpacked (one
    wire-0 entry per value); the vectorized scan must detect this and
    route the group to the row-at-a-time decoder, producing identical
    values."""
    spec, st, body, want = case()
    c = D._Columns()
    c._stringtable = D._StringTable(st.encode())
    D._decode_elements(spec, [body], c, D.BlockGeometry(100, 0, 0, 1000),
                       lambda col: True)
    for attr, values in want.items():
        got = np.concatenate(getattr(c, attr)).tolist()
        assert got == (pytest.approx(values) if attr in ("lat", "lon") else values), attr
    c.seal()  # every index is in range of the block's table


def _element(group_field, *fields):
    """(PrimitiveGroup field, one element message of varint ``fields``
    and one packed list) — ids/coords are sint64 for plain nodes."""
    from pbf_encoder import _key, _packed_svarints, _packed_uvarints, _varint

    body = b"".join(_key(fno, 0) + _varint(v) for fno, v in fields)
    if group_field == 3:
        body += _packed_svarints(8, [1, 2], delta=True)
    elif group_field == 4:  # one way member, role ""
        body += (_packed_uvarints(8, [0]) + _packed_svarints(9, [1], delta=True)
                 + _packed_uvarints(10, [1]))
    return group_field, body


# plain nodes' required lat/lon (fields 8/9 are lists in ways/relations)
_COORDS = {1: ((8, 4), (9, 4)), 3: (), 4: ()}
# a message lacking one osmformat.proto ``required`` field
_MISSING_REQUIRED = {
    "plain_node_lat": lambda: _element(1, (1, 10), (9, 4)),
    "plain_node_lon": lambda: _element(1, (1, 10), (8, 4)),
    "plain_node_id": lambda: _element(1, (8, 4), (9, 4)),
    "way_id": lambda: _element(3),
    "relation_id": lambda: _element(4),
}


@pytest.mark.parametrize("name", sorted(_MISSING_REQUIRED))
def test_missing_required_field_raises(name, tmp_path):
    """A non-dense element without a required field is a ProtoDecodeError
    in both decoders (not a KeyError, not a silent id 0), and the executor
    read loop names the file and blob offset."""
    from pbf_encoder import StringTable, _len_field, encode_primitive_block, write_blob
    from osm_pbf_parquet_spark.sources.pbf_source import (
        BlobDecodeError, decode_blob_entries,
    )

    group_field, body = _MISSING_REQUIRED[name]()
    spec = D._GROUP_ELEMENTS[group_field]
    geo = D.BlockGeometry(100, 0, 0, 1000)
    for decoder in (D._decode_elements, D._decode_elements_scalar):
        with pytest.raises(P.ProtoDecodeError, match="without required field"):
            decoder(spec, [body], D._Columns(), geo, lambda col: True)
    good_field, good = _element(group_field, (1, 10), *_COORDS[group_field])
    path = str(tmp_path / "bad.osm.pbf")
    with open(path, "wb") as f:
        for fno, msg in ((good_field, good), (group_field, body)):
            write_blob(f, "OSMData", encode_primitive_block(
                [_len_field(fno, msg)], st=StringTable()))
    infos = [i for i in B.index_blobs(path) if i.blob_type == B.TYPE_DATA]
    it = decode_blob_entries([(path, i.offset, i.size) for i in infos],
                             ["node", "way", "relation"], None)
    assert next(it)[spec.kind].n == 1
    with pytest.raises(BlobDecodeError, match=f"offset {infos[1].offset}") as ei:
        next(it)
    assert isinstance(ei.value.__cause__, P.ProtoDecodeError)


def _crossed_tags():
    """A group of two ways whose keys/values pair up across the group (3
    and 3) but not within each way (2/1, then 1/2)."""
    from pbf_encoder import _key, _len_field, _packed_svarints, _packed_uvarints, _varint

    return b"".join(
        _len_field(3, _key(1, 0) + _varint(wid) + _packed_uvarints(2, keys)
                   + _packed_uvarints(3, vals) + _packed_svarints(8, [1], delta=True))
        for wid, keys, vals in ((1, [1, 2], [3]), (2, [1], [3, 4]))
    ), "tag keys and values"


def _short_roles():
    from pbf_encoder import _key, _len_field, _packed_svarints, _packed_uvarints, _varint

    return _len_field(4, _key(1, 0) + _varint(9) + _packed_uvarints(8, [0])
                      + _packed_svarints(9, [1, 2], delta=True)
                      + _packed_uvarints(10, [1, 1])), "members lists"


@pytest.mark.parametrize("case", [_crossed_tags, _short_roles], ids=["tags", "members"])
def test_parallel_lists_differ_in_length_raises(case):
    """Parallel packed lists (tag keys/values; member ids/roles/types) must
    pair up within each element: a mismatch is a ProtoDecodeError, not
    tags silently shifted onto the next element or an Arrow error at
    assembly (which names no blob)."""
    from pbf_encoder import StringTable, encode_primitive_block

    group, what = case()
    st = StringTable()
    for s in ("a", "b", "c", "d"):
        st.add(s)
    block = encode_primitive_block([group], st=st)
    with pytest.raises(P.ProtoDecodeError, match=what):
        D.decode_primitive_block(block)


@pytest.mark.parametrize("group_field", [1, 3, 4], ids=["plain_node", "way", "relation"])
def test_scalar_field_sent_twice_keeps_last(group_field):
    """proto2: a non-repeated scalar that occurs twice keeps the last
    value — for every element kind, in both decoders."""
    from pbf_encoder import StringTable, _len_field, encode_primitive_block

    twice = [(1, 10), *_COORDS[group_field], (1, 12)]
    if group_field == 1:
        twice.append((8, 6))
    fno, body = _element(group_field, *twice)
    block = encode_primitive_block([_len_field(fno, body)], st=StringTable())
    row = D.columns_to_arrow(D.decode_primitive_block(block)).to_pylist()[0]
    if group_field == 1:  # zigzag: 12 → 6, 6 → 3
        assert (row["id"], row["lat"], row["lon"]) == (6, pytest.approx(3e-7),
                                                        pytest.approx(2e-7))
    else:
        assert row["id"] == 12
    c = D._Columns()
    D._decode_elements_scalar(D._GROUP_ELEMENTS[group_field], [body], c,
                              D.BlockGeometry(100, 0, 0, 1000), lambda col: True)
    assert c.ids[0].tolist() == [row["id"]]


# --- regression tests for review findings ------------------------------------


def test_negative_lat_lon_offset_decodes_signed():
    """lat/lon_offset are int64 and may be negative; granularity is int32.
    A raw-unsigned read would turn lat_offset=-1e9 into +1.8e10 degrees."""
    import sys, os
    sys.path.insert(0, os.path.dirname(__file__))
    from pbf_encoder import (_key, _varint, _len_field, _packed_svarints,
                             StringTable)

    st = StringTable()
    # one dense node: raw lat/lon = 2e9 with offset -1e9, gran 100
    # → degrees = (-1e9 + 100 * 2e7) * 1e-9 = 1.0
    body = bytearray()
    body += _len_field(1, st.encode())
    dense = _packed_svarints(1, [7], delta=True)  # id
    dense += _packed_svarints(8, [20_000_000], delta=True)
    dense += _packed_svarints(9, [20_000_000], delta=True)
    group = _len_field(2, bytes(dense))
    body += _len_field(2, group)
    neg = (1 << 64) - 1_000_000_000  # -1e9 as unsigned varint bits
    body += _key(19, 0) + _varint(neg)
    body += _key(20, 0) + _varint(neg)
    batch = D.columns_to_arrow(D.decode_primitive_block(bytes(body)))
    row = batch.to_pylist()[0]
    assert row["lat"] == pytest.approx(1.0, abs=1e-9)
    assert row["lon"] == pytest.approx(1.0, abs=1e-9)


def test_decompress_guard_orders_and_bombs():
    """The 32MB guard must hold regardless of raw_size field position or
    absence (zlib bombs expand ~1000:1)."""
    import zlib as _z
    import sys, os
    sys.path.insert(0, os.path.dirname(__file__))
    from pbf_encoder import _key, _varint, _len_field

    big = b"\x00" * (B.MAX_BLOB_SIZE + 100)
    comp = _z.compress(big)
    # raw_size AFTER the data field
    blob1 = _len_field(3, comp) + _key(2, 0) + _varint(len(big))
    with pytest.raises(B.BlobError):
        B.decompress_blob(blob1)
    # raw_size absent entirely
    blob2 = _len_field(3, comp)
    with pytest.raises(B.BlobError):
        B.decompress_blob(blob2)
    # well-formed small blob still works with raw_size after data
    ok = _len_field(3, _z.compress(b"hi")) + _key(2, 0) + _varint(2)
    assert B.decompress_blob(ok) == b"hi"


def test_packed_run_must_end_on_element_boundary():
    """A packed payload ending mid-varint must error, not bleed its bytes
    into the next element's values."""
    pb = P.PackedBatch(2)
    pb.add(0, memoryview(b"\x80"))  # dangling continuation byte
    pb.add(1, memoryview(b"\x01\x02"))
    with pytest.raises(P.ProtoDecodeError):
        pb.finish()


def test_dense_info_length_mismatch_errors():
    """DenseInfo parallel arrays shorter than the node count must raise,
    not fabricate version=0 rows marked valid."""
    import sys, os
    sys.path.insert(0, os.path.dirname(__file__))
    from pbf_encoder import (_len_field, _packed_svarints, _packed_uvarints,
                             StringTable)

    st = StringTable()
    dense = _packed_svarints(1, [1, 2, 3], delta=True)
    di = _packed_uvarints(1, [5])  # 1 version for 3 nodes
    dense += _len_field(5, bytes(di))
    dense += _packed_svarints(8, [0, 0, 0], delta=True)
    dense += _packed_svarints(9, [0, 0, 0], delta=True)
    block = _len_field(1, st.encode()) + _len_field(2, _len_field(2, bytes(dense)))
    with pytest.raises(P.ProtoDecodeError):
        D.columns_to_arrow(D.decode_primitive_block(bytes(block)))


def _read_kind(tmp_path, kind, group, st):
    """One-blob PBF of ``group`` → ``kind_table`` through the executor
    read loop (``decode_blob_entries``)."""
    from pbf_encoder import encode_primitive_block, write_blob
    from osm_pbf_parquet_spark.sources.pbf_source import decode_blob_entries

    path = str(tmp_path / "one.osm.pbf")
    with open(path, "wb") as f:
        write_blob(f, "OSMData", encode_primitive_block([group], st=st))
    info = B.index_blobs(path)[0]
    (per_kind,) = decode_blob_entries([(path, info.offset, info.size)], [kind], None)
    return D.kind_table(kind, [per_kind[kind]])


def _dense_group(st, ids, lats=None, info=b"", id_chunks=None):
    """A DenseNodes group: ids (or raw packed ``id_chunks``), lat/lon
    (lat defaults to one per id), an optional DenseInfo body."""
    from pbf_encoder import _len_field, _packed_svarints

    lats = [0] * len(ids) if lats is None else lats
    body = (b"".join(_len_field(1, c) for c in id_chunks) if id_chunks
            else _packed_svarints(1, ids, delta=True))
    body += _packed_svarints(8, lats, delta=True)
    body += _packed_svarints(9, [0] * len(ids), delta=True)
    if info:
        body += _len_field(5, info)
    return _len_field(2, body)


def _len_field_way(wid, info):
    """A PrimitiveGroup way entry sending ``info``."""
    from pbf_encoder import _len_field

    return _len_field(3, _way_with_info(wid, info))


def test_int32_info_fields_keep_low_32_bits(tmp_path):
    """version and uid are int32: a varint past int32 keeps its low 32
    bits as two's complement (protobuf's parse rule), for Info and
    DenseInfo alike, instead of an Arrow error after the read loop."""
    from pbf_encoder import StringTable, _packed_svarints, _packed_uvarints

    big = [((1 << 40) + 3, 3), ((1 << 32) - 7, -7), (1 << 31, -(1 << 31)),
           ((1 << 64) - 2, -2)]
    ways = b"".join(_len_field_way(i, _info((1, raw), (4, raw)))
                    for i, (raw, _) in enumerate(big))
    got = _read_kind(tmp_path, "way", ways, StringTable()).select(["uid", "version"])
    assert got.to_pylist() == [{"uid": v, "version": v} for _, v in big]
    # DenseInfo: version plain, uid delta-coded sint32 (sums past int32)
    uids = [(1 << 40) + 3, (1 << 32) - 7, 1 << 31, -2 - (1 << 33)]
    info = (_packed_uvarints(1, [raw for raw, _ in big])
            + _packed_svarints(4, uids, delta=True))
    group = _dense_group(StringTable(), [1, 2, 3, 4], info=info)
    got = _read_kind(tmp_path, "node", group, StringTable()).select(["uid", "version"])
    assert got.to_pylist() == [{"uid": v, "version": v} for _, v in big]


@pytest.mark.parametrize("kind", ["way", "node"])
def test_present_user_sid_out_of_bounds_raises(kind, tmp_path):
    """A user string id that is present but negative (a uint32 sent as
    2^64 - 1, or DenseInfo deltas summing below 0) is out of bounds, not
    the null/empty-user sentinel it would alias."""
    from pbf_encoder import StringTable, _packed_svarints
    from osm_pbf_parquet_spark.sources.pbf_source import BlobDecodeError

    st = StringTable()
    st.add("u")
    if kind == "way":
        group = _len_field_way(1, _info((1, 1), (5, (1 << 64) - 1)))
    else:
        group = _dense_group(st, [1, 2], info=_packed_svarints(5, [1, -1], delta=True))
    with pytest.raises(BlobDecodeError, match="user_sid out of bounds") as ei:
        _read_kind(tmp_path, kind, group, st)
    assert isinstance(ei.value.__cause__, P.ProtoDecodeError)


def test_dense_coordinates_must_pair_with_ids():
    """DenseNodes lat/lon arrays with a different count than the ids are
    a ProtoDecodeError in the decoder, not an Arrow length error at
    assembly."""
    from pbf_encoder import StringTable, encode_primitive_block

    block = encode_primitive_block([_dense_group(StringTable(), [1, 2, 3], lats=[0, 0])])
    with pytest.raises(P.ProtoDecodeError, match="lat array length 2 != node count 3"):
        D.decode_primitive_block(block)


def _short_dense_block(case):
    """A DenseNodes block with 3 ids whose ``case`` array is one short:
    2 lats, or a DenseInfo with 2 versions (every other array full)."""
    from pbf_encoder import (StringTable, _packed_svarints, _packed_uvarints,
                             encode_primitive_block)

    st = StringTable()
    user = st.add("u")
    info = (_packed_uvarints(1, [1, 2] if case == "version" else [1, 2, 3])
            + _packed_svarints(2, [5, 6, 7], delta=True)
            + _packed_svarints(3, [8, 8, 9], delta=True)
            + _packed_svarints(4, [4, 4, 4], delta=True)
            + _packed_svarints(5, [user] * 3, delta=True)
            + _packed_uvarints(6, [1, 0, 1]))
    lats = [0, 0] if case == "lat" else None
    return encode_primitive_block([_dense_group(st, [1, 2, 3], lats=lats, info=info)],
                                  st=st)


@pytest.mark.parametrize("case", ["lat", "version"])
def test_dense_arrays_pair_under_every_projection(case):
    """A short DenseNodes/DenseInfo parallel array fails the same under
    every projection, wanted or not: an unwanted array is counted, not
    skipped."""
    from itertools import combinations

    block = _short_dense_block(case)
    names = ("id", "lat", "lon", "tags", *D._META_COLUMNS)
    subsets = [None] + [list(s) for r in range(len(names) + 1)
                        for s in combinations(names, r)]
    message = ("DenseNodes lat array length 2" if case == "lat"
               else "DenseInfo version array length 2")
    for columns in subsets:
        with pytest.raises(P.ProtoDecodeError, match=f"{message} != node count 3"):
            D.decode_primitive_block(block, columns=columns)


def test_dense_decodes_only_wanted_columns():
    """A DenseNodes projection decodes only its own columns: the others
    stay absent (their default), and the full read is unchanged."""
    block = _short_dense_block(None)
    only_id = D.decode_primitive_block(block, columns=["id"])["node"]
    assert only_id.ids[0].tolist() == [1, 2, 3]
    assert not any(getattr(only_id, attr) for attr in D._ROWS if attr != "ids")
    user = D.decode_primitive_block(block, columns=["id", "user"])["node"]
    assert [a for a in D._ROWS if getattr(user, a)] == ["ids", "user_sid"]
    rows = D.columns_to_arrow(D.decode_primitive_block(block)).to_pylist()
    assert [(r["version"], r["user"], r["visible"]) for r in rows] == [
        (1, "u", True), (2, "u", False), (3, "u", True)]


def test_packed_count_matches_finish():
    """``PackedBatch.count`` is the per-lane counts ``finish`` returns,
    for one chunk, many chunks, many lanes and unpacked varints, and
    raises like it on a chunk cut mid-varint or an over-long varint."""
    from pbf_encoder import _varint

    rng = np.random.default_rng(7)
    for n_chunks in (0, 1, 2, 5):
        pb = P.PackedBatch(1)
        for _ in range(n_chunks):
            vals = rng.integers(0, 1 << rng.integers(1, 63), rng.integers(0, 40))
            pb.add(0, memoryview(b"".join(_varint(int(v)) for v in vals)))
        pb.add_scalar(0, 300)
        assert pb.count().tolist() == [pb.finish()[0].size]
    pb = P.PackedBatch(3)
    pb.add(0, memoryview(b"\x01\x82\x01"))
    pb.add(2, memoryview(b"\x03"))
    assert pb.count().tolist() == pb.finish()[1].tolist() == [2, 0, 1]
    pb = P.PackedBatch(1)
    pb.add(0, memoryview(_OVERLONG))
    with pytest.raises(P.ProtoDecodeError, match="varint too long"):
        pb.count()
    for chunks in ([b"\x02\x81"], [b"\x02\x81", b"\x01"]):
        pb = P.PackedBatch(1)
        for chunk in chunks:
            pb.add(0, memoryview(chunk))
        with pytest.raises(P.ProtoDecodeError, match="packed varint"):
            pb.count()
        with pytest.raises(P.ProtoDecodeError, match="packed varint"):
            pb.finish()


def _chunked(field_no):
    """Field ``field_no`` as two packed chunks, the first ending
    mid-varint: concatenated they would read as values [1, -64]."""
    from pbf_encoder import _len_field

    return _len_field(field_no, b"\x02\x81") + _len_field(field_no, b"\x01")


@pytest.mark.parametrize("case", ["way", "relation", "dense_node"])
def test_packed_chunk_must_end_on_a_varint(case):
    """Every packed chunk must end on a varint terminator: a chunk cut
    mid-varint is an error, not bytes that bleed into the next chunk's
    values -- for way refs, relation member ids and dense node ids, in
    both element decoders."""
    from pbf_encoder import (StringTable, _key, _len_field, _packed_uvarints,
                             _varint, encode_primitive_block)

    if case == "dense_node":
        group = _dense_group(StringTable(), [1, 2], id_chunks=[b"\x02\x81", b"\x01"])
    else:
        spec = D._WAY if case == "way" else D._RELATION
        body = _key(1, 0) + _varint(5) + _chunked(8 if case == "way" else 9)
        if case == "relation":
            body += _packed_uvarints(8, [0, 0]) + _packed_uvarints(10, [0, 0])
        for decoder in (D._decode_elements, D._decode_elements_scalar):
            with pytest.raises(P.ProtoDecodeError, match="packed varint"):
                decoder(spec, [body], D._Columns(), _GEO, lambda col: True)
        group = _len_field(3 if case == "way" else 4, body)
    with pytest.raises(P.ProtoDecodeError, match="packed varint"):
        D.decode_primitive_block(encode_primitive_block([group]))


# an 11-byte varint: one continuation byte past the 10 a uint64 needs
_OVERLONG = b"\x80" * 10 + b"\x01"


def _malformed_groups():
    """name → (PrimitiveGroup, error) for blocks whose fault sits in a
    packed list that a projection may leave undecoded."""
    from pbf_encoder import StringTable, _key, _len_field, _packed_svarints, _varint

    def way(*fields):
        return _len_field(3, _key(1, 0) + _varint(5) + b"".join(fields))

    refs = _packed_svarints(8, [1, 2], delta=True)
    return {
        "tags_crossed": _crossed_tags(),
        "members_short": _short_roles(),
        "refs_chunk_cut": (way(_chunked(8)), "packed varint"),
        "refs_overlong": (way(_len_field(8, _OVERLONG)), "varint too long"),
        "tag_key_overlong": (way(_len_field(2, _OVERLONG), _len_field(3, b"\x01"),
                                 refs), "varint too long"),
        "location_overlong": (way(refs, _len_field(9, _OVERLONG)), "varint too long"),
        "dense_keys_vals_overlong": (
            _len_field(2, _packed_svarints(1, [1], delta=True)
                       + _packed_svarints(8, [0], delta=True)
                       + _packed_svarints(9, [0], delta=True)
                       + _len_field(10, _OVERLONG)), "varint too long"),
        "dense_info_version_overlong": (
            _dense_group(StringTable(), [1, 2], info=_len_field(1, b"\x01" + _OVERLONG)),
            "varint too long"),
    }


@pytest.mark.parametrize("case", sorted(_malformed_groups()))
def test_malformed_lists_raise_under_every_projection(case):
    """Validation does not depend on the projection: a block whose fault
    is in one packed list (an over-long varint, a chunk cut mid-varint,
    paired lists of different lengths) raises under every ``columns``
    subset, as it does under the full read. An unwanted list is counted,
    not decoded. ``id`` is decoded under every projection, and the six
    metadata columns share one Info decode, so ``version`` and ``user``
    stand in for them."""
    from itertools import combinations
    from pbf_encoder import StringTable, encode_primitive_block

    group, message = _malformed_groups()[case]
    st = StringTable()
    for s in ("a", "b", "c", "d"):
        st.add(s)
    block = encode_primitive_block([group], st=st)
    names = ("lat", "lon", "tags", "nds", "members", "locations", "version", "user")
    subsets = [None] + [list(s) for r in range(len(names) + 1)
                        for s in combinations(names, r)]
    for columns in subsets:
        with pytest.raises(P.ProtoDecodeError, match=message):
            D.decode_primitive_block(block, columns=columns)


def test_way_vertices_keep_the_paired_prefix():
    """The LocationsOnWays query's rows come from one block decode: a way
    with fewer locations than refs keeps the paired prefix (the
    reference zips refs, lats and lons), a way without locations adds no
    row, and a block without ways yields an empty batch."""
    from pbf_encoder import (StringTable, _key, _len_field, _packed_svarints,
                             _varint, encode_primitive_block, encode_way_with_locations)
    from osm_pbf_parquet_spark.plans.osm_queries import _way_vertices

    st = StringTable()
    short = _len_field(3, _key(1, 0) + _varint(2) + _packed_svarints(8, [4, 5], delta=True)
                       + _packed_svarints(9, [7], delta=True)
                       + _packed_svarints(10, [8, 9], delta=True))
    block = encode_primitive_block([
        encode_way_with_locations(st, {"id": 1, "refs": [1, 2], "lats": [10, 20],
                                       "lons": [30, 40, 50], "version": 1})
        + short
        + _len_field(3, _key(1, 0) + _varint(3) + _packed_svarints(8, [6], delta=True)),
    ], granularity=1_000_000_000, st=st)
    rows = [tuple(r.values()) for r in _way_vertices(block).to_pylist()]
    assert rows == [(1, 0, 1, 10.0, pytest.approx(30.0)), (1, 1, 2, 20.0, 40.0),
                    (2, 0, 4, 7.0, 8.0)]
    empty = _way_vertices(encode_primitive_block([_dense_group(st, [1])], st=st))
    assert empty.num_rows == 0 and empty.schema.names == ["way_id", "seq", "ref", "lat", "lon"]


def test_overlong_varint_consistent_mask():
    """Scalar and vectorized varint decoders must agree (mod 2^64) on
    over-long 10-byte encodings."""
    buf = bytes([0xFF] * 9 + [0x7F])
    scalar, _ = P.read_varint(buf, 0)
    vec = int(P.uvarints_from_raw(np.frombuffer(buf, dtype=np.uint8))[0])
    assert scalar == vec == (1 << 64) - 1


def test_packed_batch_preserves_interleaved_order():
    """Unpacked scalars interleaved with packed chunks must decode in
    occurrence order (delta decoding depends on it)."""
    pb = P.PackedBatch(1)
    pb.add_scalar(0, 2)
    pb.add(0, memoryview(bytes([0x04, 0x06])))  # zigzag 2, 3
    pb.add_scalar(0, 8)
    vals, counts = pb.finish(zigzag=True, delta=True)
    # zigzag: 2→1, then 2,3 ; 8→4 — cumsum: 1, 3, 6, 10
    assert vals.tolist() == [1, 3, 6, 10] and counts.tolist() == [4]


def test_truncated_messages_raise_decode_error():
    """Truncated fast-path reads surface as ProtoDecodeError, never bare
    IndexError."""
    with pytest.raises(P.ProtoDecodeError):
        P.message_fields(b"\x08")  # wire-0 key, no value
    with pytest.raises(P.ProtoDecodeError):
        P.message_fields(b"\x0a\x80")  # 2-byte length fast path at EOF
    with pytest.raises(P.ProtoDecodeError):
        P.message_fields(b"\x09\x01")  # fixed64 with 1 byte left


def _wire_mismatch_blocks() -> dict[str, bytes]:
    """PrimitiveBlocks with a field sent in the wrong wire type."""
    from pbf_encoder import _key, _len_field, _varint

    return {
        # a string table, then a PrimitiveGroup (field 2) as a varint
        "group as varint": _len_field(1, _len_field(1, b"")) + _key(2, 0) + _varint(5),
        # the string table (field 1) itself as a varint
        "stringtable as varint": _key(1, 0) + _varint(5),
        # granularity (field 17) as a length-delimited field
        "granularity as bytes": (_len_field(1, _len_field(1, b""))
                                 + _len_field(17, b"\x64")),
        # a string table entry as a fixed32, through the generic split
        "string as fixed32": _len_field(1, _key(1, 5) + b"\x00" * 4),
        # DenseNodes ids (field 1) as a fixed64
        "dense ids as fixed64": _len_field(1, _len_field(1, b"")) + _len_field(
            2, _len_field(2, _key(1, 1) + b"\x00" * 8)),
        # DenseInfo (DenseNodes field 5) as a varint
        "denseinfo as varint": _len_field(1, _len_field(1, b"")) + _len_field(
            2, _len_field(2, _len_field(1, b"\x02") + _len_field(8, b"\x00")
                          + _len_field(9, b"\x00") + _key(5, 0) + _varint(1))),
    }


@pytest.mark.parametrize("case", list(_wire_mismatch_blocks()))
def test_wire_type_mismatch_raises_decode_error(case):
    """A PrimitiveBlock field in the wrong wire type is a ProtoDecodeError,
    never a bare TypeError from using a varint as bytes or bytes as a
    varint."""
    block = _wire_mismatch_blocks()[case]
    with pytest.raises(P.ProtoDecodeError, match="not|neither"):
        D.decode_primitive_block(block)


def test_header_wire_type_mismatch_raises_decode_error():
    from pbf_encoder import _key, _len_field, _varint

    for header in (_key(16, 0) + _varint(3),  # writingprogram as a varint
                   _len_field(32, b"x"),  # replication timestamp as bytes
                   _len_field(1, _len_field(1, b"x"))):  # bbox side as bytes
        with pytest.raises(P.ProtoDecodeError):
            D.parse_header_block(header)


def test_blob_header_wire_type_mismatch_is_a_blob_error(tmp_path):
    """A BlobHeader whose type or datasize has the wrong wire type, or
    lacks datasize, is an invalid header, not a bare TypeError."""
    import struct

    from pbf_encoder import _key, _len_field, _varint

    for header in (_len_field(1, b"OSMData") + _len_field(3, b"\x05"),
                   _key(1, 0) + _varint(1) + _key(3, 0) + _varint(5),
                   _len_field(1, b"OSMData")):
        path = tmp_path / "header.osm.pbf"
        path.write_bytes(struct.pack(">I", len(header)) + header + b"\x00" * 5)
        with pytest.raises(B.BlobError, match="invalid BlobHeader at offset 0"):
            B.index_blobs(str(path))


def test_wire_type_mismatch_in_a_file_names_the_blob(tmp_path):
    """Read from a file, the first repro fails as BlobDecodeError naming
    the path and the blob's offset, with the ProtoDecodeError as cause."""
    from pbf_encoder import write_blob
    from osm_pbf_parquet_spark.sources.pbf_source import (
        BlobDecodeError, decode_blob_entries,
    )

    path = str(tmp_path / "wire.osm.pbf")
    with open(path, "wb") as f:
        write_blob(f, "OSMData", _wire_mismatch_blocks()["group as varint"])
    [info] = B.index_blobs(path)
    with pytest.raises(BlobDecodeError) as ei:
        list(decode_blob_entries([(path, info.offset, info.size)],
                                 ["node", "way", "relation"], None))
    err = ei.value
    assert (err.path, err.offset) == (path, info.offset)
    assert f"{path}: blob at offset {info.offset}" in str(err)
    assert isinstance(err.__cause__, P.ProtoDecodeError)


def test_lzma_blob_decode(tmp_path):
    """D1: lzma-compressed blobs (Blob field 4) decode identically to
    zlib — the spec alternative the golden fixtures don't exercise."""
    import pbf_encoder as E
    from osm_pbf_parquet_spark.pbf import blob as B
    from osm_pbf_parquet_spark.pbf.decode import (
        columns_to_arrow, decode_primitive_block,
    )

    st = E.StringTable()
    nodes = [{"id": i, "lat_raw": i * 10, "lon_raw": -i * 10,
              "tags": {"k": f"v{i}"}, "version": 1, "timestamp_s": i,
              "changeset": i, "uid": 1, "user": "u", "visible": True}
             for i in range(1, 8)]
    payload = E.encode_primitive_block([E.encode_dense_nodes(st, nodes)], st=st)
    p = str(tmp_path / "lzma.osm.pbf")
    with open(p, "wb") as f:
        E.write_blob(f, "OSMHeader", E.encode_header_block(), compress="lzma")
        E.write_blob(f, "OSMData", payload, compress="lzma")
    batches = []
    for info, raw in B.iter_blobs(p):
        out = B.decompress_blob(raw)
        if info.blob_type == B.TYPE_DATA:
            batches.append(columns_to_arrow(decode_primitive_block(out)))
    [batch] = batches
    got = batch.to_pydict()
    assert got["id"] == [n["id"] for n in nodes]
    assert got["lat"][2] == nodes[2]["lat_raw"] * 100 * 1e-9


def test_lzma_bomb_capped(tmp_path):
    """A small lzma payload expanding past 32MB must raise BlobError
    without materializing the full expansion (bomb guard, D1 parity with
    the zlib branch)."""
    import lzma as L
    import struct
    import pbf_encoder as E
    from osm_pbf_parquet_spark.pbf import blob as B

    bomb_payload = L.compress(b"\x00" * (64 * 1024 * 1024))  # 64MB zeros
    blob_msg = E._len_field(4, bomb_payload)  # raw_size omitted deliberately
    with pytest.raises(B.BlobError, match="too big"):
        B.decompress_blob(blob_msg)


def test_lzma_truncated_raises(tmp_path):
    """A truncated lzma stream must raise even when raw_size is absent —
    the incremental decompressor returns partial output with eof=False and
    needs_input=True, which a size-only guard would silently accept."""
    import lzma as L
    import pbf_encoder as E
    from osm_pbf_parquet_spark.pbf import blob as B

    full = L.compress(b"payload bytes " * 4096)
    truncated = full[: len(full) // 2]
    blob_msg = E._len_field(4, truncated)  # no raw_size field
    with pytest.raises(B.BlobError, match="truncated"):
        B.decompress_blob(blob_msg)
