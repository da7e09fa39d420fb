"""Multi-block Arrow assembly: the fused transcode builds one table per row
group per kind from many blocks' accumulators, one chunk per block and no
concatenated copy (``decode.kind_table``, written by
``native_sink.write_decoded_blocks``). Its rows must equal the per-blob
wide batches of ``columns_to_arrow``, split by ``type``, and its files
must equal the split route's (``write_kind_tables``) byte for byte."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from osm_pbf_parquet_spark.pbf import decode as D
from osm_pbf_parquet_spark.pbf.blob import TYPE_DATA, BlobError, index_blobs
from osm_pbf_parquet_spark.pbf.proto import ProtoDecodeError
from osm_pbf_parquet_spark.sinks.native_sink import (
    write_decoded_blocks,
    write_kind_tables,
)
from osm_pbf_parquet_spark.sources.pbf_source import (
    BlobDecodeError,
    decode_blob_entries,
    parse_blob_entries,
)

from pbf_encoder import (
    StringTable,
    _len_field,
    _packed_svarints,
    _packed_uvarints,
    encode_dense_nodes,
    encode_plain_node,
    encode_primitive_block,
    encode_relation,
    encode_way,
    write_blob,
)

KINDS = ("node", "way", "relation")


def _dense_without_info(st: StringTable, nodes: list[dict]) -> bytes:
    """DenseNodes with no DenseInfo: every metadata column, user included,
    decodes as null."""
    kv: list[int] = []
    for n in nodes:
        for k, v in n.get("tags", {}).items():
            kv += [st.add(k), st.add(v)]
        kv.append(0)
    body = _packed_svarints(1, [n["id"] for n in nodes], delta=True)
    body += _packed_svarints(8, [n["lat_raw"] for n in nodes], delta=True)
    body += _packed_svarints(9, [n["lon_raw"] for n in nodes], delta=True)
    body += _packed_uvarints(10, kv)
    return _len_field(2, body)


def _nodes(first: int, n: int, tag: str) -> list[dict]:
    return [
        {"id": first + i, "lat_raw": 500_000_000 + 7 * i,
         "lon_raw": 100_000_000 - 3 * i,
         "tags": {tag: f"v{i % 5}"} if i % 3 else {},
         "version": 1 + i % 4, "timestamp_s": 1_600_000_000 + i,
         "changeset": 90 + i, "uid": 7 + i % 2, "user": f"{tag}-u{i % 3}"}
        for i in range(n)
    ]


def _block(i: int) -> bytes:
    """Block ``i`` of a small corpus. Each block builds its own string
    table with a different insertion order, so equal strings have
    different indices in different blocks."""
    st = StringTable()
    for j in range(i):  # shift every later index of this block
        st.add(f"pad{i}-{j}")
    first = 1 + 1000 * i
    groups = []
    if i % 2 == 0:
        groups.append(encode_dense_nodes(st, _nodes(first, 40 + 7 * i, f"k{i}")))
    else:
        groups.append(_dense_without_info(st, _nodes(first, 30 + 5 * i, "amenity")))
        # plain nodes, one with no user in its Info (→ "")
        groups.append(encode_plain_node(st, {
            "id": first + 900, "lat": 12, "lon": -34, "tags": {"name": "x"},
            "version": 2, "uid": 3}))
    ways = b"".join(
        encode_way(st, {"id": 100_000 + 10 * i + w, "refs": [first, first + 1, first + w],
                        "tags": {"highway": f"h{w}"} if w % 2 else {},
                        "version": 1, "changeset": 5, "uid": 6,
                        **({"user": f"wu{w}"} if w % 3 else {})})  # no user → ""
        for w in range(3 + i)
    )
    groups.append(ways)
    if i % 3 != 1:
        groups.append(encode_relation(st, {
            "id": 500_000 + i, "version": 3, "uid": 4, "user": f"ru{i}",
            "tags": {"type": "route", "ref": str(i)},
            "members": [{"type": "node", "ref": first, "role": "stop"},
                        {"type": "way", "ref": 100_000 + 10 * i, "role": ""},
                        {"type": "relation", "ref": 500_000, "role": f"r{i}"}]}))
    return encode_primitive_block(groups, st=st)


BLOCKS = [_block(i) for i in range(6)]


def _expected(payloads, kinds=KINDS) -> dict[str, pa.Table]:
    """Per kind: the per-blob wide batches, filtered to the kind, ``type``
    dropped, concatenated."""
    out: dict[str, list] = {k: [] for k in kinds}
    for p in payloads:
        batch = D.columns_to_arrow(D.decode_primitive_block(p, kinds=kinds))
        if batch is None:
            continue
        table = pa.Table.from_batches([batch])
        for kind in kinds:
            part = table.filter(pc.equal(table.column("type"), kind))
            if part.num_rows:
                out[kind].append(part.drop_columns(["type"]))
    return {k: pa.concat_tables(v).combine_chunks() for k, v in out.items() if v}


@pytest.fixture(scope="module")
def blocks_pbf(tmp_path_factory):
    """``BLOCKS`` as the data blobs of one PBF file."""
    path = str(tmp_path_factory.mktemp("blocks") / "blocks.osm.pbf")
    with open(path, "wb") as f:
        for payload in BLOCKS:
            write_blob(f, "OSMData", payload)
    return [(path, i.offset, i.size)
            for i in index_blobs(path) if i.blob_type == TYPE_DATA]


def _write(route, entries, out, rows_per_group, kinds=KINDS, target_bytes=0):
    """Write ``entries`` through the fused route (decoded blocks) or the
    split route (wide per-blob batches split by ``type``); return the
    written files per kind, in write order."""
    args = (str(out), "part-t", "zstd", 3, target_bytes, rows_per_group, False)
    if route == "fused":
        stats = write_decoded_blocks(
            decode_blob_entries(entries, list(kinds), None), *args)
    else:
        stats = write_kind_tables(
            (pa.Table.from_batches([b])
             for b in parse_blob_entries(entries, list(kinds), None)), *args)
    files: dict[str, list[str]] = {}
    for kind, path, rows, _bytes in stats:
        assert pq.ParquetFile(path).metadata.num_rows == rows
        files.setdefault(kind, []).append(path)
    return files


def _md5s(out) -> dict[str, str]:
    return {
        os.path.relpath(os.path.join(root, f), out):
            hashlib.md5(open(os.path.join(root, f), "rb").read()).hexdigest()
        for root, _dirs, names in os.walk(out) for f in names
    }


def _read_back(files: list[str]) -> pa.Table:
    return pa.concat_tables(pq.read_table(f) for f in files).combine_chunks()


def _flush_sizes(kind: str, rows_per_group: int) -> list[int]:
    """Where the split path flushes ``kind``: a group is built as soon as
    the running per-blob row count reaches ``rows_per_group``."""
    sizes, acc = [], 0
    for p in BLOCKS:
        cols = D.decode_primitive_block(p).get(kind)
        if cols is None or cols.n == 0:
            continue
        acc += cols.n
        if acc >= rows_per_group:
            sizes.append(acc)
            acc = 0
    if acc:
        sizes.append(acc)
    return sizes


def test_corpus_covers_null_and_empty_users():
    """The corpus holds both user sentinels: null (dense nodes without
    DenseInfo) and "" (non-dense elements whose Info has no user)."""
    exp = _expected(BLOCKS)
    node_users = exp["node"].column("user").to_pylist()
    way_users = exp["way"].column("user").to_pylist()
    assert None in node_users and "" in node_users
    assert "" in way_users and "wu1" in way_users
    assert exp["node"].column("version").null_count > 0
    assert exp["relation"].num_rows == 4


def test_kind_table_matches_per_blob_batches():
    exp = _expected(BLOCKS)
    for kind in KINDS:
        blocks = [D.decode_primitive_block(p)[kind] for p in BLOCKS
                  if kind in D.decode_primitive_block(p)]
        got = D.kind_table(kind, blocks)
        assert got.schema == exp[kind].schema
        assert got.equals(exp[kind]), kind
        assert "type" not in got.column_names


def test_single_block_is_columns_to_arrow_without_type():
    payload = BLOCKS[1]
    batch = D.columns_to_arrow(D.decode_primitive_block(payload))
    wide = pa.Table.from_batches([batch])
    for kind in KINDS:
        cols = D.decode_primitive_block(payload).get(kind)
        if cols is None:
            continue
        part = wide.filter(pc.equal(wide.column("type"), kind))
        assert D.kind_table(kind, [cols]).equals(
            part.drop_columns(["type"]).combine_chunks())


@pytest.mark.parametrize("rows_per_group", [1, 25, 60, 10_000])
def test_fused_tables_match_and_flush_like_the_split_path(
        blocks_pbf, tmp_path, rows_per_group):
    """The fused write's rows equal the split path's, and each kind's row
    groups end exactly where the split path flushes: below a block's row
    count every block flushes; above it blocks accumulate. With a 0-byte
    file target every flush rolls its own file, so each file is one flush
    and its row groups are that flush in ``rows_per_group`` chunks. Every
    file is byte-identical to the split route's."""
    fused = _write("fused", blocks_pbf, tmp_path / "fused", rows_per_group)
    split = _write("split", blocks_pbf, tmp_path / "split", rows_per_group)
    exp = _expected(BLOCKS)
    assert fused.keys() == exp.keys()
    for kind in exp:
        assert _read_back(fused[kind]).equals(exp[kind]), kind
        sizes = _flush_sizes(kind, rows_per_group)
        meta = [pq.ParquetFile(f).metadata for f in fused[kind]]
        assert [m.num_rows for m in meta] == sizes
        for m, size in zip(meta, sizes):
            groups = [m.row_group(i).num_rows for i in range(m.num_row_groups)]
            assert groups == [min(rows_per_group, size - i)
                              for i in range(0, size, rows_per_group)]
    if rows_per_group == 10_000:  # one row group per kind
        assert all(len(f) == 1 for f in fused.values())
    md5 = _md5s(tmp_path / "fused")
    assert md5 == _md5s(tmp_path / "split")
    assert len(md5) == sum(len(f) for f in fused.values())


def test_fused_tables_one_file_per_kind_match_split(blocks_pbf, tmp_path):
    """With the default-sized file target, each kind is one file of many
    row groups, byte-identical to the split route's."""
    fused = _write("fused", blocks_pbf, tmp_path / "fused", 25,
                   target_bytes=500 * 1024 * 1024)
    _write("split", blocks_pbf, tmp_path / "split", 25,
           target_bytes=500 * 1024 * 1024)
    assert {k: len(f) for k, f in fused.items()} == dict.fromkeys(KINDS, 1)
    assert _md5s(tmp_path / "fused") == _md5s(tmp_path / "split")


def test_fused_tables_kind_subset(blocks_pbf, tmp_path):
    kinds = ("way",)
    fused = _write("fused", blocks_pbf, tmp_path / "fused", 5, kinds=kinds)
    _write("split", blocks_pbf, tmp_path / "split", 5, kinds=kinds)
    assert set(fused) == {"way"}
    assert os.listdir(tmp_path / "fused") == ["type=way"]
    assert _read_back(fused["way"]).equals(_expected(BLOCKS, kinds)["way"])
    assert _md5s(tmp_path / "fused") == _md5s(tmp_path / "split")


def test_tag_index_past_its_own_block_raises():
    """Block 2's tag key index 5 is out of range for its own 4-entry
    table but inside block 1's 8-entry one: the per-block check rejects
    it."""
    st_a = StringTable()
    for s in ("a", "b", "c", "d", "e", "f", "g"):
        st_a.add(s)
    good = encode_primitive_block(
        [encode_way(st_a, {"id": 1, "refs": [1, 2], "tags": {"a": "b"}})],
        st=st_a)
    st_big = StringTable()
    for s in ("w", "x", "y", "z", "k5"):
        st_big.add(s)
    bad_way = encode_way(st_big, {"id": 2, "refs": [3], "tags": {"k5": "x"}})
    st_small = StringTable()
    for s in ("w", "x", "y"):
        st_small.add(s)
    bad = encode_primitive_block([bad_way], st=st_small)
    blocks = [D.decode_primitive_block(p)["way"] for p in (good, bad)]
    assert len(blocks[1]._stringtable) == 4
    with pytest.raises(ProtoDecodeError, match="out of bounds"):
        D.kind_table("way", blocks)
    with pytest.raises(ProtoDecodeError):
        D.columns_to_arrow(D.decode_primitive_block(bad))


def test_user_sid_past_its_table_raises():
    """A user index equal to the table length is out of range (it is not
    the empty-string sentinel, which is encoded as a missing user)."""
    st = StringTable()
    st.add("u")
    body = encode_way(st, {"id": 9, "refs": [1], "version": 1, "user": "u"})
    short = StringTable()  # index 0 only, so user index 1 == len(table)
    with pytest.raises(ProtoDecodeError, match="user_sid"):
        D.columns_to_arrow(D.decode_primitive_block(
            encode_primitive_block([body], st=short)))


def _mixed_blocks() -> list[bytes]:
    """One block per group kind -- DenseNodes with and without DenseInfo,
    plain nodes with Info (one deleted, one without a user), ways,
    relations with node/way/relation members -- then one block holding
    all of them, so each accumulator is missing from some blocks and
    from some rows of one block."""

    def groups(st: StringTable, first: int) -> list[bytes]:
        return [
            encode_dense_nodes(st, _nodes(first, 12, "dense")),
            _dense_without_info(st, _nodes(first + 100, 9, "bare")),
            encode_plain_node(st, {"id": first + 200, "lat": 5, "lon": 6,
                                   "version": 3, "uid": 1, "user": "p",
                                   "visible": False}),
            encode_plain_node(st, {"id": first + 201, "lat": 7, "lon": 8,
                                   "tags": {"name": "q"}, "version": 1}),
            encode_way(st, {"id": first + 300, "refs": [1, 2], "version": 2}),
            encode_relation(st, {
                "id": first + 400, "version": 1, "user": "r",
                "members": [{"type": t, "ref": i, "role": t[0]}
                            for i, t in enumerate(KINDS)]}),
        ]

    out = []
    for i in range(6):
        st = StringTable()
        st.add(f"pad{i}")  # a different index for each string in each block
        out.append(encode_primitive_block([groups(st, 1)[i]], st=st))
    st = StringTable()
    out.append(encode_primitive_block(groups(st, 10_000), st=st))
    return out


def test_kind_table_fills_each_blocks_defaults():
    """A row group built from many blocks equals the same blocks built one
    by one and concatenated: a block's missing accumulator reads as its
    default (null metadata and coordinates, empty lists) whatever the
    other blocks hold, nulls stay null and "" stays ""."""
    payloads = _mixed_blocks()
    # the one-group blocks alone, then with the block that has them all
    for group in (payloads[:-1], payloads):
        for kind in KINDS:
            decoded = [D.decode_primitive_block(p).get(kind) for p in group]
            blocks = [c for c in decoded if c is not None]
            one_by_one = pa.concat_tables(
                D.kind_table(kind, [D.decode_primitive_block(p)[kind]])
                for p, c in zip(group, decoded) if c is not None
            ).combine_chunks()
            got = D.kind_table(kind, blocks)
            assert got.equals(one_by_one), kind
            assert got.equals(_expected(group, (kind,))[kind]), kind
    nodes = {r["id"]: r for r in D.kind_table(
        "node", [D.decode_primitive_block(p)["node"] for p in payloads
                 if "node" in D.decode_primitive_block(p)]).to_pylist()}
    for first in (1, 10_000):
        assert (nodes[first]["version"], nodes[first]["user"]) == (1, "dense-u0")
        bare = nodes[first + 100]
        assert [bare[c] for c in D._META_COLUMNS] == [None] * 6
        assert dict(bare["tags"]) == {} and dict(nodes[first + 101]["tags"]) == {
            "bare": "v1"}
        assert (nodes[first + 200]["visible"], nodes[first + 200]["user"]) == (False, "p")
        assert (nodes[first + 201]["user"], nodes[first + 201]["uid"],
                nodes[first + 201]["visible"]) == ("", None, True)
        assert nodes[first + 201]["nds"] == []
        assert nodes[first + 201]["lat"] == pytest.approx(7e-7)
    rel = D.kind_table("relation", [D.decode_primitive_block(payloads[-1])["relation"]])
    assert [m["type"] for m in rel.column("members")[0].as_py()] == list(KINDS)


def _sealed_nbytes(cols) -> int:
    """Bytes of every ndarray a sealed block holds."""
    return sum(a.nbytes for v in vars(cols).values() if isinstance(v, list)
               for a in v if isinstance(a, np.ndarray))


def test_sealed_bytes_per_row_stay_bounded(tmp_path):
    """A memory guard that counts instead of timing: the sealed blocks of
    the benchmark's generator hold at most 65 / 120 / 75 bytes per node /
    way / relation row (narrow dtypes, no filler; they held 98.6 / 179.3 /
    134.0 with int64 everywhere, NaN coordinates, zero counts and all-true
    masks)."""
    from pbf_encoder import write_synthetic_pbf_fast

    path = str(tmp_path / "planet.osm.pbf")
    write_synthetic_pbf_fast(path, n_nodes=24_000, n_ways=2_400, n_rels=240,
                             seed=1000)
    entries = [(path, i.offset, i.size)
               for i in index_blobs(path) if i.blob_type == TYPE_DATA]
    held, rows = dict.fromkeys(KINDS, 0), dict.fromkeys(KINDS, 0)
    for per_kind in decode_blob_entries(entries, list(KINDS), None):
        for kind, cols in per_kind.items():
            held[kind] += _sealed_nbytes(cols)
            rows[kind] += cols.n
    per_row = {k: held[k] / rows[k] for k in KINDS}
    assert rows == {"node": 24_000, "way": 2_400, "relation": 240}
    assert per_row["node"] <= 65 and per_row["way"] <= 120 \
        and per_row["relation"] <= 75, per_row


def test_row_group_holds_no_second_copy(tmp_path):
    """A memory guard that counts instead of timing: a row group is one
    chunk per block, and its numeric columns are the sealed blocks' own
    arrays, not a concatenated copy held beside them."""
    from pbf_encoder import write_synthetic_pbf_fast

    path = str(tmp_path / "planet.osm.pbf")
    write_synthetic_pbf_fast(path, n_nodes=24_000, n_ways=0, n_rels=0,
                             seed=1000)
    entries = [(path, i.offset, i.size)
               for i in index_blobs(path) if i.blob_type == TYPE_DATA]
    blocks = [per_kind["node"]
              for per_kind in decode_blob_entries(entries, ["node"], None)]
    assert len(blocks) > 1
    table = D.kind_table("node", blocks)
    assert table.num_rows == 24_000
    for name, attr in (("id", "ids"), ("lat", "lat")):
        column = table.column(name)
        assert column.num_chunks == len(blocks)
        for chunk, cols in zip(column.chunks, blocks):
            assert chunk.buffers()[1].address == getattr(cols, attr)[0].ctypes.data


def test_sealed_block_drops_the_payload():
    cols = D.decode_primitive_block(BLOCKS[0])["node"]
    assert cols._stringtable is not None
    cols.seal()
    assert cols._stringtable is None and isinstance(cols.strings, pa.Array)
    assert len(cols.strings) > 0


def test_decode_errors_name_file_and_blob_offset(tmp_path):
    """A blob that fails to decompress or decode surfaces as
    BlobDecodeError naming the path and the blob's byte offset, with the
    original error as its cause."""
    path = str(tmp_path / "bad.osm.pbf")
    truncated = BLOCKS[0][: len(BLOCKS[0]) // 2]
    with open(path, "wb") as f:
        write_blob(f, "OSMData", BLOCKS[1])
        write_blob(f, "OSMData", truncated, compress=False)
    infos = [i for i in index_blobs(path) if i.blob_type == TYPE_DATA]
    entries = [(path, i.offset, i.size) for i in infos]
    it = decode_blob_entries(iter(entries), list(KINDS), None)
    assert set(next(it)) == {"node", "way"}  # block 1 has no relation
    with pytest.raises(BlobDecodeError) as ei:
        next(it)
    err = ei.value
    assert err.path == path and err.offset == infos[1].offset
    assert path in str(err) and f"offset {infos[1].offset}" in str(err)
    assert isinstance(err.__cause__, (ProtoDecodeError, BlobError))

    # a corrupt zlib stream is a BlobError too, and is named the same way
    zpath = str(tmp_path / "badz.osm.pbf")
    with open(zpath, "wb") as f:
        write_blob(f, "OSMData", BLOCKS[2])
    data = bytearray(open(zpath, "rb").read())
    data[-6] ^= 0xFF
    open(zpath, "wb").write(bytes(data))
    [info] = index_blobs(zpath)
    with pytest.raises(BlobDecodeError, match=f"offset {info.offset}") as ei:
        list(decode_blob_entries([(zpath, info.offset, info.size)], list(KINDS), None))
    assert isinstance(ei.value.__cause__, BlobError)


def test_blocks_concat_indices_shift_per_block():
    """Same strings at different indices in two blocks read back as the
    same strings: each block's chunk takes from its own table."""
    a = D.decode_primitive_block(BLOCKS[2])["way"]
    b = D.decode_primitive_block(BLOCKS[4])["way"]
    t = D.kind_table("way", [a, b])
    hw = [dict(m).get("highway") for m in t.column("tags").to_pylist()]
    assert hw.count("h1") == 2 and hw.count("h3") == 2
    assert np.array_equal(
        t.column("id").to_numpy(),
        np.concatenate([np.arange(100_020, 100_025), np.arange(100_040, 100_047)]),
    )
