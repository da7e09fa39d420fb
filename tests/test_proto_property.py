"""Property tests for the proto wire-format layer: every vectorized
decoder must agree exactly with the sequential scalar reference
(`read_varint` / `message_fields`) on arbitrary valid inputs.

These pin the trickiest numpy code in the repo — lane-frontier message
scanning, bulk varint decode, range extraction — against independently
written scalar logic, over inputs the golden fixtures never reach
(10-byte varints, empty fields, wire-1/5 skips, multi-occurrence packed
fields).
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings, strategies as st

from osm_pbf_parquet_spark.pbf.proto import (
    encode_varint,
    extract_ranges,
    message_fields,
    read_varint,
    scan_message_batch,
    scan_wire2_fields,
    uvarints_from_raw,
)

u64s = st.integers(min_value=0, max_value=2**64 - 1)


@given(st.lists(u64s, min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_uvarints_from_raw_matches_scalar(values):
    buf = b"".join(encode_varint(v) for v in values)
    got = uvarints_from_raw(np.frombuffer(buf, dtype=np.uint8))
    assert [int(x) for x in got] == values
    # scalar cross-check
    pos, scalar = 0, []
    while pos < len(buf):
        v, pos = read_varint(buf, pos)
        scalar.append(v)
    assert scalar == values


@st.composite
def proto_messages(draw):
    """Random valid proto message: list of (field_no, wire, value)."""
    n = draw(st.integers(0, 12))
    fields = []
    for _ in range(n):
        fno = draw(st.integers(1, 200))
        wire = draw(st.sampled_from([0, 0, 2, 2, 2, 1, 5]))
        if wire == 0:
            val = draw(u64s)
        elif wire == 2:
            val = draw(st.binary(max_size=40))
        elif wire == 1:
            val = draw(st.binary(min_size=8, max_size=8))
        else:
            val = draw(st.binary(min_size=4, max_size=4))
        fields.append((fno, wire, val))
    return fields


def _encode(fields) -> bytes:
    out = bytearray()
    for fno, wire, val in fields:
        out += encode_varint((fno << 3) | wire)
        if wire == 0:
            out += encode_varint(val)
        elif wire == 2:
            out += encode_varint(len(val)) + val
        else:
            out += val
    return bytes(out)


@given(msgs=st.lists(proto_messages(), min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_scan_message_batch_matches_message_fields(msgs):
    """The lane-frontier batch scanner must report exactly the wire-0
    values and wire-2 byte ranges that the scalar scan sees, per lane,
    in message order."""
    payloads = [_encode(m) for m in msgs]
    arr, (sf, sl, sv), (rf, rl, rs, rn) = scan_message_batch(payloads)
    # every reported range must sit inside its lane's byte window
    base = np.cumsum([0] + [len(p) for p in payloads])
    assert ((rs >= base[rl]) & (rs + rn <= base[rl + 1])).all()
    for lane, (payload, fields) in enumerate(zip(payloads, msgs)):
        scalar = message_fields(payload)
        # wire-0 values per field_no, in occurrence order
        want0 = {}
        want2 = {}
        for fno, wire, val in fields:
            if wire == 0:
                want0.setdefault(fno, []).append(val & 0xFFFFFFFFFFFFFFFF)
            elif wire == 2:
                want2.setdefault(fno, []).append(val)
        m = sl == lane
        got0 = {}
        for fno, v in zip(sf[m], sv[m]):
            got0.setdefault(int(fno), []).append(int(v))
        assert got0 == want0
        m2 = rl == lane
        got2 = {}
        # occurrences are iteration-major == message order for one lane
        for fno, s, ln in sorted(zip(rf[m2], rs[m2], rn[m2]), key=lambda t: t[1]):
            got2.setdefault(int(fno), []).append(
                arr[int(s):int(s) + int(ln)].tobytes()
            )
        assert got2 == {k: [bytes(x) for x in v] for k, v in want2.items()}
        # scalar scan sees every generated field_no (wire-1/5 included)
        assert set(scalar) == {fno for fno, _w, _v in fields}


@given(msgs=st.lists(proto_messages(), min_size=1, max_size=6))
@example(msgs=[[(1, 0, 5), (3, 2, b"ab"), (2, 2, b"")]])  # a wire-0 field
@example(msgs=[[(17, 2, b"xyz"), (1, 2, b"a"), (300, 0, 2**64 - 1)]])  # key ≥ 16
@example(msgs=[[(4, 1, b"\x00" * 8), (4, 2, b"q"), (5, 5, b"\xff" * 4)]])
@settings(max_examples=60, deadline=None)
def test_scan_wire2_fields_fallback_contract(msgs):
    """scan_wire2_fields is total: on any valid message it returns
    exactly message_fields' wire-2 fields, in message order, skipping
    wire-0/1/5 fields and reading multi-byte keys."""
    for fields in msgs:
        payload = _encode(fields)
        fnos, ranges = scan_wire2_fields(payload)
        mv = memoryview(payload)
        got = [(int(f), bytes(mv[int(s):int(e)]))
               for f, s, e in zip(fnos, ranges.starts, ranges.ends)]
        assert got == [(fno, val) for fno, w, val in fields if w == 2]
        # the same values message_fields reports at each wire-2 position
        scalar = message_fields(payload)
        at = {fno: iter(vals) for fno, vals in scalar.items()}
        want = []
        for fno, w, _val in fields:
            v = next(at[fno])
            if w == 2:
                want.append((fno, bytes(v)))
        assert got == want


@given(
    n_ranges=st.integers(0, 20),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_extract_ranges_matches_naive(n_ranges, data):
    buf = data.draw(st.binary(min_size=1, max_size=300))
    arr = np.frombuffer(buf, dtype=np.uint8)
    starts, lens, lanes = [], [], []
    pos = 0
    for i in range(n_ranges):
        if pos >= len(buf):
            break
        ln = data.draw(st.integers(0, len(buf) - pos))
        starts.append(pos)
        lens.append(ln)
        lanes.append(i % 3)
        pos += ln + data.draw(st.integers(0, 3))  # gaps between ranges
    s = np.array(starts, dtype=np.int64)
    ln = np.array(lens, dtype=np.int64)
    la = np.array(lanes, dtype=np.int64)
    # shuffle occurrence order — extract_ranges must sort internally
    order = data.draw(st.permutations(range(len(starts)))) if starts else []
    idx = np.array(order, dtype=np.int64) if starts else np.empty(0, np.int64)
    blob, nbytes, ends = extract_ranges(
        arr, s[idx] if starts else s, ln[idx] if starts else ln,
        la[idx] if starts else la, 3,
    )
    want = b"".join(buf[a:a + b] for a, b in zip(starts, lens))
    assert blob.tobytes() == want
    # every range's end in the output (ranges tied on start in either order)
    assert sorted(np.diff(ends, prepend=0).tolist()) == sorted(lens)
    want_nbytes = [0, 0, 0]
    for a, b in zip(lanes, lens):
        want_nbytes[a] += b
    assert nbytes.tolist() == want_nbytes
