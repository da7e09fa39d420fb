"""Property test for the shared banded-Hamming core: on ARBITRARY
fingerprint sets and (bands, max_distance) geometries satisfying the
pigeonhole precondition, the banded plan must equal brute-force
all-pairs exactly — recall AND precision, not approximately. This is
the claim both the text SimHash and image dHash gates rest on, checked
beyond the fixed corpora (adversarial shapes: all-identical hashes,
single-bit neighbors, bit patterns clustered in one band)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from osm_pbf_parquet_spark.operators.dedup import (
    _pigeonhole_guard,
    banded_hamming_pairs,
)

geometries = st.sampled_from(
    [(28, 4, 3), (28, 4, 1), (32, 8, 5), (16, 2, 1), (64, 4, 2)]
)  # (n_bits, bands, max_distance), all max_distance < bands


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_banded_equals_brute_force(spark, data):
    n_bits, bands, maxd = data.draw(geometries)
    # draw raw n_bits patterns, store as SIGNED int64 two's complement —
    # a 64-bit fingerprint with the sign bit set is exactly what the
    # real simhash column contains, and exercises arithmetic-shiftright
    # sign extension against the band mask
    raws = data.draw(
        st.lists(st.integers(0, 2**n_bits - 1), min_size=2, max_size=14)
    )
    signed = [r - 2**64 if r >= 2**63 else r for r in raws]
    rows = [(i + 1, h) for i, h in enumerate(signed)]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    want = {}
    for i, (ka, ha) in enumerate(rows):
        for kb, hb in rows[i + 1 :]:
            d = bin((ha ^ hb) & (2**64 - 1)).count("1")
            if d <= maxd:
                want[(ka, kb)] = d
    # BOTH physical strategies — the codegen'd self-join and the r12
    # grouped numpy kernel — must equal brute force exactly on the same
    # draws (they share the explode; only the in-bucket enumeration
    # differs)
    for kernel in (False, True):
        out = banded_hamming_pairs(
            df, "doc_id", "fp", n_bits, bands, maxd, bucket_kernel=kernel
        ).collect()
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
        # cardinality too: a pair sharing several bands must be emitted
        # ONCE (the distinct), not once per shared band — the dict alone
        # would silently collapse duplicates
        assert len(out) == len(got), f"kernel={kernel}"
        assert got == want, f"kernel={kernel}"


def test_pigeonhole_guard_rejects_unsound_geometry():
    with pytest.raises(ValueError):
        _pigeonhole_guard(bands=4, max_distance=4)
    _pigeonhole_guard(bands=4, max_distance=3)  # boundary is sound


def test_hot_bucket_frames_are_bounded(monkeypatch):
    """One degenerate all-equal bucket: the partition kernel yields a
    frame as soon as the pair bound is passed INSIDE the bucket, so no
    frame exceeds the bound plus one block's pairs, and the frames
    together hold exactly the unbounded run's pairs."""
    import numpy as np
    import pandas as pd

    from osm_pbf_parquet_spark.operators import dedup

    n = 3000  # > one 1024-row block
    block_pairs = min(1024, 8_000_000 // n) * n
    pdf = pd.DataFrame({
        "_band": np.zeros(n, np.int64),
        "_bits": np.full(n, 7, np.int64),
        "_k": np.arange(n, 0, -1, dtype=np.int64),
        "_h": np.full(n, -0x0123456789ABCDEF, np.int64),
    })

    def frames(bound):
        monkeypatch.setattr(dedup, "_PAIRS_PER_FRAME", bound)
        return list(dedup._bucket_pairs_map_kernel(0)(iter([pdf])))

    def pairs(fs):
        out = pd.concat(fs, ignore_index=True)
        return out.sort_values(["doc_a", "doc_b"]).to_numpy()

    bound = 100_000
    bounded = frames(bound)
    sizes = [len(f) for f in bounded]
    assert sum(1 for s in sizes if s) >= 3
    assert max(sizes) <= bound + block_pairs < n * (n - 1) // 2
    unbounded = frames(10 * n * n)
    assert [len(f) for f in unbounded] == [n * (n - 1) // 2]
    got = pairs(bounded)
    assert (got == pairs(unbounded)).all()
    assert (got[:, 0] < got[:, 1]).all() and (got[:, 2] == 0).all()
