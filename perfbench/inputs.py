"""Seeded benchmark inputs, generated outside every timed region and cached
under ``.perfbench/inputs`` by seed and shape.

All PBF inputs come from ``tests/pbf_encoder.write_synthetic_pbf_fast``;
the registry tables come from ``registry_tables`` below, which mirrors the
shape of the TPC-H-ish star schema plus the ``events``/``documents``/
``embeddings`` tables the registry queries are written against (all of
them: the DuckDB oracle opens a view on every table).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

# Element id layout of write_synthetic_pbf_fast: nodes 1..n, ways from
# 100_000, relations from 500_000 (tests/pbf_encoder.py).
_FIRST_ID = {"node": 1, "way": 100_000, "relation": 500_000}

# Planet shape: dense-node dominated at 10:1:0.1 node:way:relation, split
# into equal shards so a fresh seed generates on all cores in parallel.
# ~75 MB in all: one transcode pass takes ~5-6 s on 4 cores.
PLANET_SHARDS = 4
PLANET_SHARD = {"n_nodes": 1_500_000, "n_ways": 150_000, "n_rels": 15_000}
REGISTRY_SCALE = 0.1  # rows relative to TPC-H sf 1


def _expected(shape: dict) -> dict:
    """Per-kind row counts and id sums the generator writes for ``shape``."""
    out = {}
    for kind, n in (("node", shape["n_nodes"]), ("way", shape["n_ways"]),
                    ("relation", shape["n_rels"])):
        first = _FIRST_ID[kind]
        out[kind] = {"rows": n, "id_sum": n * first + n * (n - 1) // 2}
    return out


_SHARD_SCRIPT = """\
import json, sys
from pbf_encoder import write_synthetic_pbf_fast
a = json.loads(sys.argv[1])
write_synthetic_pbf_fast(a["path"], seed=a["seed"], **a["shape"])
"""


def _write_pbfs(jobs: list[tuple[str, dict, int]]) -> None:
    """Write ``(path, shape, seed)`` PBFs, one child process each, all at
    once. Plain child processes rather than a multiprocessing pool, whose
    spawn context leaves a resource-tracker process behind the run; every
    child is waited for, and killed first if another one failed."""
    import pbf_encoder

    env = {**os.environ, "PYTHONPATH": os.path.dirname(pbf_encoder.__file__)}
    procs = []
    try:
        for path, shape, seed in jobs:
            arg = json.dumps({"path": path, "shape": shape, "seed": seed})
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _SHARD_SCRIPT, arg], env=env))
        failed = [p.args[-1] for p in procs if p.wait() != 0]
        if failed:
            raise RuntimeError(f"PBF generation failed for {failed}")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def _cached(root: str, name: str, build) -> dict:
    """Build ``name`` under ``root`` once; a manifest written last marks a
    complete entry, so an interrupted build is redone, never half-read."""
    final = os.path.join(root, name)
    manifest = os.path.join(final, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)  # paths in it point into the final directory
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, final)
    return meta


def planet_pbf(root: str, seed: int) -> dict:
    """Planet-shaped PBF shards: ``{"paths", "bytes", "expected"}``."""
    name = "planet-s{}-{}x{n_nodes}-{n_ways}-{n_rels}".format(
        seed, PLANET_SHARDS, **PLANET_SHARD)

    def build(tmp: str) -> dict:
        files = [f"shard{i}.osm.pbf" for i in range(PLANET_SHARDS)]
        _write_pbfs([(os.path.join(tmp, f), PLANET_SHARD, seed * 1000 + i)
                     for i, f in enumerate(files)])
        one = _expected(PLANET_SHARD)
        final = os.path.join(root, name)
        return {
            "paths": [os.path.join(final, f) for f in files],
            "bytes": sum(os.path.getsize(os.path.join(tmp, f)) for f in files),
            "expected": {k: {m: v * PLANET_SHARDS for m, v in d.items()}
                         for k, d in one.items()},
        }

    return _cached(root, name, build)


# --- registry tables ------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "us"), np.datetime64(hi, "us")
    span = int((b - a) / np.timedelta64(1, "D"))
    return a + (rng.integers(0, span + 1, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _documents(rng, n: int):
    import pyarrow as pa

    lens = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near-duplicates (an earlier document plus one marker word) and a
    # few exact copies, the dedup/decontamination queries' positive cases
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _registry_tables(rng, sf: float) -> dict:
    import pyarrow as pa

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb, dim = int(1_000_000 * sf), 5_000, 2_000, 64
    i32 = np.int32
    emb = rng.standard_normal((n_emb, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    ts0 = np.datetime64("2024-01-01", "us")
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(
                np.array(adj)[rng.integers(0, 8, n_part)], " "),
                np.array(noun)[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                "ECONOMY", "PROMO"])[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_us(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(rng, "1995-01-02", "2001-11-04", n_li),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
            .astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": np.array(["signup", "purchase", "view", "click",
                                    "error"])[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.char.add(np.char.add('{"k": ',
                                             rng.integers(0, 100, n_ev).astype(str)), "}"),
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        }),
    }


def registry_tables(root: str, seed: int) -> dict:
    """One ``<name>.parquet`` file per table: ``{"dir", "bytes"}``."""
    name = f"registry-s{seed}-sf{REGISTRY_SCALE}"

    def build(tmp: str) -> dict:
        import pyarrow.parquet as pq

        tables = _registry_tables(np.random.default_rng(seed), REGISTRY_SCALE)
        for t_name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{t_name}.parquet"))
        return {
            "dir": os.path.join(root, name),
            "bytes": sum(os.path.getsize(os.path.join(tmp, f))
                         for f in os.listdir(tmp)),
        }

    return _cached(root, name, build)
