"""The benchmark's workloads: inputs, timed operations and the check of
every operation's output.

- ``transcode_planet``: the reference's product -- a planet-shaped,
  dense-node dominated PBF to zstd-3 hive-partitioned Parquet through
  ``sinks.native_sink.transcode_pbf``. Blob read, decompress, decode and
  Parquet write; no shuffle.
- ``registry_queries``: a slice of the query registry over seeded tables.
  Python workers and shuffles in ``operators``/``plans``; no PBF layer, so
  a PBF change should read flat here.

Every operation's result is compared with what the generator wrote (the
transcode) or with the query's DuckDB oracle.
"""

from __future__ import annotations

import os
import sys

from . import inputs


def _duck_limits(con, work_dir: str):
    """Two threads, so a reference computed beside a warm-up pass leaves
    the cores to Spark, and spills inside the checkout."""
    con.execute("SET threads = 2")
    spill = os.path.join(work_dir, "tmp", "duckdb").replace("'", "''")
    con.execute(f"SET temp_directory = '{spill}'")
    return con


class Workload:
    """Inputs (``prepare``), timed operations (``ops``), their reference
    results (``reference``) and the comparison of the two (``check``)."""

    name = ""

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.input_bytes = 0
        self.pbf_paths: list[str] = []

    def prepare(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[tuple]:
        """``[(op_name, fn(spark) -> result)]`` for one pass."""
        raise NotImplementedError

    def reference(self) -> dict:
        """``{op_name: expected}``; may run on a background thread."""
        raise NotImplementedError

    def check(self, op: str, result, expected) -> bool:
        raise NotImplementedError


class TranscodePlanet(Workload):
    name = "transcode_planet"

    def prepare(self) -> None:
        self.planet = inputs.planet_pbf(os.path.join(self.work_dir, "inputs"),
                                        self.seed)
        self.pbf_paths = self.planet["paths"]
        self.input_bytes = self.planet["bytes"]
        self.out_dir = os.path.join(self.work_dir, "out", "transcode")

    def ops(self) -> list[tuple]:
        from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf

        def transcode(spark):
            return transcode_pbf(spark, self.pbf_paths, self.out_dir,
                                 compression="zstd", zstd_level=3)

        return [("transcode", transcode)]

    def reference(self) -> dict:
        return {"transcode": self.planet["expected"]}

    def check(self, op: str, result, expected) -> bool:
        """Per-kind row counts and id sums equal the generator's, in both
        the returned stats and the files; ``_SUCCESS`` exists and no
        ``.inprogress`` file remains."""
        if result["rows"] != {k: v["rows"] for k, v in expected.items()}:
            return False
        if not os.path.exists(os.path.join(self.out_dir, "_SUCCESS")):
            return False
        for _dir, _sub, files in os.walk(self.out_dir):
            if any(f.endswith(".inprogress") for f in files):
                return False
        import duckdb

        with duckdb.connect() as con:
            got = _duck_limits(con, self.work_dir).execute(
                "SELECT type, count(*), sum(id) FROM read_parquet(?, "
                "hive_partitioning = true) GROUP BY type",
                [os.path.join(self.out_dir, "*", "*.parquet")],
            ).fetchall()
        want = {k: (v["rows"], v["id_sum"]) for k, v in expected.items()}
        return {t: (int(n), int(s)) for t, n, s in got} == want


# --- registry_queries -----------------------------------------------------

# Relational scan/aggregate, joins and the Python-worker dedup kernel --
# trimmed so a run (JVM start, warm-up pass, two timed passes) stays near
# a minute on 4 cores. Keep the order: without the join query ahead of it,
# dedup_minhash_lsh measured slower and less steady.
REGISTRY_QUERIES = ("pricing_summary", "region_revenue", "dedup_minhash_lsh")


class RegistryQueries(Workload):
    name = "registry_queries"

    def prepare(self) -> None:
        self.tables = inputs.registry_tables(
            os.path.join(self.work_dir, "inputs"), self.seed)
        self.input_bytes = self.tables["bytes"]

    def ops(self) -> list[tuple]:
        import __spark_entry__

        registry = __spark_entry__.queries()
        sf_dir = self.tables["dir"]

        def op(name):
            fn = registry[name]
            return name, lambda spark: fn(spark, sf_dir).toPandas()

        return [op(name) for name in REGISTRY_QUERIES]

    def reference(self) -> dict:
        import __spark_entry__
        from oracle_harness import duck_connect

        oracle = __spark_entry__.oracle_sql()
        with duck_connect(self.tables["dir"]) as con:
            _duck_limits(con, self.work_dir)
            return {name: con.execute(oracle[name]).df()
                    for name in REGISTRY_QUERIES}

    def check(self, op: str, result, expected) -> bool:
        from oracle_harness import compare_frames

        try:
            compare_frames(result, expected, op)
        except AssertionError as exc:
            print(f"{op}: {exc}", file=sys.stderr)
            return False
        return True


WORKLOADS = {w.name: w for w in (TranscodePlanet, RegistryQueries)}
