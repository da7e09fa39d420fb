"""Repository benchmark: one seeded workload per run on ``local[nproc]``.

    python3 perfbench/run.py --workload transcode_planet --seed 1 \\
        --seconds 20 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The metric names and
units are the ones ``BENCHMARK.json`` lists. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; times are
scaled to a reference host by ``probe.HostProbe`` (the raw figures go to
stderr):

- ``setup_s``: from process start (driver imports, JVM launch) to a
  warmed session whose Python worker pool has imported the engine;
- ``pass_s``: one pass of the workload's operations, as the sum of each
  operation's median wall time over the passes that fit in ``--seconds``
  (at least three);
- ``input_mb_s``: the workload's input MB over ``pass_s``;
- ``cpu_s_per_gb``: median process-tree CPU seconds (JVM plus Python
  workers) of one pass, per GB of input;
- ``peak_rss_mb``: peak summed RSS of the JVM and its workers while timed.

With ``--trace 1`` it times one pass of the workload twice, each in a
fresh JVM after one warm-up pass: untraced, then with the Spark event log
on, one job group per operation and spans around every call. A workload
that reads PBF then gets a Spark-free kernel pass over its first file. It
prints the per-layer metrics. Inputs, outputs, event logs and spans stay
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# per-layer metric -> the span whose self time it is (PBF layers)
KERNEL_SPANS = {
    "blob.index_s": "blob.index", "blob.read_s": "blob.read",
    "blob.decompress_s": "blob.decompress", "decode.s": "decode.decode",
    "decode.arrow_s": "decode.arrow", "sink.write_s": "sink.write",
    "kernel.self_s": "kernel", "source.catalog_s": "source.catalog",
}
KERNEL_COUNTS = (
    "blob.count", "blob.bytes_in", "blob.bytes_raw", "decode.rows",
    "decode.node_rows", "decode.way_rows", "decode.relation_rows",
    "sink.bytes_out", "sink.files", "sink.row_groups",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def metric_units(trace: int) -> dict[str, str]:
    """``{name: unit}`` of the metrics a run prints, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def pin_environment() -> int:
    """Pin the run environment before the JVM starts (workers inherit it):
    every available core, a fixed driver heap sized to the host, one
    BLAS/OMP thread per worker, no heap pre-touch, and all scratch in the
    checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal")) / 2**20
    heap_gib = max(1, min(8, int(mem_gib // 4)))
    heap = f"{heap_gib}g"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        # a fixed heap size (committed, not pre-touched): lazy heap growth
        # paces GC differently in every fresh JVM and spreads run times and
        # RSS. A fixed young generation, because G1's adaptive one touches
        # a different share of the heap in every JVM: peak RSS spread by
        # ~25% between runs without it, ~2% with it. No hsperfdata file
        # outside the checkout.
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xms{heap} -Xmn{heap_gib * 256}m -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    })
    return cpus


def _warm_task(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    import osm_pbf_parquet_spark.pbf.decode  # noqa: F401
    import osm_pbf_parquet_spark.sinks.native_sink  # noqa: F401

    yield from batches


def start_session(cpus: int, event_log: str | None = None):
    """A warmed session: JVM up, one Python worker per core spawned and
    importing the engine."""
    from osm_pbf_parquet_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", **confs)
    spark.sparkContext.setJobGroup("warm", "warm")
    spark.range(0, cpus, 1, cpus).mapInArrow(_warm_task, "id long").collect()
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants -- the
    JVM's Python worker daemon once the JVM has exited -- so that
    ``reap_children`` sees and waits for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until no child process is left: each gets ``grace_s`` to end on
    its own, then SIGTERM, then SIGKILL."""
    from perfbench.procstat import children

    me = os.getpid()
    signals = [signal.SIGTERM, signal.SIGKILL]
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = children(me)
        if not left:
            return
        if time.monotonic() >= deadline:
            if not signals:
                log(f"child processes {left} did not end after SIGKILL")
                return
            sig = signals.pop(0)
            log(f"sending {sig.name} to child processes {left}")
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


class Runner:
    """Runs passes of a workload's operations and checks every result."""

    def __init__(self, workload, expected) -> None:
        self.workload = workload
        self.expected = expected
        self.attempted = 0
        self.failed = 0

    def run_op(self, spark, name: str, fn) -> float:
        """Wall seconds of one operation, without its check; a raise counts
        as a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(spark)
        except Exception:
            wall = time.perf_counter() - t0
            self.failed += 1
            log(f"{name} raised:\n{traceback.format_exc()}")
            return wall
        wall = time.perf_counter() - t0
        if not self.workload.check(name, result, self.expected[name]):
            self.failed += 1
            log(f"{name}: output does not match the reference")
        return wall

    def one_pass(self, spark, ops) -> dict:
        return {name: self.run_op(spark, name, fn) for name, fn in ops}


def jvm_pid() -> int:
    """The Spark JVM; the Python workers are its descendants."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def measure(spark, runner: Runner, probe, seconds: float) -> dict:
    """End-to-end metrics over the passes that fit in ``seconds``, raw;
    the host probe is sampled right before each operation."""
    from perfbench.procstat import PeakRss, tree_cpu_s

    wl = runner.workload
    ops = wl.ops()
    jvm = jvm_pid()
    walls: dict[str, list[float]] = {name: [] for name, _ in ops}
    cpus: list[float] = []
    with PeakRss(jvm) as rss:
        start = last = time.perf_counter()
        # whole passes, at least three (the first sits in the JIT warm-up
        # tail, and the median drops it); start one more while it should
        # end in time
        while len(cpus) < 3 or 2 * time.perf_counter() - last - start <= seconds:
            last = time.perf_counter()
            c0 = tree_cpu_s(jvm)
            for name, fn in ops:
                probe.sample()
                walls[name].append(runner.run_op(spark, name, fn))
            cpus.append(tree_cpu_s(jvm) - c0)
    log(f"{len(cpus)} passes, " + ", ".join(
        f"{n} min/median/max {min(w):.3f}/{statistics.median(w):.3f}/{max(w):.3f}s"
        for n, w in walls.items()))
    pass_s = sum(statistics.median(w) for w in walls.values())
    in_gb = wl.input_bytes / 1e9
    return {
        "pass_s": pass_s,
        "input_mb_s": in_gb * 1e3 / pass_s,
        "cpu_s_per_gb": statistics.median(cpus) / in_gb,
        "peak_rss_mb": rss.peak / 2**20,
    }


def warm_runner(spark, wl) -> Runner:
    """One unchecked pass to fill caches and JIT, while the reference
    results are computed beside it."""
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(wl.reference)
        t0 = time.perf_counter()
        for _name, fn in wl.ops():
            fn(spark)
        t1 = time.perf_counter()
        runner = Runner(wl, expected.result())
    log(f"warm-up pass {t1 - t0:.2f}s, reference "
        f"{time.perf_counter() - t1:.2f}s more")
    return runner


def run_untraced(args, cpus: int, t_proc: float) -> tuple[dict, Runner]:
    from perfbench.probe import REFERENCE_S, HostProbe
    from perfbench.workloads import WORKLOADS

    spark = start_session(cpus)
    setup_s = time.time() - t_proc
    log(f"set-up {setup_s:.2f}s")
    with HostProbe(cpus) as probe:
        probe.sample()
        wl = WORKLOADS[args.workload](WORK, args.seed)
        wl.prepare()
        runner = warm_runner(spark, wl)
        raw = {"setup_s": setup_s, **measure(spark, runner, probe, args.seconds)}
    spark.stop()
    speed = probe.speed()
    log("host probe " + ", ".join(f"{t:.3f}" for t in probe.samples)
        + f"s, reference host {REFERENCE_S}s: raw {raw}")
    # times and CPU seconds scale with the host's speed, throughput
    # inversely; memory does not
    return {
        "setup_s": raw["setup_s"] * speed,
        "pass_s": raw["pass_s"] * speed,
        "input_mb_s": raw["input_mb_s"] / speed,
        "cpu_s_per_gb": raw["cpu_s_per_gb"] * speed,
        "peak_rss_mb": raw["peak_rss_mb"],
    }, runner


def run_traced(args, cpus: int) -> tuple[dict, Runner]:
    from osm_pbf_parquet_spark.sources.pbf_source import pbf_blob_catalog

    from perfbench import eventlog
    from perfbench.tracing import Tracer, kernel_pass, way_scan
    from perfbench.workloads import REGISTRY_QUERIES, WORKLOADS

    tracer = Tracer(f"{args.workload}-s{args.seed}")
    wl = WORKLOADS[args.workload](WORK, args.seed)
    wl.prepare()
    # the reference is computed beside the JVM launch, so that both timed
    # sides below have the same unshared warm-up pass
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(wl.reference)
        spark = start_session(cpus)
        runner = Runner(wl, expected.result())
    ops = wl.ops()
    for _name, fn in ops:
        fn(spark)
    untraced = runner.one_pass(spark, ops)
    spark.stop()
    shutdown_jvm()  # the traced side starts from a fresh JVM as well

    log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-s{args.seed}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = start_session(cpus, event_log=log_dir)
    for _name, fn in ops:
        fn(spark)
    traced = {}
    with tracer.span("pass.traced"):
        for name, fn in ops:
            spark.sparkContext.setJobGroup(f"op:{name}", name)
            with tracer.span(f"op.{name}"):
                traced[name] = runner.run_op(spark, name, fn)
    if wl.pbf_paths:
        spark.sparkContext.setJobGroup("catalog", "catalog")
        with tracer.span("source.catalog"):
            pbf_blob_catalog(spark, wl.pbf_paths[0])
    spark.stop()  # flushes the event log

    metrics = {}
    if wl.pbf_paths:
        with tracer.span("kernel.pass"):
            kernel_pass(tracer, wl.pbf_paths[:1],
                        os.path.join(WORK, "out", "kernel"))
        way_scan(tracer, wl.pbf_paths[0])
        self_s, counts = tracer.self_times(), tracer.counts
        kernel_s = next(s["end"] - s["start"] for s in tracer.spans
                        if s["name"] == "kernel.pass")
        for key, span_name in KERNEL_SPANS.items():
            metrics[key] = self_s[span_name]
        for key in KERNEL_COUNTS:
            metrics[key] = counts[key]
        metrics["kernel.mb_s"] = counts["blob.bytes_in"] / 1e6 / kernel_s
        metrics["source.useful_blob_ratio"] = (
            counts["source.useful_blobs"] / counts["source.blobs_read"])
    else:  # the PBF layers do no work here
        metrics.update(dict.fromkeys(
            [*KERNEL_SPANS, *KERNEL_COUNTS, "kernel.mb_s",
             "source.useful_blob_ratio"], 0))
    tracer.write(os.path.join(WORK, "traces", f"{tracer.trace_id}.json"))

    groups = eventlog.parse(log_dir)
    own = [g for key, g in groups.items() if key.startswith("op:")]
    if not own:
        raise RuntimeError(f"no op: job group in the event log under {log_dir}")
    metrics.update(eventlog.summarize(own))
    untraced_s, traced_s = sum(untraced.values()), sum(traced.values())
    log(f"untraced pass {untraced_s:.3f}s, traced pass {traced_s:.3f}s")
    metrics["trace.overhead_ratio"] = (traced_s - untraced_s) / untraced_s
    for q in REGISTRY_QUERIES:  # 0 on a workload that runs no query
        metrics[f"query.{q}.s"] = traced.get(q, 0)
        metrics[f"query.{q}.shuffle_bytes"] = (
            groups[f"op:{q}"]["shuffle_write_bytes"] if q in traced else 0)
    return metrics, runner


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for needed in ("osm_pbf_parquet_spark/__init__.py", "tests/pbf_encoder.py",
                   "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            log(f"{needed} is missing: run from a checkout of the repository")
            return 2
    units = metric_units(args.trace)
    cpus = pin_environment()
    log(f"{args.workload} seed={args.seed} trace={args.trace} on {cpus} cores")
    adopt_orphans()
    # a SIGTERM unwinds through the clean-up below instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        if args.trace:
            metrics, runner = run_traced(args, cpus)
        else:
            metrics, runner = run_untraced(args, cpus, t_proc)
    finally:
        try:
            shutdown_jvm()
        finally:
            reap_children()
    if set(metrics) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    sys.exit(main())
