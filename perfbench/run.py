"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Works from any directory: the repository root (this file's parent
directory) is put on the path of this process and of the Python UDF
workers Spark starts. Everything the run writes goes to a scratch
directory under the repository root, removed at exit.

Set-up runs from process start to the first timed operation: session
start on local[cores] (the seeded input tables are written meanwhile),
a warm-up that starts a Python UDF worker on every core, and the
workload's own warm-up (spatial_sql_mix runs each query once). The
workload then runs whole steps until S seconds have passed, every
output is checked, and the run prints a full record (host, load gate,
every operation) as one JSON line, followed by the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are per layer (means per step); trace.overhead_s is the time
per step that reading the counters added inside timed operations, by
which the traced run's timings exceed an untraced run's.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepare_env(work: str, cores: int) -> None:
    """Environment inherited by the JVM and the Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _start_session(work: str, cores: int):
    from gdal_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity(batches):
    yield from batches


def _warm_workers(spark, cores: int) -> None:
    """Start a Python UDF worker on every core (pandas and pyarrow
    imported) with a pass-through mapInPandas."""
    df = spark.range(0, 1024 * cores, numPartitions=cores)
    df.mapInPandas(_identity, df.schema).count()


def _setup(wl, work: str, cores: int, t0: float, traced: bool):
    """Session start with the inputs written alongside, then worker
    and workload warm-up. Returns (spark, timings)."""
    from perfbench.trace import SparkCounters

    wrote: dict = {}

    def write():
        t = time.time()
        try:
            wl.write_inputs(os.path.join(work, "data"))
        except Exception as e:
            wrote["error"] = e
        wrote["s"] = time.time() - t

    writer = threading.Thread(target=write)
    writer.start()
    spark = _start_session(work, cores)
    t1 = time.time()
    writer.join()
    if "error" in wrote:
        raise RuntimeError("writing the inputs failed") from wrote["error"]
    counters = SparkCounters(spark) if traced else None
    mark = counters.mark() if traced else None
    t2 = time.time()
    _warm_workers(spark, cores)
    t3 = time.time()
    if traced:
        layers = counters.since(mark, t3 - t2)
    wl.warm(spark)
    t4 = time.time()
    timings = {"setup_s": t4 - t0, "session.start_s": t1 - t0,
               "input.write_s": wrote["s"], "warm_s": t3 - t2,
               "workload_warm_s": t4 - t3}
    if traced:
        timings["python.boot_s"] = layers.get("python.boot_s", 0.0)
        timings["python.init_s"] = layers.get("python.init_s", 0.0)
    return spark, timings


def _measure(wl, spark, rec, seconds: float) -> tuple[int, int]:
    """Run whole workload steps until `seconds` have passed (at least
    one). Returns (attempted, failed)."""
    attempted = failed = 0
    t0 = time.monotonic()
    while attempted == 0 or time.monotonic() - t0 < seconds:
        attempted += 1
        rec.step = attempted
        try:
            ok = wl.step(spark, rec)
        except Exception:
            traceback.print_exc()
            ok = False
        failed += 0 if ok else 1
    return attempted, failed


def _stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s = sorted(samples)
    if len(s) < 11:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def latencies(ops: list[dict], kind: str) -> list[float]:
    """Wall time of every `kind` operation."""
    return [o["wall_s"] for o in ops if o["kind"] == kind]


def step_totals(ops: list[dict], kind: str) -> list[tuple[float, float]]:
    """Per step: (total wall time of its `kind` operations, their total rows)."""
    steps: dict[int, list[float]] = {}
    for o in ops:
        if o["kind"] == kind:
            t = steps.setdefault(o["step"], [0.0, 0.0])
            t[0] += o["wall_s"]
            t[1] += o["rows"]
    return [(wall, rows) for wall, rows in steps.values()]


def _median(values: list[float]) -> float:
    """Median; 0 when a failed run left no sample."""
    return statistics.median(values) if values else 0.0


def end_to_end(wl, ops: list[dict], setup: dict, attempted: int, failed: int) -> dict:
    lat = latencies(ops, wl.primary)
    per_step = step_totals(ops, wl.primary)
    # a workload without checkpointed output recovers by running its step again
    resume = latencies(ops, "resume") or [wall for wall, _rows in per_step]
    return {
        "setup_s": setup["setup_s"],
        "pages_per_s": _median([rows / wall for wall, rows in per_step if wall > 0]),
        "query_s_p50": _median(lat),
        "query_s_tail": tail(lat)[0] if lat else 0.0,
        "resume_s": _median(resume),
        "success_rate": 1.0 - failed / attempted,
    }


def result_line(declared: list[dict], metrics: dict, attempted: int, failed: int) -> dict:
    """The run's result: every declared metric with its unit."""
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {d["name"]: {"value": metrics.get(d["name"], 0.0), "unit": d["unit"]}
                    for d in declared},
    }


def per_layer(wl, ops: list[dict], setup: dict, poly_cells: int, rss) -> dict:
    """Per-layer metrics: means per workload step of the traced
    operations' counters, the set-up's parts and derived ratios."""
    steps = max(1, len({o["step"] for o in ops}))
    tot: dict[str, float] = {}
    for o in ops:
        for k, v in o["layers"].items():
            tot[k] = tot.get(k, 0.0) + v

    def by_kind(kind: str, key: str) -> float:
        """Mean of `key` over the operations of one kind."""
        of_kind = [o["layers"].get(key, 0.0) for o in ops if o["kind"] == kind]
        return sum(of_kind) / len(of_kind) if of_kind else 0.0

    primary = [o for o in ops if o["kind"] == wl.primary]
    rows_in = tot.get("mapinpandas.rows_in", 0.0)
    build_exec = by_kind("build", "executor.run_s")
    out = {k: v / steps for k, v in tot.items()}
    out.update({
        "memory.peak_rss_mb": rss.peak / 2**20,
        "memory.jvm_rss_mb": rss.peak_root / 2**20,
        "memory.workers_rss_mb": rss.peak_children / 2**20,
        "session.start_s": setup["session.start_s"],
        "input.write_s": setup["input.write_s"],
        "python.boot_s": setup["python.boot_s"],
        "python.init_s": setup["python.init_s"],
        "prefilter.pass_frac": rows_in / tot["scan.rows"] if tot.get("scan.rows") else 0.0,
        "pip_join.exact_hit_frac": (tot.get("mapinpandas.rows_out", 0.0) / rows_in
                                    if rows_in else 0.0),
        "task.skew": (statistics.median(o["layers"].get("task.skew", 0.0) for o in primary)
                      if primary else 0.0),
        "cache.bytes": max((o["layers"].get("cache.bytes", 0.0) for o in ops),
                           default=0.0),
        "tiles.total": sum(o.get("tiles", 0) for o in ops) / steps,
        "explode.poly_cells": tot.get("explode.calls", 0.0) * poly_cells / steps,
        "checkpoint.resume_recompute_frac": (
            by_kind("resume", "executor.run_s") / build_exec if build_exec else 0.0),
        "checkpoint.verify_s": sum(o["wall_s"] for o in ops
                                   if o["kind"] == "verify") / steps,
    })
    return out


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's self-test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected value (self-test of the checks)")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import gdal_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.trace import SparkCounters, Wrappers
    from perfbench.workloads import WORKLOADS, Recorder

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = _spec()
    cores = host.cores()
    fingerprint = host.fingerprint()
    # back-to-back runs of this benchmark leave a 1-minute load of 3-5 on
    # 4 cores; only a host loaded well beyond its cores holds a run back
    gate = host.wait_for_idle(max_load=2.0 * cores, timeout_s=10.0)
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work, cores)
    wl = WORKLOADS[args.workload][args.size](args.seed, cores)
    traced = bool(args.trace)
    rec = Recorder()
    poly_cells = 0
    spark = None
    try:
        # the load-gate wait is not set-up
        spark, setup = _setup(wl, work, cores, T_PROCESS + gate["waited_s"], traced)
        wl.expect(args.corrupt_expected)
        if traced:
            rec.counters = SparkCounters(spark)
            rec.wrappers = Wrappers(rec.counters)
        with (rec.wrappers or contextlib.nullcontext()), \
                host.PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            attempted, failed = _measure(wl, spark, rec, args.seconds)
        if traced:
            poly_cells = rec.wrappers.poly_cells_per_call()
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    if traced:
        metrics = per_layer(wl, rec.ops, setup, poly_cells, rss)
        declared = spec["per_layer"]
    else:
        metrics = end_to_end(wl, rec.ops, setup, attempted, failed)
        declared = spec["end_to_end"]
    lat = latencies(rec.ops, wl.primary)
    record = {
        "record": "perfbench", "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "host": fingerprint, "load_gate": gate, "load1_after": host.load1(),
        "setup": setup, "samples": len(lat),
        "tail_percentile": tail(lat)[1] if lat else 100.0,
        "ops": [{k: v for k, v in o.items() if k != "layers"} for o in rec.ops],
        "metrics": metrics,
    }
    print(json.dumps(record))
    print(json.dumps(result_line(declared, metrics, attempted, failed)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
