"""Benchmark runner: one named workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0

Run it from the repository root. The workload's inputs are generated
from ``--seed`` under ``.bench_work/`` in the working directory, the
session runs on ``local[<cpu count>]``, and ops run as a closed loop
with one client, in whole rounds, until ``--seconds`` have elapsed.
Outputs are verified after the timed phase. The last line of standard
output is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

PKG = "building_coffee_commodity_trading_data_warehouse_spark"

# metric name -> (unit, better). BENCHMARK.json lists exactly these.
E2E = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "ops_per_s": ("ops/s", "higher"),
    "stored_bytes_per_input_byte": ("ratio", "lower"),
}
SPAN_COUNTERS = {
    "calls": ("count", "lower"),
    "busy_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "py_worker_cpu_s": ("s", "lower"),
}
WORKLOAD_LAYER = {
    "spark.construct_s": ("s", "lower"),
    "spark.construct_jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "catalyst.ms": ("ms", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "plans.ingest.bytes_written_per_delivered_byte": ("ratio", "lower"),
    "plans.ods.partition_dirs": ("count", "lower"),
    "index.files": ("count", "lower"),
    "index.bytes": ("bytes", "lower"),
    "index.survivor_frac": ("ratio", "higher"),
    "tracing.overhead_frac": ("ratio", "lower"),
    # End-to-end by nature but not gated: no op fails, so this is 0,
    # and the JVM's adaptive heap sizing moves peak RSS by up to 40%
    # between runs.
    "failed_frac": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}


def layer_catalog(spans) -> dict:
    """Every per-layer metric: six counters per span, then the
    workload-level ones."""
    out = {f"{s}.{c}": ub for s in spans for c, ub in SPAN_COUNTERS.items()}
    out.update(WORKLOAD_LAYER)
    return out


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on the VM's CPUs;
    the run prints its share of the timed phase beside the metrics."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _mark(what: str) -> None:
    print(f"[perfbench] {_process_age_s():6.1f} s: {what}", file=sys.stderr, flush=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gw = SparkContext._gateway
    proc = gw.proc if gw is not None else None
    others = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in others:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _isolate(work: str) -> None:
    """Keep every file the run writes (Python temp files, Spark local
    dirs, the JVM's temp dir) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} "
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse-dir'))} "
        "pyspark-shell"
    )
    tempfile.tempdir = None


def _run_op(label, fn, tracer, traced: bool) -> tuple[float, bool]:
    if traced:
        tracer.begin_op(label)
    t0 = time.perf_counter()
    ok = True
    try:
        fn()
    except Exception:
        traceback.print_exc()
        ok = False
    wall = time.perf_counter() - t0
    if traced:
        tracer.end_op()
    print(f"[perfbench] op {label} {wall:.3f} s{' traced' if traced else ''}", file=sys.stderr, flush=True)
    return wall, ok


def timed_phase(workload, tracer, seconds: float, trace: bool) -> list[dict]:
    """Whole rounds until ``seconds`` have elapsed.

    Traced, every op position runs once traced and once not,
    alternating which goes first; ops of one pair share a ``pair`` key.
    A repeatable workload runs one untraced round first, so that both
    runs of a pair are warm; the others pair consecutive rounds. A
    traced run ends with the workload's probe ops, traced, once each."""
    ops, r, t0 = [], 0, time.perf_counter()

    def run(label, fn, traced, pair=None):
        wall, ok = _run_op(label, fn, tracer, traced)
        ops.append({"label": label, "wall": wall, "ok": ok, "traced": traced, "pair": pair})

    if trace and workload.repeatable:
        for label, fn in workload.round(r):
            run(label, fn, False)
        r += 1
    while True:
        if not trace:
            for label, fn in workload.round(r):
                run(label, fn, False)
            r += 1
        elif workload.repeatable:
            for j, (label, fn) in enumerate(workload.round(r)):
                for traced in (j % 2 == 0, j % 2 == 1):
                    run(label, fn, traced, (r, j))
            r += 1
        else:
            for half in (0, 1):
                for j, (label, fn) in enumerate(workload.round(r)):
                    run(label, fn, (j + half) % 2 == 0, (r - half, j))
                r += 1
        if time.perf_counter() - t0 >= seconds:
            break
    if trace:
        for label, fn in workload.probes():
            run(label, fn, True)
    return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(os.path.join(root, PKG))):
        print(f"perfbench: {PKG} not found under {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import stats, workloads
    from perfbench.trace import Tracer, vm_hwm_kb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _isolate(work)

    from building_coffee_commodity_trading_data_warehouse_spark.session import get_spark

    spark = get_spark(cpus=os.cpu_count())
    _mark("session started")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark) if args.trace else Tracer()
        wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, tracer)
        wl.setup(spark)
        _mark("inputs generated")
        wl.warmup()
        setup_s = _process_age_s()
        _mark("warm-up op done")

        steal0, t0 = _cpu_steal(), time.perf_counter()
        ops = timed_phase(wl, tracer, args.seconds, bool(args.trace))
        timed_wall, steal1 = time.perf_counter() - t0, _cpu_steal()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

        # untimed: verification, then storage measured at run end
        _mark("timed phase done")
        failures = wl.verify()
        _mark("verification done")
        for op in ops:
            op["ok"] = op["ok"] and "*" not in failures and op["label"] not in failures
        for label, why in failures.items():
            print(f"[perfbench] verification failed for {label}: {why}", file=sys.stderr)
        stored_bytes = wl.stored_bytes()
        stored = stats.stored_per_input(stored_bytes, wl.input_bytes)
        attempted, failed = len(ops), sum(not op["ok"] for op in ops)
        failed_frac = failed / attempted

        if not args.trace:
            walls = [op["wall"] for op in ops]
            tail, tail_pct, n = stats.tail(walls)
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(walls),
                "op_tail_s": tail,
                "ops_per_s": attempted / timed_wall,
                "stored_bytes_per_input_byte": stored,
            }
            metrics = {k: (values[k], E2E[k][0]) for k in E2E}
            shown = dict(metrics, peak_rss_mb=(peak_rss_mb, "MB"), failed_frac=(failed_frac, "ratio"))
            for name, (value, unit) in shown.items():
                print(f"{args.workload} {name} = {value:.6g} {unit}")
            print(f"{args.workload} op_tail_s is p{tail_pct:g} of n={n} ops")
            print(f"{args.workload} stored {stored_bytes} B over {wl.input_bytes} B of input")
            correct = failed == 0
        else:
            totals = tracer.totals()
            values = dict.fromkeys(WORKLOAD_LAYER, 0.0)
            values.update(tracer.layer_metrics(workloads.ALL_SPANS))
            values.update(
                {
                    "spark.construct_s": tracer.construct_s,
                    "spark.construct_jobs": tracer.construct_jobs,
                    "spark.stages": totals["stages"],
                    "spark.spill_bytes": totals["spill_bytes"],
                    "catalyst.ms": tracer.catalyst_ms,
                    "jvm.gc_s": tracer.gc_s,
                    "tracing.overhead_frac": stats.paired_overhead(ops),
                    "failed_frac": failed_frac,
                    "peak_rss_mb": peak_rss_mb,
                }
            )
            values.update(wl.layer_extras(tracer))
            metrics = {name: (values[name], unit) for name, (unit, _b) in layer_catalog(workloads.ALL_SPANS).items()}
            coverage = min(op["coverage"] for op in tracer.ops)
            trace_path = os.path.join(root, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
            print(f"{args.workload} spans written to {trace_path}; min op coverage {coverage:.3f}")
            correct = failed == 0 and coverage >= 0.9
        print(f"{args.workload} host CPU steal during the timed phase: {100 * steal:.1f}%")
        print(f"{args.workload} verification: {'PASS' if correct else 'FAIL'} ({failed}/{attempted} ops failed)")
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    _mark("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
