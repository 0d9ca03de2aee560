"""Benchmark of the validation engine, end to end and layer by layer.

  python3 perfbench/run.py --workload suite_full --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload all --seed 1

Run from any directory: the checkout root (this file's parent's parent)
is put on the import path of the driver and of Spark's Python workers.
One process per workload: it gates on load before it starts the JVM,
sets up a Spark session on local[<cores>], makes the workload's inputs
from ``--seed`` (untimed), then runs timed passes until ``--seconds``
have elapsed and the workload's minimum number of passes has run, and
checks every verdict or query answer against its golden.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it carries the sample counts, load, datagen time and failures.  A golden
mismatch makes the exit code 1; an error exits 1 before any result line.

``--workload all`` runs every workload untraced and traced, one child
process each, prints each child's lines plus the tracing overhead
(traced minus untraced ``pass_wall_s``), and ends with one combined
result line whose metric names carry the workload as a prefix.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

from stats import OpCounter, percentile, tail_percentile  # noqa: E402

WORKLOAD_NAMES = ("suite_full", "query_library")
END_TO_END: list[tuple[str, str]] = [
    ("setup_s", "s"),
    ("pass_wall_s", "s"),
]
# benchlib's default limit of 5.0 was set for 32 cores; scale it to this
# host.  A run that follows another one starts at a 1-minute loadavg of
# 0.5 to 1.4 x cores, its predecessor's own load decaying on idle cores,
# which the gate lets through; a host that other work oversubscribes
# waits
GATE_LOAD_PER_CORE = 1.5
GATE_TIMEOUT_S = 15
WORK = ".perfbench_work"


def host() -> dict:
    """Cores this process may use, and a driver heap that leaves most of
    the machine's memory to others: a quarter of it, at most 4 GiB."""
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = max(1024, min(4096, mem // 4 // 2**20))
    return {"cores": cores, "driver_memory": f"{heap_mb}m"}


def _cpu_ticks() -> tuple[int, int]:
    """All and stolen CPU ticks since boot (/proc/stat).  Steal is time
    the hypervisor ran another guest on this machine's CPUs: the share
    of it during a pass labels a run slowed by its neighbours."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def _jvm_rss_bytes(spark) -> int:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return 0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(name: str, seed: int, seconds: int, trace: bool) -> int:
    h = host()
    cores = h["cores"]
    work = os.path.join(ROOT, WORK, f"{name}-{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every file Spark, its Python workers and this process write stays
    # inside the checkout; workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    eventlog_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            # the standard library cannot read the default zstd codec
            "spark.eventLog.compress": "false",
        })
    try:
        return _measure(name, seed, seconds, trace, h, work, conf,
                        eventlog_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(name, seed, seconds, trace, h, work, conf, eventlog_dir) -> int:
    from benchlib import loadavg_1m, wait_for_quiet

    cores = h["cores"]
    # gate before the JVM starts, and keep the wait out of setup_s
    max_load = GATE_LOAD_PER_CORE * cores
    t = time.time()
    load_start, gate_timed_out = wait_for_quiet(
        max_load=max_load, timeout_s=GATE_TIMEOUT_S, poll_s=1)
    gate_wait_s = time.time() - t

    import ensembl_datacheck_spark.checks  # noqa: F401  (registration)
    from ensembl_datacheck_spark import registry
    from ensembl_datacheck_spark.session import get_spark

    import workloads

    t = time.time()
    spark = get_spark(f"perfbench-{name}", cores=cores,
                      driver_memory=h["driver_memory"], extra_conf=conf)
    get_spark_s = time.time() - t
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = time.time() - T_START - gate_wait_s

        wl = workloads.WORKLOADS[name](spark, work, seed, cores)
        t = time.time()
        wl.prepare()
        datagen_s = time.time() - t

        tracer = restore = None
        if trace:
            import tracing

            tracer = tracing.Tracer(spark.sparkContext)
            restore = tracing.install(tracer)
        ops = OpCounter()
        passes, windows = [], []
        ticks_start = _cpu_ticks()
        t_meas = time.perf_counter()
        try:
            while True:
                pid = len(passes)
                if tracer:
                    tracer.pass_id = pid
                    with tracer.span("pass") as ps:
                        passes.append(wl.run_pass(pid, ops, tracer))
                    windows.append((ps.start, ps.end))
                else:
                    passes.append(wl.run_pass(pid, ops))
                if (len(passes) >= wl.min_passes
                        and time.perf_counter() - t_meas >= seconds):
                    break
        finally:
            if restore:
                restore()
        load_end = loadavg_1m()
        ticks_end = _cpu_ticks()
        rss = _jvm_rss_bytes(spark) if trace else 0
    finally:
        _stop_spark(spark)

    # per-operation latency, informational: a check's wall inside a run
    # of four concurrent lanes swings with their interleaving
    op_walls = [w for p in passes for w in p.op_walls]
    tail = tail_percentile(len(op_walls))
    info = {
        "workload": name, "seed": seed, "trace": int(trace),
        **h, "passes": len(passes), "ops_timed": len(op_walls),
        "op_p50_s": percentile(op_walls, 50),
        "op_tail_percentile": tail,
        "op_tail_s": percentile(op_walls, tail) if tail else None,
        "datagen_s": datagen_s, "gate_max_load": max_load,
        "gate_wait_s": gate_wait_s, "gate_timed_out": gate_timed_out,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "steal_share": ((ticks_end[1] - ticks_start[1])
                        / max(ticks_end[0] - ticks_start[0], 1)),
        "attempted": ops.attempted, "failed": ops.failed,
        "failed_ratio": ops.failed_ratio, "failures": ops.failures[:20],
        "pass_details": [p.details for p in passes],
    }
    if trace:
        import eventlog
        import layers

        small = {s.name for s in registry.default_suite()
                 if "sequences" not in s.tables}
        log = eventlog.EventLog(eventlog.read_events(eventlog_dir))
        values = layers.compute(
            tracer.spans, log, windows, cores, passes, small,
            {"get_spark_s": get_spark_s, "datagen_s": datagen_s,
             "driver_rss_bytes": rss})
        units = dict(layers.PER_LAYER)
        scans = values["sources.sequences_scans"]
        if scans:
            # the scan nodes' "size of files read" against the parquet
            # files on disk: 1.0 when every scan read the whole table
            info["sequences_scan_bytes_vs_parquet"] = (
                values["sources.sequences_bytes"]
                / (scans * wl.sequences_bytes))
        traces = os.path.join(ROOT, WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        span_file = os.path.join(traces, f"{name}-seed{seed}.spans.jsonl")
        tracer.write(span_file)
        info["spans_file"] = os.path.relpath(span_file, ROOT)
    else:
        units = dict(END_TO_END)
        values = {
            "setup_s": setup_s,
            "pass_wall_s": statistics.median(p.wall_s for p in passes),
        }
        info["samples"] = {"setup_s": 1, "pass_wall_s": len(passes)}
    print(json.dumps(info))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if ops.failed == 0 else 1


def run_all(seed: int, seconds: int) -> int:
    """Every workload untraced then traced, one child process each."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOAD_NAMES:
        walls = {}
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 name, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, check=False)
            lines = out.stdout.strip().splitlines()
            print("\n".join(lines[-2:]))
            if out.returncode != 0 or not lines:
                merged["correct"] = False
                code = out.returncode or 1
                if not lines:
                    continue
            res = json.loads(lines[-1])
            merged["correct"] &= res["correct"]
            merged["attempted"] += res["attempted"]
            merged["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                merged["metrics"][f"{name}.{k}"] = v
            key = "trace.pass_wall_s" if trace else "pass_wall_s"
            walls[trace] = res["metrics"][key]["value"]
        if len(walls) == 2:
            overhead = walls[1] - walls[0]
            print(json.dumps({"workload": name,
                              "trace_overhead_s": overhead}))
            merged["metrics"][f"{name}.trace.overhead_s"] = {
                "value": overhead, "unit": "s"}
    print(json.dumps(merged))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
