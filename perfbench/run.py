"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One process, one
client, ``local[<usable cores>]``. The run writes seeded inputs, builds
the session and the program's seed state (``setup_s``), runs the
workload's closed loop for ``--seconds``, checks every output, and prints
a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` (a separate run with the same seed)
they are the per-layer metrics, folded from spans the benchmark records
around each layer call and from Spark's event log. Every file the run
writes stays under ``.perfbench/`` in the checkout; the per-run work
folder is removed at exit and reports are kept in ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_logs_parquet_converter_spark"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, no timing goal")
    p.add_argument(
        "--perturb-expected",
        type=int,
        default=0,
        help="add N to every expected count (proves the checks catch a wrong result)",
    )
    return p.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the box's memory, between 1 and 2 GiB: the driver JVM
    also hosts the local executors, and no workload needs more heap."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 4096))


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM perf-data file under /tmp, for the launcher JVM and the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024


def spark_layers(ev, windows) -> dict[str, float]:
    """Spark runtime metrics per timed operation (means over operations)."""
    keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_deserialize_s", "gc_s", "driver_gap_s")
    ws = [ev.window(a, b) for a, b in windows]
    return {f"spark.{k}": (sum(w[k] for w in ws) / len(ws) if ws else 0.0) for k in keys}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ beside {os.path.basename(HERE)}/: run from a full checkout", file=sys.stderr)
        return 2
    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; expected one of {names}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    prepare_environment(work)
    sys.path[:0] = [ROOT]
    try:
        return run(args, spec, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str, results: str) -> int:
    from aws_logs_parquet_converter_spark.session import build_session
    from tracing import EventLog, Tracer, event_log_conf
    from workloads import WORKLOADS, Ctx

    n = cores()
    mem = driver_memory_mb()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{mem}m",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(event_log_conf(log_dir))

    spark = None
    phases = {}  # wall seconds of each phase of the run
    try:
        t = time.perf_counter()
        tracer = Tracer(args.workload, enabled=bool(args.trace))
        ctx = Ctx(None, args.seed, args.smoke, work, tracer, args.perturb_expected)
        wl = WORKLOADS[args.workload](ctx)  # seeded inputs; not part of setup_s
        phases["inputs"] = time.perf_counter() - t

        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf=conf,
        )
        build_s = time.perf_counter() - t0
        ctx.spark = spark
        tracer.sc = spark.sparkContext
        with tracer.span("setup", layer="setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0
        parallelism = spark.sparkContext.defaultParallelism
        t = time.perf_counter()
        wl.after_setup()  # the benchmark's own checks of the setup; not part of setup_s
        phases["after_setup"] = time.perf_counter() - t

        loop_start = time.time()
        deadline = time.perf_counter() + args.seconds
        # whole passes until the deadline; a pass ends even if every operation fails
        while True:
            wl.step()
            if time.perf_counter() >= deadline:
                break
        loop_end = time.time()
        phases["loop"] = loop_end - loop_start
        t = time.perf_counter()
        try:
            wl.finish()
        except Exception:  # the run's outputs could not be checked
            ctx.log.append(f"{args.workload}: final check raised: {traceback.format_exc(limit=4)}")
            wl.failed = max(1, wl.attempted)
        rss = peak_rss_mb(spark)
        phases["finish"] = time.perf_counter() - t
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_spark(spark)
            phases["stop"] = time.perf_counter() - t

    lat = wl.latencies
    e2e = {
        "setup_s": (setup_s, "s"),
        # 0 only when no operation completed, which also makes the run incorrect
        "op_latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "ops_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    report = {
        **e2e,
        **wl.report,
        "ops_failed_ratio": (wl.failed / max(1, wl.attempted), "ratio"),
        "ops": (len(lat), "count"),
    }
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": f"local[{n}]",
        "default_parallelism": parallelism,
        "driver_memory_mb": mem,
        "session_build_s": build_s,
        "phases_s": {"setup": setup_s, **phases},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "latencies_s": lat,
        "failures": ctx.log[:20],
    }
    if args.trace:
        ev = EventLog(log_dir)
        layers = {"session.build_s": build_s, **wl.layers(ev), **spark_layers(ev, wl.windows)}
        layers["trace.unattributed_s"] = tracer.unattributed(loop_start, loop_end)
        out["layers"] = layers
        out["self_time_s"] = tracer.self_times()
        out["wall_s"] = loop_end - loop_start
        out["spans"] = tracer.to_json()
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced, encoding="utf-8") as fh:
                base_e2e = json.load(fh)["end_to_end"]
            out["tracing_overhead"] = {
                k: report[k][0] - base_e2e[k]["value"] for k in e2e if k in base_e2e
            }
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  master local[{n}]  "
          f"defaultParallelism {parallelism}  driver memory {mem} MB")
    for name, (value, unit) in report.items():
        print(f"  {name:34s} {value:14.6g} {unit}")
    for line in ctx.log[:5]:
        print(f"  FAILED {line.strip()[:300]}")
    if args.trace:
        for k, v in sorted(out["self_time_s"].items(), key=lambda kv: -kv[1]):
            print(f"  self {k:29s} {v:14.6g} s")
        print(f"  unattributed wall                  {layers['trace.unattributed_s']:14.6g} s")
        for k, v in out.get("tracing_overhead", {}).items():
            print(f"  tracing overhead {k:17s} {v:14.6g}")
    print(f"  report written to {os.path.relpath(path, ROOT)}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["layers"] if args.trace else {k: v for k, (v, _) in report.items()}
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": wl.failed == 0 and bool(lat),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
