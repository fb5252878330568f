"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 20 --trace 0

Run from the root of a source tree: the package is imported from there
and every file the run writes goes under ``.bench_out/`` in it. The
last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. A ``#`` line just
before it carries the machine, the workload-specific end-to-end figures
and, when traced, every layer figure. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    """What a workload needs: the session, the package, the tracer, its
    output directory and the check tally."""

    def __init__(self, out: str, tracer) -> None:
        self.out = out
        self.tracer = tracer
        self.spark = None
        self.gs = None
        self.F = None
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {name} {detail}", file=sys.stderr)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smallest inputs, for the smoke test")
    return p.parse_args(argv)


def private_dirs(out: str) -> dict[str, str]:
    """Keep every temp file of Python, the JVM and Spark inside ``out``."""
    dirs = {k: os.path.join(out, k) for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def start_spark(gs, dirs: dict[str, str], nproc: int, trace: bool):
    # the package reads these; the benchmark pins the core count itself
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # no JVM perf-data file: it would go to the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
            " -XX:-UsePerfData"
        ),
    }
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(dirs["eventlog"]))
    return gs.get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
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
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def machine(spark, nproc: int, seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc,
        "spark": spark.version,
        "python": platform.python_version(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "seed": seed,
        "commit": commit,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import gluestick_ts_spark as gs  # the program under test; absent -> exit 1
    from pyspark.sql import functions as F

    import workloads
    from tracing import Tracer, attribute, median, parse_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    out = os.path.join(ROOT, ".bench_out", run_id)
    shutil.rmtree(out, ignore_errors=True)
    dirs = private_dirs(out)
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(run_id)
    ctx = Context(out, tracer)
    ctx.gs, ctx.F = gs, F
    wl = workloads.WORKLOADS[args.workload](ctx, args.seed, args.size)

    with tracer.span("session.start") as s_start:
        ctx.spark = start_spark(gs, dirs, nproc, bool(args.trace))
    ok = True
    try:
        if args.trace:
            tracer.install_py4j_counter(ctx.spark)
        with tracer.span("setup.generate") as s_gen:
            wl.generate()
        with tracer.span("setup.warm_up") as s_warm:
            # one cold cycle on tiny inputs of the same shape, then the
            # real starting state
            warm = type(wl)(ctx, args.seed, "tiny", "warm-")
            warm.generate()
            warm.prepare()
            warm.cycle()
            wl.prepare()
        setup_s = s_start.dur + s_gen.dur + s_warm.dur

        tracer.alternate = bool(args.trace)
        t0 = time.perf_counter()
        loop_start = time.time()
        cycles = 0
        while True:  # whole cycles, while the next one is expected to fit
            c0 = time.perf_counter()
            wl.cycle()
            cycles += 1
            now = time.perf_counter()
            if now - t0 + (now - c0) > args.seconds:
                break
        loop_end = time.time()
        tracer.alternate = False
        wl.finish()
        probes = wl.layer_probes() if args.trace and hasattr(wl, "layer_probes") else {}
    except Exception:  # a failed operation: report it, still stop Spark
        traceback.print_exc()
        ok = False
        ctx.attempted += 1
        ctx.failed += 1
    info = machine(ctx.spark, nproc, args.seed)
    stop_spark(ctx.spark)
    for name in os.listdir(out):  # keep the event log and reports, not the data
        if name != "eventlog" and os.path.isdir(os.path.join(out, name)):
            shutil.rmtree(os.path.join(out, name), ignore_errors=True)
    ops = len(wl.op_times)
    ctx.attempted += ops
    report = {"workload": args.workload, "machine": info,
              "failed_frac": ctx.failed / max(1, ctx.attempted)}
    if not ok:
        metrics = {}
    elif not args.trace:
        e2e = {
            "setup_s": (setup_s, "s"),
            "records_per_s": (wl.records / wl.busy, "rec/s"),
            "op_p50_s": (median(wl.op_times), "s"),
        }
        extra = wl.extra(median)
        report["end_to_end"] = {
            k: {"value": v, "unit": wl.extra_units[k]} for k, v in extra.items()
        } | {"failed_frac": {"value": report["failed_frac"], "unit": "ratio"}}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        import layers

        jobs, peak_heap = parse_event_log(dirs["eventlog"])
        loose = attribute(tracer, jobs)
        table = layers.layer_metrics(tracer, wl, jobs, loose, peak_heap,
                                     (loop_start, loop_end), cycles, probes)
        report["layers"] = table
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in table.items() if k in layers.REPORTED}
    tracer.dump(os.path.join(out, "spans.jsonl"))
    with open(os.path.join(out, "report.json"), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("# " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": ok and ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
