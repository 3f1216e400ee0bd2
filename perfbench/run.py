#!/usr/bin/env python3
"""Benchmark of the nimhdfstore_spark store and query registry.

Run from the root of a checkout::

    python3 perfbench/run.py --workload store_mixed --seed 1 --seconds 8 --trace 0

Workloads (see ``workloads.py``): ``store_mixed`` and ``suite_mixed``. The
seed makes every input: the same seed gives the same tables,
positions, keys and payloads. Each run uses one process, Spark in
``local[<cores>]`` mode and one closed-loop client, and checks every output
it reads (store reads against a model of the table, suite rows against
their DuckDB oracles).

``--trace 0`` prints the end-to-end metrics. Their times are CPU seconds
of the process tree the run starts (this process, the Spark JVM and its
Python workers), read from ``/proc``: time the host's other guests steal
is not in them, so on a shared machine they vary far less than wall time.
``setup_s`` is the CPU of session start, fixture build and warm pass;
``pass_cpu_s`` the sum over operation types of each type's median CPU.
``--trace 1`` runs the same workload with spans and Spark counters on every
other operation and prints the per-layer metrics, wall times among them,
and the tracing overhead measured against the untraced operations of the
same run. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. Lines
before it name each failed operation and the host's CPU steal and iowait.

Inputs that would silently change the work are pinned for every run:

* ``SPARK_GRAFT_SWEEP_ROTATION`` (``--rotation``), which otherwise follows
  the number of archived ``CORRECTNESS_r*.json`` files and rotates the legs
  a suite row returns;
* ``NIMHDFSTORE_SCRATCH``, ``spark.sql.warehouse.dir``, ``spark.local.dir``,
  ``TMPDIR`` and the JVM's temp dir, all inside a fresh directory under
  ``--scratch`` that is deleted when the run ends;
* ``PYTHONPATH`` set to the checkout, so Python workers import the package.

A run writes only under ``--scratch`` and ``perfbench/_traces``. It exits
with code 2 and prints no result when the checkout has no package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("store_mixed", "suite_mixed")


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rotation", default="14",
                    help="pinned SPARK_GRAFT_SWEEP_ROTATION")
    ap.add_argument("--scratch", default="perfbench/_run",
                    help="directory, relative to the checkout, for per-run dirs")
    return ap.parse_args(argv)


def pin_environment(root: str, run_dir: str, rotation: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_SWEEP_ROTATION": rotation,
        "NIMHDFSTORE_SCRATCH": os.path.join(run_dir, "scratch"),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp


def start_spark(run_dir: str, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        # a fixed heap and young generation: with adaptive sizing the JVM's
        # resident memory varied by up to 1.8x between runs of one workload.
        # One GC thread: with the default G1 collector, the CPU of a
        # store_mixed pass was about a tenth higher and varied twice as
        # much between runs (4-core shared host, three runs each).
        # The client compiler only: a run lasts about a minute, too short
        # for the optimizing compiler to pay off. With that compiler on, a
        # store_mixed pass took half again as much CPU in the same wall
        # time, and the CPU of set-up varied three times as much
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            "-Xms2g -Xmn384m -XX:+UseSerialGC -XX:TieredStopAtLevel=1",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the first job pays one-off JVM start-up
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that runs it, and wait for the JVM to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at end of its stdin
        gateway.proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nimhdfstore_spark", "store.py")):
        print(f"no nimhdfstore_spark package under {root}", file=sys.stderr)
        return 2
    scratch = os.path.join(root, args.scratch)
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch)
    pin_environment(root, run_dir, args.rotation)
    sys.path.insert(0, root)

    import report
    import stats
    import tracing
    import workloads

    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        spark = start_spark(run_dir, cores)
        if args.workload == "suite_mixed":
            from nimhdfstore_spark import queries as registry

            registry.load_all()
        tracer = tracing.Tracer(spark)
        if args.trace:
            tracing.instrument(tracer)
        session = (time.perf_counter() - t_start, stats.cpu_now())
        ctx = workloads.Ctx(
            spark, tracer, run_dir, args.seed, args.seconds, bool(args.trace), session
        )
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        sampler = stats.RssSampler(jvm_pid).start()
        steal0, iowait0 = stats.cpu_ticks()
        outcome = workloads.WORKLOADS[args.workload](ctx)
        peak = sampler.stop()
        steal1, iowait1 = stats.cpu_ticks()
        host = {
            "steal_s": stats.ticks_to_s(steal1 - steal0),
            "iowait_s": stats.ticks_to_s(iowait1 - iowait0),
        }
        if args.trace:
            metrics = report.per_layer(outcome, tracer, host, tracer.pinned())
            units = report.LAYER_UNITS
            tracer.dump(os.path.join(
                HERE, "_traces", f"{args.workload}-seed{args.seed}.json"
            ))
        else:
            metrics = report.end_to_end(outcome, peak)
            units = report.END_TO_END_UNITS
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)

    for line in outcome.failures:
        print(f"FAILED {line}")
    n = len(outcome.ops)
    print(
        f"# {args.workload} seed={args.seed}: {n} timed ops in "
        f"{outcome.window_s:.1f} s, setup {outcome.setup_wall_s:.1f} s "
        f"({outcome.setup_s:.1f} CPU s), "
        f"host steal_s={host['steal_s']:.2f} iowait_s={host['iowait_s']:.2f}"
    )
    print("# p50 ms by op: " + ", ".join(
        f"{k}={v:.0f}" for k, v in report.p50_by_type(outcome.ops).items()
    ))
    print("# p50 cpu ms by op: " + ", ".join(
        f"{k}={v:.0f}" for k, v in report.p50_by_type(outcome.ops, "cpu_ms").items()
    ))
    split = report.build_exec_by_row(outcome.ops)
    if split:
        print("# build_s/exec_s by row: " + ", ".join(
            f"{k}={b:.2f}/{e:.2f}" for k, (b, e) in split.items()
        ))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
