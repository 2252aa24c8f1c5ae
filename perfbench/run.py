"""Lakehouse benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout that holds ``lakehouse/`` and
``BENCHMARK.json``. Spark runs ``local[nproc]`` with nproc shuffle
partitions. Set-up (``setup_s``) is the JVM start, a warm-up (the
workload's set-up and one cycle on a tiny input) and the workload's
set-up. The timed phase repeats the workload's cycle until ``--seconds``
of phase time have passed (at least the workload's ``MIN_CYCLES``),
checks every cycle's outputs, and prints one JSON line
last: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1`` (timing shims around the lakehouse layers plus the
Spark event log). A human-readable block with the workload's own figures
goes before it, and a full result file (plus the spans, when traced)
goes under ``.perfbench/results/``. Everything the run writes stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run (JVM, Python workers, Spark) writes inside
    the work directory, and put the repo on the workers' path."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, nproc: int, trace: bool):
    from lakehouse.session import build_session

    conf = {
        # local mode: the driver heap is every executor's heap; the
        # session default (24g) is more than a small host has
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lakehouse", "__init__.py")):
        print(f"no lakehouse/ package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    prepare_env(work)
    nproc = len(os.sched_getaffinity(0))
    t_start = time.perf_counter()

    import report
    from harness import Bench, OpFailed, RssSampler, host_probe_ms
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    spark = None
    tracer = Tracer() if args.trace else None
    marks = {"imports": time.perf_counter() - t_start}
    probe_ms = host_probe_ms()
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, nproc, bool(args.trace))
        jvm_start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = Bench(spark, os.path.join(work, "warmup"), args.seed)
        wwl = WORKLOADS[args.workload](warm, warmup=True)
        wwl.setup()
        wwl.cycle()
        warmup_s = time.perf_counter() - t0
        bench = Bench(spark, work, args.seed, tracer)
        bench.checks += warm.checks
        wl = WORKLOADS[args.workload](bench)
        input_gen_s, table_build_s = wl.setup()
        marks["setup"] = time.perf_counter() - t_start
        if tracer:
            tracer.install()
        error = None
        with RssSampler() as rss:
            bench.start_phase()
            try:
                while bench.cycles < wl.MIN_CYCLES or bench.elapsed() < args.seconds:
                    wl.cycle()
                    bench.cycles += 1
            except OpFailed as e:
                error = str(e)
            bench.end_phase()
        marks["phase"] = time.perf_counter() - t_start
        if tracer:
            tracer.uninstall()
        named = wl.metrics() if error is None else {}
        stop_spark(spark)
        spark = None
        marks["stop"] = time.perf_counter() - t_start

        session = {
            "host_probe_ms": probe_ms,
            "jvm_start_s": jvm_start_s,
            "warmup_s": warmup_s,
            "input_gen_s": input_gen_s,
            "table_build_s": table_build_s,
            "setup_s": jvm_start_s + warmup_s + input_gen_s + table_build_s,
        }
        result = report.build(
            args, bench, wl, session, rss.peak_mb, named, tracer,
            os.path.join(work, "events"), wanted, error,
        )
        results_dir = os.path.join(out_dir, "results")
        os.makedirs(results_dir, exist_ok=True)
        stem = os.path.join(
            results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
        )
        if tracer:
            tracer.dump(stem + ".spans.jsonl", bench.phase_t0)
        result["details"]["run_s"] = time.perf_counter() - t_start
        result["details"]["marks_s"] = marks
        with open(stem + ".json", "w") as f:
            json.dump(result["details"], f, indent=1, default=str)
        report.print_human(result["details"])
        print(json.dumps(result["line"]), flush=True)
        return 0
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
