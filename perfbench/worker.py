"""One benchmark run of one workload, in a fresh process (``run.py``
starts it with the environment set up).

Order of work: generate or reuse the seeded inputs; compute every op's
expected answer outside Spark; start the session (timed); run each op once,
untimed, and check its answer, then run the workload's settle passes (the
warm-up, timed together with the session as ``setup_s``); then run passes
over all ops, one op after another from a single client (a closed loop),
until ``--seconds`` have passed. With ``--trace 1`` the passes alternate
between untraced and traced, and the traced ones are broken down by layer.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import statistics
import sys
import time
import traceback

import gen
import layers
import workloads


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--work", required=True, help="directory for inputs and run files")
    p.add_argument("--out", required=True, help="result JSON path")
    return p.parse_args(argv)


def session_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def planning_s(df) -> float:
    """Analysis + optimization + physical planning time from the
    QueryExecution's own planning tracker (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1e3


class SinkTimer:
    """Times the package's ``histogram.csv`` sink wherever it is called
    from (the CLI imports it at call time)."""

    def __init__(self):
        from compute_histogram_spark.sources import sinks

        self.total_s = 0.0
        inner = sinks.write_histogram_csv

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                self.total_s += time.perf_counter() - t0

        sinks.write_histogram_csv = timed


def run_pass(spark, ops, pass_id: str, traced: bool, sink: SinkTimer | None) -> dict:
    """Every op once, in order. Returns the pass record."""
    from compute_histogram_spark.session import release_persists

    sc = spark.sparkContext
    rec = {"id": pass_id, "ops": {}, "build_s": 0.0, "exec_s": 0.0, "plan_s": 0.0,
           "windows": []}
    sink0 = sink.total_s if sink else 0.0
    t_pass = time.perf_counter()
    for op in ops:
        w0 = time.time()
        if traced:
            sc.setLocalProperty(layers.SPAN_KEY, layers.span(pass_id, op.name, "build"))
        t0 = time.perf_counter()
        if op.build is not None:
            df = op.build(spark)
            build = time.perf_counter() - t0
            if traced:
                rec["plan_s"] += planning_s(df)
                sc.setLocalProperty(layers.SPAN_KEY, layers.span(pass_id, op.name, "exec"))
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            release_persists(df)
            execute = time.perf_counter() - t1
        else:
            if traced:
                sc.setLocalProperty(layers.SPAN_KEY, layers.span(pass_id, op.name, "exec"))
            op.call(spark)
            build, execute = 0.0, time.perf_counter() - t0
        rec["ops"][op.name] = build + execute
        rec["build_s"] += build
        rec["exec_s"] += execute
        rec["windows"].append((w0, time.time()))
    rec["run_s"] = time.perf_counter() - t_pass
    rec["sink_s"] = (sink.total_s if sink else 0.0) - sink0
    if traced:
        sc.setLocalProperty(layers.SPAN_KEY, None)
    return rec


def warm_up(spark, ops) -> tuple[int, list[str]]:
    """First execution of every op, checked against its expected answer.
    Returns (failed ops, problem lines)."""
    failed, problems = 0, []
    for op in ops:
        try:
            got = op.first(spark)
            bad = op.check(got, op.expected)
        except Exception as e:  # noqa: BLE001 - a failing op is a result, not a crash
            traceback.print_exc()
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            failed += 1
            problems += [f"{op.name}: {b}" for b in bad]
    return failed, problems


def canary_s(spark) -> float:
    """Wall time of a fixed CPU-bound job (sum of xxhash64 over 20M ids):
    a reading of how fast this box is right now."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(20_000_000).agg(F.sum(F.xxhash64("id"))).collect()
    return time.perf_counter() - t0


def stop_and_measure_rss(spark) -> float:
    """Stop Spark, end the JVM and wait for it; then the peak RSS of the
    process's waited-for children (the JVM) in MiB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


def stamp(spark, args, inputs) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": spark.sparkContext.defaultParallelism,
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "seed": args.seed,
        "scale": args.scale,
        "input_rows": inputs.rows,
        "input_bytes": inputs.bytes,
        "tiles": inputs.tiles,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    run_dir = os.path.join(args.work, "run")
    inputs = gen.ensure(args.workload, args.scale, args.seed, os.path.join(args.work, "inputs"))
    phase("inputs")
    workloads.keep_staging_in(os.path.join(run_dir, "tmp"))
    ops = workloads.build_ops(args.workload, inputs, run_dir)
    phase("expected")

    from compute_histogram_spark.session import get_session

    load_before = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_session("perfbench-" + args.workload,
                        extra_conf=session_conf(run_dir, bool(args.trace)))
    session_start_s = time.perf_counter() - t0
    phase("session")
    spark.sparkContext.setLogLevel("ERROR")
    progress = layers.ProgressLog() if args.trace else None
    sink = SinkTimer() if args.trace else None
    if progress:
        progress.attach(spark)

    t0 = time.perf_counter()
    failed, problems = warm_up(spark, ops)
    phase("warm_up")
    settle = workloads.SETTLE_PASSES[args.workload]
    for i in range(settle):
        run_pass(spark, ops, f"settle{i}", False, None)
    setup_s = session_start_s + time.perf_counter() - t0
    phase("settle")

    untraced, traced = [], []
    deadline = time.perf_counter() + args.seconds
    n = 0
    while True:
        tracing = bool(args.trace) and n % 2 == 1
        rec = run_pass(spark, ops, f"p{n}", tracing, sink)
        (traced if tracing else untraced).append(rec)
        n += 1
        if time.perf_counter() >= deadline and (traced or not args.trace):
            break
    phase("measure")

    info = stamp(spark, args, inputs)
    info["canary_s"] = canary_s(spark)
    peak_rss_mb = stop_and_measure_rss(spark)
    phase("stop")
    info["loadavg_before"] = load_before
    info["loadavg_after"] = os.getloadavg()
    info["phase_s"] = phases

    run_s = statistics.median(p["run_s"] for p in untraced)
    metrics = {
        "run_s": run_s,
        "op_p50_s": statistics.median(
            statistics.median(p["ops"].values()) for p in untraced
        ),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
    }
    if args.trace:
        acc = layers.read_event_log(os.path.join(run_dir, "eventlog"))
        tile_ops = {op.name for op in ops if op.reads_tiles}
        metrics.update(layers.per_layer(traced, acc, progress.snapshot(), session_start_s,
                                        tile_ops, inputs.tiles, run_s))
    executions = len(ops) * (1 + settle + len(untraced) + len(traced))
    result = {
        "correct": failed == 0,
        "attempted": executions,
        "failed": failed,
        "error_rate": failed / executions,
        "metrics": metrics,
        "passes": {"untraced": len(untraced), "traced": len(traced)},
        "pass_s": {"untraced": [p["run_s"] for p in untraced],
                   "traced": [p["run_s"] for p in traced]},
        "pass_op_s": [p["ops"] for p in untraced],
        "op_s": {
            op.name: statistics.median(p["ops"][op.name] for p in untraced) for op in ops
        },
        "stamp": info,
        "problems": problems,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
