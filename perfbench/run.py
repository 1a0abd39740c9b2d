"""Benchmark entry point.

    python3 perfbench/run.py --workload histogram --seed 1 --seconds 15 --trace 0

Runs one workload in a fresh worker process (``worker.py``) from the root of
a source checkout and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it give the run's stamp (versions, cores, load, CPU canary,
input sizes) and a readable metric table. Inputs, Spark scratch space and
the full result artifact stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 160

sys.path.insert(0, HERE)

END_TO_END = (
    ("run_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MiB"),
)
# Printed with the metrics but carrying no bound: the error rate is zero on
# a correct program, and the median op of a histogram pass (a sub-second
# job) spread 26% between seeded runs on a 4-vCPU VM.
INFO = (("op_p50_s", "s"), ("error_rate", "ratio"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke test's input size")
    return p.parse_args(argv)


def source_id() -> str:
    """The git commit when run from a repository, else a digest of the
    package sources (a benchmark checkout is not a git repository)."""
    try:
        top, sha = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, check=True, timeout=10,
        ).stdout.split()
        if os.path.realpath(top) == os.path.realpath(ROOT):
            return sha
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "compute_histogram_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def worker_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        # Python workers import the package from the checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # A fixed 2 GiB heap: with the package's 8 GiB default the heap,
        # and so peak RSS, grows differently run to run (22% spread), and
        # while it grows from a small initial size the passes slow down
        # (the first ones of a run up to 35% slower than the last). The
        # heap is touched at start, or peak RSS depends on how many passes
        # the run got through (29% spread on a loaded host).
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    return env


def end_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait for
    it to be gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "compute_histogram_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print("perfbench: run from a source checkout (compute_histogram_spark/ and "
              "tools/check_oracle.py not found)", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.OPS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--work", WORK, "--out", out,
    ]
    # A terminated runner still ends the worker's process group (below).
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, env=worker_env(run_dir), cwd=run_dir,
                            stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        end_group(proc)
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed ({rc})", file=sys.stderr)
        return 1

    with open(out) as f:
        result = json.load(f)
    result["stamp"]["source"] = source_id()
    result["stamp"]["workload"] = args.workload
    result["stamp"]["trace"] = args.trace
    artifact = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as f:
        json.dump(result, f, indent=1)

    import layers

    names = layers.PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": result["metrics"][n], "unit": u} for n, u in names}
    print(json.dumps({"stamp": result["stamp"], "passes": result["passes"],
                      "op_s": result["op_s"], "problems": result["problems"]}))
    for n, m in metrics.items():
        print(f"{n:36s} {m['value']:>16.6g} {m['unit']}")
    info = {**result["metrics"], "error_rate": result["error_rate"]}
    for n, u in INFO:
        print(f"{n:36s} {info[n]:>16.6g} {u}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
