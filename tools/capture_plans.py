"""Capture .explain("formatted") for every entry of registry.CATALOG (the
declared window, the benched rows and their layout forms, and the queries
outside the window) into plans/<round>/<name>_<tag>.txt (round via
SPARK_GRAFT_PLAN_ROUND, default r17; an absolute path is used as is).

Usage: python tools/capture_plans.py <tag> [sf_dir] [name ...]

<tag> is "before" or "after" (the optimization-round evidence files the
judge diffs). Default sf_dir is sf0.01 — plan SHAPE (Exchange count, join
strategy, PushedFilters, codegen spans) is what is recorded; sizes differ
at scale but the shape levers (bucketed layouts, broadcast dims) are
scale-independent by construction, and AQE re-planning is noted inline
where it applies. Queries whose BUILD phase runs driver actions (min/max
planning, layout writes, index training) execute those actions here; the
explain itself is plan-only.

Every dump has its per-process counters replaced by ``N`` (expression ids
``#123``, ``plan_id=...``, RDD ids ``MapPartitionsRDD[12]`` and lambda
variables ``x_15``), so two captures of one commit diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from compute_histogram_spark.session import get_session
from compute_histogram_spark import registry

# (pattern, replacement) pairs for the counters a JVM hands out per process.
_MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
]


def mask_ids(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])

    spark = get_session("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")

    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r17"),
    )
    os.makedirs(outdir, exist_ok=True)

    n_ok = n_err = 0
    for name in sorted(registry.CATALOG):
        if only and name not in only:
            continue
        fn = registry.CATALOG[name].build
        spark.sparkContext.setJobDescription(f"plan:{name}")
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            plan = "PLAN CAPTURE FAILED\n" + traceback.format_exc()
            n_err += 1
        else:
            n_ok += 1
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(f"-- {name} ({tag}, sf_dir={sf_dir})\n")
            f.write(mask_ids(plan))
        print(f"plan {name}: {'ok' if 'FAILED' not in plan[:30] else 'ERR'}")
    print(f"{n_ok} ok, {n_err} failed -> {outdir}")


if __name__ == "__main__":
    main()
