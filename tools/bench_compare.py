"""Side-by-side Spark vs DuckDB timings for the headline queries.

Regenerates the BASELINE.md comparison table: for each headline query, the
Spark plan is materialized to a noop sink (full execution, no driver
transfer) and the catalog entry's oracle SQL runs in DuckDB over the same
parquet files — both min-of-3 warm. Output: a markdown table on stdout
plus one JSON line.

Usage: python tools/bench_compare.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))  # repo root: bench.py, package
sys.path.insert(0, _HERE)  # sibling tool modules: check_oracle

from bench import HEADLINE, materialize
from check_oracle import duck_connection
from compute_histogram_spark import registry
from compute_histogram_spark.session import get_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_session("bench_compare")
    spark.sparkContext.setLogLevel("ERROR")

    # same view setup (and missing-file tolerance) as the oracle gate
    con = duck_connection(sf_dir)

    rows = []
    for name in HEADLINE:
        fn, sql = registry.CATALOG[name]
        materialize(fn(spark, sf_dir))  # warm-up
        s_times = []
        for _ in range(3):
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            s_times.append(time.time() - t0)

        con.execute(sql).fetchall()  # warm-up
        d_times = []
        for _ in range(3):
            t0 = time.time()
            con.execute(sql).fetchall()
            d_times.append(time.time() - t0)
        rows.append((name, round(min(s_times), 3), round(min(d_times), 3)))

    print("| query | Spark engine (s) | DuckDB (s) |")
    print("|---|---|---|")
    for name, s, d in rows:
        print(f"| {name} | {s:.2f} | {d:.3f} |")
    s_total = round(sum(s for _, s, _ in rows), 3)
    d_total = round(sum(d for _, _, d in rows), 3)
    print(f"| **total ({len(rows)})** | **{s_total}** | **{d_total}** |")
    print(
        json.dumps(
            {
                "metric": "spark_vs_duckdb_warm",
                "sf": sf,
                "spark_total_s": s_total,
                "duckdb_total_s": d_total,
                "queries": {n: {"spark": s, "duckdb": d} for n, s, d in rows},
            }
        )
    )


if __name__ == "__main__":
    main()
