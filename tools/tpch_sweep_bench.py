"""Two-engine timings for 13 of the TPC-H shapes (Q2/Q6/Q7/Q8/Q9/Q11/
Q12/Q15/Q16/Q17/Q19/Q20/Q22), each run as its registry.CATALOG entry.

Same protocol as tools/bench_compare.py: Spark plans materialize to a
noop sink (full execution, no driver transfer), DuckDB runs the
catalog entry's oracle SQL over the same parquet — both min-of-3 warm.

Usage: python tools/tpch_sweep_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from bench import materialize  # noqa: E402
from check_oracle import duck_connection  # noqa: E402
from compute_histogram_spark import registry as REG  # noqa: E402
from compute_histogram_spark.session import (  # noqa: E402
    autoscale_shuffle,
    get_session,
)

SWEEP = [
    ("q2_min_cost_supplier", "min_cost_supplier"),
    ("q6_forecast_revenue", "forecast_revenue"),
    ("q7_volume_shipping", "volume_shipping"),
    ("q8_market_share", "market_share"),
    ("q9_product_type_profit", "product_type_profit"),
    ("q11_important_parts", "important_parts"),
    ("q12_latency_mode", "latency_mode_priority"),
    ("q15_top_supplier", "top_supplier"),
    ("q16_supplier_part_counts", "supplier_part_counts"),
    ("q17_small_quantity", "small_quantity_revenue"),
    ("q19_disjunctive_bands", "disjunctive_band_revenue"),
    ("q20_promotion_suppliers", "promotion_suppliers"),
    ("q22_sales_opportunity", "sales_opportunity"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_session()
    autoscale_shuffle(spark, sf_dir)
    con = duck_connection(sf_dir)

    rows = []
    for name, entry in SWEEP:
        qfn, sql = REG.CATALOG[entry]
        # one untimed warmup each: first execution carries AQE stage
        # compilation and post-previous-query JVM state (the r9 aging
        # finding); min-of-3 after it reads steady state
        materialize(qfn(spark, sf_dir))
        con.sql(sql).fetchall()
        s_times, d_times = [], []
        for _ in range(3):
            t0 = time.monotonic()
            materialize(qfn(spark, sf_dir))
            s_times.append(time.monotonic() - t0)
            t0 = time.monotonic()
            con.sql(sql).fetchall()
            d_times.append(time.monotonic() - t0)
        s, d = min(s_times), min(d_times)
        rows.append((name, s, d))
        print(f"{name:28s} spark {s:7.3f}s  duckdb {d:7.3f}s  "
              f"ratio {s / d:5.2f}", flush=True)

    total_s = sum(r[1] for r in rows)
    total_d = sum(r[2] for r in rows)
    print(json.dumps({
        "sf_dir": sf_dir,
        "spark_total_s": round(total_s, 3),
        "duckdb_total_s": round(total_d, 3),
        "ratio": round(total_s / total_d, 3),
        "queries": {n: {"spark": round(s, 3), "duckdb": round(d, 3)}
                    for n, s, d in rows},
    }))


if __name__ == "__main__":
    main()
