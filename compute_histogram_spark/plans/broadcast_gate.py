"""Driver-side cardinality gate for filter-derived dimension slices.

The static planner estimates a filtered dimension's size from its
column-pruned FILE bytes (pre-filter), so a selective slice of a large
dimension (e.g. 3-of-25 brands of ``part``) is over-estimated past
``spark.sql.autoBroadcastJoinThreshold`` and the fact side takes a full
shuffle. AQE can convert the join to broadcast at runtime, but only
AFTER the fact side's shuffle files are written — the write itself is
the cost that kills the plan at scale (measured: TPC-H Q19 at sf100
runs 53.8 s under the default conf vs 7.0 s with the slice broadcast;
tools/tpch_sweep_sf100.json, memo BASELINE.md r12).

Raising the global threshold is NOT the fix: static estimates are
pre-filter file sizes, so a bigger threshold makes the planner
broadcast whole fact slices it should shuffle (measured 2.6x slower on
Q3 at sf1; the r12 3-way A/B regressed Q5 6.2 -> 17.9 s). This module
is the surgical alternative the engine already uses for physical picks
elsewhere (Q5's SHUFFLE_HASH hint, operators/relational.py): COUNT the
already-filtered, already-projected slice — one cheap dimension-only
job, O(1) in fact bytes — estimate its in-memory size from the schema,
and apply ``F.broadcast`` only when it fits a deployment budget.

The gate is scale-safe by construction: it broadcasts nothing it has
not counted, the estimate is conservative (boxed-row costs, not disk
bytes), and the budget (default 256 MiB) is far under executor memory
on any realistic cluster while covering every slice the four gated
TPC-H shapes produce at sf100. Decisions are cached per logical plan
(``DataFrame.semanticHash``) so warm re-runs of the same query skip
the count job — the moral equivalent of a table-statistics cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Conservative per-column in-memory cost of a broadcast hash relation
# row (boxed/UnsafeRow + hash-table overhead), NOT parquet disk bytes.
_FIXED_ROW_BYTES = 8
_COL_BYTES = {
    "boolean": 16, "tinyint": 16, "smallint": 16, "int": 16,
    "bigint": 16, "float": 16, "double": 16, "date": 16,
    "timestamp": 16, "timestamp_ntz": 16,
}
_STRING_BYTES = 48
_DEFAULT_COL_BYTES = 64

DEFAULT_BUDGET_BYTES = 256 * 1024 * 1024

# (semanticHash) -> counted rows; process-lifetime, bounded by the
# number of distinct gated plans (a handful per session).
#
# HAZARD (ADVICE r14, documented single-session contract): the key is
# the LOGICAL plan, so if the files under the same path change within
# one session (appends, regenerated testdata) a stale smaller count can
# admit a now-oversized slice; a 32-bit semanticHash collision would
# silently reuse the wrong count. Both are accepted risks for a cache
# whose entries are a handful of dimension slices: the driver protocol
# runs one sf_dir per process, and layouts are write-once. Call
# :func:`invalidate_count_cache` after mutating data a gated plan
# reads. The budget's 256 MiB headroom (vs multi-GiB executors) bounds
# the blast radius of a stale admit.
_COUNT_CACHE: dict[int, int] = {}


def invalidate_count_cache() -> None:
    """Drop all cached slice counts (call after in-session data
    mutation under a path a gated plan reads)."""
    _COUNT_CACHE.clear()


def est_row_bytes(df: DataFrame) -> int:
    """Schema-driven per-row in-memory estimate for a broadcast build."""
    b = _FIXED_ROW_BYTES
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t == "string":
            b += _STRING_BYTES
        else:
            b += _COL_BYTES.get(t, _DEFAULT_COL_BYTES)
    return b


def gate_budget_bytes() -> int:
    """Deployment budget for one broadcast build (env-overridable)."""
    mb = os.environ.get("SPARK_GRAFT_BROADCAST_GATE_MB")
    return int(mb) * 1024 * 1024 if mb else DEFAULT_BUDGET_BYTES


def counted_rows(df: DataFrame) -> int:
    """Count a dimension-derived slice, cached per logical plan."""
    key = df.semanticHash()
    n = _COUNT_CACHE.get(key)
    if n is None:
        n = df.count()
        _COUNT_CACHE[key] = n
    return n


def fits(
    df: DataFrame,
    budget_bytes: int | None = None,
    known_rows: int | None = None,
) -> bool:
    """The gate's decision alone — for callers that must also adjust a
    DOWNSTREAM join hint when the slice is declined (market_share over
    the orderkey layout pins a merge join on the orders intermediate
    when its customer slice doesn't broadcast, or the static estimator
    can re-introduce the misplan the gate exists to prevent)."""
    budget = gate_budget_bytes() if budget_bytes is None else budget_bytes
    n = counted_rows(df) if known_rows is None else known_rows
    return n * est_row_bytes(df) <= budget


def broadcast_if_fits(
    df: DataFrame,
    budget_bytes: int | None = None,
    known_rows: int | None = None,
) -> DataFrame:
    """Return ``F.broadcast(df)`` iff the counted slice fits the budget.

    ``known_rows`` lets a caller reuse an upper bound it already paid
    for (e.g. a per-key aggregate has at most as many rows as the key
    slice that feeds it) instead of triggering a second count — pass it
    ONLY when it is a genuine upper bound on ``df``'s row count.
    """
    if fits(df, budget_bytes, known_rows):
        return F.broadcast(df)
    return df
