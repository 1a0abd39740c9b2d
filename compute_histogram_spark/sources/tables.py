"""Table loaders for the driver's synthetic star schema (TESTDATA.md).

Plain ``spark.read.parquet`` — columnar scan with column pruning and filter
pushdown for free. At 100 TB the same call reads a partitioned directory
tree; partition pruning applies when predicates hit partition columns.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Relation-resolution cache, per live session (r16, VERDICT r15 #4): a
# path-based ``spark.read.parquet`` re-lists the directory and re-reads
# parquet footers on EVERY call (~66 ms warm even for a one-row table on
# this box) — catalog tables get metadata caching from Spark, path reads
# don't. Repeated loads of the immutable testdata tables paid that per
# query per run; the comparator binds its DuckDB views once per session.
# DataFrames are immutable, so handing back the same relation object is
# semantics-free; the WeakKey keyed on the session lets a stopped
# session's relations be collected instead of leaking across restarts.
_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    try:
        cache = _RELATION_CACHE.setdefault(spark, {})
    except TypeError:  # unexpected unhashable/mock session: skip caching
        cache = {}
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is None:
        # Set UNCONDITIONALLY (not just for events): TIMESTAMP(NANOS)
        # columns are rejected by the vectorized reader without it, and
        # setting it only on some loads would make schemas depend on table
        # read ORDER within a session. With it, any nanos column uniformly
        # decodes as epoch-nanos BIGINT. The driver's current testdata
        # stores events.ts as timestamp[us] (-> TIMESTAMP_NTZ, untouched by
        # this flag), but legacy layouts carried nanos — operators dispatch
        # on the loaded dtype via operators.temporal.epoch_micros_sql, so
        # both decode paths work.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        cache[key] = df
    # Partition-robustness screen hook (VERDICT r14 #2): the rotation gate
    # re-runs each candidate query under several forced input layouts to
    # reject results that depend on partial-aggregation order (a local
    # gate under ONE layout cannot certify order-sensitive float
    # rounding). Screen-only — unset in production, so no extra shuffle.
    # Applied OUTSIDE the cache so the hook always sees the env var.
    parts = os.environ.get("SPARK_GRAFT_LAYOUT_PARTS")
    if parts:
        df = df.repartition(int(parts))
    return df


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ONLY if the scan yields fewer partitions than cores.

    Single-file small tables (the local test fixtures) scan as one input
    split, serializing CPU-heavy projections onto one core. At cluster scale
    inputs arrive in thousands of splits and this is a no-op — the guard
    means we never pay a gratuitous shuffle on big data.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def range_ordered(df: DataFrame, key: str, min_parts: int | None = None) -> DataFrame:
    """Range-partition on a CHEAP key BEFORE expensive per-row work, so a
    final ``sortWithinPartitions(key)`` yields globally ordered output
    without re-running the projections.

    A trailing ``orderBy`` above an expensive map runs that map TWICE:
    the range exchange samples its child to pick bounds, then the real
    job recomputes it (measured r7: text_profile 1.85 s -> 0.96 s, a
    1.9x win, hash-identical rows). Partitioning the SOURCE by the sort
    key instead makes the sampler read just the pruned key column from
    the scan; downstream projections run once, already range-aligned, and
    within-partition sorts compose to a global order (collect() reads
    partitions in order; AQE coalescing merges ADJACENT ranges, which
    preserves it). Doubles as the parallelism guard: like
    :func:`ensure_parallelism` it fans a single-split scan out to the
    core count, so callers use one or the other, not both."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    from pyspark.sql import functions as F

    return df.repartitionByRange(target, F.col(key))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every star-schema table as a temp view, making the whole
    engine drivable from plain ``spark.sql(...)`` — the reference's
    out-of-band SQL workflow (load table, run SQL file; SURVEY §3 EP3)
    generalized to the full schema. Views are lazy scans: no data moves
    until a query runs, and Catalyst sees straight through them (pushdown,
    pruning, broadcast all apply as if the DataFrame were inlined).
    """
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
