"""Decile summary over a histogram — the reference's one relational query.

``compute_histogram.sql:1-3``::

    with s as (select sum(count) as total from histo)
    select floor((sum(count) over (order by value) / total) * 10) as pct, ...
    group by pct order by min(value)

Two forms (SURVEY §2.3, §7 M2):

- :func:`deciles` — the engine's form: one ordered pass, no scalar
  aggregate and no cross join.
- :func:`deciles_sql` — the query as Spark SQL text, structurally the
  reference file with aliased outputs (CTE + scalar agg + cross join +
  running-sum window + floor bucket + group agg + order-by-aggregate);
  kept as the reference the tests compare :func:`deciles` against.

Scale note: the running ``sum() OVER (ORDER BY value)`` is a global ordered
window — a single-partition sort. That is correct here because its input is
a *histogram* (<= bins rows, i.e. thousands), not raw data; computing
deciles of raw 100 TB data goes through :func:`quantiles` /
``approx_percentile`` instead, never a global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_DECILE_SQL = """
WITH s AS (SELECT sum(pixel_count) AS total FROM {table}),
c AS (
    SELECT value, pixel_count, total,
           sum(pixel_count) OVER (ORDER BY value) AS cum
    FROM {table}, s
)
SELECT CAST(floor((cum / total) * 10) AS BIGINT) * 10 AS percentile,
       min(value)        AS min_value,
       max(value)        AS max_value,
       sum(pixel_count)  AS bucket_count
FROM c
GROUP BY floor((cum / total) * 10)
ORDER BY min_value
"""


def deciles_sql(histo: DataFrame, view_name: str = "histo") -> DataFrame:
    """Run the reference decile query as Spark SQL over a histogram DF
    with columns ``(value, pixel_count)``."""
    histo.createOrReplaceTempView(view_name)
    return histo.sparkSession.sql(_DECILE_SQL.format(table=view_name))


def deciles(histo: DataFrame) -> DataFrame:
    """Value-identical to :func:`deciles_sql` (same output schema) in ONE
    ordered pass: the scalar total comes from an unbounded frame over the
    SAME single-partition ordering the running sum already needs, so the
    reference's separate scalar-aggregate job and its cross join
    disappear (two Window operators share one Sort, zero extra
    Exchange). Equality is pinned in tests/test_deciles.py at both test
    SFs; A/B at sf1: 0.58 s (SQL form) vs 0.43 s."""
    w = Window.orderBy("value")
    wt = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        histo.withColumn("cum", F.sum("pixel_count").over(w))
        .withColumn("total", F.sum("pixel_count").over(wt))
        .withColumn("pct", F.floor((F.col("cum") / F.col("total")) * 10))
    )
    return (
        cum.groupBy("pct")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum("pixel_count").alias("bucket_count"),
        )
        .select(
            (F.col("pct").cast("bigint") * 10).alias("percentile"),
            "min_value",
            "max_value",
            "bucket_count",
        )
        .orderBy("min_value")
    )


def quantiles(df: DataFrame, col: str, probs: list[float]) -> DataFrame:
    """Exact linear-interpolation percentiles of a raw column -> one row per
    probability ``(p DOUBLE, q DOUBLE)``.

    Generalizes the decile SQL to raw data without a histogram
    intermediate. Spark's ``percentile`` is an exact sort-based aggregate;
    for 100 TB interactive use, swap in ``approx_percentile`` (t-digest-like
    sketch, mergeable map-side) via :func:`approx_quantiles`.
    """
    arr = F.percentile(F.col(col), F.array(*[F.lit(p) for p in probs]))
    row = df.agg(arr.alias("qs"))
    pairs = F.arrays_zip(F.array(*[F.lit(p) for p in probs]).alias("p"), F.col("qs").alias("q"))
    return (
        row.select(F.explode(pairs).alias("pq"))
        .select(F.col("pq.p").alias("p"), F.round(F.col("pq.q"), 6).alias("q"))
        .orderBy("p")
    )


def approx_quantiles(df: DataFrame, col: str, probs: list[float], accuracy: int = 10000) -> DataFrame:
    """Sketch-based percentiles (mergeable, single pass — the 100 TB path)."""
    arr = F.approx_percentile(
        F.col(col), F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
    )
    row = df.agg(arr.alias("qs"))
    pairs = F.arrays_zip(F.array(*[F.lit(p) for p in probs]).alias("p"), F.col("qs").alias("q"))
    return (
        row.select(F.explode(pairs).alias("pq"))
        .select(F.col("pq.p").alias("p"), F.col("pq.q").cast("double").alias("q"))
        .orderBy("p")
    )


def equi_depth_histogram(
    df: DataFrame,
    col: str,
    id_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Equi-DEPTH histogram: buckets hold ~equal row counts; edges are data
    quantiles — the complement of the reference's equi-width binning (A5).

    ``ntile`` over (value, id) gives exact, deterministic bucket membership
    (the id tie-break pins rows with equal values to the same bucket in
    every engine). The global ordered window is a single-partition sort —
    this is the SMALL-DATA ORACLE TWIN, fine into the millions; the
    registered scale path is :func:`equi_depth_histogram_binned` (no
    raw-data sort anywhere), with :func:`equi_depth_histogram_approx` as
    the sketch-based alternative (same output schema).

    -> (bucket INT, n_rows BIGINT, min_value DOUBLE, max_value DOUBLE)
    """
    c = F.col(col)
    w = Window.orderBy(F.asc(col), F.asc(id_col))
    t = df.where(c.isNotNull() & ~F.isnan(c)).select(
        c.alias("v"), F.ntile(buckets).over(w).alias("bucket")
    )
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"), "n_rows", "min_value", "max_value")
        .orderBy("bucket")
    )


def equi_depth_histogram_binned(
    df: DataFrame,
    col: str,
    buckets: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Exact histogram-inverted equi-depth — the registered 100 TB path.

    The classic DB-statistics construction: bin values to integer keys
    (``trunc(v * scale)``, the same truncation discipline as the linear
    histogram A5), aggregate per-bin ``(count, min, max)`` in one scan
    (partial->final, shuffle bounded by the number of NON-EMPTY bins, i.e.
    the value range x scale — never by row count), then assign each bin to
    the bucket its first row would occupy under perfect equi-depth:
    ``bucket = (cum_excl * buckets) div total + 1`` with exclusive running
    counts from a window over the BIN-bounded aggregate (same bounded-input
    pattern as :func:`deciles` — thousands of rows, not raw data).

    Deterministic and engine-independent: every decision is integer
    arithmetic on counts; min/max are raw values with no arithmetic. A bin
    is never split, so a heavy bin may overfill its bucket by up to the bin
    population — the bin-granularity tradeoff that makes the plan fully
    parallel. The raw-exact twin :func:`equi_depth_histogram` (global
    ntile) is the small-data oracle for the tolerance test in
    tests/test_deciles.py.

    -> (bucket INT, n_rows BIGINT, min_value DOUBLE, max_value DOUBLE)
    """
    c = F.col(col)
    src = df.where(c.isNotNull() & ~F.isnan(c)).select(c.alias("v"))
    # double->bigint cast truncates toward zero (== DuckDB trunc); the same
    # discipline as bin_scheme.bin_key_expr (A5)
    b = src.groupBy(
        (F.col("v") * F.lit(scale)).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    m = b.select(
        "bin",
        "n",
        "mn",
        "mx",
        F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("cum_excl"),
        F.sum("n").over(w_tot).alias("total"),
    ).withColumn(
        "bucket",
        (F.expr(f"(cum_excl * {buckets}) div total") + 1).cast("int"),
    )
    return (
        m.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
        .select("bucket", "n_rows", "min_value", "max_value")
        .orderBy("bucket")
    )


def equi_depth_histogram_approx(
    df: DataFrame,
    col: str,
    buckets: int = 10,
    accuracy: int = 10000,
) -> DataFrame:
    """The 100 TB equi-depth path: ``approx_percentile`` cut points + a
    broadcast bucket join — NO global ordered window, no single-partition
    sort anywhere (plan-asserted in tests/test_deciles.py).

    Two parallel scans: (1) a mergeable sketch aggregate produces the
    ``buckets - 1`` interior cut points as ONE row; (2) that row is
    broadcast and each value finds its bucket with a vectorized
    array-predicate count (``size(filter(cuts, c -> v > c)) + 1`` —
    equivalent to ``width_bucket`` against data-derived edges), then the
    usual partial/final count/min/max aggregate. Values equal to a cut
    land in the LOWER bucket — deterministic, engine-independent.

    Same output schema as :func:`equi_depth_histogram`; bucket populations
    are approximate within the sketch's rank-error (tolerance-pinned in
    tests against the exact operator).
    """
    c = F.col(col)
    src = df.where(c.isNotNull() & ~F.isnan(c)).select(c.alias("v"))
    probs = F.array(*[F.lit(i / buckets) for i in range(1, buckets)])
    cuts = src.agg(F.approx_percentile("v", probs, F.lit(accuracy)).alias("cuts"))
    bucket = F.size(F.filter("cuts", lambda x: F.col("v") > x)) + 1
    return (
        src.join(F.broadcast(cuts))
        .select("v", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_rows",
            "min_value",
            "max_value",
        )
        .orderBy("bucket")
    )
