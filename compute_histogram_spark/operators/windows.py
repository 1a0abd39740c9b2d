"""Time-windowed and sessionized aggregations over the events stream table.

``events.ts`` arrives as TIMESTAMP_NTZ in the current testdata (and as
epoch-*nanosecond* BIGINT in the legacy layout); the first projection
normalizes either to epoch-*microsecond* BIGINT via
:func:`~compute_histogram_spark.operators.temporal.epoch_micros_sql`,
because microseconds are the finest precision every engine agrees on
(DuckDB TIMESTAMP is micros). All bucketing/gap logic is integer arithmetic
on micros — exact, portable, immune to timezone/precision drift.

These are the *batch* twins of the Structured Streaming operators in
``streaming/``: a tumbling ``window()`` is ``ts div window_ns`` and a
``session_window`` is the classic lag/gap-flag/cumulative-sum pattern. Batch
twins are what the DuckDB oracle can check; the streaming forms reuse the
same expressions.

Scale: both group-bys are plain hash aggregations (partial -> shuffle ->
final). Sessionization partitions by user_id — the window sort is per-user,
so it distributes; for a single hot user :func:`sessionize_salted` is the
output-identical two-phase variant that salts by (user_id, time bucket)
and stitches sessions across bucket edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from compute_histogram_spark.operators.temporal import epoch_micros_sql

US_PER_S = 1_000_000


def ts_micros(events: DataFrame, col: str = "ts") -> F.Column:
    """``ts`` -> epoch-micros BIGINT, dispatching on the column's dtype
    (TIMESTAMP_NTZ / TIMESTAMP / epoch-nanos BIGINT — see
    :func:`~compute_histogram_spark.operators.temporal.epoch_micros_sql`)."""
    return F.expr(epoch_micros_sql(events, col))


def windowed_histogram(
    events: DataFrame,
    window_s: int = 600,
    bin_width: float = 50.0,
) -> DataFrame:
    """Tumbling-window value histogram: (window_start_s, bin) -> count.

    ``window_start_s`` is epoch seconds of the window's left edge.
    """
    win_us = window_s * US_PER_S
    v = F.col("value")
    tsu = epoch_micros_sql(events)
    return (
        events.where(v.isNotNull() & ~F.isnan(v)).select(
            (F.expr(f"({tsu}) div {win_us}") * window_s).alias("window_start_s"),
            F.floor(F.col("value") / bin_width).cast("bigint").alias("bin"),
        )
        .groupBy("window_start_s", "bin")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "window_start_s",
            "bin",
            (F.col("bin") * bin_width).alias("bin_value"),
            "n_events",
        )
        .orderBy("window_start_s", "bin")
    )


def sliding_histogram(
    events: DataFrame,
    window_s: int = 600,
    slide_s: int = 300,
    bin_width: float = 50.0,
) -> DataFrame:
    """Sliding-window value histogram: each event contributes to every
    window of length ``window_s`` whose start is a multiple of ``slide_s``
    covering it (window_s/slide_s overlapping windows per event).

    Integer formulation (the batch twin of streaming ``F.window(...,
    slideDuration)``): explode per-event over the window_s/slide_s offsets,
    derive each window start with integer div — the fan-out factor is the
    overlap count, fixed and small, applied BEFORE the aggregation so the
    shuffle carries pre-counted partials.
    """
    if window_s % slide_s != 0:
        raise ValueError("window_s must be a multiple of slide_s")
    n_over = window_s // slide_s
    win_us = window_s * US_PER_S
    slide_us = slide_s * US_PER_S
    v = F.col("value")
    base = events.where(v.isNotNull() & ~F.isnan(v)).select(
        ts_micros(events).alias("tsu"),
        F.floor(v / bin_width).cast("bigint").alias("bin"),
    )
    off = F.explode(F.array(*[F.lit(i) for i in range(n_over)])).alias("off")
    exploded = base.select("tsu", "bin", off).select(
        ((F.expr("tsu div {s}".format(s=slide_us)) - F.col("off")) * slide_s).alias(
            "window_start_s"
        ),
        "tsu",
        "bin",
    )
    return (
        exploded.where(
            (F.col("tsu") >= F.col("window_start_s") * US_PER_S)
            & (F.col("tsu") < F.col("window_start_s") * US_PER_S + win_us)
        )
        .groupBy("window_start_s", "bin")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "window_start_s",
            "bin",
            (F.col("bin") * bin_width).alias("bin_value"),
            "n_events",
        )
        .orderBy("window_start_s", "bin")
    )


def click_attribution(
    events: DataFrame,
    from_type: str = "click",
    to_type: str = "purchase",
    horizon_s: int = 1800,
) -> DataFrame:
    """Interval self-join: each ``from_type`` event paired with every
    ``to_type`` event by the same user within ``horizon_s`` after it.

    The join predicate is an equi-join on user_id PLUS a bounded time range
    — Spark hash-partitions on the equi key and applies the range as a
    post-join filter, so the pair space is per-user, never global. The
    bounded horizon is also exactly what makes the STREAMING twin's state
    finite (stream_ops.streaming_click_attribution).
    """
    us = ts_micros(events)
    a = events.where(F.col("event_type") == from_type).select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("click_id"),
        us.alias("click_us"),
    )
    b = events.where(F.col("event_type") == to_type).select(
        F.col("user_id").alias("b_user_id"),
        F.col("event_id").alias("purchase_id"),
        us.alias("purchase_us"),
    )
    horizon_us = horizon_s * US_PER_S
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user_id"))
            & (F.col("purchase_us") > F.col("click_us"))
            & (F.col("purchase_us") <= F.col("click_us") + horizon_us),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            ((F.col("purchase_us") - F.col("click_us")) / 1_000_000.0).alias(
                "delay_s"
            ),
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


def sessionize(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Gap-based sessionization: a new session starts when the inter-event
    gap within a user exceeds ``gap_s``. Output one row per session.

    lag -> new-session flag -> running sum (the session id) -> group. The
    same semantics as Structured Streaming's ``session_window`` with a
    static gap (streaming/stream_ops.py), but checkable against a SQL
    oracle.
    """
    gap_us = gap_s * US_PER_S
    base = events.select("user_id", "event_id", ts_micros(events).alias("tsu"))
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    flagged = base.select(
        "user_id",
        "tsu",
        "event_id",
        F.when(
            F.lag("tsu").over(w).isNull()
            | ((F.col("tsu") - F.lag("tsu").over(w)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("tsu").alias("start_us"),
            F.max("tsu").alias("end_us"),
        )
        .withColumn("duration_s", ((F.col("end_us") - F.col("start_us")) / US_PER_S))
        .orderBy("user_id", "session_id")
    )


def sessionize_salted(
    events: DataFrame, gap_s: int = 1800, bucket_s: int = 86_400
) -> DataFrame:
    """Hot-key-safe sessionization: identical output to :func:`sessionize`
    (pinned in tests), but no single window partition ever holds one user's
    whole history.

    The plain operator's ``partitionBy(user_id)`` serializes a hot user
    (one bot with 10^9 events = one reducer sorting 10^9 rows — the caveat
    in this module's docstring). This variant exploits that gap-merging is
    associative over a time-ordered split:

    1. **local pass** — window over ``(user_id, time-bucket)``: the salt
       bounds every sort partition by the bucket's event count; sessions
       that may continue across a bucket edge are simply left split.
    2. **stitch pass** — per-user window over the per-(bucket-)session
       summary rows ``(start_us, end_us, n)``, re-running the SAME
       lag/gap-flag/cumsum on session intervals: two adjacent sessions
       merge when ``next.start - prev.end <= gap``. Input size is
       O(sessions), smaller than events by the mean session length — a
       dense hot user collapses to ~bucket_span/gap rows per bucket.

    A user whose events are all spaced just over ``gap`` degenerates to
    O(events) summary rows (every event its own session); for that shape
    raise ``bucket_s``'s granularity or accept the plain operator — no
    partitioning scheme can sessionize an adversarial key without seeing
    its timeline.
    """
    gap_us = gap_s * US_PER_S
    bucket_us = bucket_s * US_PER_S
    base = events.select("user_id", "event_id", ts_micros(events).alias("tsu"))
    # ---- pass 1: sessionize within (user, coarse bucket)
    bucketed = base.withColumn("bkt", F.expr(f"tsu div {bucket_us}"))
    w1 = Window.partitionBy("user_id", "bkt").orderBy("tsu", "event_id")
    local = (
        bucketed.withColumn(
            "is_new",
            F.when(
                F.lag("tsu").over(w1).isNull()
                | ((F.col("tsu") - F.lag("tsu").over(w1)) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "lsid",
            F.sum("is_new").over(
                w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "bkt", "lsid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("tsu").alias("start_us"),
            F.max("tsu").alias("end_us"),
        )
    )
    # ---- pass 2: gap-merge the session intervals per user (small input)
    w2 = Window.partitionBy("user_id").orderBy("start_us", "end_us")
    merged = (
        local.withColumn(
            "is_new",
            F.when(
                F.lag("end_us").over(w2).isNull()
                | ((F.col("start_us") - F.lag("end_us").over(w2)) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
        )
    )
    return (
        merged.withColumn(
            "duration_s", (F.col("end_us") - F.col("start_us")) / US_PER_S
        )
        .select(
            "user_id", "session_id", "n_events", "start_us", "end_us",
            "duration_s",
        )
        .orderBy("user_id", "session_id")
    )


def windowed_quantiles(
    events: DataFrame,
    window_s: int = 600,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-tumbling-window approx percentiles of ``value`` — the sketch
    twin of :func:`windowed_histogram` (SURVEY §2.4 windowed sketches).

    ``approx_percentile`` is a mergeable KLL-style sketch aggregate, so the
    plan is the same partial->shuffle->final hash aggregation as a count:
    one sketch per (window) group rides the shuffle, never the values —
    the shape that holds at 100 TB where an exact per-window percentile
    would sort every window's population. Tolerance vs the exact per-window
    percentile is pinned in tests/test_deciles.py.

    -> (window_start_s BIGINT, p DOUBLE, q DOUBLE)
    """
    win_us = window_s * US_PER_S
    v = F.col("value")
    parr = F.array(*[F.lit(p) for p in probs])
    tsu = epoch_micros_sql(events)
    agg = (
        events.where(v.isNotNull() & ~F.isnan(v))
        .select(
            (F.expr(f"({tsu}) div {win_us}") * window_s).alias(
                "window_start_s"
            ),
            "value",
        )
        .groupBy("window_start_s")
        .agg(F.approx_percentile("value", parr, F.lit(accuracy)).alias("qs"))
    )
    pairs = F.arrays_zip(parr.alias("p"), F.col("qs").alias("q"))
    return (
        agg.select("window_start_s", F.explode(pairs).alias("pq"))
        .select(
            "window_start_s",
            F.col("pq.p").alias("p"),
            F.col("pq.q").cast("double").alias("q"),
        )
        .orderBy("window_start_s", "p")
    )


def rolling_user_stats(
    events: DataFrame, window_s: int = 3600
) -> DataFrame:
    """Per-event trailing-window aggregates: for every event, the count and
    value-sum of the SAME user's events in the preceding ``window_s``
    (inclusive of the current row) — the RANGE-frame complement to the
    ROWS-frame running totals elsewhere in the engine, and the feature
    shape online models consume ("activity in the last hour").

    ``rangeBetween`` on integer epoch-micros gives exact, tz-free frame
    bounds; money sums in integer cents so the oracle hash-matches. The
    window partitions per user — same distribution story (and the same
    hot-user caveat/salting answer) as :func:`sessionize`.

    -> (user_id, event_id, tsu, n_window BIGINT, sum_value DOUBLE)
    """
    win_us = window_s * US_PER_S
    v = F.col("value")
    base = events.select(
        "user_id",
        "event_id",
        ts_micros(events).alias("tsu"),
        F.when(
            v.isNotNull() & ~F.isnan(v),
            F.round(v * 100).cast("bigint"),
        ).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(-win_us, 0)
    )
    return (
        base.select(
            "user_id",
            "event_id",
            "tsu",
            F.count(F.lit(1)).over(w).alias("n_window"),
            (F.coalesce(F.sum("cents").over(w), F.lit(0)) / 100.0).alias(
                "sum_value"
            ),
        )
        .orderBy("user_id", "tsu", "event_id")
    )
