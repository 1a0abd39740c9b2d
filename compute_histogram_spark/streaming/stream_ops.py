"""Structured Streaming twins of the batch window operators.

The reference is batch-only; these extend its transform->bucket->count shape
to unbounded input (SURVEY §2.4). Each streaming op shares its bucketing
expressions with the batch twin in ``operators/windows.py`` — the batch form
is what the DuckDB oracle checks; the streaming form is verified in tests by
running a file stream to completion (``availableNow``) and diffing against
the batch result, which must be identical for a finite input.

Scale/semantics notes:

- event time = ``timestamp_micros(epoch_micros(ts))`` — the ts column may be
  TIMESTAMP_NTZ (current testdata) or epoch-nanos BIGINT (legacy layout);
  ``operators.temporal.epoch_micros_sql`` dispatches on the dtype, so the
  streaming and batch twins always bucket on identical integer micros.
- ``withWatermark`` bounds state: bins/windows older than the watermark are
  finalized and evicted — without it, state grows with the key space
  forever. Late rows beyond the watermark are dropped (documented, tested).
  Operational subtlety (empirically verified, pinned in
  tests/test_streaming.py::test_watermark_drops_late_data): the stateful
  operator applies the watermark with ONE micro-batch of lag relative to
  what StreamingQueryProgress reports — a late row arriving in the batch
  immediately after the one that advanced the watermark is still admitted;
  from the following batch on it is dropped. Plan state-size estimates and
  replay tests around that extra batch of admission.
- tumbling ``window()`` aggregation is incremental partial aggregation per
  micro-batch + state-store merge: the streaming analog of the partial/final
  histogram merge (main.py:244-249).
- ``session_window`` is Spark's native gap-session state machine; the batch
  lag/cumsum twin (operators/windows.py:sessionize) has identical semantics
  for a static gap.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from compute_histogram_spark.operators.temporal import epoch_micros_sql

# legacy events schema (epoch-nanos ts) under
# spark.sql.legacy.parquet.nanosAsLong=true; kept for fixtures that still
# write the old layout — read_events_stream infers the real schema per path.
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # epoch nanos
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over an events parquet directory. New files are
    discovered per micro-batch — the standard landing-zone pattern.
    ``max_files_per_trigger`` bounds batch size (and, with 1, forces one
    file per micro-batch — used by tests to control watermark advancement).

    File streams require an explicit schema; we take it from a one-time
    batch read of the same path (parquet footers only, driver-side) so the
    stream matches whatever ts layout the files actually carry —
    TIMESTAMP_NTZ in the current testdata, nanos-BIGINT in legacy fixtures.
    On an empty landing directory (the normal streaming start state) the
    batch read finds no footers; fall back to the legacy explicit schema so
    the stream still starts and picks up files as they land.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException:
        schema = EVENTS_STREAM_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _event_time(df: DataFrame) -> DataFrame:
    """Attach an ``event_time`` TIMESTAMP derived from integer epoch micros
    (dtype-dispatched), so streaming windows land on exactly the same
    boundaries as the batch twins' integer ``div`` bucketing."""
    return df.withColumn(
        "event_time", F.timestamp_micros(F.expr(epoch_micros_sql(df)))
    )


def start_available_now(
    df: DataFrame,
    mode: str,
    sink=None,
    query_name: str | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start ``df`` as an ``availableNow`` query in output ``mode``, into
    the foreachBatch ``sink`` or, without one, into the memory table
    ``query_name``. Every query this module starts goes through here.

    Sizing rule: state partitions = cores (``defaultParallelism``), not
    the batch ``spark.sql.shuffle.partitions``. Spark fixes a stateful
    query's state partition count when the query first starts, and AQE
    is off inside streaming, so nothing coalesces 32 state stores that
    hold a few keys; each one loads and commits a state version on every
    micro-batch. The session conf is changed only around ``start()``,
    which copies it into the query, and the caller's value is restored
    even when ``start()`` raises; a batch query that another thread
    plans on the same session meanwhile would see the per-core count. A
    query restarted from an existing checkpoint keeps the count recorded
    there.
    """
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    caller = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        w = df.writeStream.outputMode(mode).trigger(availableNow=True)
        if sink is None:
            w = w.format("memory").queryName(query_name)
        else:
            w = w.foreachBatch(sink)
        if checkpoint is not None:
            w = w.option("checkpointLocation", checkpoint)
        return w.start()
    finally:
        spark.conf.set(key, caller)


def _drain(df: DataFrame, mode: str, sink) -> None:
    """Run ``df`` through ``sink`` until its finite input is consumed."""
    start_available_now(df, mode, sink).awaitTermination()


def streaming_windowed_histogram(
    stream: DataFrame,
    window_s: int = 600,
    bin_width: float = 50.0,
    watermark: str = "1 hour",
    slide_s: int | None = None,
) -> DataFrame:
    """Tumbling (default) or sliding (``slide_s``) window value histogram
    over a stream — F.window's slideDuration; batch twin:
    operators/windows.py:sliding_histogram."""
    return (
        _event_time(stream)
        .withWatermark("event_time", watermark)
        .groupBy(
            F.window(
                "event_time",
                f"{window_s} seconds",
                f"{slide_s or window_s} seconds",
            ).alias("win"),
            F.floor(F.col("value") / bin_width).cast("bigint").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "bin",
            (F.col("bin") * bin_width).alias("bin_value"),
            "n_events",
        )
    )


def streaming_sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessions via the native session_window state machine."""
    return (
        _event_time(stream)
        .withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start_s"),
            F.col("sw.end").cast("long").alias("session_end_s"),
            "n_events",
        )
    )


def streaming_click_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_s: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to prior clicks by
    the same user within ``horizon_s``.

    Both sides carry watermarks and the join condition bounds event-time
    distance — together that lets Spark EVICT click state older than
    (watermark - horizon) and purchase state older than the watermark, so
    state is finite for unbounded streams. Without the time bound in the
    JOIN CONDITION (not just watermarks) the state would grow forever.
    """
    c = _event_time(clicks).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("event_time").alias("click_time"),
    ).withWatermark("click_time", watermark)
    p = _event_time(purchases).select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_time").alias("purchase_time"),
    ).withWatermark("purchase_time", watermark)
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_time") > F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr(f"INTERVAL {horizon_s} SECONDS")
        ),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            (F.unix_micros("purchase_time") - F.unix_micros("click_time"))
            / 1_000_000.0
        ).alias("delay_s"),
    )


def streaming_exact_dedup(
    stream: DataFrame,
    content_col: str = "value",
    id_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each content
    hash, with state bounded by the watermark.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per distinct key
    and evicts entries older than the watermark — the streaming twin of the
    batch ``dedup_exact`` (operators/dedup.py), and the standard ingestion
    guard for at-least-once upstream delivery. The dedup key is a digest of
    the content (never the content itself) so the state store holds 32-byte
    keys regardless of payload size.
    """
    keyed = _event_time(stream).withColumn(
        "content_hash", F.sha2(F.col(content_col).cast("string"), 256)
    )
    return keyed.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    ).select(*id_cols, "content_hash", "event_time")


USER_STATS_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("sum_cents", LongType()),
        StructField("min_v", DoubleType()),
        StructField("max_v", DoubleType()),
    ]
)

USER_STATS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("min_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def streaming_user_stats(stream: DataFrame, timeout_s: int | None = None) -> DataFrame:
    """Custom stateful operator: running per-user value stats via
    ``applyInPandasWithState`` — the escape hatch for aggregation semantics
    the built-in windowed aggs can't express (here: unbounded running
    min/max/sum with explicit state lifecycle + optional idle timeout).

    State is one fixed-size tuple per user — O(keys) store size, no
    per-event history. The value sum accumulates in integer cents so state
    merge order (micro-batch arrival order) can never change the result.
    Each micro-batch emits the users it touched with their updated totals
    (update semantics). With ``timeout_s`` set, users idle longer than the
    processing-time timeout are finalized and evicted — the state-bound
    knob for high-churn key spaces.
    """
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import

    timeout = "ProcessingTimeTimeout" if timeout_s else "NoTimeout"

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:
            n, s, mn, mx = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "sum_value": [s / 100.0],
                    "min_value": [mn],
                    "max_value": [mx],
                }
            )
            return
        n, s, mn, mx = state.get if state.exists else (0, 0, None, None)
        for pdf in pdf_iter:
            v = pdf["value"].dropna()
            if len(v) == 0:
                continue
            n += int(len(v))
            # round each value to cents BEFORE summing: the state is then
            # independent of micro-batch boundaries and float summation
            # order. Explicit HALF_UP (not pandas' half-even .round()) so
            # exact half-cents agree with the batch twin / oracle's
            # F.round semantics (ADVICE r01).
            arr = v.to_numpy(dtype="float64") * 100
            s += int(
                np.where(arr >= 0, np.floor(arr + 0.5), np.ceil(arr - 0.5))
                .astype("int64")
                .sum()
            )
            bmn, bmx = float(v.min()), float(v.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, s, mn, mx))
        if timeout_s:
            state.setTimeoutDuration(timeout_s * 1000)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [s / 100.0],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATS_OUTPUT,
            stateStructType=USER_STATS_STATE,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def streaming_user_stats_tws(
    stream: DataFrame, idle_timeout_s: int | None = None
) -> DataFrame:
    """Running per-user value stats via **transformWithStateInPandas** —
    Spark 4's arbitrary-stateful-processing API and the successor to
    ``applyInPandasWithState`` (same semantics as
    :func:`streaming_user_stats`; equality on drained finite input is
    pinned in tests/test_streaming.py).

    Why this API at scale: named state variables (``getValueState`` /
    ``getListState`` / ``getMapState``) are individually evolvable and
    TTL-able, timers are first-class (``registerTimer`` instead of one
    per-group timeout), and the state store is the same RocksDB backend —
    so a 100 TB pipeline can keep hundreds of millions of user keys with
    fixed-size (4-long) state rows. Accumulation is identical to the
    applyInPandasWithState twin: integer cents with explicit HALF_UP so
    micro-batch boundaries and float order can never change the answer.

    With ``idle_timeout_s``, a processing-time timer finalizes and evicts
    users idle longer than the timeout (state-bound knob for high-churn
    key spaces); each input batch re-arms the timer.

    Environment note: executing this query requires the ``google.protobuf``
    package (the TWS state-server wire protocol is protobuf; PySpark's
    transform_with_state_driver_worker imports it at query start). The
    logical plan builds without it; the execution test in
    tests/test_streaming.py skips when protobuf is absent (this container),
    with :func:`streaming_user_stats` as the executable twin of record.
    """
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
    )

    class Processor(StatefulProcessor):
        def init(self, handle):
            self._handle = handle
            self._state = handle.getValueState("stats", USER_STATS_STATE)

        def _emit(self, user_id, n, s, mn, mx):
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "sum_value": [s / 100.0],
                    "min_value": [mn],
                    "max_value": [mx],
                }
            )

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            n, s, mn, mx = (
                self._state.get() if self._state.exists() else (0, 0, None, None)
            )
            for pdf in rows:
                v = pdf["value"].dropna()
                if len(v) == 0:
                    continue
                n += int(len(v))
                arr = v.to_numpy(dtype="float64") * 100
                s += int(
                    np.where(arr >= 0, np.floor(arr + 0.5), np.ceil(arr - 0.5))
                    .astype("int64")
                    .sum()
                )
                bmn, bmx = float(v.min()), float(v.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, s, mn, mx))
            if idle_timeout_s:
                # re-arm: drop the previous idle timer, schedule a new one
                for t in self._handle.listTimers():
                    self._handle.deleteTimer(t)
                self._handle.registerTimer(
                    timer_values.getCurrentProcessingTimeInMs()
                    + idle_timeout_s * 1000
                )
            yield self._emit(user_id, n, s, mn, mx)

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            (user_id,) = key
            if self._state.exists():
                n, s, mn, mx = self._state.get()
                self._state.clear()
                yield self._emit(user_id, n, s, mn, mx)

        def close(self):
            pass

    # transformWithState requires the RocksDB state store provider (the
    # HDFS-backed default does not implement its column-family API). RocksDB
    # is the right provider at scale regardless: incremental checkpointing,
    # off-heap state, changelog uploads.
    stream.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            Processor(),
            outputStructType=USER_STATS_OUTPUT,
            outputMode="Update",
            timeMode="ProcessingTime" if idle_timeout_s else "None",
        )
    )


def streaming_incremental_histogram(
    stream: DataFrame,
    col: str,
    scheme,
    state_path: str,
    checkpoint_path: str,
):
    """Continuously-maintained histogram: a foreachBatch sink that turns
    each micro-batch into a sparse partial state (operators/incremental.py)
    and appends it to a log-structured state directory.

    Exactly-once without read-modify-write: every micro-batch writes ONLY
    its own ``batch_id=N`` partition using dynamic partition overwrite — a
    replayed batch (failure/restart) overwrites its own partition
    idempotently and never touches earlier state. Readers never race the
    writer because existing partitions are immutable. The merged view is
    recovered on demand by :func:`read_histogram_state` — an O(batches x
    occupied_bins) fold, independent of how many raw rows each batch
    summarized (the same merge-cost bound as the batch incremental path).

    The bin scheme must be fixed up front (states binned under different
    schemes don't merge) — the streaming analog of the reference's
    ``--min_value/--max_value`` one-pass mode (main.py:53-54).
    """
    from compute_histogram_spark.operators.incremental import delta_counts

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            delta_counts(batch_df, col, scheme)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state_path)
        )

    return start_available_now(stream, "append", sink, checkpoint=checkpoint_path)


def read_histogram_state(spark: SparkSession, state_path: str, scheme) -> DataFrame:
    """Merge the persisted per-batch states into the labeled histogram."""
    from compute_histogram_spark.operators.incremental import finalize, merge_states

    return finalize(merge_states(spark.read.parquet(state_path)), scheme)


def streaming_windowed_quantiles(
    stream: DataFrame,
    window_s: int = 600,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-tumbling-window approx percentiles over a stream — the
    Structured Streaming twin of ``operators/windows.py:windowed_quantiles``
    (SURVEY §2.4 windowed sketches).

    ``approx_percentile`` is a MERGEABLE sketch aggregate, so streaming
    state per open window is one sketch, merged incrementally across
    micro-batches exactly like the batch partial/final split; the
    watermark bounds how long windows stay open. Same rank-error guarantee
    as the batch form (equality on finite drained input is pinned in
    tests/test_streaming.py).
    """
    v = F.col("value")
    parr = F.array(*[F.lit(p) for p in probs])
    agg = (
        _event_time(stream.where(v.isNotNull() & ~F.isnan(v)))
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", f"{window_s} seconds").alias("win"))
        .agg(F.approx_percentile("value", parr, F.lit(accuracy)).alias("qs"))
    )
    pairs = F.arrays_zip(parr.alias("p"), F.col("qs").alias("q"))
    return agg.select(
        F.col("win.start").cast("long").alias("window_start_s"),
        F.explode(pairs).alias("pq"),
    ).select(
        "window_start_s",
        F.col("pq.p").alias("p"),
        F.col("pq.q").cast("double").alias("q"),
    )


def run_to_completion(
    result: DataFrame, query_name: str, mode: str = "complete"
) -> DataFrame:
    """Drain a finite stream (availableNow) into a memory sink and return
    the materialized result. Test/debug helper — production writes go to a
    real sink (kafka/parquet/delta) with ``trigger(processingTime=...)``."""
    start_available_now(result, mode, query_name=query_name).awaitTermination()
    return result.sparkSession.table(query_name)


def streaming_distribution_drift(
    stream: DataFrame,
    ref_counts: dict[int, int],
    bin_width: float = 50.0,
    value_col: str = "value",
):
    """Running PSI drift monitor: a complete-mode bin aggregation over the
    stream plus a foreachBatch hook that recomputes the drift report
    against a STATIC reference histogram after every micro-batch — the
    streaming twin of ``operators/profile.py:distribution_drift`` (same
    smoothing, same rounding; twin equality pinned in
    tests/test_streaming.py).

    Returns ``(query, reports)``: ``reports`` is an append-only list of
    ``(batch_id, psi)`` driver-side observations (in production the sink
    would page an alerting system instead). State is ONE row per occupied
    bin — bounded by the value domain, not the stream length — held in
    one state partition per core (:func:`start_available_now`): the
    count is fixed when the query first starts and AQE is off in
    streaming, so the batch 32 would commit 32 near-empty state stores
    per micro-batch. A restart from an existing checkpoint keeps the
    count recorded there.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    v = F.col(value_col)
    binned = (
        stream.where(v.isNotNull() & ~F.isnan(v))
        .groupBy(F.floor(v / bin_width).cast("bigint").alias("bin"))
        .count()
    )
    reports: list[tuple[int, float]] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cur = {r["bin"]: r["count"] for r in batch_df.collect()}
        bins = sorted(set(ref_counts) | set(cur))
        if not bins:
            return
        t_ref = sum(ref_counts.values())
        t_cur = sum(cur.values())
        nb = len(bins)
        psi = 0.0
        for b in bins:
            pr = (ref_counts.get(b, 0) + 0.5) / (t_ref + 0.5 * nb)
            pc = (cur.get(b, 0) + 0.5) / (t_cur + 0.5 * nb)
            psi += round((pc - pr) * __import__("math").log(pc / pr), 6)
        reports.append((batch_id, round(psi, 6)))

    return start_available_now(binned, "complete", sink), reports


def streaming_normalized_dedup(
    stream: DataFrame,
    content_col: str = "value",
    id_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the r12 batch ``normalized_dedup``
    (operators/dedup.py): the dedup key is the digest of the
    C4-NORMALIZED content (lowercase / [^a-z0-9 ] strip / whitespace
    collapse), so casing- and punctuation-only re-deliveries collapse
    to one emitted row — the ingestion-time form of the preprocessing
    stage, with the same watermark-bounded 32-byte-key state story as
    :func:`streaming_exact_dedup`."""
    from compute_histogram_spark.operators.dedup import normalize_text

    keyed = _event_time(stream).withColumn(
        "norm_hash",
        F.sha2(normalize_text(F.col(content_col).cast("string")), 256),
    )
    return keyed.withWatermark(
        "event_time", watermark
    ).dropDuplicatesWithinWatermark(["norm_hash"]).select(
        *id_cols, "norm_hash", "event_time"
    )


# ---------------------------------------------------------------------------
# Deterministic micro-batch drain harness (r13, VERDICT r12 #5): run a
# streaming operator through FIXED batch boundaries on finite input and
# return the converged result as an ordinary DataFrame — the bridge that
# lets a stateful streaming op carry a value-exact DuckDB twin in the
# driver's correctness window (which can only call (spark, sf_dir) ->
# DataFrame). Every drain runs through ``_drain`` with one state
# partition per core, not the batch shuffle count: the count is fixed
# when a query first starts, AQE is off in streaming, and a query
# restarted from an existing checkpoint keeps the count recorded there
# (see :func:`start_available_now`).
# ---------------------------------------------------------------------------


def _deterministic_batches(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n_batches: int,
    frame: DataFrame | None = None,
    variant: str = "",
) -> str:
    """Split ``sf_dir/<table>.parquet`` (or an explicit ``frame`` derived
    from it, tagged by ``variant``) into ``n_batches`` single-file
    micro-batches with deterministic CONTENT (``<key> % n``) and
    deterministic ORDER (ascending mtimes; the file source replays by
    (mtime, path)). Idempotent per (sf_dir, table, variant, n): rebuilt
    only if absent, so every run of the twin sees the same batch
    boundaries."""
    import hashlib
    import shutil

    suffix = "" if table == "events" else f":{table}"
    if variant:
        suffix += f":{variant}"
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}{suffix}:{n_batches}".encode()
    ).hexdigest()[:10]
    out = os.path.join("/tmp", f"stream_batches_{tag}")
    done = os.path.join(out, "_BATCHES_READY")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    ev = frame if frame is not None else spark.read.parquet(
        os.path.join(sf_dir, f"{table}.parquet")
    )
    base = 1_000_000_000  # fixed epoch for mtimes: runs are reproducible
    for i in range(n_batches):
        stage = os.path.join(out, f"_stage_{i}")
        (
            ev.where(F.col(key) % n_batches == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(out, f"batch-{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage)
        os.utime(dst, (base + i, base + i))
    with open(done, "w") as f:
        f.write(str(n_batches))
    return out


def deterministic_event_batches(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Events split (event_id % n) — see :func:`_deterministic_batches`.
    The tag for events omits the table suffix so r13 twins keep reusing
    their already-built directories."""
    return _deterministic_batches(spark, sf_dir, "events", "event_id", n_batches)


def deterministic_doc_batches(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Documents split (doc_id % n) — the text-stream counterpart."""
    return _deterministic_batches(
        spark, sf_dir, "documents", "doc_id", n_batches
    )


def drained_user_stats(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """:func:`streaming_user_stats` driven through ``n_batches`` fixed
    micro-batches to completion; returns the converged per-user stats
    (LAST update per user) as a batch DataFrame.

    The final values are micro-batch-invariant by construction (integer-
    cent sums, associative count/min/max), so this equals the batch
    GROUP BY — which is exactly what makes a value-exact SQL oracle
    possible for a stateful streaming operator. Users whose every value
    is NULL/NaN converge to n_events=0 and are dropped (the oracle's
    WHERE has no rows for them). Driver-side state here is O(users) —
    the same bounded-keys argument as the operator's state store."""
    path = deterministic_event_batches(spark, sf_dir, n_batches)
    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    final: dict = {}

    def sink(df: DataFrame, _epoch: int) -> None:
        for r in df.collect():
            final[r["user_id"]] = (
                r["n_events"], r["sum_value"], r["min_value"], r["max_value"]
            )

    _drain(streaming_user_stats(stream), "update", sink)
    rows = [
        (uid, n, s, mn, mx)
        for uid, (n, s, mn, mx) in sorted(final.items())
        if n > 0
    ]
    return spark.createDataFrame(rows, USER_STATS_OUTPUT).orderBy("user_id")


def drained_exact_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """:func:`streaming_exact_dedup` driven through the same fixed
    micro-batches as :func:`drained_user_stats`, drained to a batch
    DataFrame — the second streaming operator under the value-exact gate.

    The watermark is set far past the data's event-time span so nothing
    is ever late-dropped or state-evicted: the drained output is then the
    GLOBAL first occurrence per content hash. Cross-batch firstness is
    deterministic (batch i processed before batch i+1 by mtime order);
    WITHIN a batch the surviving row for a duplicated value is whichever
    task emits first, so the twin projects each emission to the pair
    (value, first_batch = event_id % n_batches) — both components are
    emission-invariant: every event of a value inside one micro-batch
    shares the batch index by construction, and the content hash is 1:1
    with the value. Oracle: ``GROUP BY value, min(event_id % n)``."""
    path = deterministic_event_batches(spark, sf_dir, n_batches)
    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    emitted: list = []

    def sink(df: DataFrame, _epoch: int) -> None:
        for r in df.select("event_id", "value").collect():
            emitted.append((r["event_id"], r["value"]))

    _drain(
        streaming_exact_dedup(
            stream, id_cols=("event_id", "value"), watermark="3650 days"
        ),
        "append",
        sink,
    )
    rows = sorted(
        (v, int(eid % n_batches)) for eid, v in emitted
    )
    return spark.createDataFrame(
        rows, "value double, first_batch int"
    ).orderBy("value")


def drained_distribution_drift(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    bin_width: float = 50.0,
) -> DataFrame:
    """:func:`streaming_distribution_drift` driven through the same fixed
    micro-batches as :func:`drained_user_stats` — the THIRD streaming
    operator under the value-exact gate (VERDICT r13 #7).

    Reference histogram: the batch non-purchase value distribution (the
    same split as the rotated-out batch ``distribution_drift`` twin);
    the monitored stream is the purchase events. Complete-mode
    aggregation means report i is the PSI of the CUMULATIVE purchase
    prefix (files 0..i, i.e. event_id % n <= i) against the static
    reference — deterministic batch content and order make every
    intermediate report reproducible by a SQL oracle, not just the
    final one. Returns (batch_id, psi), one row per micro-batch.

    State story at scale: the streaming aggregate holds ONE row per
    occupied bin (value-domain-bounded); the driver sink sees O(bins)
    rows per trigger, never the stream.
    """
    path = deterministic_event_batches(spark, sf_dir, n_batches)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    v = F.col("value")
    ref_rows = (
        ev.where(
            (F.col("event_type") != "purchase")
            & v.isNotNull() & ~F.isnan(v)
        )
        .groupBy(F.floor(v / bin_width).cast("bigint").alias("bin"))
        .count()
        .collect()
    )
    ref_counts = {r["bin"]: r["count"] for r in ref_rows}
    stream = read_events_stream(spark, path, max_files_per_trigger=1).where(
        F.col("event_type") == "purchase"
    )
    q, reports = streaming_distribution_drift(
        stream, ref_counts, bin_width=bin_width
    )
    q.awaitTermination()
    return spark.createDataFrame(
        sorted(reports), "batch_id int, psi double"
    ).orderBy("batch_id")


def drained_normalized_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """:func:`streaming_normalized_dedup` over a DOCUMENTS file stream,
    drained through deterministic micro-batches — the FOURTH streaming
    operator under the value-exact gate (r14).

    The driver's documents table has NO normalized duplicates, so the
    stream is AUGMENTED with a deterministic casing/punctuation variant
    of every doc (doc_id + 1000001 — the +1 rotates its batch index —
    with upper-cased text wrapped in extra punctuation/whitespace): each
    normalized digest now arrives exactly twice, in different batches,
    and the op must keep precisely the earlier one. Documents carry no
    event time, so a constant timestamp is injected — far enough past
    the epoch that the watermark delay never swings the computed
    watermark below zero (a delay LARGER than the event time stamps
    every row late and the stream silently emits nothing; found the
    hard way with ts=0, pinned in tests). Emission-invariant projection
    (the exact-dedup precedent): within a batch, WHICH duplicate row is
    emitted is a task race, but its batch index is shared by
    construction, so each emission projects to (norm_hash, first_batch
    = doc_id % n) — and the oracle is ``GROUP BY norm_hash,
    min(doc_id % n)`` over the same augmented union."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    variants = docs.select(
        (F.col("doc_id") + 1000001).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !!")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(variants)
    path = _deterministic_batches(
        spark, sf_dir, "documents", "doc_id", n_batches,
        frame=aug, variant="casepunct",
    )
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn("ts", F.timestamp_seconds(F.lit(1_000_000_000)))
    )
    emitted: list = []

    def sink(df: DataFrame, _epoch: int) -> None:
        for r in df.select("doc_id", "norm_hash").collect():
            emitted.append((r["doc_id"], r["norm_hash"]))

    _drain(
        streaming_normalized_dedup(
            stream, content_col="text", id_cols=("doc_id",),
            watermark="3650 days",
        ),
        "append",
        sink,
    )
    rows = sorted((h, int(d % n_batches)) for d, h in emitted)
    return spark.createDataFrame(
        rows, "norm_hash string, first_batch int"
    ).orderBy("norm_hash")


def drained_sessionize(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """:func:`streaming_sessionize` driven through the same fixed
    micro-batches as :func:`drained_user_stats`, drained to the converged
    session table — the FIFTH streaming operator under the value-exact
    gate (r16): the native ``session_window`` state machine itself.

    Two twin-harness choices make convergence observable and exact:

    - **complete mode** (the only mode Spark supports for session-window
      aggregations besides append): every epoch re-emits the ENTIRE
      merged session table, so the LAST epoch's emission IS the
      converged state — no emission-projection tricks needed, because
      session MERGING is associative over any batch split (a session's
      interval only ever widens). Complete mode holds all state, which
      is exactly what a finite drain wants and what production append
      mode (watermark eviction) deliberately avoids.
    - **far-future watermark** ("3650 days", the exact-dedup precedent):
      the batch split is by ``event_id % n``, NOT by time, so later
      batches contain arbitrarily early events — any realistic watermark
      would drop them and diverge from the batch twin.

    Boundary semantics verified empirically and pinned in tests: an
    event at EXACTLY gap after the previous one MERGES (session_window
    treats [t, t+gap) windows that touch as overlapping), matching the
    batch twin's strict ``tsu - prev > gap_us`` new-session rule; and
    ``sw.start/.end cast("long")`` floors micros to epoch seconds, with
    ``end = last event + gap`` so whole-second gaps commute with the
    floor. Oracle: the batch SESSIONIZE CTE re-projected to
    (floor(min/1e6), floor(max/1e6) + gap_s)."""
    path = deterministic_event_batches(spark, sf_dir, n_batches)
    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    final: dict = {"rows": []}

    def sink(df: DataFrame, _epoch: int) -> None:
        # complete mode: every emission is the full table; last wins
        final["rows"] = [
            (r["user_id"], r["session_start_s"], r["session_end_s"],
             r["n_events"])
            for r in df.collect()
        ]

    _drain(streaming_sessionize(stream, watermark="3650 days"), "complete", sink)
    return spark.createDataFrame(
        sorted(final["rows"]),
        "user_id bigint, session_start_s bigint, session_end_s bigint, "
        "n_events bigint",
    ).orderBy("user_id", "session_start_s")


def streaming_neardup_index(
    stream: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Online MinHash-LSH dedup index as ONE streaming aggregation.

    The streaming form of the batch ``minhash_candidates`` substrate
    (operators/dedup.py): per-doc signatures are computed STATELESS via
    array HOFs (``band_rows_stateless`` — Structured Streaming permits
    only one stateful aggregation per query, and signature assembly by
    groupBy would already spend it), and the single allowed aggregation
    maintains the index itself: per (band_id, band_hash) the min doc_id
    seen so far. min() is associative and commutative, so the converged
    state is identical under ANY micro-batch split — the property the
    drained twin's oracle relies on.

    This is the streaming counterpart of ``append_minhash_index``: state
    cardinality is O(docs x bands) — the same rows the batch banded join
    shuffles — and the emitted updates ARE the index delta a sink would
    persist. Production deployments bound state by time (watermark on an
    ingest timestamp) when dedup-against-recent suffices, exactly like
    ``streaming_exact_dedup``'s 32-byte-key story; the drain harness
    keeps everything because a finite corpus wants the global index.

    Cost trade (measured, tools/ab_minhash_stateless_r16.json): the
    stateless array-HOF signature is ~19x slower per row than the batch
    codegen'd explode+min form — acceptable HERE because streaming pays
    it per micro-batch DELTA, and the alternative (a second stateful
    aggregation) is illegal in one streaming query; batch keeps the
    aggregated form (BASELINE r16 addendum 2).
    """
    from compute_histogram_spark.operators.dedup import band_rows_stateless

    bands = band_rows_stateless(
        stream,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
    )
    return bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("min_doc")
    )


def drained_neardup_mark(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """:func:`streaming_neardup_index` drained through deterministic
    document micro-batches — the SIXTH streaming operator under the
    value-exact gate: online first-occurrence near-duplicate MARKING.

    Semantics (the tombstone-retaining online rule every streaming
    dedup service implements): a document is a near-duplicate iff some
    EARLIER document (smaller doc_id — ingest order) shares at least one
    LSH band bucket with it. Dropped docs still insert their bands
    (tombstones), so the decision for a later doc never depends on
    whether its partner was itself kept — which is what makes the rule
    order-associative: the converged per-band min is the only state
    needed, and it is micro-batch-invariant by construction.

    Note this is deliberately NOT the batch ``neardup_dedup`` transitive-
    cluster rule: connected components need the whole pair graph; an
    online service has only the index-so-far. The two keep different
    survivor sets on chains (A~B, B~C, A!~C: clustering keeps A only;
    the online rule also drops C because B's bands are tombstoned).
    Both semantics are real pipeline variants; each carries its own
    oracle.

    Emission-invariance: update-mode emissions carry the key's current
    min — deterministic per micro-batch regardless of task order; the
    sink folds min over emissions, so re-emissions are harmless. The
    driver-side dict is the TEST harness (O(index) rows, fine at test
    SF); production writes the updates to a keyed sink table and the
    final mark join runs against it.
    """
    from compute_histogram_spark.operators.dedup import band_rows_stateless

    path = deterministic_doc_batches(spark, sf_dir, n_batches)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    minima: dict = {}

    def sink(df: DataFrame, _epoch: int) -> None:
        for r in df.collect():
            k = (r["band_id"], r["band_hash"])
            v = r["min_doc"]
            if k not in minima or v < minima[k]:
                minima[k] = v

    _drain(streaming_neardup_index(stream), "update", sink)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    mins = spark.createDataFrame(
        sorted((b, h, m) for (b, h), m in minima.items()),
        "band_id int, band_hash string, min_doc bigint",
    )
    flags = (
        band_rows_stateless(docs)
        .join(F.broadcast(mins), ["band_id", "band_hash"])
        .groupBy("doc_id")
        .agg(F.max((F.col("min_doc") < F.col("doc_id")).cast("int")).alias("isd"))
    )
    return (
        docs.select("doc_id")
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("isd") == 1, F.lit(False)).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


def streaming_segment_revenue(
    stream: DataFrame, customer: DataFrame
) -> DataFrame:
    """Running revenue per market segment over an orders STREAM enriched
    by a STATIC customer dimension — the stream-static join feature
    class (no other twin exercises it).

    The join is stateless: Spark broadcasts the static side into every
    micro-batch (at scale: the dimension is the broadcast build side, so
    the stream is never shuffled for the join); the query's one stateful
    aggregation is the per-segment running (count, cent-sum) — state
    bounded by |segments|, with map-side partial aggregation per
    micro-batch. Cents via ``round(price*100)`` — the USER_STATS
    integer-cents precedent, so sums are associative and the converged
    totals are micro-batch-invariant.
    """
    j = stream.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        stream["o_custkey"] == F.col("c_custkey"),
    )
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


def drained_segment_revenue(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """:func:`streaming_segment_revenue` drained through deterministic
    order micro-batches (``o_orderkey % n``) — the SEVENTH streaming
    operator under the value-exact gate, and the first with TWO inputs
    (stream + static dimension).

    Update-mode emissions per segment are the cumulative totals after
    each micro-batch — deterministic given batch content; epochs arrive
    in order, so last-emission-per-key IS the converged total. Oracle:
    the plain batch join + GROUP BY.
    """
    path = _deterministic_batches(
        spark, sf_dir, "orders", "o_orderkey", n_batches
    )
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    final: dict = {}

    def sink(df: DataFrame, _epoch: int) -> None:
        for r in df.collect():
            final[r["segment"]] = (r["n_orders"], r["cents"])

    _drain(streaming_segment_revenue(stream, customer), "update", sink)
    rows = [
        (seg, n, c / 100.0) for seg, (n, c) in sorted(final.items())
    ]
    return spark.createDataFrame(
        rows, "segment string, n_orders bigint, revenue double"
    ).orderBy("segment")


def streaming_token_cms(
    stream: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch maintained AS streaming state — the mergeable-
    sketch class under the streaming gate.

    CMS linearity (sketch of a union = cell-wise sum) is exactly the
    associativity the drain twins rely on: the token-cell explode is
    stateless, and the query's one stateful aggregation holds the cell
    counts — state bounded by depth x width (4096 cells here), NEVER by
    the token stream. The portable md5 bucket expression is shared with
    the batch ``cms_point_estimates_portable``, so the converged cells
    are the batch sketch verbatim.
    """
    from compute_histogram_spark.functions.texthash import tokens
    from compute_histogram_spark.operators.sketches import _bucket_portable

    toks = stream.select(F.explode(tokens(text_col)).alias("tok"))
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _bucket_portable(F.col("tok"), r, width).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell")
    )
    return cells.groupBy(
        F.col("cell.r").alias("r"), F.col("cell.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def drained_token_cms(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """:func:`streaming_token_cms` drained through deterministic
    document micro-batches — the EIGHTH streaming operator under the
    value-exact gate: a SKETCH as streaming state.

    Update-mode emissions per cell are cumulative counts (monotone;
    epochs arrive in order), so last-emission-per-cell is the converged
    sketch; the driver dict is O(depth x width), the sketch's own size.
    The probe stage is batch post-processing of converged state (the
    ``drained_neardup_mark`` precedent): exact top-10 tokens joined
    against the drained cells, min over rows -> the classic CMS
    estimate. Output and oracle are the batch ``token_cms`` twin's
    verbatim (TOKEN_CMS_ORACLE — rotated out wave 12; this re-covers
    the class with streaming mechanics).
    """
    from compute_histogram_spark.operators.sketches import _bucket_portable
    from compute_histogram_spark.functions.texthash import tokens

    path = deterministic_doc_batches(spark, sf_dir, n_batches)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    cells: dict = {}

    def sink(df: DataFrame, _epoch: int) -> None:
        for r in df.collect():
            cells[(r["r"], r["b"])] = r["cnt"]

    _drain(streaming_token_cms(stream, depth=depth, width=width), "update", sink)

    cms = spark.createDataFrame(
        sorted((r, b, c) for (r, b), c in cells.items()),
        "r int, b int, cnt bigint",
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(10)
    )
    probes = top.select(
        "tok",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _bucket_portable(F.col("tok"), r, width).alias("b"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select("tok", "n_exact", F.col("p.r").alias("r"), F.col("p.b").alias("b"))
    return (
        F.broadcast(probes)
        .join(cms, ["r", "b"])
        .groupBy("tok", "n_exact")
        .agg(F.min("cnt").alias("cms_est"))
        .orderBy("tok")
    )
