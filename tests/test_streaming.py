"""Streaming ops drained with availableNow must equal their batch twins on
finite input — same bucketing expressions, different execution engine."""

import os
import shutil

import pytest

from compute_histogram_spark.operators.windows import sessionize, windowed_histogram
from compute_histogram_spark.sources.tables import load
from compute_histogram_spark.streaming.stream_ops import (
    read_events_stream,
    run_to_completion,
    streaming_sessionize,
    streaming_windowed_histogram,
)


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "part-0.parquet")
    return str(d)


def test_streaming_histogram_equals_batch(spark, sf_dir, stream_dir):
    stream = read_events_stream(spark, stream_dir)
    out = run_to_completion(
        streaming_windowed_histogram(stream), "s_histo"
    ).collect()
    batch = windowed_histogram(load(spark, sf_dir, "events")).collect()
    key = lambda r: (r["window_start_s"], r["bin"])
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    assert len(out) > 0


def test_streaming_sessionize_matches_batch_totals(spark, sf_dir, stream_dir):
    stream = read_events_stream(spark, stream_dir)
    out = run_to_completion(streaming_sessionize(stream), "s_sess").collect()
    batch = sessionize(load(spark, sf_dir, "events")).collect()
    # session_window truncates to event-time micros; our batch twin uses the
    # same micros. Compare per-user session counts and total event coverage.
    def per_user(rows):
        d = {}
        for r in rows:
            d.setdefault(r["user_id"], [0, 0])
            d[r["user_id"]][0] += 1
            d[r["user_id"]][1] += r["n_events"]
        return d

    assert per_user(out) == per_user(batch)


def test_streaming_user_stats_matches_batch(spark, sf_dir, stream_dir):
    from pyspark.sql import functions as F
    from compute_histogram_spark.streaming.stream_ops import streaming_user_stats

    # foreachBatch keeps only the LAST update per user — the converged state
    # after the finite stream drains, regardless of micro-batch count.
    final = {}

    def sink(df, _epoch):
        for r in df.collect():
            final[r["user_id"]] = (
                r["n_events"],
                round(r["sum_value"], 2),
                r["min_value"],
                r["max_value"],
            )

    stream = read_events_stream(spark, stream_dir)
    q = (
        streaming_user_stats(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    v = F.col("value")
    batch = {
        r["user_id"]: (
            r["n"],
            round(r["s"] / 100.0, 2),
            r["mn"],
            r["mx"],
        )
        for r in load(spark, sf_dir, "events")
        .where(v.isNotNull() & ~F.isnan(v))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(v * 100).cast("bigint")).alias("s"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
        )
        .collect()
    }
    assert final == batch


def test_streaming_exact_dedup_first_occurrence_only(spark, sf_dir, stream_dir):
    from pyspark.sql import functions as F
    from compute_histogram_spark.streaming.stream_ops import streaming_exact_dedup

    stream = read_events_stream(spark, stream_dir)
    out = run_to_completion(
        streaming_exact_dedup(stream), "s_dedup", mode="append"
    ).collect()
    batch_distinct = (
        load(spark, sf_dir, "events")
        .select(F.sha2(F.col("value").cast("string"), 256).alias("h"))
        .distinct()
        .count()
    )
    assert len(out) == batch_distinct
    assert len({r["content_hash"] for r in out}) == len(out)


def test_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """Late rows beyond the watermark must be DROPPED from windowed state —
    the state-bound guarantee the docstrings promise (stream_ops.py)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "late_stream"
    d.mkdir()
    hour_ns = 3_600 * 10**9
    base = 1_700_000_000 * 10**9  # recent event time

    def write(path, rows):
        ids, tss = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(tss, pa.int64()),
                    "user_id": pa.array([1] * len(ids), pa.int64()),
                    "event_type": pa.array(["click"] * len(ids)),
                    "value": pa.array([1.0] * len(ids)),
                    "props": pa.array(["{}"] * len(ids)),
                }
            ),
            path,
        )

    # file A: two recent events; drives the watermark to base+2h - 10min.
    # file B: an on-time spacer batch — the stateful operator applies the
    # watermark with ONE BATCH of lag (verified empirically: a late row in
    # batch 1 is admitted, the same row in batch 2 is dropped), so the late
    # file must arrive in the third micro-batch to test the drop.
    # file C: an event 10 hours BEFORE the watermark -> must be dropped.
    write(str(d / "a.parquet"), [(1, base), (2, base + 2 * hour_ns)])
    time.sleep(1.1)  # file-source batches order by modification time
    write(str(d / "b.parquet"), [(4, base + 2 * hour_ns + 60 * 10**9)])
    time.sleep(1.1)
    write(str(d / "c.parquet"), [(3, base - 10 * hour_ns)])

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    out = run_to_completion(
        streaming_windowed_histogram(stream, watermark="10 minutes"),
        "s_late",
        mode="update",
    ).collect()
    starts = {r["window_start_s"] for r in out}
    late_window_start = (base - 10 * hour_ns) // 10**9 // 600 * 600
    on_time_start = base // 10**9 // 600 * 600
    assert on_time_start in starts          # on-time rows aggregated
    assert late_window_start not in starts  # late row silently dropped


def test_streaming_click_attribution_matches_batch(spark, sf_dir, stream_dir):
    from pyspark.sql import functions as F

    from compute_histogram_spark.operators.windows import click_attribution
    from compute_histogram_spark.streaming.stream_ops import (
        streaming_click_attribution,
    )

    clicks = read_events_stream(spark, stream_dir).where(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, stream_dir).where(
        F.col("event_type") == "purchase"
    )
    out = run_to_completion(
        streaming_click_attribution(clicks, purchases), "s_attr", mode="append"
    ).collect()
    batch = click_attribution(load(spark, sf_dir, "events")).collect()
    key = lambda r: (r["user_id"], r["click_id"], r["purchase_id"])
    assert sorted(map(key, out)) == sorted(map(key, batch))
    assert len(out) > 0


def test_streaming_sliding_histogram_equals_batch(spark, sf_dir, stream_dir):
    from compute_histogram_spark.operators.windows import sliding_histogram
    from compute_histogram_spark.streaming.stream_ops import (
        streaming_windowed_histogram,
    )

    stream = read_events_stream(spark, stream_dir)
    out = run_to_completion(
        streaming_windowed_histogram(stream, slide_s=300), "s_slide"
    ).collect()
    batch = sliding_histogram(load(spark, sf_dir, "events")).collect()
    key = lambda r: (r["window_start_s"], r["bin"], r["n_events"])
    assert sorted(map(key, out)) == sorted(map(key, batch))


def test_streaming_incremental_histogram_equals_batch(spark, sf_dir, tmp_path):
    # split events into 3 files -> 3 micro-batches (maxFilesPerTrigger=1),
    # each appending its own batch_id partition of sparse state; the merged
    # state must equal the one-shot batch histogram
    from compute_histogram_spark.operators import histogram as H
    from compute_histogram_spark.plans.bin_scheme import BinScheme
    from compute_histogram_spark.streaming.stream_ops import (
        read_histogram_state,
        streaming_incremental_histogram,
    )

    events = load(spark, sf_dir, "events")
    mn, mx = H.compute_min_max(events, "value")
    scheme = BinScheme.from_min_max(mn, mx, "linear")

    src = tmp_path / "src"
    events.repartition(3).write.parquet(str(src))
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    q = streaming_incremental_histogram(stream, "value", scheme, state, ckpt)
    q.awaitTermination()

    # several batch_id partitions exist (log-structured, no rewrites)
    batches = {r["batch_id"] for r in spark.read.parquet(state).select("batch_id").distinct().collect()}
    assert len(batches) >= 2

    got = {
        r["bin"]: (r["value"], r["pixel_count"])
        for r in read_histogram_state(spark, state, scheme).collect()
    }
    want = {
        r["bin"]: (r["value"], r["pixel_count"])
        for r in H.histogram(events, "value", "linear").collect()
    }
    assert got == want


def test_streaming_windowed_quantiles_equals_batch(spark, sf_dir, stream_dir):
    from compute_histogram_spark.operators.windows import windowed_quantiles
    from compute_histogram_spark.streaming.stream_ops import (
        read_events_stream,
        streaming_windowed_quantiles,
    )

    stream = read_events_stream(spark, stream_dir)
    out = run_to_completion(
        streaming_windowed_quantiles(stream, window_s=3600, probs=(0.5, 0.9)),
        "s_wq",
    ).collect()
    batch = windowed_quantiles(
        load(spark, sf_dir, "events"), window_s=3600, probs=(0.5, 0.9)
    ).collect()
    # identical sketch aggregate over identical finite input -> identical
    # estimates (approx_percentile is deterministic for a given input set)
    key = lambda r: (r["window_start_s"], r["p"])
    assert sorted(((key(r), r["q"]) for r in out)) == sorted(
        ((key(r), r["q"]) for r in batch)
    )
    assert len(out) > 0


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_streaming_user_stats_tws_plan_builds(spark, sf_dir, stream_dir):
    """The transformWithState logical plan constructs regardless of the
    protobuf runtime dependency (execution needs it; construction doesn't)."""
    from compute_histogram_spark.streaming.stream_ops import streaming_user_stats_tws

    stream = read_events_stream(spark, stream_dir)
    df = streaming_user_stats_tws(stream)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "user_id",
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
    ]


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState execution requires google.protobuf "
    "(absent in this container; no-install policy)",
)
def test_streaming_user_stats_tws_matches_batch(spark, sf_dir, stream_dir):
    """transformWithStateInPandas twin converges to the same per-user state
    as the applyInPandasWithState path and the batch aggregation."""
    from pyspark.sql import functions as F
    from compute_histogram_spark.streaming.stream_ops import streaming_user_stats_tws

    final = {}

    def sink(df, _epoch):
        for r in df.collect():
            final[r["user_id"]] = (
                r["n_events"],
                round(r["sum_value"], 2),
                r["min_value"],
                r["max_value"],
            )

    stream = read_events_stream(spark, stream_dir)
    q = (
        streaming_user_stats_tws(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    v = F.col("value")
    batch = {
        r["user_id"]: (r["n"], round(r["s"] / 100.0, 2), r["mn"], r["mx"])
        for r in load(spark, sf_dir, "events")
        .where(v.isNotNull() & ~F.isnan(v))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(v * 100).cast("bigint")).alias("s"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
        )
        .collect()
    }
    assert final == batch


def test_streaming_drift_converges_to_batch_psi(spark, sf_dir, stream_dir):
    """After draining the finite stream, the last streaming PSI report must
    equal the batch distribution_drift PSI of the full data vs the same
    reference (identical smoothing/rounding arithmetic)."""
    from compute_histogram_spark.operators.profile import distribution_drift
    from compute_histogram_spark.streaming.stream_ops import (
        streaming_distribution_drift,
    )
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    ref = ev.where(F.col("event_type") != "purchase")
    ref_counts = {
        r["bin"]: r["n"]
        for r in ref.where(
            F.col("value").isNotNull() & ~F.isnan("value")
        )
        .groupBy(F.floor(F.col("value") / 50.0).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stream = read_events_stream(spark, stream_dir)
    q, reports = streaming_distribution_drift(stream, ref_counts)
    q.awaitTermination()
    assert reports, "no micro-batch reports"
    batch_rows = distribution_drift(ref, ev).collect()
    batch_psi = round(sum(r["psi_term"] for r in batch_rows), 6)
    assert abs(reports[-1][1] - batch_psi) < 1e-6, (reports[-1], batch_psi)


def test_streaming_normalized_dedup_collapses_variants(spark, sf_dir, stream_dir):
    """The r12 normalized-dedup twin: emitted rows = distinct NORMALIZED
    contents (<= distinct raw contents), and keys are unique."""
    from pyspark.sql import functions as F
    from compute_histogram_spark.operators.dedup import normalize_text
    from compute_histogram_spark.streaming.stream_ops import (
        read_events_stream,
        streaming_normalized_dedup,
    )

    stream = read_events_stream(spark, stream_dir)
    out = run_to_completion(
        streaming_normalized_dedup(stream), "s_ndedup", mode="append"
    ).collect()
    batch_norm_distinct = (
        load(spark, sf_dir, "events")
        .select(
            F.sha2(normalize_text(F.col("value").cast("string")), 256)
            .alias("h")
        )
        .distinct()
        .count()
    )
    assert len(out) == batch_norm_distinct
    assert len({r["norm_hash"] for r in out}) == len(out)


def test_watermark_delay_past_epoch_drops_everything(spark, sf_dir):
    """The drained_normalized_dedup footgun, pinned: a constant event
    time EARLIER than the watermark delay swings the computed watermark
    negative and the dedup operator silently emits nothing — the reason
    the drain injects ts = 1e9 s, comfortably past its 3650-day delay."""
    from pyspark.sql import functions as F

    from compute_histogram_spark.streaming.stream_ops import (
        deterministic_doc_batches,
        streaming_normalized_dedup,
    )

    path = deterministic_doc_batches(spark, sf_dir, 4)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn("ts", F.timestamp_seconds(F.lit(0)))
    )
    emitted = []
    q = (
        streaming_normalized_dedup(
            stream, content_col="text", id_cols=("doc_id",),
            watermark="3650 days",
        )
        .writeStream.foreachBatch(
            lambda df, _e: emitted.append(df.count())
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(emitted) == 0  # every row late on arrival: silent empty


def test_drained_sessionize_exact_gap_merges_like_batch(spark, tmp_path):
    """The session_window boundary rule matches the batch twin at the
    EXACT-gap edge: an event arriving precisely gap seconds after the
    previous one merges in BOTH forms (streaming treats touching
    [t, t+gap) windows as overlapping; batch starts a new session only
    on strictly-greater gaps) — and a cross-batch split whose pieces
    overlap in time merges back to one session. Also pins the
    cast("long") floor of sub-second session starts."""
    import os
    import shutil

    from pyspark.sql import functions as F

    base = str(tmp_path / "sess_edge")
    os.makedirs(base)
    # batch 0: u1 at t=0; u2 at t=100us.  batch 1 (later mtime): u1 at
    # EXACTLY t=1800s (gap edge); u2 at t=900s (overlaps u2's window).
    batches = [
        [(1, 0), (2, 100)],
        [(1, 1_800_000_000), (2, 900_000_000)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id bigint, tsu bigint"
        ).select(
            "user_id", F.timestamp_micros(F.col("tsu")).alias("event_time")
        )
        stage = os.path.join(base, f"_st{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(base, f"b{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_000_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema("user_id bigint, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    final = {}

    def sink(df, _epoch):
        final["rows"] = sorted(tuple(r) for r in df.collect())

    # streaming_sessionize derives event_time itself from a ts column;
    # here the frame already HAS event_time, so apply the session agg
    # directly with the same output projection
    agg = (
        stream.withWatermark("event_time", "3650 days")
        .groupBy(
            F.session_window("event_time", "30 minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start_s"),
            F.col("sw.end").cast("long").alias("session_end_s"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # u1: exact-gap event MERGED (one session 0..3600, 2 events); a new
    # session would have read (0, 1800, 1), (1800, 3600, 1).
    # u2: cross-batch overlap merged; start floors 100us -> 0 s.
    assert final["rows"] == [(1, 0, 3600, 2), (2, 0, 2700, 2)]


def test_drains_get_one_state_partition_per_core(spark, sf_dir, stream_dir):
    """A stateful query started by stream_ops gets one state partition per
    core, whatever the session's batch shuffle count; its result is the
    one the oracle checks; and the session reads its own count again
    afterwards, also when start() raises."""
    import sys
    import time

    from pyspark.errors import AnalysisException, IllegalArgumentException
    from pyspark.sql.streaming import StreamingQueryListener

    from compute_histogram_spark.registry import CATALOG
    from compute_histogram_spark.streaming.stream_ops import (
        drained_distribution_drift,
        drained_user_stats,
        start_available_now,
    )

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from catalog_pins import check  # noqa: PLC0415
    from check_oracle import duck_connection  # noqa: PLC0415

    class StateParts(StreamingQueryListener):
        def __init__(self):
            self.started, self.ended, self.parts = set(), set(), []

        def onQueryStarted(self, event):
            self.started.add(str(event.id))

        def onQueryProgress(self, event):
            self.parts += [
                op.numShufflePartitions for op in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.ended.add(str(event.id))

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    assert cores != 3
    own = spark.conf.get(key)
    listener = StateParts()
    spark.streams.addListener(listener)
    spark.conf.set(key, "3")
    try:
        con = duck_connection(sf_dir)
        for name, drain in (
            ("streaming_drift", drained_distribution_drift),
            ("streaming_user_stats", drained_user_stats),
        ):
            check(name, drain(spark, sf_dir), con, CATALOG[name].oracle)
            assert spark.conf.get(key) == "3"
        stateless = read_events_stream(spark, stream_dir).select("value")
        for mode in ("no-such-mode", "complete"):
            with pytest.raises((AnalysisException, IllegalArgumentException)):
                start_available_now(stateless, mode, lambda df, _epoch: None)
            assert spark.conf.get(key) == "3"
        deadline = time.monotonic() + 60
        while len(listener.ended) < 2 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, own)
    assert len(listener.started) == 2 and listener.ended == listener.started
    assert listener.parts and set(listener.parts) == {cores}, listener.parts
