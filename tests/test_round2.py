"""Round-2 additions: equi-depth approx path, distributed bloom merge,
finer fuzzy blocking (value-identical), ngram-jaccard max_df lever, fused
text profile, windowed sketches, real PNG/TIFF image headers, streaming
HALF_UP cents parity."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from compute_histogram_spark.operators import deciles as D
from compute_histogram_spark.operators import dedup as DD
from compute_histogram_spark.operators import pipeline as PL
from compute_histogram_spark.operators import text as TX
from compute_histogram_spark.operators.relational import fuzzy_name_pairs
from compute_histogram_spark.operators.temporal import epoch_micros_sql
from compute_histogram_spark.operators.windows import windowed_quantiles
from compute_histogram_spark.multimodal import binary as MM
from compute_histogram_spark.sources.tables import load


# ---------------------------------------------------------------------------
# equi-depth: approx path (no global sort) vs exact ntile path
# ---------------------------------------------------------------------------


def test_equi_depth_approx_matches_exact_within_tolerance(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    exact = D.equi_depth_histogram(ev, "value", "event_id", buckets=10).collect()
    approx = D.equi_depth_histogram_approx(ev, "value", buckets=10).collect()
    n = sum(r["n_rows"] for r in exact)
    assert sum(r["n_rows"] for r in approx) == n  # partition of the data
    assert [r["bucket"] for r in approx] == list(range(1, 11))
    # sketch rank error: every bucket within 20% of the ideal depth at the
    # default accuracy (loose enough for any seed, tight enough to prove
    # the cut points are real quantiles)
    for r in approx:
        assert abs(r["n_rows"] - n / 10) < 0.2 * n / 10
    # bucket ranges must tile the value domain monotonically
    for lo, hi in zip(approx, approx[1:]):
        assert lo["max_value"] <= hi["min_value"]


def test_equi_depth_approx_plan_has_no_global_sort(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    plan = D.equi_depth_histogram_approx(ev, "value")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and " ntile(" not in plan
    # the only Sort allowed is the final <=buckets-row output ordering; no
    # sort may feed the aggregation
    agg_part = plan.split("HashAggregate")[-1]
    assert "Sort" not in agg_part


# ---------------------------------------------------------------------------
# bloom: executor-side bit_or merge must produce the identical bitmap to a
# single-process numpy reference, at any partitioning
# ---------------------------------------------------------------------------


def test_bloom_distributed_merge_matches_numpy_reference(spark):
    n_bits, k = 1 << 12, 3
    digests = [f"doc-{i}" for i in range(500)]
    df = spark.createDataFrame([(d,) for d in digests], "digest string")
    bm = PL.build_bloom(df.repartition(7), n_bits=n_bits, k_hashes=k)
    # reference: same JVM hash positions, scattered in one numpy process
    pos = df.select(
        F.explode(PL._bloom_positions("digest", k, n_bits)).alias("p")
    ).collect()
    ref = np.zeros(n_bits, dtype=bool)
    ref[[r["p"] for r in pos]] = True
    assert bm == np.packbits(ref).tobytes()
    # and partitioning must not change a byte
    assert bm == PL.build_bloom(df.repartition(1), n_bits=n_bits, k_hashes=k)


# ---------------------------------------------------------------------------
# fuzzy blocking: the finer (first_char, length-band) physical key must be
# value-identical to the documented first-char semantics
# ---------------------------------------------------------------------------


def test_fuzzy_blocking_refinement_is_lossless(spark, sf_dir):
    part = load(spark, sf_dir, "part").limit(400)
    got = fuzzy_name_pairs(part, max_distance=2).collect()
    # brute-force reference: full pair space, first-char + length-band +
    # thresholded levenshtein semantics
    sel = part.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("nm")
    )
    a, b = sel.alias("a"), sel.alias("b")
    ref = (
        a.crossJoin(b)
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (F.substring("a.nm", 1, 1) == F.substring("b.nm", 1, 1))
            & (F.abs(F.length("a.nm") - F.length("b.nm")) <= 2)
            & (F.levenshtein(F.col("a.nm"), F.col("b.nm")) <= 2)
        )
        .select(F.col("a.id").alias("id_1"), F.col("b.id").alias("id_2"))
        .collect()
    )
    assert sorted((r["id_1"], r["id_2"]) for r in got) == sorted(
        (r["id_1"], r["id_2"]) for r in ref
    )


# ---------------------------------------------------------------------------
# ngram jaccard: the max_df hub-shingle cap behaves predictably
# ---------------------------------------------------------------------------


def test_ngram_jaccard_max_df_caps_hub_shingles(spark):
    # 6 docs share one hub shingle ("the same boilerplate"); two real
    # near-dup pairs overlap on rare shingles too
    hub = "common header line"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{hub} alpha beta gamma delta"),
            Row(doc_id=2, text=f"{hub} alpha beta gamma epsilon"),
            Row(doc_id=3, text=f"{hub} zeta eta theta iota"),
            Row(doc_id=4, text=f"{hub} zeta eta theta kappa"),
            Row(doc_id=5, text=f"{hub} unrelated words entirely here"),
            Row(doc_id=6, text=f"{hub} different content altogether now"),
        ]
    )
    unlimited = DD.ngram_jaccard_pairs(docs, threshold=0.05, max_df=None).collect()
    capped = DD.ngram_jaccard_pairs(docs, threshold=0.05, max_df=4).collect()
    cap_pairs = {(r["doc_id_1"], r["doc_id_2"]) for r in capped}
    unl_pairs = {(r["doc_id_1"], r["doc_id_2"]) for r in unlimited}
    # every one of the 15 doc pairs shares the hub shingle, so the
    # uncapped inverted index generates the FULL quadratic pair space
    assert len(unl_pairs) == 15
    # hub shingle (df=6 > 4) dropped: only pairs overlapping on RARE
    # shingles survive — boilerplate co-occurrence creates no candidates
    assert cap_pairs == {(1, 2), (3, 4)}
    # and the surviving scores shift exactly as the set algebra says:
    # (1,2) share 4/6 shingles with the hub, 3/5 without it
    unl = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"] for r in unlimited}
    cap = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"] for r in capped}
    assert unl[(1, 2)] == pytest.approx(4 / 6, abs=1e-6)
    assert cap[(1, 2)] == pytest.approx(3 / 5, abs=1e-6)


# ---------------------------------------------------------------------------
# fused text profile == its three parents, column for column
# ---------------------------------------------------------------------------


def test_text_profile_equals_component_operators(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    prof = {r["doc_id"]: r for r in TX.text_profile(docs).collect()}
    stats = {r["doc_id"]: r for r in TX.text_stats(docs).collect()}
    toks = {r["doc_id"]: r for r in TX.token_counts(docs).collect()}
    lang = {r["doc_id"]: r for r in TX.lang_id(docs).collect()}
    assert set(prof) == set(stats)
    for d, p in prof.items():
        for c in ("n_chars", "n_tokens", "avg_token_len", "stopword_ratio",
                  "quality_score"):
            assert p[c] == stats[d][c], (d, c)
        assert p["n_bpe_tokens"] == toks[d]["n_bpe_tokens"]
        assert p["lang_pred"] == lang[d]["lang_pred"]


# ---------------------------------------------------------------------------
# windowed approx quantiles: tolerance vs exact per-window percentiles
# ---------------------------------------------------------------------------


def test_windowed_quantiles_within_rank_error_of_exact(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    approx = windowed_quantiles(ev, window_s=3600, probs=(0.5, 0.9)).collect()
    v = F.col("value")
    vals = (
        ev.where(v.isNotNull() & ~F.isnan(v))
        .select(
            (F.expr(f"({epoch_micros_sql(ev)}) div 3600000000") * 3600).alias(
                "window_start_s"
            ),
            "value",
        )
        .collect()
    )
    per_win = {}
    for r in vals:
        per_win.setdefault(r["window_start_s"], []).append(r["value"])
    assert len(approx) == 2 * len(per_win)
    # the sketch guarantee is RANK error: the returned element's rank is
    # within eps*n of p*n (discrete — no interpolation), so check the value
    # sits between the (p-eps) and (p+eps) order statistics
    eps = 0.02
    for r in approx:
        s = sorted(per_win[r["window_start_s"]])
        n, p = len(s), r["p"]
        lo = s[max(0, int(np.floor((p - eps) * n)) - 1)]
        hi = s[min(n - 1, int(np.ceil((p + eps) * n)))]
        assert lo <= r["q"] <= hi, (r, lo, hi)


# ---------------------------------------------------------------------------
# Image headers: real PNG/TIFF parse, content-derived fake otherwise, and
# the gated kernel
# ---------------------------------------------------------------------------


def test_decode_image_real_for_png_fake_for_text():
    from compute_histogram_spark.multimodal.geotiff import encode_geotiff

    for c in (1, 2, 3, 4):
        png = MM.encode_png(np.zeros((20, 30, c), dtype=np.uint8))
        assert MM.decode_image(png) == (30, 20, c)
    tif = encode_geotiff(np.zeros((7, 11, 2), dtype=np.float32))
    assert MM.decode_image(tif) == (11, 7, 2)
    # non-image bytes, and formats without a header parser (a JPEG SOI
    # marker here), -> deterministic content-addressed fake
    for payload in (b"just some text payload", b"\xff\xd8\xff\xe0 not parsed"):
        fake = MM.decode_image(payload)
        assert fake == MM.decode_image(payload)
        d = hashlib.sha256(payload).digest()
        assert fake == (16 + d[0] % 240, 16 + d[1] % 240, 1 + d[2] % 3)


def test_extract_features_real_png_asset(spark):
    png = MM.encode_png(np.ones((8, 12, 4), dtype=np.uint8))
    assets = spark.createDataFrame(
        [(1, "image", bytearray(png), "fixture"),
         (2, "image", bytearray(b"not an image"), "fixture")],
        MM.ASSET_SCHEMA,
    )
    rows = {r["asset_id"]: r for r in MM.extract_features(assets).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["n_channels"]) == (12, 8, 4)
    d = hashlib.sha256(b"not an image").digest()
    assert (rows[2]["width"], rows[2]["height"], rows[2]["n_channels"]) == (
        16 + d[0] % 240, 16 + d[1] % 240, 1 + d[2] % 3
    )


# ---------------------------------------------------------------------------
# streaming cents: exact half-cents must round HALF_UP like the batch twin
# ---------------------------------------------------------------------------


def test_streaming_user_stats_half_cent_rounding(spark, tmp_path):
    from compute_histogram_spark.streaming.stream_ops import (
        read_events_stream,
        streaming_user_stats,
    )

    # 2.125 * 100 = 212.5: HALF_UP -> 213 (pandas .round half-even -> 212)
    rows = [
        Row(event_id=1, ts=1_000_000_000, user_id=1, event_type="x",
            value=2.125, props="{}"),
        Row(event_id=2, ts=2_000_000_000, user_id=1, event_type="x",
            value=1.0, props="{}"),
    ]
    src = str(tmp_path / "half_cent_stream")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    stream = read_events_stream(spark, src)
    q = (
        streaming_user_stats(stream)
        .writeStream.format("memory")
        .queryName("half_cent")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT * FROM half_cent ORDER BY n_events DESC LIMIT 1"
    ).collect()[0]
    assert out["sum_value"] == pytest.approx((213 + 100) / 100.0)


def test_ngram_jaccard_hub_prefilter_paths_identical(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    one_pass = DD.ngram_jaccard_pairs(docs, threshold=0.3, max_df=20).collect()
    two_phase = DD.ngram_jaccard_pairs(
        docs, threshold=0.3, max_df=20, hub_prefilter=True
    ).collect()
    assert sorted(map(tuple, one_pass)) == sorted(map(tuple, two_phase))
    assert len(one_pass) > 0


def test_fuzzy_fastss_equals_banded_blocking(spark, sf_dir):
    from compute_histogram_spark.operators.relational import fuzzy_name_pairs_fastss

    part = load(spark, sf_dir, "part").limit(400)
    banded = fuzzy_name_pairs(part, max_distance=2).collect()
    fastss = fuzzy_name_pairs_fastss(part, max_distance=2).collect()
    assert sorted(map(tuple, banded)) == sorted(map(tuple, fastss))


def test_fuzzy_fastss_adversarial_early_edits(spark):
    # edits in the first two characters — the cases 2-char-prefix blocking
    # would lose; deletion neighborhoods must keep them
    from compute_histogram_spark.operators.relational import fuzzy_name_pairs_fastss

    rows = [
        (1, "sandwich"), (2, "sbndwich"),       # sub at pos 2
        (3, "tomato"), (4, "tmato"),            # del at pos 2
        (5, "pepper"), (6, "pxepper"),          # ins at pos 2
        (7, "orange"), (8, "oarnge"),           # transposition = 2 edits
        (9, "melon"), (10, "xelon"),            # first-char sub: excluded by semantics
    ]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    got = {
        (r["id_1"], r["id_2"]) for r in fuzzy_name_pairs_fastss(df).collect()
    }
    assert {(1, 2), (3, 4), (5, 6), (7, 8)} <= got
    assert (9, 10) not in got  # first chars differ -> non-candidate by contract


# ---------------------------------------------------------------------------
# second-pass round-2 operators: the plans must have the scale shape the
# docstrings claim, not just correct output
# ---------------------------------------------------------------------------


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_signals_plan_is_map_only_scan(spark, sf_dir):
    """All signals compute in the scan stage: the ONLY exchange in the plan
    is the final presentational orderBy (range partitioning) — no groupBy,
    no join, no explode-shuffle."""
    from compute_histogram_spark.operators.text import quality_signals

    plan = _plan_of(quality_signals(load(spark, sf_dir, "documents")))
    # allowed exchanges: ensure_parallelism's RoundRobin spread + the final
    # orderBy's range partitioning. NO hash shuffle (= no agg/join/explode
    # feeding a groupBy) anywhere.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" in plan
    assert "HashAggregate" not in plan and "Join" not in plan


def test_pack_shards_plan_has_no_single_partition_window(spark, sf_dir):
    """The prefix sum must run per-bucket (hashpartitioning(bkt)), never as
    one global-sort window — the naive shape that dies at scale."""
    from compute_histogram_spark.operators.pipeline import pack_shards

    plan = _plan_of(pack_shards(load(spark, sf_dir, "documents")))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(bkt" in plan
    assert "BroadcastHashJoin" in plan  # offsets join rides a broadcast


def test_cms_build_plan_has_map_side_combine(spark, sf_dir):
    """The sketch groupBy must partial-aggregate before the shuffle — that
    cap (depth x width cells per map task) is the whole scaling argument."""
    from compute_histogram_spark.operators.sketches import cms_build_tokens

    plan = _plan_of(cms_build_tokens(load(spark, sf_dir, "documents")))
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "hashpartitioning" in plan


def test_delta_candidates_plan_broadcasts_the_delta(spark, sf_dir):
    """Incremental dedup joins the SMALL new-batch side as a broadcast
    semi-join against the index; the index side never re-shuffles for it."""
    from pyspark.sql import functions as F
    from compute_histogram_spark.operators.dedup import (
        delta_candidates,
        minhash_signatures,
        shingle_table,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingle_table(docs, distinct=False))
    new_ids = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    plan = _plan_of(delta_candidates(sigs, new_ids))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


# ---------------------------------------------------------------------------
# RANGE-frame rolling window: golden + DuckDB twin
# ---------------------------------------------------------------------------


def test_rolling_user_stats_golden(spark):
    from compute_histogram_spark.operators.windows import rolling_user_stats

    US = 1_000_000
    rows = [
        # user 1: events at t=0, 30m, 70m; 1h window
        Row(user_id=1, event_id=1, ts=0, value=10.0),
        Row(user_id=1, event_id=2, ts=1800 * US * 1000, value=20.0),
        Row(user_id=1, event_id=3, ts=4200 * US * 1000, value=40.0),
        # exact boundary: event at t=3600s sees t=0 (inclusive frame)
        Row(user_id=2, event_id=4, ts=0, value=1.0),
        Row(user_id=2, event_id=5, ts=3600 * US * 1000, value=2.0),
        # NaN value still counts as an event, contributes 0 to the sum
        Row(user_id=3, event_id=6, ts=0, value=float("nan")),
        Row(user_id=3, event_id=7, ts=60 * US * 1000, value=5.0),
    ]
    out = {
        r["event_id"]: (r["n_window"], r["sum_value"])
        for r in rolling_user_stats(spark.createDataFrame(rows)).collect()
    }
    assert out[1] == (1, 10.0)
    assert out[2] == (2, 30.0)      # 30m later: both in window
    assert out[3] == (2, 60.0)      # 70m: t=0 aged out, 30m+70m remain
    assert out[5] == (2, 3.0)       # exactly 1h back is INCLUDED
    assert out[6] == (1, 0.0)       # NaN-only window sums to 0
    assert out[7] == (2, 5.0)       # NaN event counted, not summed


def test_rolling_user_stats_vs_duckdb_oracle(spark, sf_dir):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.operators.windows import rolling_user_stats

    sdf = rolling_user_stats(load(spark, sf_dir, "events")).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql("""
    WITH b AS (
        SELECT user_id, event_id, epoch_us(ts) AS tsu,
               CASE WHEN value IS NOT NULL AND NOT isnan(value)
                    THEN CAST(round(value * 100) AS BIGINT) END AS cents
        FROM events
    )
    SELECT user_id, event_id, tsu,
           count(*) OVER w AS n_window,
           COALESCE(sum(cents) OVER w, 0) / 100.0 AS sum_value
    FROM b
    WINDOW w AS (PARTITION BY user_id ORDER BY tsu
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, tsu, event_id
    """).df()
    assert len(sdf) > 0
    assert compare("rolling_user_stats", sdf, odf) == []
