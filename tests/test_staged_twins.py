"""Value-exact checks of catalog entries against their DuckDB oracles,
plus behavioral pins for the same operators.

PINS lists the entries checked one to one at the session sf_dir. The
``*_both_sfs`` tests check an entry at both test SFs; the others pin
behavior on small hand-built frames (ties, zero buckets, batch-split
invariance, known graphs).
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from catalog_pins import add_pins, check as _check  # noqa: E402
from check_oracle import duck_connection  # noqa: E402


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_connection(sf_dir)


def test_hll_portable_estimate_tracks_exact(spark, sf_dir):
    """The portable register table feeds the standard estimator within
    HLL's expected error (~1.04/sqrt(m) ~ 1.6% at p=12; assert 10%)."""
    from pyspark.sql import functions as F

    from compute_histogram_spark.operators.sketches import (
        hll_estimate,
        hll_register_table_portable,
    )
    from compute_histogram_spark.sources.tables import load

    t = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("t")
    )
    exact = t.distinct().count()
    est = hll_estimate(hll_register_table_portable(t, "t", p=12), p=12)
    assert abs(est - exact) / exact < 0.10, (est, exact)


def test_normalized_dedup_catches_case_punct_copies(spark):
    """The stage's reason to exist: casing/punctuation-only variants
    collapse to one kept doc where content-hash dedup keeps all three."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.dedup import (
        exact_dedup,
        normalized_dedup,
    )

    docs = spark.createDataFrame([
        Row(doc_id=1, text="Hello, World!  This is FINE."),
        Row(doc_id=2, text="hello world this is fine"),
        Row(doc_id=3, text="HELLO   world: this is fine?!"),
        Row(doc_id=4, text="something else entirely"),
    ])
    assert exact_dedup(docs).count() == 4
    kept = normalized_dedup(docs).collect()
    assert len(kept) == 2
    by_id = {r.doc_id: r for r in kept}
    assert by_id[1].n_copies == 3
    assert by_id[4].n_copies == 1


def test_dup_span_removal_planted_span(spark):
    """Behavioral pin: a 20-token span planted in two docs is removed
    from BOTH (all its tokens sit in duplicated 16-windows); unique
    text survives untouched; a short shared phrase (< min_len) stays."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.dedup import (
        duplicate_span_removal,
    )

    span = " ".join(f"s{i}" for i in range(20))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"alpha beta {span} gamma delta"),
        Row(doc_id=2, text=f"one two three {span} four"),
        Row(doc_id=3, text="totally unique words here nothing shared"),
        Row(doc_id=4, text="short shared phrase plus tail a"),
        Row(doc_id=5, text="short shared phrase plus tail b"),
    ])
    out = {r.doc_id: r for r in duplicate_span_removal(docs).collect()}
    assert out[1].text == "alpha beta gamma delta"
    assert out[1].n_removed == 20
    assert out[2].text == "one two three four"
    assert out[2].n_removed == 20
    assert out[3].n_removed == 0
    assert out[3].text == "totally unique words here nothing shared"
    # 7-token docs have no 16-windows: nothing marked despite the overlap
    assert out[4].n_removed == 0 and out[5].n_removed == 0


def test_bloom_no_false_negatives_and_merge(spark):
    """Every inserted value tests member=true (no false negatives);
    the false-positive rate on absent probes stays near the analytic
    bound; OR-merge of two shards equals the single-pass build."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.sketches import (
        bloom_contains,
        bloom_merge,
        bloom_word_table_portable,
    )

    a = spark.createDataFrame([Row(v=f"in_{i}") for i in range(100)])
    b = spark.createDataFrame([Row(v=f"in_{i}") for i in range(100, 200)])
    both = a.unionAll(b)
    bloom = bloom_word_table_portable(both, "v", m_bits=4096, k=4)

    present = bloom_contains(both, bloom, "v", m_bits=4096, k=4)
    assert present.where("NOT member").count() == 0  # no false negatives

    absent = spark.createDataFrame([Row(v=f"out_{i}") for i in range(500)])
    fp = bloom_contains(absent, bloom, "v", m_bits=4096, k=4)
    fpr = fp.where("member").count() / 500
    # n=200, m=4096, k=4 -> (1 - e^(-kn/m))^k ~ 0.08%; assert a loose 3%
    assert fpr < 0.03, fpr

    merged = bloom_merge(
        bloom_word_table_portable(a, "v", m_bits=4096, k=4),
        bloom_word_table_portable(b, "v", m_bits=4096, k=4),
    )
    got = {r.word_idx: r.word for r in merged.collect()}
    want = {r.word_idx: r.word for r in bloom.collect()}
    assert got == want  # shard-merge == single-pass build (CRDT)


def test_dsir_select_prefers_target_like_docs(spark):
    """Behavioral pin: with a target corpus of 'aa bb' docs and a mixed
    source, DSIR selects the target-like source docs first (plain
    argmax mode), and the Gumbel mode is deterministic across calls."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators import classify as CLS

    target = spark.createDataFrame(
        [Row(doc_id=100 + i, text="aa bb aa bb aa") for i in range(5)]
    )
    source = spark.createDataFrame(
        [Row(doc_id=1, text="aa bb aa bb"),
         Row(doc_id=2, text="aa bb cc"),
         Row(doc_id=3, text="xx yy zz ww"),
         Row(doc_id=4, text="zz ww xx yy xx")]
    )
    top2 = CLS.dsir_select(target, source, k=2, gumbel=False).collect()
    assert [r.doc_id for r in top2] == [1, 2]
    g1 = CLS.dsir_select(target, source, k=4).collect()
    g2 = CLS.dsir_select(target, source, k=4).collect()
    assert [(r.doc_id, r.score) for r in g1] == [(r.doc_id, r.score) for r in g2]


def test_pr_curve_known_values(spark):
    """Hand-checkable pin: 4 docs, scores .1/.4/.6/.9, labels 0/1/0/1."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.classify import (
        classifier_pr_curve,
    )

    df = spark.createDataFrame([
        Row(score=0.1, label=0), Row(score=0.4, label=1),
        Row(score=0.6, label=0), Row(score=0.9, label=1),
    ])
    rows = {r.threshold: r for r in classifier_pr_curve(df).collect()}
    assert len(rows) == 10
    r5 = rows[0.5]  # predicted pos = {.6, .9}: one TP of two
    assert (r5.n_pred_pos, r5.n_true_pos) == (2, 1)
    assert r5.precision == 0.5 and r5.recall == 0.5 and r5.f1 == 0.5
    r0 = rows[0.0]  # everything predicted positive
    assert (r0.n_pred_pos, r0.n_true_pos) == (4, 2)
    assert r0.precision == 0.5 and r0.recall == 1.0


def test_triangle_count_known_graphs(spark):
    """Hand-checkable pins: K4 has 4 triangles; a square has 0; adding
    one diagonal makes 2; duplicate/reversed edges don't double-count."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.graph import triangle_count

    def tc(pairs):
        df = spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])
        return triangle_count(df).collect()[0].n_triangles

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert tc(k4) == 4
    square = [(1, 2), (2, 3), (3, 4), (4, 1)]
    assert tc(square) == 0
    assert tc(square + [(1, 3)]) == 2
    noisy = k4 + [(2, 1), (3, 1), (1, 2)]  # reversed + duplicate edges
    assert tc(noisy) == 4


def test_vocab_growth_monotone_and_bounded(spark):
    """Structural pins: both curves are non-decreasing, vocab <= tokens,
    and the final vocab equals the corpus distinct-token count."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.text import vocab_growth

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b a"),
        Row(doc_id=2, text="a c"),
        Row(doc_id=3, text="d d d d"),
        Row(doc_id=4, text="a b c d"),
    ])
    rows = vocab_growth(docs).collect()
    assert [r.doc_id for r in rows] == [1, 2, 3, 4]
    assert [r.cum_tokens for r in rows] == [3, 5, 9, 13]
    assert [r.vocab_size for r in rows] == [2, 3, 4, 4]


def test_customer_order_distribution_keeps_zero_bucket(spark):
    """The outer-join point: a customer with no orders lands in
    c_count=0 — an inner join would silently drop the bucket."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.relational import (
        customer_order_distribution,
    )

    cust = spark.createDataFrame(
        [Row(c_custkey=i) for i in (1, 2, 3)]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=10, o_custkey=1), Row(o_orderkey=11, o_custkey=1)]
    )
    rows = {r.c_count: r.custdist
            for r in customer_order_distribution(cust, orders).collect()}
    assert rows == {0: 2, 2: 1}


def test_disjunctive_prefilter_is_necessary_condition(spark):
    """The pushed brand/quantity prefilters must never drop a row the
    exact disjunction keeps: evaluate the disjunction with NO prefilter
    on a tiny frame and compare."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.relational import (
        Q19_BANDS,
        disjunctive_band_revenue,
    )

    part = spark.createDataFrame([
        Row(p_partkey=1, p_brand="Brand#1", p_size=5),
        Row(p_partkey=2, p_brand="Brand#2", p_size=20),
        Row(p_partkey=3, p_brand="Brand#9", p_size=5),   # brand outside bands
        Row(p_partkey=4, p_brand="Brand#3", p_size=60),  # size outside bands
    ])
    li = spark.createDataFrame([
        Row(l_partkey=1, l_quantity=10.0, l_extendedprice=100.0, l_discount=0.05),
        Row(l_partkey=1, l_quantity=45.0, l_extendedprice=100.0, l_discount=0.0),
        Row(l_partkey=2, l_quantity=15.0, l_extendedprice=200.0, l_discount=0.1),
        Row(l_partkey=3, l_quantity=10.0, l_extendedprice=999.0, l_discount=0.0),
        Row(l_partkey=4, l_quantity=25.0, l_extendedprice=999.0, l_discount=0.0),
    ])
    row = disjunctive_band_revenue(part, li, Q19_BANDS).collect()[0]
    # qualifying rows: (1, qty10) via band1 and (2, qty15) via band2
    assert row.n_items == 2
    assert row.revenue == 100.0 * 0.95 + 200.0 * 0.90


def test_top_supplier_keeps_exact_ties(spark):
    """The winner filter compares integer rev_e4, so exact revenue ties
    return BOTH suppliers (the Q15 tie semantics a double-compare can
    break)."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.relational import top_supplier

    li = spark.createDataFrame([
        Row(l_suppkey=1, l_shipdate="1996-02-01", l_extendedprice=100.0,
            l_discount=0.0),
        Row(l_suppkey=2, l_shipdate="1996-02-02", l_extendedprice=50.0,
            l_discount=0.0),
        Row(l_suppkey=2, l_shipdate="1996-02-03", l_extendedprice=50.0,
            l_discount=0.0),
        Row(l_suppkey=3, l_shipdate="1996-02-04", l_extendedprice=10.0,
            l_discount=0.0),
    ]).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    supp = spark.createDataFrame([
        Row(s_suppkey=1, s_name="S1"),
        Row(s_suppkey=2, s_name="S2"),
        Row(s_suppkey=3, s_name="S3"),
    ])
    rows = top_supplier(li, supp).collect()
    assert [(r.s_suppkey, r.total_revenue) for r in rows] == [
        (1, 100.0), (2, 100.0)]


def test_small_quantity_gate_is_integer_exact(spark):
    """The 1/5-of-average gate multiplies through by the group count —
    a part with avg qty 10.0 keeps qty 1.99 (< 2.0) and drops qty 2.0
    (boundary excluded, strict <)."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.relational import (
        small_quantity_revenue,
    )

    part = spark.createDataFrame([Row(p_partkey=1, p_brand="Brand#2")])
    li = spark.createDataFrame([
        Row(l_partkey=1, l_quantity=18.01, l_extendedprice=1.0),
        Row(l_partkey=1, l_quantity=1.99, l_extendedprice=100.0),
        Row(l_partkey=1, l_quantity=2.00, l_extendedprice=999.0),
        Row(l_partkey=1, l_quantity=18.00, l_extendedprice=1.0),
    ])
    # sum_qty = 40.00 over 4 items -> avg 10.00, fifth = 2.00
    row = small_quantity_revenue(li, part).collect()[0]
    assert row.n_small == 1
    assert row.avg_yearly == 100.0 / 7.0


def test_streaming_user_stats_batches_are_deterministic(spark, sf_dir):
    """The harness replays identical batch boundaries run to run: same
    file set, same mtimes, same per-file row counts."""
    import os

    from compute_histogram_spark.streaming.stream_ops import (
        deterministic_event_batches,
    )

    p1 = deterministic_event_batches(spark, sf_dir)
    p2 = deterministic_event_batches(spark, sf_dir)
    assert p1 == p2
    files = sorted(
        f for f in os.listdir(p1) if f.endswith(".parquet")
    )
    assert len(files) == 4
    mtimes = [os.path.getmtime(os.path.join(p1, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_streaming_exact_dedup_drain_deterministic(spark, sf_dir):
    """Two independent drains produce identical rows (batch content and
    order are pinned by the harness; the projection is emission-invariant)."""
    from compute_histogram_spark.registry import q_streaming_exact_dedup

    a = [tuple(r) for r in q_streaming_exact_dedup(spark, sf_dir).collect()]
    b = [tuple(r) for r in q_streaming_exact_dedup(spark, sf_dir).collect()]
    assert a == b and len(a) > 0


def test_streaming_drift_twin_both_sfs(spark):
    """r14 (wave-11 bank): the THIRD streaming twin —
    streaming_distribution_drift drained through the deterministic
    micro-batch harness. Complete mode makes report i the PSI of the
    cumulative purchase prefix (event_id % 4 <= i) vs the static
    non-purchase reference, so every INTERMEDIATE report is
    value-checked against the SQL oracle, at both test SFs."""
    from compute_histogram_spark.registry import (
        STREAMING_DRIFT_ORACLE,
        q_streaming_drift,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("streaming_drift", q_streaming_drift(spark, sf), con,
               STREAMING_DRIFT_ORACLE)


def test_streaming_drift_reports_once_per_batch(spark, sf_dir):
    """The drain yields exactly n_batches reports with contiguous ids —
    the complete-mode aggregate fires per trigger, no dropped or
    duplicated epochs."""
    from compute_histogram_spark.streaming.stream_ops import (
        drained_distribution_drift,
    )

    rows = drained_distribution_drift(spark, sf_dir, n_batches=4).collect()
    assert [r["batch_id"] for r in rows] == [0, 1, 2, 3]


def test_similarity_topk_pca_index_twin_both_sfs(spark):
    """r14 (wave-11 bank): the PERSISTED PCA serving path — write-once
    index, zero query-time training — shares the exact tier's oracle at
    full dim (orthonormal rotation preserves every cosine), value-exact
    at both test SFs."""
    from compute_histogram_spark.registry import (
        SIMILARITY_PCA_INDEX_ORACLE,
        q_similarity_topk_pca_index,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("similarity_topk_pca_index",
               q_similarity_topk_pca_index(spark, sf), con,
               SIMILARITY_PCA_INDEX_ORACLE)


def test_streaming_norm_dedup_twin_both_sfs(spark):
    """r14 (wave-11 bank): the FOURTH streaming twin — C4-normalized
    dedup over a documents stream drained to its global first-occurrence
    set, value-exact vs the digest-grouped oracle at both test SFs."""
    from compute_histogram_spark.registry import (
        STREAMING_NORM_DEDUP_ORACLE,
        q_streaming_norm_dedup,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("streaming_norm_dedup", q_streaming_norm_dedup(spark, sf),
               con, STREAMING_NORM_DEDUP_ORACLE)


def test_pricing_summary_projected_twin_both_sfs(spark):
    """r14 (wave-11 bank): Q1 over the write-once cents projection —
    the derived-column layout member — value-exact vs the plain form's
    oracle at both test SFs."""
    from compute_histogram_spark.registry import (
        PRICING_PROJECTED_ORACLE,
        q_pricing_summary_projected,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("pricing_summary_projected",
               q_pricing_summary_projected(spark, sf), con,
               PRICING_PROJECTED_ORACLE)


def test_neardup_source_overlap_twin_both_sfs(spark):
    """r16 (wave-13 bank): cross-source near-duplicate provenance matrix
    — source-pair counts over the SAME banded MinHash pair set the
    dedup_minhash oracle derives, (s1, s2) least/greatest-normalized;
    value-exact at both test SFs."""
    from compute_histogram_spark.registry import (
        NEARDUP_SOURCE_OVERLAP_ORACLE,
        q_neardup_source_overlap,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("neardup_source_overlap",
               q_neardup_source_overlap(spark, sf), con,
               NEARDUP_SOURCE_OVERLAP_ORACLE)


def test_skipgram_pairs_twin_both_sfs(spark):
    """r16 (wave-13 bank): top-k skip-gram co-occurrences (window=2) —
    one map-side explode per distance, exact integer counts,
    deterministic top-k; value-exact at both test SFs."""
    from compute_histogram_spark.registry import (
        SKIPGRAM_PAIRS_ORACLE,
        q_skipgram_pairs,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("skipgram_pairs", q_skipgram_pairs(spark, sf), con,
               SKIPGRAM_PAIRS_ORACLE)


def test_doc_length_quantiles_twin_both_sfs(spark):
    """r16 (wave-13 bank): per-lang exact length quantiles by integer
    rank selection (cum * den >= num * n, zero float arithmetic) —
    layout-invariant by construction; value-exact at both test SFs."""
    from compute_histogram_spark.registry import (
        DOC_LENGTH_QUANTILES_ORACLE,
        q_doc_length_quantiles,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("doc_length_quantiles", q_doc_length_quantiles(spark, sf),
               con, DOC_LENGTH_QUANTILES_ORACLE)


def test_streaming_sessionize_twin_both_sfs(spark):
    """r16 (wave-13 bank): the FIFTH streaming twin — the native
    session_window state machine drained to convergence (complete mode
    + far-future watermark); converged sessions == the batch gap-CTE
    re-projected to session_window's (floor-second start, last+gap end)
    convention. Value-exact at both test SFs."""
    from compute_histogram_spark.registry import (
        STREAMING_SESSIONIZE_ORACLE,
        q_streaming_sessionize,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("streaming_sessionize", q_streaming_sessionize(spark, sf),
               con, STREAMING_SESSIONIZE_ORACLE)


def test_streaming_neardup_twin_both_sfs(spark):
    """r16 (wave-13 bank addendum): the SIXTH streaming twin — online
    first-occurrence near-dup marking via a streaming MinHash-LSH band
    index (stateless array-HOF signatures; the one allowed stateful
    aggregation holds the per-band min, associative hence micro-batch-
    invariant). Value-exact at both test SFs."""
    from compute_histogram_spark.registry import (
        STREAMING_NEARDUP_ORACLE,
        q_streaming_neardup,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("streaming_neardup", q_streaming_neardup(spark, sf),
               con, STREAMING_NEARDUP_ORACLE)


def test_streaming_neardup_invariant_under_batch_split(spark):
    """Converged per-band minima are independent of the micro-batch
    split (min is associative/commutative): 2-batch and 4-batch drains
    emit the identical mark table."""
    from compute_histogram_spark.streaming.stream_ops import (
        drained_neardup_mark,
    )

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in drained_neardup_mark(spark, sf, 4).collect()]
    b = [tuple(r) for r in drained_neardup_mark(spark, sf, 2).collect()]
    assert a == b and len(a) == 500


def test_streaming_segment_revenue_twin_both_sfs(spark):
    """r16 (wave-13 bank addendum): the SEVENTH streaming twin — the
    first with TWO inputs: orders stream x static customer dim
    (stream-static broadcast join, stateless) + one per-segment stateful
    aggregation in integer cents. Value-exact at both test SFs."""
    from compute_histogram_spark.registry import (
        STREAMING_SEGMENT_REVENUE_ORACLE,
        q_streaming_segment_revenue,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("streaming_segment_revenue",
               q_streaming_segment_revenue(spark, sf),
               con, STREAMING_SEGMENT_REVENUE_ORACLE)


def test_streaming_segment_revenue_invariant_under_batch_split(spark):
    """Converged per-segment totals are independent of the micro-batch
    split (integer-cent sums are associative)."""
    from compute_histogram_spark.streaming.stream_ops import (
        drained_segment_revenue,
    )

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in drained_segment_revenue(spark, sf, 4).collect()]
    b = [tuple(r) for r in drained_segment_revenue(spark, sf, 2).collect()]
    assert a == b and len(a) == 5


def test_streaming_token_cms_twin_both_sfs(spark):
    """r16 (wave-13 bank addendum): the EIGHTH streaming twin — a
    Count-Min sketch maintained as streaming state (CMS linearity is
    the drain's associativity; state bounded by depth x width). Shares
    TOKEN_CMS_ORACLE with the rotated-out batch twin. Value-exact at
    both test SFs."""
    from compute_histogram_spark.registry import (
        STREAMING_TOKEN_CMS_ORACLE,
        q_streaming_token_cms,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duck_connection(sf)
        _check("streaming_token_cms", q_streaming_token_cms(spark, sf),
               con, STREAMING_TOKEN_CMS_ORACLE)


def test_streaming_token_cms_invariant_under_batch_split(spark):
    """Converged sketch cells are independent of the micro-batch split
    (cell-wise sums are associative)."""
    from compute_histogram_spark.streaming.stream_ops import (
        drained_token_cms,
    )

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in drained_token_cms(spark, sf, 4).collect()]
    b = [tuple(r) for r in drained_token_cms(spark, sf, 2).collect()]
    assert a == b and len(a) == 10


# catalog entries checked one to one against their oracles
PINS = (
    "chunk_documents", "contamination_report", "token_hll",
    "returned_item_customers", "corpus_checksum", "quality_model_score",
    "zorder_key", "token_entropy", "normalized_dedup", "idf_top_terms",
    "dup_span_removal", "token_bloom", "dsir_weights", "pr_curve",
    "large_volume_customers", "dedup_triangles", "waiting_suppliers",
    "vocab_growth", "customer_order_distribution", "forecast_revenue",
    "latency_mode_priority", "disjunctive_band_revenue",
    "sales_opportunity", "volume_shipping", "market_share",
    "product_type_profit", "top_supplier", "min_cost_supplier",
    "important_parts", "supplier_part_counts", "small_quantity_revenue",
    "promotion_suppliers", "streaming_user_stats", "end_to_end_corpus",
    "blocklist_signals", "embedding_covariance", "streaming_exact_dedup",
    "corpus_overlap_kmv",
)
add_pins(globals(), PINS, "_twin")
