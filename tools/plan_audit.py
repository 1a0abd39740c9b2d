"""Physical-plan audit: the scale-shape gate.

For every declared query and the EXTRA catalog entries, materialize the
executed plan string and check the properties that decide 100 TB
behavior:

- parquet scans carry PushedFilters / a pruned ReadSchema when the query
  filters/projects (pushdown reached the source)
- dimension joins are broadcast (no fact-side shuffle for dims)
- no CartesianProduct ever (BroadcastNestedLoopJoin is allowed only for
  the deliberate range-band join)
- hash aggregations are partial->final (map-side combine before shuffle)

Usage: python tools/plan_audit.py [sf_dir] [name ...]
Prints one line per query: PASS/WARN + flags; exits 1 on hard failures.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from compute_histogram_spark import registry
from compute_histogram_spark.session import get_session

# queries where a nested-loop join is the intended physical strategy:
# - range_band_join: non-equi band predicate over a broadcast 4-row dim
# - similarity_topk: deliberate brute-force baseline — broadcast the tiny
#   query set against every vector (the IVF variant is the scale path and
#   equi-joins on the centroid label)
# - equi_depth_histogram_approx: broadcast of the ONE-row approx_percentile
#   cut-point aggregate against the scan (the no-global-sort design)
# - bm25_topk: crossJoin(broadcast(scal)) — the ONE-row (N, sum_dl) corpus
#   scalar aggregate broadcast onto the |q|-term postings (text.py:bm25_topk)
# - token_pmi: crossJoin(broadcast(tot)) — the ONE-row pair-total scalar
#   aggregate broadcast onto the vocab-bounded pair counts (text.py:token_pmi)
# - distribution_drift: crossJoin(broadcast(t)) — the ONE-row
#   (t_ref, t_cur, n_bins) scalar broadcast onto the bin-bounded joined
#   histogram (profile.py:distribution_drift); its SMJ is the full-outer
#   bin alignment over two bin-bounded aggregates
# - doc_perplexity(+_backoff): crossJoin(broadcast(vocab/total)) — ONE-row
#   vocabulary-size / token-total aggregates broadcast onto the scored
#   bigram/trigram stream (operators/lm.py)
NLJ_ALLOWED = {
    "range_band_join",
    "similarity_topk",
    # same deliberate brute-force shape as similarity_topk: the broadcast
    # side is the tiny filtered QUERY set (vec_id < 10) against the int8
    # candidate scan (pq.py:cosine_topk_sq — the point is that the scan
    # touches only the quantized quarter-width payload)
    "similarity_topk_sq",
    # and against the reduced-dim PCA index scan (the shortlist pass of
    # clustering.py:_pca_topk_from_candidates — rotated IN r16)
    "similarity_topk_pca_index",
    "equi_depth_histogram_approx",
    "bm25_topk",
    "token_pmi",
    "distribution_drift",
    "doc_perplexity",
    "doc_perplexity_backoff",
    # pr_curve: crossJoin(broadcast(thresholds)) — the n_thresholds-row
    # (default 10) threshold spine against the per-doc score table; the
    # same bounded scalar-broadcast shape as bm25_topk
    "pr_curve",
    # doc_length_quantiles (r16, wave-13 bank): crossJoin(broadcast(ps))
    # — the 4-row rational-percentile spine against the (group, length)
    # COUNT table (bounded by groups x distinct lengths, never raw rows);
    # the pr_curve shape
    "doc_length_quantiles",
    # idf_top_terms: crossJoin(broadcast(N)) — the ONE-row corpus-count
    # scalar against the token df table (the bm25/token_pmi shape)
    "idf_top_terms",
    # dsir_weights: the ONE-row (nt, ns) totals crossJoin inside the
    # bucket-bounded LLR table (same scalar-broadcast shape)
    "dsir_weights",
    # sales_opportunity (Q22): join(broadcast(avg_bal)) — the ONE-row
    # positive-balance average scalar crossed into the customer filter
    # (the doc_perplexity scalar-broadcast shape)
    "sales_opportunity",
    # important_parts (Q11): join(broadcast(tot)) — the ONE-row
    # (total_c, n_parts) scalar over the per-part value aggregate
    # crossed into the HAVING filter (same bounded scalar shape)
    "important_parts",
    # embedding_covariance (rotated in r14): crossJoin(broadcast(n_row))
    # — the ONE-row vector-count scalar onto the d(d+1)/2-bounded
    # moments table (clustering.py:embedding_moments)
    "embedding_covariance",
    # corpus_overlap_kmv (rotated in r14): ua.crossJoin(common) — TWO
    # one-row sketch-algebra scalars (sketches.py:corpus_overlap_kmv)
    "corpus_overlap_kmv",
}
# pure-Python kernel paths: no codegen span expected
PY_KERNEL = {
    "multimodal_features",
    "similarity_topk_gemm",
    "doc_fingerprint",
    "text_stats",
    "dedup_ngram_jaccard",
}

# queries whose plan carries a GLOBAL ordered window (single-partition sort)
# over input that is BOUNDED by construction — never raw table rows:
# - histogram_deciles: running sum over the histogram (<= bins rows, the
#   reference's own query shape)
# - equi_depth_histogram: running count over the per-bin aggregate
#   (deciles.py:equi_depth_histogram_binned — bins, not rows)
# - session_concurrency / peak_concurrency: running sums over the time-
#   BUCKET aggregate (bounded by the time span, not data volume —
#   behavior.py sweep-line docstring)
# Rank-style global windows preceded by a WindowGroupLimit partial limit
# (top-k pushdown, input <= partitions x k) are accepted without listing.
GLOBAL_WINDOW_BOUNDED = {
    # supplier_part_counts (Q16, r14): row_number over the DISTINCT
    # (brand, type, size) class table — O(brands x types x sizes),
    # bounded by the attribute domains, never data-scaled (the dense
    # collision-free class id that replaced xxhash64, ADVICE r13)
    "supplier_part_counts",
    "histogram_deciles",
    "equi_depth_histogram",
    "session_concurrency",
    "peak_concurrency",
}


# catalog entries outside the declared window whose plan shapes are gated
# too: the Arrow headline forms, the benched rows, the TPC-H shapes and the
# layout forms (audited on a layout written at the audit SF; the
# zero-Exchange property itself is pinned in tests/test_bucketing.py)
EXTRA = (
    "doc_fingerprint",
    "text_stats",
    "doc_perplexity",
    "doc_perplexity_backoff",
    "session_concurrency",
    "peak_concurrency",
    "temperature_mix",
    "idf_top_terms",
    "forecast_revenue",
    "latency_mode_priority",
    "disjunctive_band_revenue",
    "sales_opportunity",
    "volume_shipping",
    "market_share",
    "product_type_profit",
    "top_supplier",
    "min_cost_supplier",
    "important_parts",
    "supplier_part_counts",
    "small_quantity_revenue",
    "promotion_suppliers",
    "neardup_source_overlap",
    "skipgram_pairs",
    "doc_length_quantiles",
    "shipping_priority_layout",
    "late_order_priority_layout",
    "region_revenue_layout",
    "rollup_revenue_layout",
)


# Broadcasts whose subtree contains a shuffle over a data-scaled table are
# the misplan class behind the r6 ngram-jaccard bug: the static estimator
# decides a twice-aggregated output is tiny and broadcasts something that
# grows with the data (AQE never demotes a static broadcast). Each entry
# here is a REVIEWED case where the broadcast subtree is provably bounded:
# - histogram_log/_incremental/_deciles: bin-bounded histogram aggregates
#   / spine (bins, not rows)
# - token_pmi: vocab-bounded endpoint marginals
# - distribution_drift: bin-bounded histograms
# - robust_outliers: group-bounded median/MAD aggregates (event types)
# - apply_changes: the DELTA winners — delta-scaled by design, documented
#   bucketed-SMJ escape hatch for big deltas (incremental.py docstring)
# - minmax/histogram_linear: scalar minmax row
# - bm25_topk: the k-limited scored top-k joined back for ranking
# - doc_perplexity(+_backoff): ONE-row vocab/total scalar crossJoins (the
#   count_distinct expand makes the subtree look 2-level)
# - session/peak_concurrency: bucket-prefix offsets, bounded by the time
#   span (explicitly F.broadcast in behavior.py)
BCAST_OVER_SHUFFLE_BOUNDED = {
    # end_to_end_corpus (rotated in r14): the broadcast sides are the
    # stage-bounded aggregates of the five-stage chain — url/exact
    # winner key sets (bounded by duplicates), near-dup cluster losers,
    # duplicated-window digests — each bounded by the dup count, not
    # the corpus (pipeline.py:end_to_end_corpus, the same aggregated-
    # keys-back shape as apply_changes)
    "end_to_end_corpus",
    # corpus_overlap_kmv (rotated in r14): broadcasts of the <= k-row
    # KMV sketches (TakeOrderedAndProject bottom-k inside — a shuffle,
    # but the result is k rows by construction)
    "corpus_overlap_kmv",
    # important_parts / top_supplier: ONE-row scalars aggregated from the
    # per-group value table (Q11's HAVING threshold, Q15's max revenue) —
    # bounded by construction regardless of input scale
    "important_parts",
    "top_supplier",
    "minmax",
    "histogram_linear",
    "histogram_log",
    "histogram_incremental",
    "histogram_deciles",
    "token_pmi",
    "distribution_drift",
    "robust_outliers",
    "apply_changes",
    "bm25_topk",
    "doc_perplexity",
    "doc_perplexity_backoff",
    "session_concurrency",
    "peak_concurrency",
    # dsir_weights: the broadcast side is the (bucket, llr_micro) table —
    # <= n_buckets (4096) rows BY CONSTRUCTION (spark.range(n_buckets)
    # left-joined with two bucket-keyed count aggregates), independent of
    # corpus size; the shuffles under it are those bounded-output counts
    "dsir_weights",
}

_BIG_TABLES = ("documents", "events", "lineitem", "orders", "embeddings")


def _bcast_over_shuffle(plan: str) -> int:
    """Count BroadcastExchange subtrees over >= 2 hash-partition shuffle
    levels of a data-scaled table — the scale-INsensitive-estimate shape.

    One aggregation level keeps a size-proportional estimate, so the
    planner's broadcast choice flips to shuffle correctly as data grows;
    after two+ levels the estimate degenerates to a constant guess and the
    broadcast sticks at every scale (the r6 ngram-jaccard bug: an 11M-row
    pair aggregate broadcast at sf1). Bounded aggregates are allowlisted
    above."""
    lines = plan.splitlines()
    n = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" +-*:|"))
        sub = [ln]
        for nxt in lines[i + 1:]:
            ind2 = len(nxt) - len(nxt.lstrip(" +-*:|"))
            if ind2 <= indent and nxt.strip():
                break
            sub.append(nxt)
        text = "\n".join(sub)
        if text.count("Exchange hashpartitioning") >= 2 and any(
            f"/{t}.parquet" in text for t in _BIG_TABLES
        ):
            n += 1
    return n


# per-row functions expensive enough that re-running them over a full
# corpus for SORT SAMPLING is a real cost (the r7 text_profile finding)
_EXPENSIVE_EXPRS = (
    "regexp_", "md5(", "sha2(", "crc32(", "xxhash64(", "lambdafunction",
)

# queries whose range-sampled region is bounded or cheap by construction
SORT_RESAMPLE_BOUNDED: dict[str, str] = {
    # group-bounded aggregates: the region above the final sort is a
    # post-shuffle reduce over few rows (AQE materializes the agg's map
    # side; the resample re-runs only the reduce)
    #
    # similarity_topk_sq: the region between the final orderBy and the
    # shortlist's materialized hash exchange re-runs the rerank cosine
    # folds, but its input is the post-WindowGroupLimit shortlist —
    # <= |queries| x rerank (= 500) rows regardless of corpus size, read
    # back from the exchange, never the scan (pq.py:cosine_topk_sq)
    "similarity_topk_sq": "rerank region input <= queries x rerank rows",
    # similarity_topk_pca_index: identical rerank shape to _sq — the
    # region above the final orderBy re-runs the exact-cosine fold, but
    # its input is the post-WindowGroupLimit shortlist (<= queries x
    # overfetch*k = 200 rows), read back from the window's exchange,
    # never the index scan (clustering.py:_pca_topk_from_candidates)
    "similarity_topk_pca_index": "rerank region input <= queries x "
                                 "overfetch*k rows",
}


def _sort_resample(plan: str) -> int:
    """Count rangepartitioning Exchanges whose RESAMPLE REGION — the
    operators between the range exchange and the next materialized
    exchange / scan below it — contains expensive per-row expressions.

    A global orderBy samples its child to pick range bounds, re-running
    everything in that region a second time over the full input
    (measured r7: text_profile spent >50% of its wall-clock re-running
    regex + marker passes for the sampler). The fix is
    sources/tables.py:range_ordered — partition the SOURCE by the sort
    key so the sampler reads only the pruned key column — or a shuffle
    barrier below the sort. This gate keeps the class fixed."""
    lines = plan.splitlines()
    n = 0
    for i, ln in enumerate(lines):
        if "Exchange rangepartitioning" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" +-*:|"))
        region: list[str] = []
        for nxt in lines[i + 1:]:
            ind2 = len(nxt) - len(nxt.lstrip(" +-*:|"))
            if ind2 <= indent and nxt.strip():
                break
            if "Exchange " in nxt or "FileScan" in nxt:
                break  # materialized boundary: resample reads it cheaply
            region.append(nxt)
        text = "\n".join(region)
        if any(m in text for m in _EXPENSIVE_EXPRS):
            n += 1
    return n


def _global_windows(plan: str) -> int:
    """Count Window nodes with an empty partition spec.

    Physical plans print ``Window [funcs], [partitionSpec], [orderSpec]``;
    a global window omits the partition group: ``Window [funcs], [orderSpec]``.
    Group counting tracks bracket depth so nested brackets inside function
    expressions don't split groups.

    Two-group disambiguation (r16): an UNORDERED partitioned window (e.g.
    ``sum(c) OVER (PARTITION BY g)``) also prints two groups —
    ``Window [funcs], [partitionSpec]`` — and is NOT global (it requires
    only hashpartitioning, no single-partition sort). The cases are told
    apart by the second group's content: an orderSpec carries sort
    direction markers (`` ASC``/`` DESC``), a partitionSpec is bare
    attribute refs. Before this fix doc_length_quantiles' per-group total
    was misflagged as a global window.
    """
    n = 0
    for line in plan.splitlines():
        s = line.lstrip(" +-*:|")
        if not s.startswith(("Window ", "WindowExec")):
            continue
        depth = 0
        groups = []
        start = None
        for i, ch in enumerate(s):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(s[start : i + 1])
        if len(groups) <= 2 and groups and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        ):
            n += 1
    return n


def audit(name: str, df) -> tuple[bool, list[str]]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags: list[str] = []
    hard_fail = False

    gw = _global_windows(plan)
    if gw:
        # accepted when the window input is bounded by construction: an
        # allowlisted bin-bounded aggregate, a WindowGroupLimit partial
        # limit, or a TakeOrderedAndProject top-k merge feeding the window
        if (
            name in GLOBAL_WINDOW_BOUNDED
            or "WindowGroupLimit" in plan
            or "TakeOrderedAndProject" in plan
        ):
            flags.append(f"global_window_bounded={gw}")
        else:
            flags.append("GLOBAL_WINDOW")
            hard_fail = True

    bos = _bcast_over_shuffle(plan)
    if bos:
        if name in BCAST_OVER_SHUFFLE_BOUNDED:
            flags.append(f"bcast_over_shuffle_bounded={bos}")
        else:
            flags.append("BCAST_OVER_SHUFFLE")
            hard_fail = True

    sr = _sort_resample(plan)
    if sr:
        if name in SORT_RESAMPLE_BOUNDED:
            flags.append(f"sort_resample_bounded={sr}")
        else:
            flags.append("SORT_RESAMPLE")
            hard_fail = True

    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
        hard_fail = True
    if "BroadcastNestedLoopJoin" in plan and name not in NLJ_ALLOWED:
        flags.append("NLJ")
        hard_fail = True
    if "SortMergeJoin" in plan:
        # not wrong per se, but every SMJ here should be a conscious choice
        flags.append("SMJ")

    scans = plan.count("FileScan parquet")
    if scans:
        # every scan should prune columns: ReadSchema never lists all cols
        # of the widest table (lineitem: 11 cols) unless the query needs them
        reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widths = [len(r.split(",")) for r in reads if r]
        flags.append(f"scan_cols={widths}")
    if "PushedFilters: [" in plan:
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if any(p.strip() for p in pushed):
            flags.append("pushdown")

    has_agg = "HashAggregate" in plan or "SortAggregate" in plan
    if has_agg and "partial" not in plan.lower():
        # ObjectHashAggregate prints keys differently; only warn
        flags.append("no_partial_agg?")
    if (
        "WholeStageCodegen" not in plan
        and "AdaptiveSparkPlan" not in plan  # AQE prints codegen only in the final plan
        and name not in PY_KERNEL
    ):
        flags.append("NO_CODEGEN")
    return hard_fail, flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session("plan_audit")
    failures = []
    for name in (*registry.DECLARED, *EXTRA):
        if only and name not in only:
            continue
        try:
            hard, flags = audit(name, registry.CATALOG[name].build(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            failures.append(name)
            continue
        tag = "FAIL" if hard else "pass"
        if hard:
            failures.append(name)
        print(f"{tag:5} {name}: {' '.join(flags)}")
    if failures:
        print(f"{len(failures)} hard failures: {failures}")
        return 1
    print("all plans pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
