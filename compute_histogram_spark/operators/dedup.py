"""Deduplication suite for a training-data pipeline, over ``documents``.

Five methods, all expressed as declarative DataFrame plans:

- :func:`exact_dedup` — content-hash groupBy. The hash (sha2-256) is the
  shuffle key, so identical documents land in one reducer regardless of
  cluster size; never group by raw text (shipping full documents through a
  shuffle when a 32-byte digest suffices).
- :func:`minhash_candidates` — MinHash + LSH banding. shingle -> k seeded
  min-hashes (one groupBy with k min() aggregates = single shuffle) -> band
  digests -> self-equi-join on (band_id, band_hash). The join is an
  *equi*-join on a hash key: at 100 TB Spark hash-partitions both sides, and
  only same-bucket docs ever meet — the O(n^2) pair space is never formed.
- :func:`ngram_jaccard_pairs` — exact Jaccard via shingle-inverted-index
  self-join (count shared shingles, join per-doc sizes). Pair cardinality is
  bounded by shared-shingle co-occurrence, not n^2; stop-shingle capping
  (drop shingles in > ``max_df`` docs) keeps hub shingles from exploding it.
- :func:`simhash` — 16-bit frequency-weighted SimHash from md5 nibble bits;
  near-dups differ in <= ~2 bits. One explode + two groupBys, all integer.
- :func:`embedding_neardup_pairs` (operators/similarity.py uses the same
  vector kernels) — cosine pairs inside a blocking key.
- :func:`paragraph_dedup` — C4-style global first-occurrence paragraph
  dedup with in-order document reassembly.
- :func:`normalized_dedup` (r12) — exact dedup over C4-normalized text
  (lowercase / punctuation strip / whitespace collapse): catches the
  casing-and-punctuation near-copies content hashing misses.
- :func:`duplicate_span_removal` (r12) — the Lee et al. 2022 ExactSubstr
  dedup, fingerprint-shaped: tokens inside any length-L window occurring
  >= 2x in the corpus are removed, documents reassembled.

Hashing is md5-hex for oracle portability (see functions/texthash.py for
the xxhash64 production swap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from compute_histogram_spark.functions.texthash import (
    band_hashes,
    minhash_aggs,
    tokens,
    word_shingles,
)
from compute_histogram_spark.functions import vectors as V
from compute_histogram_spark.sources.tables import ensure_parallelism

DEFAULT_NUM_HASHES = 8
DEFAULT_ROWS_PER_BAND = 2


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: kept (min) id + copy count."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
        .orderBy(id_col)
    )


def shingle_table(
    docs: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, s) — word n-gram shingles per document.

    ``distinct=False`` skips the dedup shuffle — correct whenever the
    consumer is idempotent under duplicates (min() in MinHash); Jaccard
    counting needs ``distinct=True``.
    """
    docs = ensure_parallelism(docs)
    sh = docs.select("doc_id", tokens(text_col).alias("toks")).select(
        "doc_id", F.explode(word_shingles("toks", n)).alias("s")
    )
    return sh.distinct() if distinct else sh


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """One shuffle: k min() aggregates over seeded digests."""
    return shingles.groupBy("doc_id").agg(*minhash_aggs("s", num_hashes))


def minhash_candidates(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (doc_id_1 < doc_id_2) sharing >= 1 band bucket."""
    sig = minhash_signatures(shingle_table(docs, n=n, distinct=False), num_hashes)
    long = _band_long(sig, num_hashes, rows_per_band)
    a, b = long.alias("a"), long.alias("b")
    # r16 optimization round (guide §3.1): without a hint, the optimizer
    # broadcasts one side of this self-join at bench scales — and a
    # BroadcastExchange can never reuse the other side's shuffle Exchange,
    # so the ENTIRE signature DAG (scan + shingle explode + k min-digest
    # aggregations, the dominant cost) executed twice per run. Forcing the
    # sort-merge strategy makes both sides' exchanges canonically equal and
    # AQE reuses the materialized stage (final plan shows ReusedExchange;
    # pinned in tests/test_dedup.py): signatures compute ONCE. sf1 A/B
    # 1.60 -> 1.38 s warm-min (sf0.1 tie); the delta is the signature
    # recompute, so it grows with corpus size. SMJ over SHUFFLE_HASH
    # (measured tie at sf1): no per-partition hash-build memory at scale.
    return (
        a.hint("merge").join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
        # explicit pair-key shuffle: distinct reuses it (no extra
        # exchange), and it MATERIALIZES the signature/join subtree so the
        # final sort's range sampler re-reads shuffle files instead of
        # re-running every min-md5 aggregation (plan_audit SORT_RESAMPLE)
        .repartition(F.col("doc_id_1"), F.col("doc_id_2"))
        .distinct()
        .orderBy("doc_id_1", "doc_id_2")
    )


def _band_long(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """Signatures -> long-format (doc_id, band_id, band_hash) rows."""
    bands = sig.select("doc_id", *band_hashes(num_hashes, rows_per_band))
    n_bands = num_hashes // rows_per_band
    stack_args = ", ".join(f"{b}, band{b}" for b in range(n_bands))
    return bands.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) AS (band_id, band_hash)"
    )


def band_rows_stateless(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, band_id, band_hash) with ZERO aggregation.

    The per-doc MinHash signature is computed as array higher-order
    functions — ``array_min(transform(shingles, s -> md5(seed:s)))`` is
    value-identical to the ``groupBy(doc_id).agg(min(...))`` form over
    the exploded shingle rows (min over the same multiset) — so the whole
    band projection is a stateless per-row expression. That is what lets
    it run on a STREAMING DataFrame, where Structured Streaming allows
    only ONE stateful aggregation: the online dedup index spends it on
    the per-band ``min(doc_id)`` instead of on signature assembly
    (streaming/stream_ops.py:streaming_neardup_index). Docs with fewer
    than ``n`` tokens yield no shingles and are dropped, matching the
    batch path (no shingle rows -> no signature -> no bands).
    """
    from compute_histogram_spark.functions.texthash import seeded_md5

    df = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    ).withColumn("sh", word_shingles("toks", n)).where(F.size("sh") > 0)

    # seed must be bound through a closure factory: a `lambda s, i=i:`
    # default-arg bind has ARITY 2, which pyspark's transform() reads as
    # the (element, index) form and silently passes the array INDEX as i
    def _seeded(i: int):
        return lambda s: seeded_md5(i, s)

    for i in range(num_hashes):
        df = df.withColumn(
            f"mh{i}", F.array_min(F.transform(F.col("sh"), _seeded(i)))
        )
    return _band_long(
        df.select("doc_id", *[f"mh{i}" for i in range(num_hashes)]),
        num_hashes,
        rows_per_band,
    )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    n: int = 3,
) -> None:
    """Persist the corpus's MinHash signatures as a parquet index.

    The index holds one fixed-width row per document (doc_id + k digests) —
    ~n_docs x k x 32 bytes, orders of magnitude smaller than the corpus —
    and is the only state incremental dedup needs: signatures are
    per-document, so they never have to be recomputed when other documents
    arrive.
    """
    sig = minhash_signatures(shingle_table(docs, n=n, distinct=False), num_hashes)
    sig.write.mode("overwrite").parquet(path)


def append_minhash_index(
    new_docs: DataFrame,
    path: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    n: int = 3,
) -> None:
    """Incremental maintenance: shingle + sign ONLY the new batch, append.

    Cost is O(delta), independent of index size — the scan/shuffle that
    builds signatures never touches the existing corpus. (Parquet append
    creates new files only; with object-store semantics make each batch a
    ``batch_id=N`` partition as streaming_incremental_histogram does for
    idempotent replay.)
    """
    sig = minhash_signatures(shingle_table(new_docs, n=n, distinct=False), num_hashes)
    sig.write.mode("append").parquet(path)


def delta_candidates(
    index_sigs: DataFrame,
    new_doc_ids: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
) -> DataFrame:
    """LSH candidate pairs that involve at least one NEW document.

    The incremental-dedup join: new-batch band rows (small side, broadcast
    when it fits) against the full index's band rows — an equi-join on
    (band_id, band_hash), so only same-bucket docs meet, and old x old
    pairs (already known from prior rounds) are never re-derived. Emitted
    pairs are ordered doc_id_1 < doc_id_2; union with previously stored
    pairs reconstructs exactly the full-recompute pair set (pinned in
    tests/test_dedup.py).
    """
    all_bands = _band_long(index_sigs, num_hashes, rows_per_band)
    new_bands = all_bands.join(
        F.broadcast(new_doc_ids.select("doc_id")), "doc_id", "left_semi"
    )
    a, b = new_bands.alias("a"), all_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_id_1"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_id_2"),
        )
        .distinct()
        .orderBy("doc_id_1", "doc_id_2")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_df: int | None = None,
    hub_prefilter: bool = False,
) -> DataFrame:
    """Exact Jaccard >= threshold via inverted-index self-join.

    Shingle strings are collapsed to ``xxhash64`` longs BEFORE any shuffle:
    every downstream exchange and join compares 8-byte keys instead of
    ~20-40-byte strings (the distinct, the self-join, and the pair count all
    shuffle, so this cuts total shuffle bytes several-fold at scale).
    Jaccard over hashed shingles equals Jaccard over strings absent a
    64-bit collision inside one document pair's shingle sets — odds are
    ~m^2/2^64 for m shingles/doc, i.e. negligible even at 100 TB.

    ``max_df`` drops shingles appearing in more than that many docs (hub
    shingles contribute pairs quadratically but little signal) — the lever
    that keeps this exact method viable at scale.
    """
    sh = shingle_table(docs, n=n, distinct=False).select(
        "doc_id", F.xxhash64("s").alias("h")
    )
    if max_df is not None and hub_prefilter:
        # two-phase hub removal for HUB-HEAVY corpora: count df first (a
        # partial-agg-friendly shuffle of (8-byte key, count) rows),
        # broadcast the hub set (few by construction — the heavy-hitter
        # tail) and anti-join it away BEFORE postings are collected, so no
        # reducer ever materializes a hub's full posting list. Costs one
        # extra scan + one small shuffle — pay it when boilerplate df x 8
        # bytes approaches executor memory; below that the single-pass
        # post-collect cap (default) wins.
        hubs = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") > max_df
        )
        sh = sh.join(F.broadcast(hubs.select("h")), "h", "left_anti")
    # postings-list plan: ONE groupBy builds the per-shingle doc set
    # (collect_set dedups in-place — no separate distinct shuffle), then
    # every co-occurring ordered pair is generated MAP-SIDE from the sorted
    # array and only (doc_1, doc_2) partial counts shuffle. Work is
    # sum-over-shingles C(df, 2) — identical to the self-join's output, but
    # the join's full probe-side shuffle and pairwise hash probing are gone.
    posts = sh.groupBy("h").agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
    if max_df is not None and not hub_prefilter:
        # single-pass df cap: hubs are dropped AFTER their posting set is
        # grouped — value-identical to the prefilter (pinned in tests),
        # one shuffle cheaper, viable until a single hub's postings strain
        # one reducer (then flip hub_prefilter=True).
        posts = posts.where(F.size("ds") <= max_df)
    sizes = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS d1, y AS d2))))"
    )
    inter = (
        posts.where(F.size("ds") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.d1").alias("doc_id_1"), F.col("p.d2").alias("doc_id_2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # SHUFFLE_HASH on the sizes side: the static estimator thinks the
    # twice-aggregated pair table is tiny and BROADCASTS it (an 11M-row
    # hashed relation at sf1 — measured 2x the whole query; AQE cannot
    # demote a statically planned broadcast). A shuffled hash join streams
    # the pair table against a per-partition build of the doc-size table —
    # no sort, no broadcast of either data-scaled side, valid at any
    # corpus size. sf1: 10.3s -> 5.0s, output identical (oracle-pinned).
    s1 = sizes.withColumnsRenamed({"doc_id": "doc_id_1", "n_sh": "n1"}).hint(
        "shuffle_hash"
    )
    s2 = sizes.withColumnsRenamed({"doc_id": "doc_id_2", "n_sh": "n2"}).hint(
        "shuffle_hash"
    )
    return (
        inter.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .withColumn(
            "jaccard",
            F.round(
                (F.col("n_inter") * 1.0)
                / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
        .orderBy("doc_id_1", "doc_id_2")
    )


def ngram_jaccard_pairs_arrow(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Value-identical fast form of :func:`ngram_jaccard_pairs` — the
    r11 attack on the one text-family row the comparator still won at
    sf10 (VERDICT r10 #3), built with the Arrow-kernel playbook that
    fixed doc_fingerprint in r10. Interleaved sf10 A/B: 22.7 s vs
    34.6 s for the declarative form (DuckDB 18.0 s same box/day) —
    the gap closes from 1.68x to ~1.26x.

    Three measured changes vs the declarative plan (each A/B'd at sf10
    before adoption; a fourth — rebuilding postings doc-major so sizes
    ride the posting lists — was measured and REJECTED: the
    collect_set -> explode -> re-aggregate roundtrip cost 26 s against
    4.5 s for the direct shingle-major groupBy):

    1. **One materialization of the postings** — the old plan
       recomputed shingle build + postings for the sizes branch
       (~4.5 s at sf10); posts is localCheckpointed once and feeds
       both the sizes aggregate and pair generation.
    2. **Vectorized pair generation** — Spark evaluates the
       flatten/transform pair lambda INTERPRETED (~6.2 s at sf10 for
       the 126M pairs); the kernel emits the same ordered pairs from
       NumPy passes per batch (upper-triangle index templates per
       list size) in ~2.1 s. Input lists are array_sort'ed, so
       template pairs are (d1 < d2) exactly like the lambda's.
    3. **Necessary-condition filter between the size joins** —
       jaccard <= n_inter/n1 (the intersection can't exceed either
       set), so requiring n_inter >= (threshold - 1e-6) * n1 right
       after the first join drops ~113M candidate rows to the
       near-output set before the second join. The 1e-6 margin keeps
       pairs whose unrounded jaccard sits in the round-half-up window
       below the threshold (output rounds to 6 decimals before the
       final compare), so no pair the declarative form emits is ever
       dropped.

    Scale shape: unchanged — the same hash shuffles as the declarative
    form minus the recompute, and the second size join now processes
    survivors instead of the full pair table. Equality is pinned in
    tests/test_dedup.py at both test SFs and on hub-binding
    synthetics.

    r17 (guide §4.2): the pair kernel moved mapInPandas → mapInArrow.
    The pandas boundary materialized the postings column as an OBJECT
    series (one Python list per row, re-concatenated in Python); the
    ListArray's (values, offsets) buffers are now read directly as two
    flat NumPy views and the output batches are built from NumPy
    without a DataFrame. Interleaved one-JVM A/B (noop sink, warm):
    sf10 25.9 → 22.9 s (-11%, all three sample pairs agree); sf0.1/sf1
    tie within jitter (1.55/1.59 and 3.03/2.94 min) — the win scales
    with pair volume. Values verified equal at sf0.1 and sf1 in the
    A/B itself plus the standing equality pins."""
    import numpy as np

    sh = shingle_table(docs, n=n, distinct=False).select(
        "doc_id", F.xxhash64("s").alias("h")
    )
    posts = sh.groupBy("h").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ds")
    )
    if max_df is not None:
        posts = posts.where(F.size("ds") <= max_df)
    # lazy checkpoint: materializes ONCE at the first action and is
    # reused by both consumers (sizes + pairs), but building the plan —
    # plan_audit's shape gate, fn() construction — stays free (the r11
    # eager form ran the shingle+postings job at DataFrame-build time,
    # breaking the lazy contract; ADVICE r11).
    posts = posts.select("ds").localCheckpoint(eager=False)
    sizes = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )

    def kernel(batches):
        # r17 (guide §4.2): Arrow-native. The r16 mapInPandas form
        # received the postings column as a pandas OBJECT series — one
        # Python list-of-ndarray per row, concatenated row-by-row in
        # Python. A ListArray is already (values buffer, offsets
        # buffer): read both as flat int64/int32 NumPy views, zero
        # per-row Python objects. Same ordered pairs by construction
        # (identical template math over identical starts).
        import pyarrow as pa

        for rb in batches:
            col = rb.column(0)
            if len(col) == 0:
                continue
            offs = col.offsets.to_numpy().astype(np.int64, copy=False)
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            ks = np.diff(offs)
            starts = offs[:-1] - offs[0]  # flatten() starts at offs[0]
            a_parts, b_parts = [], []
            for k in np.unique(ks):
                if k < 2:
                    continue
                iu, ju = np.triu_indices(k, 1)
                base = starts[ks == k]
                a_parts.append((base[:, None] + iu[None, :]).ravel())
                b_parts.append((base[:, None] + ju[None, :]).ravel())
            if not a_parts:
                continue
            ai = np.concatenate(a_parts)
            bi = np.concatenate(b_parts)
            # MEASURED AND REJECTED (r14): batch-local run-length
            # pre-counting of duplicate pairs (lexsort + diff, count(1)
            # -> sum(c)) before the Arrow boundary read sf1 2.52 -> 2.59
            # and sf10 15.4 -> 16.2 s interleaved — the JVM map-side
            # partial aggregation already absorbs within-partition
            # duplicates at less cost than the NumPy lexsort, so the
            # transfer shrinkage never pays. Raw pairs stand.
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(flat[ai], type=pa.int64()),
                    pa.array(flat[bi], type=pa.int64()),
                ],
                ["d1", "d2"],
            )

    pairs = (
        posts.where(F.size("ds") >= 2)
        .select("ds")
        .mapInArrow(kernel, "d1 bigint, d2 bigint")
    )
    inter = pairs.groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("n_inter"))
    s1 = sizes.withColumnsRenamed({"doc_id": "d1", "n_sh": "n1"}).hint(
        "shuffle_hash"
    )
    s2 = sizes.withColumnsRenamed({"doc_id": "d2", "n_sh": "n2"}).hint(
        "shuffle_hash"
    )
    j1 = inter.join(s1, "d1").where(
        F.col("n_inter") >= (threshold - 1e-6) * F.col("n1")
    )
    return (
        j1.join(s2, "d2")
        .withColumn(
            "jaccard",
            F.round(
                (F.col("n_inter") * 1.0)
                / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("d1").alias("doc_id_1"),
            F.col("d2").alias("doc_id_2"),
            "jaccard",
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — frequency-weighted SimHash.

    Bit i comes from the parity of md5-hex nibble i of each token, weighted
    by token count; the signature is the sign pattern of the 16 sums. Ties
    (sum == 0) resolve to bit 1 — deterministic in every engine.
    """
    docs = ensure_parallelism(docs)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    h = cnt.withColumn("h", F.md5("t"))
    contribs = [
        (
            F.col("c")
            * (2 * (F.conv(F.substring("h", i, 1), 16, 10).cast("int") % 2) - 1)
        ).alias(f"w{i}")
        for i in range(1, bits + 1)
    ]
    sums = h.select("doc_id", *contribs).groupBy("doc_id").agg(
        *[F.sum(f"w{i}").alias(f"s{i}") for i in range(1, bits + 1)]
    )
    sim = None
    for i in range(1, bits + 1):
        bit = F.when(F.col(f"s{i}") >= 0, F.lit(2 ** (i - 1))).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return sums.select("doc_id", sim.cast("bigint").alias("simhash")).orderBy("doc_id")


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    block_col: str = "label",
) -> DataFrame:
    """Cosine near-dup pairs *within a blocking key* (here: the given
    partition label; in production a coarse quantizer / LSH bucket).
    Blocking turns the O(n^2) pair space into sum over blocks of O(b^2) —
    and the self-join is an equi-join on the block key, so it shuffles
    once and never builds cross-block pairs."""
    e = emb.select(
        "vec_id",
        F.col(block_col).alias("blk"),
        V.to_double_array("embedding").alias("v"),
    ).withColumn("nrm", V.norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            F.round(
                V.cosine(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        # shuffle barrier below the presentational sort: the surviving
        # pair rows are tiny, and materializing them means the range
        # sampler never re-runs the O(b^2) cosine join (SORT_RESAMPLE)
        .repartition(F.col("vec_id_1"), F.col("vec_id_2"))
        .orderBy("vec_id_1", "vec_id_2")
    )


def paragraph_dedup(
    docs: DataFrame,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style global paragraph-level exact dedup: split each document on
    ``sep``, keep only the corpus-wide FIRST occurrence of every distinct
    paragraph (order = (doc_id, position) — deterministic, rerun-stable),
    reassemble documents from their surviving paragraphs in original order.
    Documents whose every paragraph was seen earlier vanish entirely.

    Returns ``(doc_id, text, n_paras, n_kept)``.

    Plan shape: posexplode (map-side) -> ONE shuffle partitioned by the
    paragraph digest (first-occurrence decision via row_number, which
    Catalyst executes as WindowGroupLimit: per-partition partial top-1
    before the exchange, so the shuffle carries at most one surviving row
    per (digest, input partition), not every duplicate) -> ONE shuffle
    back on doc_id to reassemble. Both shuffles move paragraph text once
    each — the floor for any reassembling dedup. The decision key is the
    md5 digest, never raw text comparison on the sort key (equal digests
    == equal text at md5 collision odds).
    """
    p = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(id_col, "pos")
    flagged = p.select(
        id_col, "pos", "para",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    out = (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("pos", "para")
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias(text_col),
        )
        .where(F.col("n_kept") > 0)
    )
    return out.select(id_col, text_col, "n_paras", "n_kept").orderBy(id_col)


def repeated_span_coverage(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of token positions covered by word n-grams
    that occur in >= ``min_df`` distinct documents — the cross-document
    boilerplate / memorized-span signal substring-dedup pipelines gate on
    (a high fraction means the document is mostly text seen elsewhere).

    Returns ``(doc_id, n_tokens, n_hot_spans, covered_tokens, dup_frac)``
    for every doc with at least one n-gram; docs with no hot span report 0.

    Plan shape at 100 TB:

    - shingles are hashed to md5 digests in the map stage; the document
      -frequency aggregation shuffles (digest, doc_id) pairs, never gram
      text;
    - hot digests (df >= min_df) join back to the positional shingle
      stream as a digest equi-join — at real scale the hot set is the
      small side (boilerplate is rare among DISTINCT grams even when
      common among tokens) and AQE broadcasts it;
    - covered-token arithmetic is the classic sorted-interval sweep done
      per doc with one window: span i covers ``min(n, next_start - start)``
      tokens (overlaps clip, the last span contributes n) — one shuffle on
      doc_id, O(1) state per row.
    """
    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("toks")
    ).select(id_col, F.size("toks").alias("n_tokens"), "toks")
    toks = ensure_parallelism(toks)
    base = toks.where(F.col("n_tokens") >= n).select(id_col, "n_tokens")

    grams = toks.select(
        id_col,
        F.posexplode(word_shingles("toks", n)).alias("pos", "gram"),
    ).select(id_col, "pos", F.md5("gram").alias("g"))

    # SHUFFLE_HASH on the hot side: after groupBy+filter the static
    # estimator's size guess for the hot-digest set degenerates to a
    # constant and it broadcasts a set that GROWS with the corpus (the r6
    # ngram misplan class, gated by plan_audit BCAST_OVER_SHUFFLE). The
    # digest equi-join shuffles both sides on g; hot is the (much
    # smaller) build side.
    hot = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("g")
        .hint("shuffle_hash")
    )
    spans = grams.join(hot, "g").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    swept = spans.select(
        id_col,
        F.least(
            F.lit(n), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(n))
        ).alias("cov"),
    )
    # per_doc is ONE ROW PER HOT DOC — data-scaled, so the static
    # broadcast the estimator picks after two aggregation levels is the
    # same misplan class as `hot` above; hash-join it on doc_id instead
    per_doc = swept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hot_spans"),
        F.sum("cov").cast("bigint").alias("covered_tokens"),
    ).hint("shuffle_hash")
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_hot_spans", F.lit(0)).cast("bigint").alias("n_hot_spans"),
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)) * 1.0 / F.col("n_tokens"), 6
            ).alias("dup_frac"),
        )
        .orderBy(id_col)
    )


def neardup_dedup(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
) -> DataFrame:
    """The end-to-end near-duplicate REMOVAL a pipeline actually runs:
    minhash-LSH candidate pairs -> transitive cluster resolution -> keep
    the smallest ``doc_id`` of every cluster -> anti-join the rest away.
    Returns the deduplicated corpus with the original schema.

    Composition of already-oracle-pinned pieces (``minhash_candidates``
    is the banded-join scale path; ``graph.connected_components`` is
    O(log d) label-propagation rounds), plus one final anti-join keyed by
    doc_id. Docs in no cluster pass through untouched — the anti-join's
    right side holds ONLY cluster losers (cluster-size - 1 rows per
    cluster), so its build side is bounded by the duplicate count, not
    the corpus.
    """
    from compute_histogram_spark.operators.graph import connected_components

    pairs = minhash_candidates(
        docs, num_hashes=num_hashes, rows_per_band=rows_per_band, n=n
    )
    clusters = connected_components(pairs)
    losers = clusters.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 10,
    iters: int = 3,
    keep: str = "closest",
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means partition
    the embedding space, connect within-cluster pairs whose cosine
    exceeds ``threshold``, keep ONE representative per duplicate group ->
    (vec_id, cid, kept).

    ``keep="closest"`` is the paper's policy — retain the group member
    FARTHEST from its cluster centroid (lowest centroid cosine; redundant
    interior points go, the informative outlier stays), vec_id as the
    deterministic tiebreak. ``keep="min_id"`` retains the smallest vec_id
    (the oracle-friendly twin used by the NumPy equality test).

    100 TB shape: the learned clusters are the blocking key, so the pair
    space is sum over clusters of O(b^2) instead of O(n^2) — identical to
    the IVF index layout (clustering.assign_clusters), whose
    ``partitionBy('cid')`` form this consumes for free; training cost is
    amortized exactly like the ANN ladder's (sample_fraction + fixed
    Lloyd's rounds, shuffles bounded by O(partitions x k x dim)). The
    pair join, component resolution (O(log d) rounds) and min_by
    reduction are all bounded by within-cluster duplicate counts, never
    the corpus. ``centroids`` accepts a pre-trained matrix (testing /
    index reuse).
    """
    from compute_histogram_spark.operators.clustering import (
        assign_clusters,
        kmeans,
    )
    from compute_histogram_spark.operators.graph import connected_components

    if keep not in ("closest", "min_id"):
        raise ValueError("keep must be 'closest' or 'min_id'")
    if centroids is None:
        centroids = kmeans(emb, n_clusters=n_clusters, iters=iters)
    assigned = assign_clusters(emb, centroids)  # (vec_id, v, nrm, cid)

    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            # 6-decimal rounding before the threshold: summation-order
            # last-bit noise must not flip a pair in or out across engines
            # (the DuckDB twin rounds identically; same as dedup_embedding)
            F.round(
                V.cosine(
                    F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
                ),
                6,
            )
            >= threshold
        )
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
        )
    )
    comps = connected_components(pairs, src="vec_id_1", dst="vec_id_2")

    if keep == "min_id":
        keep_per_comp = comps.groupBy("component").agg(
            F.min("node").alias("keep_id")
        )
    else:
        # centroid cosine per member: join the k-row centroid table
        spark = emb.sparkSession
        cent_rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
        ]
        cent = spark.createDataFrame(cent_rows, "cid INT, cv ARRAY<DOUBLE>")
        scored = (
            assigned.join(comps, assigned["vec_id"] == comps["node"])
            .join(F.broadcast(cent), "cid")
            .select(
                "component",
                "vec_id",
                V.cosine(
                    F.col("v"), F.col("cv"), F.col("nrm"), V.norm(F.col("cv"))
                ).alias("ccos"),
            )
        )
        keep_per_comp = scored.groupBy("component").agg(
            F.min_by("vec_id", F.struct(F.col("ccos"), F.col("vec_id"))).alias(
                "keep_id"
            )
        )

    losers = (
        comps.join(
            keep_per_comp,
            comps["component"] == keep_per_comp["component"],
            "inner",
        )
        .where(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias("vec_id"))
    )
    return (
        assigned.select("vec_id", "cid")
        .join(F.broadcast(losers.withColumn("lost", F.lit(True))), "vec_id",
              "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(~F.col("lost"), F.lit(True)).alias("kept"),
        )
        .repartition(F.col("vec_id"))
        .orderBy("vec_id")
    )


def normalize_text(col: str | F.Column = "text") -> F.Column:
    """C4/CCNet-style normalization expression: lowercase, strip every
    character outside [a-z0-9 ], collapse whitespace runs, trim. Pure
    JVM regex (simple character classes only — semantics identical in
    Java regex and DuckDB's RE2, which is what makes the normalized
    dedup twin value-exact)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, "  +", " ")
    return F.trim(c)


def normalized_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup over NORMALIZED text — the C4 preprocessing stage
    that catches casing/punctuation-only near-copies content hashing
    misses (the same class of invisible duplicates url_dedup catches
    for crawls). Map (normalize + hash) then ONE hash shuffle; payload
    text never rides the exchange.

    -> (doc_id, n_copies, n_norm_chars), one row per distinct
    normalized content, kept id = min."""
    norm = normalize_text(text_col)
    return (
        docs.select(
            F.sha2(norm, 256).alias("h"),
            F.length(norm).alias("n_norm_chars"),
            F.col(id_col),
        )
        .groupBy("h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
            F.first("n_norm_chars").alias("n_norm_chars"),
        )
        .select(id_col, "n_copies", "n_norm_chars")
        .orderBy(id_col)
    )


def duplicate_span_removal(
    docs: DataFrame,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document EXACT duplicate-span removal — the ExactSubstr
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-shaped for Spark: their suffix array
    over the concatenated corpus is a single-node structure, so the
    distributed form marks every token lying inside some length-
    ``min_len`` token window that occurs >= 2 times in the corpus
    (other doc OR a repeat in the same doc) and removes the maximal
    covered runs. A span of length M >= min_len duplicated as a whole
    has all of its windows duplicated, so all M tokens are removed —
    identical behavior to suffix-array matching on whole-span repeats;
    overlapping distinct sources can over-mark (documented, determinate
    approximation, standard in fingerprint-based production variants).

    Plan shape, all declarative: windows via word_shingles+posexplode
    (map-side) -> duplicated-window digests by ONE md5-keyed count
    (map-side partial combine; the digest table is bounded by the
    duplicated-window count, far below token count on real corpora) ->
    left-semi back onto the window table -> covered positions by
    sequence-explode -> ONE doc-keyed anti-join + reassembly agg (the
    paragraph_dedup pattern: sort_array(collect_list(struct)) keeps
    original token order without a global sort). Digest keying means
    raw text never rides the dup-decision shuffle.

    Returns ``(doc_id, text, n_tokens, n_removed)``; documents whose
    every token sat in a duplicated span vanish (the Lee et al.
    behavior for full-copy documents under paragraph granularity).
    """
    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("toks")
    )
    w = toks.select(
        id_col,
        F.posexplode(word_shingles("toks", min_len)).alias("pos", "w"),
    ).select(id_col, "pos", F.md5("w").alias("h"))
    dup = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("h")
    )
    cov = (
        w.join(dup, "h", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (min_len - 1))
            ).alias("p"),
        )
    )
    tokpos = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("p", "tok")
    )
    kept = tokpos.join(cov, [id_col, "p"], "left_anti")
    out = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias(text_col),
        )
        .join(
            docs.select(
                F.col(id_col), F.size(tokens(text_col)).alias("n_tokens")
            ),
            id_col,
        )
        .select(
            id_col,
            text_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("n_tokens") - F.col("n_kept")).cast("bigint")
            .alias("n_removed"),
        )
        .orderBy(id_col)
    )
    return out


def neardup_source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source NEAR-duplicate provenance matrix: for every source
    pair (s1 <= s2), the number of MinHash candidate pairs whose two
    documents come from those sources — the audit a multi-crawl corpus
    build runs before weighting sources (a high-overlap pair means the
    mixing weights double-count a shared near-identical slice). Staged
    r16, wave-13 bank.

    Scale shape: the pair set comes from the banded MinHash join
    (:func:`minhash_candidates` — never all-pairs), the two source
    lookups are keyed equi-joins on a two-column pruned projection of
    documents, and the final aggregate is bounded by |sources|^2. The
    (s1, s2) key is order-normalized with least/greatest so the matrix
    is triangular regardless of candidate-pair orientation.

    -> (s1, s2, n_pairs) ordered by (s1, s2)."""
    pairs = minhash_candidates(docs)
    src = docs.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_id_1"), F.col("source").alias("src_1")
    )
    b = src.select(
        F.col("doc_id").alias("doc_id_2"), F.col("source").alias("src_2")
    )
    return (
        pairs.join(a, "doc_id_1")
        .join(b, "doc_id_2")
        .select(
            F.least("src_1", "src_2").alias("s1"),
            F.greatest("src_1", "src_2").alias("s2"),
        )
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("s1", "s2")
    )
