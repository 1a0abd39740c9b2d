"""Training-data pipeline primitives: deterministic splits, per-group
caps, and token-window chunking over the documents table.

These are the corpus-engineering steps between "deduped documents" and
"training batches"; all three are single-pass, shuffle-minimal, and
cross-engine deterministic:

- **split_assign**: hash-based train/valid/test assignment. The split is a
  pure function of the stable document id (md5 — portable, so the DuckDB
  oracle reproduces it bit-for-bit), NOT rand(): re-running the pipeline,
  adding machines, or retrying tasks can never move a document across
  splits (leakage-by-nondeterminism is the classic eval bug). Map-only —
  no shuffle at all.
- **cap_per_group**: bound each group's row count (language/source
  rebalancing). row_number over (group, deterministic order) keeps the
  FIRST ``cap`` docs per group — one shuffle on the group key; at scale the
  window is per-group-partial thanks to WindowGroupLimit pushdown (rank
  filter recognized by Catalyst).
- **chunk_documents**: explode each document into fixed-size token windows
  with overlap (sequence packing for context-length training). Pure
  integer window math + ``posexplode(sequence(...))`` — the output row
  count is exactly ``ceil((n_tokens - overlap) / stride)`` per doc and
  every boundary is integer-derived, so the oracle matches value-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

SPLITS = ("train", "valid", "test")


def split_bucket(
    id_col: str = "doc_id", buckets: int = 100, salt: str = ""
) -> Column:
    """Deterministic [0, buckets) bucket from md5 of (salt || id) — the
    first 8 hex chars as an integer, mod buckets. Portable to any engine.

    ``salt`` decorrelates independent decisions made from the same id:
    every hash-gated pipeline step (split assignment, mix sampling, ...)
    MUST use a distinct salt, otherwise the decisions are perfectly
    correlated (e.g. a 0.5-rate mix with the unsalted split hash would keep
    exactly the bucket<50 docs — all of them 'train', starving eval splits).
    """
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % buckets


def split_assign(
    docs: DataFrame,
    train_pct: int = 80,
    valid_pct: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """-> input + ``split`` column ('train'/'valid'/'test'); map-only."""
    b = split_bucket(id_col)
    return docs.withColumn(
        "split",
        F.when(b < train_pct, SPLITS[0])
        .when(b < train_pct + valid_pct, SPLITS[1])
        .otherwise(SPLITS[2]),
    )


def cap_per_group(
    docs: DataFrame,
    group_col: str = "lang",
    cap: int = 50,
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, by ascending ``order_col``
    (deterministic — never rand()-sampled, so reruns agree)."""
    w = Window.partitionBy(group_col).orderBy(F.asc(order_col))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Explode docs into overlapping token windows.

    -> (doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_text). Windows
    start every ``chunk_tokens - overlap`` tokens; the last window is
    short rather than padded. Token = single-space split (the corpus
    convention shared with operators/text.py).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # number of windows covering [0, n) with the given stride: at least 1,
    # then one per full stride past the first chunk
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int") + 1,
    )
    c = docs.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n_toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
    )
    start = F.col("chunk_id") * stride
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.cast("int").alias("start_tok"),
        F.least(F.lit(chunk_tokens), F.col("n_toks") - start)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("toks", start + 1, F.lit(chunk_tokens))
        ).alias("chunk_text"),
    )


def pack_shards(
    docs: DataFrame,
    tokens_per_shard: int = 4096,
    n_buckets: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing: assign every document to a fixed-token-budget
    training shard via a GLOBAL running token total in deterministic hash
    order (a doc belongs to the shard its first token lands in).

    The running total is a distributed two-phase prefix sum — the textbook
    scan algorithm, relationally:

    1. **bucket** rows by the leading byte of the md5 order key. The key is
       uniform, so the ``n_buckets`` fixed prefix ranges are balanced, and
       bucket id is MONOTONE in key order — concatenating buckets in id
       order is exactly the global order.
    2. **local cumsum** per bucket: one window per bucket, all buckets in
       parallel. This is the step that replaces the naive single-partition
       global window (the scale-killer: ORDER BY over 100 TB on one task).
    3. **offsets**: per-bucket totals — ``n_buckets`` rows — collect,
       exclusive-scan on the driver (microseconds), broadcast-join back.

    Only step 3 touches the driver, with O(n_buckets) rows. Raise
    ``n_buckets`` with the cluster (it bounds per-window sort size at
    ~n/n_buckets); the output is invariant to it (pinned in tests).

    Every decision is integer math on md5 — rerun-stable, engine-portable,
    and order-independent, like every other hash-gated step here (the
    "pack:" salt decorrelates it from split/mix decisions per the
    distinct-salt rule).
    """
    key = F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    n_tok = F.size(F.split(F.col(text_col), " "))
    base = docs.select(
        "doc_id", key.alias("key"), n_tok.cast("bigint").alias("n_tok")
    )
    # leading 2 hex chars -> [0, 256); scale to n_buckets (monotone in key)
    bucket = (
        F.conv(F.substring("key", 1, 2), 16, 10).cast("int")
        * n_buckets
        / 256
    ).cast("int")
    base = base.withColumn("bkt", bucket)
    w = (
        Window.partitionBy("bkt")
        .orderBy("key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("local_cum", F.sum("n_tok").over(w))
    totals = {
        r["bkt"]: r["t"]
        for r in local.groupBy("bkt").agg(F.sum("n_tok").alias("t")).collect()
    }
    running, offsets = 0, {}
    for b in sorted(totals):
        offsets[b] = running
        running += totals[b]
    spark = docs.sparkSession
    off_df = spark.createDataFrame(
        [(b, o) for b, o in offsets.items()], "bkt int, offset bigint"
    )
    start = F.col("offset") + F.col("local_cum") - F.col("n_tok")
    return (
        local.join(F.broadcast(off_df), "bkt")
        .select(
            "doc_id",
            "n_tok",
            F.floor(start / tokens_per_shard).cast("bigint").alias("shard_id"),
            start.cast("bigint").alias("start_offset"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus hygiene: eval-set decontamination and PII scrubbing
# ---------------------------------------------------------------------------

# portable regexes: kept inside the syntax subset Java regex (Spark) and
# RE2 (DuckDB) interpret identically — character classes, +/{m,}, no
# backrefs, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_RE = r"[0-9]{9,}"


def contamination_report(docs: DataFrame, n: int = 3) -> DataFrame:
    """Train->test contamination: for each TEST document, how many of its
    word n-gram shingles also occur in any TRAIN document (and in how many).

    The membership test is an equi-join on md5(shingle) — digests, not
    shingle strings, are the shuffle key (32-byte keys regardless of
    shingle length), and both sides arrive hash-partitioned on the digest,
    so the join is the only data-sized shuffle. Split assignment reuses
    :func:`split_bucket` — a pure function of doc_id, so the report is
    consistent with :func:`split_assign` by construction ('valid' docs are
    in neither side).

    -> (test_doc_id, n_shared_shingles, n_train_docs)
    """
    from compute_histogram_spark.operators.dedup import shingle_table

    sh = shingle_table(docs, n=n, distinct=True).select(
        "doc_id", F.md5("s").alias("h"), split_bucket("doc_id").alias("bk")
    )
    train = sh.where(F.col("bk") < 80).select(F.col("doc_id").alias("train_doc"), "h")
    test = sh.where(F.col("bk") >= 90).select(F.col("doc_id").alias("test_doc_id"), "h")
    return (
        test.join(train, "h")
        .groupBy("test_doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
        .orderBy("test_doc_id")
    )


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails and long digit runs; report per-doc match counts.

    Pure JVM-side regexp expressions (whole-stage codegen, no Python) —
    emails first, then digit runs. ``n_long_numbers`` counts matches on the
    EMAIL-REDACTED text (not the raw text) so the reported counts equal the
    number of '<NUM>' substitutions actually applied — a digit run inside
    an email address is consumed by the email pass, counted once as an
    email, never double-reported.

    -> (doc_id, n_emails, n_long_numbers, clean_md5) — the digest stands in
    for the cleaned text so downstream equality checks stay 32 bytes/row.
    """
    from compute_histogram_spark.sources.tables import range_ordered

    docs = range_ordered(docs, "doc_id")  # see range_ordered: one regex pass
    t = F.col(text_col)
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, LONG_NUMBER_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(no_email, F.lit(LONG_NUMBER_RE), F.lit(0))
        ).alias("n_long_numbers"),
        F.md5(clean).alias("clean_md5"),
    ).sortWithinPartitions("doc_id")


def corpus_checksum(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-insensitive corpus fingerprint: SUM over rows of an integer
    derived from md5(id || ':' || content).

    The workhorse of migration/replication validation at 100 TB: addition
    is commutative/associative, so the checksum is identical under any
    partitioning, row order, or engine — two copies of a corpus compare by
    exchanging ONE row, no sort, no row-level diff. Partial aggregation
    makes the shuffle one row per partition. (A 64-bit sum over md5-derived
    values also catches duplicate-row drift, which XOR would cancel.)

    Overflow headroom: per-row values are reduced to 24 bits BEFORE the
    sum, so an int64 accumulator is exact (no ANSI overflow, no wrap
    divergence vs DuckDB's HUGEINT) up to 2^63/2^24 ~ 5.5e11 rows — two
    orders of magnitude beyond a 100 TB document corpus.

    -> (n_docs BIGINT, checksum BIGINT)
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col))),
            1,
            6,  # 6 hex chars = 24 bits
        ),
        16,
        10,
    ).cast("bigint")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(h).alias("checksum")
    )


def mix_corpus(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus mixing: per-source sampling rates, including
    UPSAMPLING (rate > 1 emits floor(rate) copies plus a hash-selected
    fractional copy — the epoch-weighting scheme of LLM data mixtures).

    Mechanics: every doc gets ``floor(rate)`` guaranteed copies; one extra
    copy is granted iff the doc's md5 bucket (0-99, same family as
    :func:`split_bucket`) falls under the fractional part. Copies
    materialize through ``posexplode(sequence(...))`` — a map-only explode,
    no shuffle, no rand(): reruns/retries emit the identical mixture.
    Output carries ``copy_id`` so downstream shuffles can decorrelate
    repeated documents. The fractional gate hashes with a 'mix:' salt so
    sampling decisions are INDEPENDENT of train/valid/test assignment
    (which uses the unsalted hash) — without the salt, any rate < 0.8 would
    keep only bucket<80 ('train') docs and starve the eval splits.
    """
    b = split_bucket(id_col, salt="mix:")
    n_copies = F.lit(0)
    matched = F.lit(False)
    for src, rate in sorted(rates.items()):
        whole, frac = int(rate), round((rate - int(rate)) * 100)
        this = F.lit(whole) + F.when(b < frac, 1).otherwise(0)
        # eqNullSafe: a NULL source must fall through to default_rate, not
        # poison `matched` into NULL (which would silently DROP the row —
        # plain == yields NULL, ~NULL is NULL, when(NULL) skips the branch)
        n_copies = F.when(F.col(source_col).eqNullSafe(src), this).otherwise(n_copies)
        matched = matched | F.col(source_col).eqNullSafe(src)
    dw, df_ = int(default_rate), round((default_rate - int(default_rate)) * 100)
    default_copies = F.lit(dw) + F.when(b < df_, 1).otherwise(0)
    n_copies = F.when(~matched, default_copies).otherwise(n_copies)

    c = docs.withColumn("_n", n_copies).where(F.col("_n") > 0)
    return c.select(
        *[x for x in docs.columns],
        F.posexplode(F.sequence(F.lit(1), F.col("_n"))).alias("_i", "copy_id"),
    ).drop("_i")


def temperature_rates(
    docs: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int | None = None,
) -> dict[str, float]:
    """Per-group mixture rates from temperature sampling (the multilingual
    alpha-sampling of mBERT/XLM-R/mT5): sample groups proportionally to
    ``p_g^alpha`` instead of their natural share ``p_g`` — alpha=1 keeps
    the corpus as-is, alpha=0 equalizes groups, in between boosts the tail
    without flattening it. Realized as per-doc rates
    ``rate_g = q_g * target_total / n_g`` (q ∝ p^alpha, normalized), so
    head groups downsample and tail groups UPSAMPLE (rate > 1 -> epoch
    duplication, handled by :func:`mix_corpus`).

    Cost: one count aggregation; the returned dict is group-bounded
    (driver-side G floats — the same bounded-collect class as k-means
    centroids). ``target_total`` defaults to the input size."""
    counts = {
        r["g"]: r["n"]
        for r in docs.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        # NULL-group docs take mix_corpus's default_rate (0.0 under
        # temperature_mix -> dropped); a None key would also break the
        # deterministic sorted() iteration over rates
        if r["g"] is not None
    }
    total = sum(counts.values())
    if not total:
        return {}
    if target_total is None:
        target_total = total
    weights = {g: (n / total) ** alpha for g, n in counts.items()}
    z = sum(weights.values())
    return {
        g: round(weights[g] / z * target_total / counts[g], 2)
        for g in counts
    }


def temperature_mix(
    docs: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-resampled corpus: :func:`temperature_rates` feeding the
    deterministic :func:`mix_corpus` (hash-gated fractional copies, no
    rand(), rerun/layout-invariant). Rates quantized to 1e-2 like
    mix_corpus's fractional gate."""
    rates = temperature_rates(docs, group_col, alpha, target_total)
    return mix_corpus(
        docs, rates, default_rate=0.0, source_col=group_col, id_col=id_col
    )


# ---------------------------------------------------------------------------
# bloom-filter novelty gate for incremental ingestion
# ---------------------------------------------------------------------------


def _bloom_positions(digest_col: str, k_hashes: int, n_bits: int) -> Column:
    """k probe positions as an ARRAY<BIGINT> column — computed JVM-side
    (xxhash64 with k salts, codegen) so the Python kernels below only do
    numpy scatter/gather, never per-row hashing."""
    return F.array(
        *[
            F.pmod(
                F.xxhash64(F.concat(F.lit(f"{i}:"), F.col(digest_col))),
                F.lit(n_bits),
            )
            for i in range(k_hashes)
        ]
    )


def build_bloom(
    seen: DataFrame,
    digest_col: str = "digest",
    n_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> bytes:
    """Build a bloom bitmap over a digest column, fully distributed:

    probe positions are JVM-computed columns (:func:`_bloom_positions`);
    each position becomes (word = p div 64, mask = 1 << (p mod 64)) and the
    bitmap is a ``bit_or`` aggregate over words — Catalyst runs the partial
    OR map-side, so the shuffle and the driver transfer carry at most
    n_bits/64 8-byte rows (16 K rows for the default 128 KiB filter)
    REGARDLESS of data size or partition count. (The previous shape
    collected one n_bits/8-byte bitmap per partition and OR'd on the
    driver: O(partitions x 128 KiB) — tens of GB of driver traffic at
    100 TB scale. This form is the partial/final shape of Spark's own
    ``stat.bloomFilter``, kept in DataFrame land so the bitmap can be
    probed from Python executors.) Size the filter at ~10 bits/item for
    ~1% FP at k=5 (n_bits=1<<20 ~ 128 KiB per 100k items).
    """
    import numpy as np

    pos = seen.select(
        F.explode(_bloom_positions(digest_col, k_hashes, n_bits)).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("bigint").alias("w"),
            # DataFrame-API shiftleft needs a literal shift; the SQL form
            # takes an expression for both operands
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = np.zeros(n_bits, dtype=bool)
    if words:
        w = np.array([r["w"] for r in words], dtype=np.int64)
        b = np.array([r["bits"] for r in words], dtype=np.int64).view(np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        mat = (b[:, None] >> shifts[None, :]) & np.uint64(1)  # [n_words, 64]
        idx = (w[:, None] * 64 + np.arange(64)[None, :]).ravel()
        keep = idx < n_bits
        dense[idx[keep]] = mat.ravel()[keep].astype(bool)
    # same packbits layout (MSB-first per byte) as the per-partition form,
    # so existing bitmaps and the probe kernel are byte-compatible
    return np.packbits(dense).tobytes()


def novelty_gate(
    new_docs: DataFrame,
    bloom: bytes,
    digest_col: str = "digest",
    n_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Flag each incoming doc as ``maybe_seen`` by probing the broadcast
    bloom bitmap — NO join, no shuffle: the 100 TB corpus is represented by
    a KB-MB bitmap riding in the UDF closure, and the probe is a vectorized
    numpy gather over JVM-computed positions. Guarantee: a digest that WAS
    in the seen set always flags True (no false negatives — dedup can't
    miss); a fresh digest flags True with ~FP-rate probability, so the gate
    is a cheap prefilter in front of the exact (anti-join) check, which
    then runs only on the flagged sliver.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bits = np.unpackbits(np.frombuffer(bloom, dtype=np.uint8)).astype(bool)

    def _kernel(ps):
        m = np.stack(ps.to_numpy())  # [batch, k] int64
        return pd.Series(bits[m].all(axis=1))

    return new_docs.withColumn(
        "maybe_seen",
        pandas_udf(_kernel, "boolean")(
            _bloom_positions(digest_col, k_hashes, n_bits)
        ),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat:",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep each row iff its salted
    md5 bucket (out of 1e6) falls under the stratum's fraction.

    The Spark built-in (``df.sampleBy``) is seeded-random per partition
    SPLIT — resilient to nothing: a repartition, a retry, or an input
    reorder changes the sample. This version is a pure function of the row
    id, so the sample is reproducible across reruns, engines (the DuckDB
    oracle reproduces it bit-for-bit), and cluster layouts, and it
    composes with the other hash-gated steps via distinct salts (see
    :func:`split_bucket`). Map-only: no shuffle, no count pass; the
    fraction is honored in expectation (binomial, like sampleBy), with
    exactness over the fixed 1e6-bucket grid.

    ``fractions`` maps stratum value -> keep fraction (use
    ``default_fraction`` for unlisted strata). Fractions are quantized to
    micro-units (1e-6) so the comparison is integer-vs-integer.
    """
    b = split_bucket(id_col, buckets=1_000_000, salt=salt)
    expr = F.lit(int(default_fraction * 1_000_000))
    for v, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(strata_col) == v, F.lit(int(round(frac * 1_000_000)))
        ).otherwise(expr)
    return df.where(b < expr)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "wsamp:",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-ES): each row gets key ``ln(u) / w`` with a
    hash-derived uniform ``u``; the n LARGEST keys are the sample, with
    inclusion probability proportional to weight. The quality-weighted
    corpus downsampling step ("keep 1M docs, prefer high quality") that
    rand()-based sampling cannot do reproducibly.

    ``u`` comes from the salted md5 micro-bucket (same idiom as
    :func:`stratified_sample`, distinct salt REQUIRED — see
    :func:`split_bucket`), so the sample is a pure function of the row
    ids: rerun/layout/engine-stable, and the DuckDB oracle reproduces it
    bit-for-bit. The global top-n compiles to TakeOrderedAndProject
    (map-side partial top-n per partition, no global sort — the same
    bounded shape as the KMV sketch). Zero/negative weights are excluded
    (their key would be -inf).

    -> the sampled rows (original columns), ordered by ``sample_key``
    descending with the key attached for auditability.
    """
    # u in (0, 1]: micro-bucket + 1 over 1e6 — never 0, so ln is finite
    u = (
        split_bucket(id_col, buckets=1_000_000, salt=salt).cast("double")
        + F.lit(1.0)
    ) / F.lit(1_000_000.0)
    w = F.col(weight_col).cast("double")
    keyed = df.where(w > 0).withColumn(
        "sample_key", F.round(F.log(u) / w, 12)
    )
    return (
        keyed.orderBy(F.desc("sample_key"), F.col(id_col).asc())
        .limit(n)
    )


def crawl_corpus(
    spark,
    warc_path: str,
    out_path: str | None = None,
    min_chars: int = 50,
    n_shards: int = 16,
    extractor: str = "parser",
    url_dedup_first: bool = False,
) -> DataFrame:
    """Crawl archives -> deduplicated training corpus, end to end.

    The one-call composition of the ingestion chain every web-corpus
    build runs (the C4/FineWeb skeleton): read ``warc_path`` through the
    ``warcdocs`` source (HTTP 200 text records, HTML already extracted),
    drop short documents, EXACT-dedup by content (first occurrence by
    (path, offset) wins — crawl order, so re-crawled duplicates keep
    their earliest capture), and optionally export WET shards to
    ``out_path``. Returns the corpus DataFrame
    ``(doc_id, uri, text, n_chars)`` either way.

    Scale shape: every stage is a registered source scan, a map, or one
    hash shuffle (the dedup groupBy); nothing touches the driver. The
    heavy lifting lives in the composed parts — this function adds no
    machinery of its own, which is the point: the pipeline suite
    composes.
    """
    from compute_histogram_spark.sources.warc import WarcDocsDataSource

    spark.dataSource.register(WarcDocsDataSource)
    docs = (
        spark.read.format("warcdocs").option("path", warc_path)
        .option("extractor", extractor)  # 'fast' = the opt-in regex path
        .load()
        .where(F.col("parsed") & (F.col("http_status") == 200))
        .where(F.col("text").isNotNull() & (F.length("text") >= min_chars))
        .select(
            "target_uri", "record_offset", F.col("path").alias("_seg"),
            "text",
        )
    )
    if url_dedup_first:
        # the C4/FineWeb pre-stage: collapse re-crawl URL variants
        # (tracking params, case, fragments) to the earliest capture
        # BEFORE content hashing — one shuffle on the canonical string,
        # and the (usually much larger) duplicate payloads never reach
        # the sha2 stage. Records with NO WARC-Target-URI (the source
        # emits NULL) get a per-row unique (_seg, offset) fallback key so
        # they pass through to content dedup instead of collapsing into
        # one NULL group (r10 advice — that silently dropped distinct
        # null-URI documents).
        _key = F.coalesce(
            F.nullif(canonical_url(F.col("target_uri")), F.lit("")),
            F.concat_ws(":", F.lit("\x00nouri"), "_seg",
                        F.col("record_offset").cast("string")),
        )
        docs = (
            docs.groupBy(_key.alias("_cu"))
            .agg(
                F.min(
                    F.struct("_seg", "record_offset", "target_uri", "text")
                ).alias("first")
            )
            .select(
                F.col("first.target_uri").alias("target_uri"),
                F.col("first.record_offset").alias("record_offset"),
                F.col("first._seg").alias("_seg"),
                F.col("first.text").alias("text"),
            )
        )
    kept = (
        docs.groupBy(F.sha2("text", 256).alias("_ch"))
        .agg(
            F.min(F.struct("_seg", "record_offset", "target_uri", "text")).alias("first")
        )
        .select(
            F.abs(F.xxhash64("_ch")).alias("doc_id"),
            F.col("first.target_uri").alias("uri"),
            F.col("first.text").alias("text"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    if out_path is not None:
        from compute_histogram_spark.sources.sinks import write_wet_shards

        write_wet_shards(kept, out_path, n_shards=n_shards)
    return kept


def crawl_corpus_stream(
    spark,
    warc_path: str,
    out_path: str,
    checkpoint: str,
    min_chars: int = 50,
    n_shards: int = 4,
):
    """Streaming :func:`crawl_corpus`: incremental corpus building.

    Tails ``warc_path`` through the streaming ``warcdocs`` reader, keeps
    the same HTTP-200/min-length slice, dedups by content hash ACROSS
    batches (streaming ``dropDuplicates`` state — unbounded by design:
    corpus dedup has no time horizon; the state row is a 32-byte digest,
    so even 10^10 documents is ~320 GB of state across a cluster, and
    the batch pipeline remains the right tool for a full rebuild), and
    appends each micro-batch as WET shards named
    ``batch-<epoch>-<shard>`` — monotonic, so the OUTPUT directory is
    itself tailable by the streaming reader (pipelines chain).

    Exactly-once to the filesystem: a replayed epoch rewrites the same
    deterministic file names with identical bytes (digest-derived
    content, atomic rename), so retries are idempotent rather than
    duplicating. Returns the StreamingQuery; callers own its lifecycle.
    """
    from compute_histogram_spark.sources.sinks import write_wet_shards
    from compute_histogram_spark.sources.warc import WarcDocsDataSource

    spark.dataSource.register(WarcDocsDataSource)
    docs = (
        spark.readStream.format("warcdocs").option("path", warc_path).load()
        .where(F.col("parsed") & (F.col("http_status") == 200))
        .where(F.col("text").isNotNull() & (F.length("text") >= min_chars))
        .select(
            F.col("target_uri").alias("uri"),
            "text",
            F.sha2("text", 256).alias("content_hash"),
        )
        .dropDuplicates(["content_hash"])
    )

    def _sink(batch_df, epoch_id):
        write_wet_shards(
            batch_df, out_path, n_shards=n_shards,
            prefix=f"batch-{epoch_id:09d}-",
        )

    return (
        docs.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (the C4/FineWeb crawl-dedup
# stage that runs BEFORE content dedup: re-crawled pages differ only in
# tracking params / fragments / host case, and collapsing them by
# canonical URL is a cheap map + one hash shuffle vs content-hashing the
# full payload)
# ---------------------------------------------------------------------------

# tracking params dropped by the canonicalizer (name, with or without a
# value). Regex stays in the Java-regex/RE2 shared subset.
_TRACKING_PARAM_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|igshid|ref)(=.*)?$"
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# the query starts at the first '?' BEFORE any '#': a '?' inside the
# fragment ('https://x/p#a?b=1') is fragment text, not a query (r10
# advice — the old r"\?([^#]*)" matched it and resurrected the fragment)
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def canonical_url(col: Column) -> Column:
    """Deterministic canonical form of an absolute http(s)-style URL —
    pure JVM expressions, engine-portable (DuckDB twin in registry.py).

    Rules (each deterministic and documented; the point is a STABLE
    dedup key, not RFC 3986 completeness):
    1. scheme and host lowercase; path/query case preserved
    2. fragment dropped
    3. leading ``www.`` stripped from the host
    4. default ports stripped (``:80`` for http, ``:443`` for https)
    5. tracking params dropped (utm_*, fbclid, gclid, msclkid, igshid,
       ref), remaining params sorted byte-order; ``?`` dropped when none
       remain
    6. trailing ``/`` stripped from the path

    Non-URL input (no ``scheme://``) passes through unchanged — the
    crawl chain can canonicalize blindly."""
    scheme = F.lower(F.regexp_extract(col, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(col, _AUTH_RE, 1))
    host = F.regexp_replace(auth, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(col, _PATH_RE, 1)
    path = F.regexp_replace(path, r"/$", "")
    query = F.regexp_extract(col, _QUERY_RE, 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", col).otherwise(rebuilt)


def url_dedup(
    docs: DataFrame,
    url_col: str = "uri",
    id_col: str = "doc_id",
    ordered: bool = False,
) -> DataFrame:
    """One row per canonical URL: the earliest (min id) capture survives,
    with the variant count. A map + ONE hash shuffle on the canonical
    string — at crawl scale this runs before content dedup and never
    touches payload bytes.

    ``ordered`` adds a global sort on ``id_col`` for presentation /
    oracle comparison ONLY; composed pipeline use keeps the default
    (False) so the pre-stage never pays a range exchange at crawl scale
    (plan-asserted in tests/test_pipeline.py)."""
    out = (
        docs.withColumn("canonical_url", canonical_url(F.col(url_col)))
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .select(id_col, "canonical_url", "n_variants")
    )
    return out.orderBy(id_col) if ordered else out


def observe_stage(
    df: DataFrame, name: str, conditions: dict[str, Column]
) -> tuple[DataFrame, "Observation"]:
    """Attach SINGLE-PASS pipeline metrics to ``df`` via Spark's native
    Observation API: per-condition hit counts + total rows, computed by
    the SAME job that materializes the frame — at 100 TB the
    alternative is a second full scan per metric, which is how pipeline
    dashboards quietly double a corpus pass.

    Returns ``(df_with_observation, observation)``; read
    ``observation.get`` AFTER an action on the returned frame. Metrics
    are exact long counts (conditions evaluated row-side, summed in the
    observation aggregates), so gate pass-rates come out of the write
    job itself.

        gated, obs = observe_stage(docs, "quality_gate",
                                   {"kept": F.col("score") >= 0.5})
        gated.write.parquet(out)        # one pass
        rates = obs.get                 # {'n_rows': ..., 'kept': ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for mname, cond in conditions.items():
        metrics.append(F.sum(cond.cast("long")).alias(mname))
    return df.observe(obs, *metrics), obs


def end_to_end_corpus(
    docs: DataFrame,
    weights: DataFrame,
    url_col: str = "uri",
    threshold: float = 0.5,
    min_span: int = 16,
    with_metrics: bool = False,
):
    """The full corpus-refinement chain (VERDICT r12 #6) — the
    C4/FineWeb skeleton every web-scale training-data build runs,
    composed from the already-pinned stages:

        url_dedup -> exact dedup -> MinHash near-dup removal ->
        ExactSubstr duplicate-span removal -> quality gate

    ``docs`` carries (doc_id, text, ``url_col``); ``weights`` is the
    (bucket, w_milli) scorer table. Returns the surviving corpus as
    ``(doc_id, text, n_tokens, n_removed)`` with span-scrubbed text.

    The call is NOT lazy: it runs two ``count()`` jobs before it
    returns, materializing the persisted exact-dedup and near-dup
    boundaries (see the lifecycle note below). The returned DataFrame
    is a lazy plan over the cached near-dup survivors for the span and
    gate stages. Within each eager stage, column pruning still crosses
    the stage boundaries (e.g. the url stage's shuffle carries only
    (canonical, id)).

    Scale shape per stage (each independently plan-audited where it was
    pinned): one canonical-string shuffle; one digest shuffle; banded
    LSH joins + O(log d) component rounds + a loser-bounded anti-join;
    one duplicated-window digest shuffle + doc-keyed reassembly; a
    broadcast-weight scan + doc-keyed agg. No stage touches the driver.

    ``with_metrics=True`` additionally returns the per-stage
    Observations (url/exact/near/span/gate) — single-pass counters via
    :func:`observe_stage`, readable after one action on the result.
    NOTE: an Observation counts rows per PLAN PASS; a stage whose output
    feeds two consumers in the same job (e.g. the dedup pattern
    "aggregate keys, then semi-join the keys back") counts each pass,
    so its n_rows is a multiple of the stage's true cardinality. Since
    the r16 stage-boundary persists, the url/exact/near taps sit on
    cached frames that materialize once, so those counts land at (or
    much nearer) the true cardinality; the caveat still applies to any
    un-persisted tap. Exact survivor counts need a per-stage action;
    the single-pass numbers are for relative flow/ratio dashboards,
    which is what a 100 TB run can afford.
    """
    from compute_histogram_spark.operators.classify import score_filter
    from compute_histogram_spark.operators.dedup import (
        duplicate_span_removal,
        neardup_dedup,
    )

    obs = {}

    def _tap(df, stage):
        if not with_metrics:
            return df
        tapped, o = observe_stage(df, stage, {})
        obs[stage] = o
        return tapped

    # r16 optimization round (guide §5 cache-when-reused): every stage
    # output below is consumed MORE THAN ONCE by its successor (the
    # dedup stages all follow "aggregate keys from X, semi/anti-join X
    # against them" — two plan references to X; span removal references
    # its input for windows AND reassembly), and Catalyst re-executes
    # the whole upstream subtree per reference. Unpersisted, the
    # re-execution compounds per stage: the captured plan read 64
    # parquet scans of the SAME documents file (plans/r16/
    # end_to_end_corpus_before.txt), zero ReusedExchange. Persisting
    # the three stage boundaries makes the chain linear again: 64 -> 2
    # scans, sf0.1 warm 5.68 -> 4.77 s (-16%), sf1 12.65 -> 8.81 s
    # (-30%, fresh-JVM warm-min probes — the delta grows with corpus
    # size because the re-executed subtrees are data-scaled). The
    # persisted frames are the SURVIVING corpus at each stage (strictly
    # shrinking, disk-backed); the stage boundary is also where the
    # lineage-length hazard lived, so this doubles as the iteration
    # idiom the module docstring already applies to components. Column
    # pruning across stage boundaries is preserved: each persisted
    # frame is already pruned to (doc_id, text).
    #
    # r17 lifecycle (VERDICT r16 #3 / ADVICE): the three boundaries are
    # (doc_id, text) frames — AT the 100 TB design point that is
    # roughly corpus-sized executor storage EACH, so holding all three
    # until driver GC is a ~3x-corpus cache footprint (disk-backed, so
    # it degrades rather than OOMs — but task-failing degradation when
    # local disk runs short). EAGER STAGE LOOP instead: materialize
    # each boundary with a count (the cache-building pass the next
    # stage would have paid anyway — total compute is unchanged, the
    # stages were already serialized by their shuffles), then unpersist
    # its predecessor. Peak footprint is ~2x the current surviving
    # corpus during a boundary build and 1x after; the LAST boundary
    # (d3) feeds the returned lazy plan twice (span windows +
    # reassembly), so it is tagged via defer_release for the caller to
    # free after its action (bench.materialize and the tests do;
    # otherwise the ContextCleaner reclaims it with the frame).
    from pyspark import StorageLevel

    from compute_histogram_spark.session import defer_release

    # 1. URL canonicalization: earliest capture per canonical URL
    kept_urls = (
        docs.withColumn("canonical_url", canonical_url(F.col(url_col)))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = _tap(
        docs.select("doc_id", "text").join(kept_urls, "doc_id", "left_semi"),
        "url",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # 2. exact content dedup: first occurrence per digest
    kept_exact = (
        d1.select(F.sha2(F.col("text"), 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d2 = _tap(d1.join(kept_exact, "doc_id", "left_semi"), "exact").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    d2.count()  # materializes d2's cache (and d1's, en route)
    d1.unpersist()  # nothing downstream references d1 anymore
    # 3. near-duplicate removal (banded LSH -> components -> anti-join)
    d3 = _tap(neardup_dedup(d2), "near").persist(StorageLevel.MEMORY_AND_DISK)
    d3.count()
    d2.unpersist()
    # 4. cross-document duplicate-span scrub (Lee et al. 2022 shape)
    d4 = _tap(duplicate_span_removal(d3, min_len=min_span), "span")
    # 5. model-quality gate over the SCRUBBED text
    out = _tap(score_filter(d4, weights, threshold=threshold), "gate")
    defer_release(out, d3)  # caller frees d3 after its action
    return (out, obs) if with_metrics else out


def _ingest_batch_tag(new_docs: DataFrame, url_col: str) -> str:
    """Deterministic content-derived batch tag: a retry of the same
    batch resumes the same staged commit instead of appending twice.
    One column-pruned aggregation over the delta (count + id range +
    order-independent crc sums of uri and text)."""
    import hashlib

    r = new_docs.agg(
        F.count("*").alias("c"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.sum(F.crc32(F.col(url_col).cast("binary"))).alias("su"),
        F.sum(F.crc32(F.col("text").cast("binary"))).alias("st"),
    ).first()
    key = f"{r['c']}:{r['mn']}:{r['mx']}:{r['su']}:{r['st']}"
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _publish_staged(state_dir: str, tag: str) -> None:
    """Resume-safe publish of a COMMITTED staged batch: rename each
    staged part-file into the flat state table under a tag-prefixed
    (collision-free, idempotent) name, then drop the staging dir.
    Renames are atomic per file; a crash mid-publish leaves the
    remaining files in staging for the next entry's recovery scan
    (already-moved files are gone from staging and skipped)."""
    import glob
    import os
    import shutil

    stage = os.path.join(state_dir, "staging", tag)
    for sub in ("corpus", "sigs", "keys"):
        src_dir = os.path.join(stage, sub)
        if not os.path.isdir(src_dir):
            continue
        dst_dir = os.path.join(state_dir, sub)
        os.makedirs(dst_dir, exist_ok=True)
        for f in sorted(glob.glob(os.path.join(src_dir, "part-*"))):
            os.rename(
                f, os.path.join(dst_dir, f"{tag}-{os.path.basename(f)}")
            )
        # the readers' existence probe (matches what a Spark append
        # would have left behind)
        open(os.path.join(dst_dir, "_SUCCESS"), "w").close()
    shutil.rmtree(stage, ignore_errors=True)


def _commit_log(state_dir: str) -> list:
    """Ordered commit log [(seq, tag), ...] reconstructed from the
    marker files. Markers written since r16 carry ``"<seq>\\n<tag>"``
    with an ABSOLUTE sequence (the writer computes next = 1 + max over
    this log, so explicit seqs already sit above any legacy ones);
    legacy tag-only markers (r15) are assigned implicit seqs by mtime
    rank. O(batches) tiny files — the same scale class as the markers
    themselves."""
    import os

    commits = os.path.join(state_dir, "_commits")
    if not os.path.isdir(commits):
        return []
    explicit, legacy = [], []
    for tag in os.listdir(commits):
        if tag.endswith(".tmp"):  # torn marker write: never committed
            continue
        p = os.path.join(commits, tag)
        try:
            body = open(p).read()
        except OSError:
            continue
        first = body.split("\n", 1)[0].strip()
        # a legacy (r15) marker's body IS its own tag — that test, not
        # isdigit(), disambiguates: a 16-hex tag can be all digits
        if first != tag and first.isdigit():
            explicit.append((int(first), tag))
        else:
            legacy.append((os.path.getmtime(p), tag))
    legacy.sort()
    out = [(i + 1, tag) for i, (_m, tag) in enumerate(legacy)]
    out.extend(explicit)
    out.sort()
    return out


def corpus_snapshots(state_dir: str) -> list:
    """The ingest's commit history as [{"seq": n, "tag": t}, ...] in
    commit order — the discovery call before :func:`read_corpus_as_of`."""
    return [{"seq": s, "tag": t} for s, t in _commit_log(state_dir)]


def read_corpus_as_of(spark, state_dir: str, seq: int | None = None):
    """SNAPSHOT read of the ingested corpus as of commit ``seq`` (None =
    latest) — time travel over the append-only state (r16).

    Because every published part-file is tag-prefixed and every commit
    is marker-logged, any historical snapshot is reconstructible by
    FILE-LIST PRUNING alone: select the part-files whose tag committed
    at or before ``seq`` and hand Spark that explicit list. No data is
    copied, no tombstones consulted — the corpus is append-only by
    construction (removals happen before publication, never after), so
    a snapshot is exactly a prefix of the commit log. Cost is
    O(committed files) driver-side listing; the read itself plans like
    any parquet scan (pruning/pushdown intact).

    Runs the entry-time recovery scan first (the ingest's own
    protocol): a committed-but-half-published batch OR compaction is
    finish-published before listing, so a snapshot can never observe a
    torn commit. After :func:`compact_corpus_state`, snapshots below
    the compaction horizon raise (their granularity was vacuumed);
    snapshots at/above it read the compact set plus later tags and stay
    exact. The single-writer / rename-atomicity caveats of the ingest
    apply unchanged (object stores should gate reads on the marker)."""
    import glob
    import os

    from pyspark.sql import functions as _F  # noqa: F401

    _recover_ingest_state(state_dir)
    log = _commit_log(state_dir)
    if not log:
        raise ValueError(f"no committed ingest batches under {state_dir}")
    manifest = _compaction_manifest(state_dir)
    if manifest is not None:
        horizon = manifest["horizon"]
        if seq is not None and seq < horizon:
            raise ValueError(
                f"snapshot {seq} predates the compaction horizon "
                f"{horizon}: that granularity was vacuumed "
                "(compact_corpus_state truncates history below its "
                "horizon — the Delta/Iceberg vacuum trade)"
            )
        keep = {tag for s, tag in log
                if s > horizon and (seq is None or s <= seq)}
        keep.add(manifest["prefix"])
    else:
        keep = {tag for s, tag in log if seq is None or s <= seq}
    corpus_dir = os.path.join(state_dir, "corpus")
    files = [
        f for f in sorted(glob.glob(os.path.join(corpus_dir, "*-part-*")))
        if os.path.basename(f).split("-", 1)[0] in keep
    ]
    if not files:
        # valid snapshot before any kept rows landed: empty frame with
        # the table's schema (the full table must exist to know it)
        return spark.createDataFrame(
            [], spark.read.parquet(corpus_dir).schema
        )
    return spark.read.parquet(*files)


def corpus_snapshot_diff(
    spark, state_dir: str, from_seq: int, to_seq: int | None = None
):
    """Rows ADDED to the ingested corpus between commits ``from_seq``
    (exclusive) and ``to_seq`` (inclusive; None = latest) — the
    incremental-consumer API over the snapshot store (r16).

    The corpus state is append-only by construction (dedup removals
    happen before publication, never after), so the diff between two
    snapshots is EXACTLY the rows of the commits in between: no
    anti-join, no checksum comparison — file-list pruning selects the
    part-files whose tag committed in ``(from_seq, to_seq]`` and the
    read is O(delta) like the ingest itself. This is what a downstream
    consumer (index builder, trainer shard packer) polls instead of
    re-reading the corpus: ``diff(last_seen, None)`` is its catch-up
    batch. Identity: rows(as_of(b)) == rows(as_of(a)) + diff(a, b) —
    pinned in tests.

    ``from_seq`` must be a valid snapshot boundary: at/above the
    compaction horizon (below it, per-commit granularity was vacuumed
    and the prefix can no longer be split) and not beyond the latest
    commit. ``from_seq == 0`` (diff from genesis, horizon permitting)
    returns the whole corpus as of ``to_seq``."""
    import glob
    import os

    _recover_ingest_state(state_dir)
    log = _commit_log(state_dir)
    if not log:
        raise ValueError(f"no committed ingest batches under {state_dir}")
    latest = max(s for s, _t in log)
    if to_seq is None:
        to_seq = latest
    manifest = _compaction_manifest(state_dir)
    horizon = manifest["horizon"] if manifest is not None else 0
    if from_seq < horizon:
        raise ValueError(
            f"diff base {from_seq} predates the compaction horizon "
            f"{horizon}: that granularity was vacuumed"
        )
    if not 0 <= from_seq <= to_seq <= latest:
        raise ValueError(
            f"invalid diff range ({from_seq}, {to_seq}]: latest commit "
            f"is {latest}"
        )
    keep = {tag for s, tag in log if from_seq < s <= to_seq}
    corpus_dir = os.path.join(state_dir, "corpus")
    files = [
        f for f in sorted(glob.glob(os.path.join(corpus_dir, "*-part-*")))
        if os.path.basename(f).split("-", 1)[0] in keep
    ]
    if not files:
        return spark.createDataFrame(
            [], spark.read.parquet(corpus_dir).schema
        )
    return spark.read.parquet(*files)


def _recover_ingest_state(state_dir: str) -> None:
    """Crash recovery for the staged-commit protocol: a batch under
    staging/ WITH a commit marker was fully staged — finish its
    publish; one WITHOUT never committed — discard it (the retry
    re-stages deterministically under the same content-derived tag).
    Also finishes a committed-but-half-published COMPACTION (r16): the
    manifest is the compaction's commit marker — with it present, any
    staged compact parts publish and every replaced-prefix straggler is
    deleted; a staged compact set WITHOUT a matching manifest never
    committed and is discarded."""
    import os
    import shutil

    staging = os.path.join(state_dir, "staging")
    manifest = _compaction_manifest(state_dir)
    if os.path.isdir(staging):
        for tag in os.listdir(staging):
            if tag.startswith("compact-"):
                prefix = tag[len("compact-"):]
                if manifest and manifest["prefix"] == prefix:
                    _publish_compaction(state_dir, prefix)
                else:
                    shutil.rmtree(
                        os.path.join(staging, tag), ignore_errors=True
                    )
            elif os.path.exists(os.path.join(state_dir, "_commits", tag)):
                _publish_staged(state_dir, tag)
            else:
                shutil.rmtree(os.path.join(staging, tag), ignore_errors=True)
    if manifest:
        _delete_replaced_parts(state_dir, manifest["replaced"])


def _compaction_manifest(state_dir: str):
    """The committed compaction, or None. One JSON file written via
    temp+rename — its existence IS the compaction's commit point."""
    import json
    import os

    p = os.path.join(state_dir, "_compaction")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


_COMPACTED_TABLES = ("corpus", "keys", "sigs")


def _publish_compaction(state_dir: str, prefix: str) -> None:
    """Rename staged compact part-files into each state table under the
    manifest prefix — same idempotent per-file rename as
    :func:`_publish_staged`. Staged layout is either per-table
    subdirectories (``compact-<prefix>/<table>/part-*``) or the r16
    corpus-only flat layout (``compact-<prefix>/part-*``)."""
    import glob
    import os
    import shutil

    stage = os.path.join(state_dir, "staging", f"compact-{prefix}")
    if not os.path.isdir(stage):
        return
    flat = sorted(glob.glob(os.path.join(stage, "part-*")))
    per_table = [("corpus", f) for f in flat]
    for table in _COMPACTED_TABLES:
        per_table.extend(
            (table, f)
            for f in sorted(glob.glob(os.path.join(stage, table, "part-*")))
        )
    for table, f in per_table:
        dst = os.path.join(state_dir, table)
        os.makedirs(dst, exist_ok=True)
        os.rename(f, os.path.join(dst, f"{prefix}-{os.path.basename(f)}"))
    shutil.rmtree(stage, ignore_errors=True)


def _delete_replaced_parts(state_dir: str, replaced) -> None:
    """Vacuum the data files a committed compaction superseded —
    idempotent, re-run at every entry until clean."""
    import glob
    import os

    gone = set(replaced)
    for table in _COMPACTED_TABLES:
        for f in glob.glob(os.path.join(state_dir, table, "*-part-*")):
            if os.path.basename(f).split("-", 1)[0] in gone:
                os.remove(f)


def compact_corpus_state(
    spark, state_dir: str, up_to_seq: int | None = None
) -> dict:
    """Compact ALL THREE state tables (corpus, keys, sigs) for every
    commit <= ``up_to_seq`` (default: latest) into one coalesced file
    set each — the table maintenance the per-commit publish makes
    necessary (r16): each commit leaves its own tag-prefixed parts, so
    a long-lived state accumulates O(batches) small files and scan
    cost starts scaling with FILE COUNT, not bytes (the
    sources/compaction.py story applied to the ingest state). keys/
    and sigs/ matter MORE than corpus/ here: every future ingest batch
    reads both indexes, so their file count taxes every O(delta) job,
    not just snapshot reads.

    Semantics — the Delta/Iceberg vacuum trade, stated explicitly:
    snapshot granularity BELOW the horizon is truncated
    (``read_corpus_as_of(seq < horizon)`` raises); reads at or above
    the horizon stay EXACT (compact parts cover exactly the commits
    <= horizon; later tags layer on top). The commit LOG itself is
    untouched — markers keep their sequences, so horizons only move
    forward and re-compaction folds the previous compact set in.

    Crash safety mirrors the ingest protocol: parts stage under
    ``staging/compact-<prefix>``, the manifest lands via temp+rename
    (the commit point), entry-time recovery finishes the publish and
    the vacuum. The rewrite is verified (rows in == rows out) before
    the manifest is written. Single-writer, same object-store caveat.

    -> {"horizon": h, "prefix": p, "n_files_before": a, "n_files_after": b}
    """
    import glob
    import json
    import os

    _recover_ingest_state(state_dir)
    log = _commit_log(state_dir)
    if not log:
        raise ValueError(f"no committed ingest batches under {state_dir}")
    horizon = log[-1][0] if up_to_seq is None else up_to_seq
    old = _compaction_manifest(state_dir)
    if old and horizon <= old["horizon"]:
        raise ValueError(
            f"horizon {horizon} does not advance past the existing "
            f"compaction at {old['horizon']} (history below a horizon "
            "is already truncated)"
        )
    prefixes = {tag for s, tag in log if s <= horizon}
    if old:
        prefixes.add(old["prefix"])
    prefix = f"cp{horizon}"
    stage = os.path.join(state_dir, "staging", f"compact-{prefix}")
    n_before = 0
    staged_any = False
    for table in _COMPACTED_TABLES:
        tdir = os.path.join(state_dir, table)
        files = [
            f for f in sorted(glob.glob(os.path.join(tdir, "*-part-*")))
            if os.path.basename(f).split("-", 1)[0] in prefixes
        ]
        if not files:
            continue
        n_before += len(files)
        src = spark.read.parquet(*files)
        n_rows = src.count()
        # size-derived output count (~128 MiB/file, the compaction
        # module's convention) — fixed 1 would mean one giant file at
        # 100 TB
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // (128 << 20)))
        tstage = os.path.join(stage, table)
        src.coalesce(int(n_out)).write.mode("overwrite").parquet(tstage)
        got = spark.read.parquet(tstage).count()
        if got != n_rows:
            raise RuntimeError(
                f"compaction rewrite verification failed for {table}: "
                f"{got} != {n_rows}"
            )
        staged_any = True
    if not staged_any:
        raise ValueError("nothing to compact below the requested horizon")
    manifest = {
        "horizon": horizon,
        "prefix": prefix,
        "replaced": sorted(prefixes),
    }
    tmp = os.path.join(state_dir, "_compaction.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(state_dir, "_compaction"))
    _publish_compaction(state_dir, prefix)
    _delete_replaced_parts(state_dir, manifest["replaced"])
    return {
        "horizon": horizon,
        "prefix": prefix,
        "n_files_before": n_before,
        "n_files_after": sum(
            len(glob.glob(
                os.path.join(state_dir, t, f"{prefix}-part-*")
            ))
            for t in _COMPACTED_TABLES
        ),
    }


def incremental_corpus_ingest(
    new_docs: DataFrame,
    state_dir: str,
    weights: DataFrame,
    url_col: str = "uri",
    threshold: float = 0.5,
    min_span: int = 16,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """O(delta) FORWARD-ONLY ingest of one document batch into a
    persisted corpus — the production counterpart of
    :func:`end_to_end_corpus` (r14). A 100 TB corpus is not rebuilt per
    crawl; batches arrive and each must be refined against everything
    already ingested WITHOUT rescanning it. Per batch the job reads the
    new docs plus two small persisted indexes — never the corpus text:

    - ``state_dir/keys``   (kind, k): every canonical-URL and exact-text
      digest that has ever ARRIVED (~64 B/doc — the o(corpus) state that
      makes exact stages incremental);
    - ``state_dir/sigs``   MinHash signatures of every doc that reached
      the near-dup stage, kept OR removed (indexing removed docs is what
      preserves transitive removal across batches);
    - ``state_dir/corpus`` the kept, span-scrubbed, gated output
      (append-only; never read by ingest).

    Stages mirror the batch pipeline: within-batch URL winner ->
    cross-batch URL anti-join -> within-batch exact winner ->
    cross-batch exact anti-join -> near-dup removal over
    :func:`~compute_histogram_spark.operators.dedup.delta_candidates`
    pairs (index x new and new x new only — old x old pairs are never
    re-derived) resolved by the same min-label components ->
    batch-local ExactSubstr span scrub -> quality gate.

    SEMANTICS vs the batch form (documented, tested): under the
    monotone-id ingest contract (doc_id increases with arrival, the
    crawl-capture ordering) the URL/exact stages and any near-dup
    group whose members pairwise collide make IDENTICAL keep decisions;
    a chain-shaped component whose earliest member arrives between its
    neighbors can differ (forward-only cannot retroactively unkeep),
    and the span stage is batch-local — duplicate spans across batches
    are not retroactively scrubbed from already-shipped docs. Both are
    inherent to any no-reprocessing ingest, not implementation choices.

    CRASH SAFETY (ADVICE r14): the three state appends commit
    atomically as one batch. All outputs are staged under
    ``state_dir/staging/<tag>`` (tag = content-derived digest of the
    batch, so a retry resumes the SAME commit), a marker file in
    ``state_dir/_commits`` is created only after staging completes, and
    the staged part-files are then renamed into the flat tables under
    collision-free tag-prefixed names. Entry runs a recovery scan
    first: a staged batch WITH a marker is finish-published, one
    WITHOUT is discarded. A crash anywhere therefore yields either
    "nothing committed" (retry re-stages) or "fully committed" (retry
    detects the marker and appends nothing) — never the half-committed
    state where corpus rows were served without their blocking digests.
    Single-writer protocol; renames are atomic on local/HDFS
    filesystems (object stores should gate reads on the marker
    instead).
    """
    import os

    from compute_histogram_spark.operators.classify import score_filter
    from compute_histogram_spark.operators.dedup import (
        delta_candidates,
        duplicate_span_removal,
        minhash_signatures,
        shingle_table,
    )
    from compute_histogram_spark.operators.graph import connected_components

    spark = new_docs.sparkSession
    keys_path = os.path.join(state_dir, "keys")
    sigs_path = os.path.join(state_dir, "sigs")
    # Finish or discard any crashed prior attempt BEFORE reading state:
    # a committed-but-half-published batch may have corpus rows on disk
    # whose blocking digests haven't landed in keys/ yet.
    _recover_ingest_state(state_dir)
    tag = _ingest_batch_tag(new_docs, url_col)
    marker = os.path.join(state_dir, "_commits", tag)
    committed = os.path.exists(marker)
    has_keys = os.path.exists(os.path.join(keys_path, "_SUCCESS"))
    has_sigs = os.path.exists(os.path.join(sigs_path, "_SUCCESS"))
    keys = (
        spark.read.parquet(keys_path)
        if has_keys
        else spark.createDataFrame([], "kind string, k string")
    )

    # 1+2. URL stage: earliest capture per canonical within the batch,
    # then drop anything whose canonical digest has ever arrived
    canon = new_docs.withColumn(
        "uk", F.sha2(canonical_url(F.col(url_col)), 256)
    )
    w_url = canon.groupBy("uk").agg(F.min("doc_id").alias("doc_id"))
    d1 = (
        canon.join(w_url.select("doc_id"), "doc_id", "left_semi")
        .join(
            keys.where(F.col("kind") == "url")
            .select(F.col("k").alias("uk")),
            "uk",
            "left_anti",
        )
        .withColumn("tk", F.sha2(F.col("text"), 256))
    )
    # d1 is consumed by the exact stage AND the key-state write below;
    # checkpoint it so the second consumer replays a materialized form
    # instead of re-reading keys_path AFTER this batch appended to it
    # (the self-poisoning read the write ordering note below prices)
    d1 = d1.localCheckpoint(eager=False)
    # 3+4. exact stage, same shape on the text digest
    w_txt = d1.groupBy("tk").agg(F.min("doc_id").alias("doc_id"))
    d2 = (
        d1.join(w_txt.select("doc_id"), "doc_id", "left_semi")
        .join(
            keys.where(F.col("kind") == "text")
            .select(F.col("k").alias("tk")),
            "tk",
            "left_anti",
        )
        .select("doc_id", "text")
    )
    # the anti-joins above are lazily consumed three times below (sigs,
    # state writes, output); localCheckpoint once so the batch's
    # filtered form computes once
    d2 = d2.localCheckpoint(eager=False)

    # 5. near-dup: delta pairs against the signature index, min-label
    # components; with monotone ids the component min is the earliest
    # arrival, so "node != component" removes exactly the forward-only
    # losers (old docs are never in d2, so only new docs can be dropped)
    sigs_new = minhash_signatures(
        shingle_table(d2, n=n, distinct=False), num_hashes
    ).localCheckpoint(eager=False)
    all_sigs = (
        spark.read.parquet(sigs_path).unionByName(sigs_new)
        if has_sigs
        else sigs_new
    )
    pairs = delta_candidates(
        all_sigs, d2.select("doc_id"), num_hashes, rows_per_band
    )
    losers = connected_components(pairs).where(
        F.col("node") != F.col("component")
    ).select(F.col("node").alias("doc_id"))
    d3 = d2.join(losers, "doc_id", "left_anti")

    # 6+7. batch-local span scrub, then the model-quality gate
    out = score_filter(
        duplicate_span_removal(d3, min_len=min_span),
        weights,
        threshold=threshold,
    ).localCheckpoint(eager=False)

    # state updates: every ARRIVED canonical/text digest (kept or not)
    # blocks future copies; signatures of every doc that reached the
    # near-dup stage preserve cross-batch transitivity
    # anti-join against the existing index: a re-arrived TEXT under a
    # fresh URL (crawl mirrors) passes the url stage, so its text digest
    # would re-append and the key state would grow with every mirror —
    # blocking semantics never cared (semi/anti joins ignore dup keys)
    # but the uniqueness invariant and state size do (found r16 by the
    # post-compaction continuity test)
    new_keys = (
        canon.select(F.lit("url").alias("kind"), F.col("uk").alias("k"))
        .unionByName(
            d1.select(F.lit("text").alias("kind"), F.col("tk").alias("k"))
        )
        .distinct()
        .join(keys, ["kind", "k"], "left_anti")
    )
    # WRITE ORDER MATTERS: the output (whose lineage reads keys_path /
    # sigs_path lazily) materializes FIRST (the staging write triggers
    # its localCheckpoint); only then do the state mutations land.
    # canon is re-derived for the url keys — it reads only the new
    # batch, never state. All three writes go to staging and publish
    # atomically behind the commit marker (see CRASH SAFETY above).
    if committed:
        # This exact batch already committed in a previous attempt —
        # appending again would duplicate state. The returned frame is
        # still meaningful (the anti-joins against the committed keys
        # make it the already-ingested answer: empty for a pure retry).
        return out
    stage = os.path.join(state_dir, "staging", tag)
    out.write.mode("overwrite").parquet(os.path.join(stage, "corpus"))
    sigs_new.write.mode("overwrite").parquet(os.path.join(stage, "sigs"))
    new_keys.write.mode("overwrite").parquet(os.path.join(stage, "keys"))
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    # r16: the marker carries an absolute commit sequence (enables
    # read_corpus_as_of snapshot reads) and lands via temp+rename so a
    # crash mid-write can never leave a torn marker that reads as
    # committed. A retry of a committed batch never reaches here, so a
    # seq is assigned exactly once per batch.
    seq = 1 + max((s for s, _t in _commit_log(state_dir)), default=0)
    tmp_marker = marker + ".tmp"
    with open(tmp_marker, "w") as fh:
        fh.write(f"{seq}\n{tag}")
    os.replace(tmp_marker, marker)
    _publish_staged(state_dir, tag)
    return out


def corpus_stats_arrow(docs: DataFrame) -> DataFrame:
    """Arrow-batch twin of the corpus_pipeline per-doc map stage (r16,
    VERDICT r15 #7 A/B): sha256 digest + n_chars + n_tokens +
    stopword_ratio in ONE pass over Arrow batches, replacing the JVM
    split + higher-order-function stopword filter (the
    text_profile_arrow precedent — the JVM expression path, not Spark,
    owns that kernel floor). Identical values: the digest is hashlib
    sha256 over UTF-8 (it is only a grouping key, never output), token
    split is ``str.split(' ')`` == Spark ``split(text, ' ')`` limit=-1,
    and rounding is the parity-pinned ``_rhu6`` HALF_UP twin. Pure map,
    no shuffle — fans out with the scan at any scale."""
    import pandas as pd

    def kernel(batches):
        import hashlib

        import numpy as np

        from compute_histogram_spark.operators.text import (
            STOPWORDS,
            _rhu6,
            _tok64_const,
        )

        stop64 = np.array([_tok64_const(w) for w in STOPWORDS], np.uint64)
        stopset = set(STOPWORDS)
        for pdf in batches:
            texts = pdf["text"].values.tolist()
            n = len(texts)
            h = np.empty(n, object)
            o_chars = np.zeros(n, np.int64)
            o_tok = np.zeros(n, np.int64)
            o_sr = np.zeros(n)
            nulls, clean, bufs, lens = [], [], [], []
            for i, t in enumerate(texts):
                if t is None:
                    nulls.append(i)
                    continue
                b = t.encode()
                h[i] = hashlib.sha256(b).digest()
                if (
                    t and t.isascii() and t[0] != " " and t[-1] != " "
                    and "  " not in t and "\x00" not in t
                ):
                    clean.append(i)
                    bufs.append(b)
                    lens.append(len(t))
                else:
                    # exact scalar fallback (the _tp_batch exclusions:
                    # empty / non-ASCII / edge or double spaces / NUL)
                    toks = t.split(" ")
                    o_chars[i] = len(t)
                    o_tok[i] = len(toks)
                    o_sr[i] = _rhu6(
                        np.float64(sum(1 for x in toks if x in stopset))
                        / len(toks)
                    )
            if clean:
                # same uint64-view token matcher as text._tp_batch: one
                # byte buffer, reduceat per-doc sums
                lens_a = np.array(lens, np.int64)
                starts = np.zeros(len(lens_a), np.int64)
                np.cumsum(lens_a[:-1], out=starts[1:])
                ends = starts + lens_a
                a = np.frombuffer(b"".join(bufs), np.uint8)
                ci = np.array(clean)
                space = a == 32
                nsp = np.add.reduceat(space, starts)
                ntok = nsp + 1  # clean docs: no empty tokens
                o_chars[ci] = lens_a
                o_tok[ci] = ntok
                sp = np.flatnonzero(space)
                tstart = np.sort(np.concatenate([starts, sp + 1]))
                tend = np.sort(np.concatenate([sp, ends]))
                tlen = tend - tstart
                tdoc = np.searchsorted(starts, tstart, side="right") - 1
                ap = np.concatenate([a, np.zeros(8, np.uint8)])
                vals = ap[tstart[:, None] + np.arange(8)]
                vals = vals * (np.arange(8) < tlen[:, None])
                t64 = vals.copy().view(np.uint64).ravel()
                t64 = np.where(
                    tlen <= 8, t64, np.uint64(0xFFFFFFFFFFFFFFFF)
                )
                stop_cnt = np.bincount(
                    tdoc[np.isin(t64, stop64)], minlength=len(lens_a)
                )
                o_sr[ci] = _rhu6(stop_cnt.astype(np.float64) / ntok)
            out = {
                "h": h,
                "lang": pdf["lang"].values,
                "doc_id": pdf["doc_id"].values,
                "n_chars": o_chars,
                "n_tokens": o_tok,
                "stopword_ratio": o_sr,
            }
            if nulls:
                for c in ("n_chars", "n_tokens", "stopword_ratio"):
                    col = out[c].astype(object)
                    for i in nulls:
                        col[i] = None
                    out[c] = col
            yield pd.DataFrame(out)

    return docs.select("doc_id", "lang", "text").mapInPandas(
        kernel,
        "h binary, lang string, doc_id bigint, n_chars bigint, "
        "n_tokens bigint, stopword_ratio double",
    )


def corpus_pipeline_arrow(docs: DataFrame) -> DataFrame:
    """corpus_pipeline with the per-doc map stage on the Arrow kernel —
    the dedup groupBy and final per-lang aggregate are IDENTICAL to the
    declarative form (registry.q_corpus_pipeline); only the map work
    under them moves off the JVM expression path."""
    per_doc = corpus_stats_arrow(docs)
    kept = per_doc.groupBy("h", "lang").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.first("n_chars").alias("n_chars"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("stopword_ratio").alias("stopword_ratio"),
    )
    f = kept.where(
        (F.col("n_tokens") >= 5) & (F.col("stopword_ratio") <= 0.5)
    )
    return (
        f.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dupes_removed"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )
