"""Distributed BPE (byte-pair-encoding) tokenizer training.

The training loop every modern tokenizer uses (GPT-2/RoBERTa-style), shaped
for a 100 TB corpus the way production trainers shape it: the corpus-sized
work happens ONCE — a single token-count aggregation compressing the corpus
to its distinct-word frequency table — and the iterative merge loop runs on
that compressed table, whose size is the VOCABULARY (millions of rows at
web scale), not the corpus. Each merge round is two small Spark jobs:

1. weighted adjacent-pair counts over the symbol arrays
   (``posexplode``-free: ``transform(sequence(...))`` + ``explode`` —
   map-side) → ``groupBy(pair).sum(weight)`` — a vocab-sized shuffle;
2. argmax with a deterministic ``(count DESC, a, b)`` tie-break — ONE row
   to the driver (the chosen merge), exactly like the reference's two-pass
   min/max pulling two scalars (main.py:54).

The merge itself is a pure Catalyst left-fold over each symbol array
(``aggregate`` with an array accumulator — left-to-right, non-overlapping,
matching the sequential BPE definition), so no Python touches row data.
Lineage is truncated with ``localCheckpoint`` per round (the same idiom as
the connected-components loop in operators/graph.py) — without it round k
replays all k-1 prior merges.

Iterative and order-sensitive → no SQL oracle; correctness is pinned
against a pure-Python sequential BPE twin in tests/test_bpe.py (identical
merge lists and final segmentations on the same word-frequency input).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from compute_histogram_spark.functions.texthash import tokens
from compute_histogram_spark.sources.tables import ensure_parallelism


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-scale pass: ``(word, weight)`` distinct-word counts."""
    return (
        ensure_parallelism(docs)
        .select(F.explode(tokens(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _merge_expr(sym_col: str, a: str, b: str) -> Column:
    """Left-fold merging adjacent (a, b) -> a||b, non-overlapping."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return F.expr(
        f"aggregate({sym_col}, cast(array() as array<string>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{qa}' "
        f"     AND x = '{qb}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = F.explode(
        F.expr(
            "transform(sequence(0, size(syms) - 2), "
            "i -> struct(syms[i + 1] AS b, syms[i] AS a))"
        )
    ).alias("p")
    return (
        vocab.where(F.size("syms") >= 2)
        .select(pairs, "weight")
        .groupBy("p.a", "p.b")
        .agg(F.sum("weight").alias("cnt"))
    )


def bpe_train(
    words: DataFrame, num_merges: int, min_freq: int = 2
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn up to ``num_merges`` merges from a ``(word, weight)`` table.

    Returns ``(merges, vocab)`` where ``vocab`` is
    ``(word, weight, syms ARRAY<STRING>)`` — each word's final
    segmentation. Stops early when no pair reaches ``min_freq``.
    """
    vocab = words.select(
        "word", "weight", F.split(F.col("word"), "").alias("syms")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        if best is None or best["cnt"] < min_freq:
            break
        a, b = best["a"], best["b"]
        merges.append((a, b))
        vocab = vocab.withColumn(
            "syms", _merge_expr("syms", a, b)
        ).localCheckpoint()
    return merges, vocab


def bpe_segment(
    words: DataFrame, merges: list[tuple[str, str]], chunk: int = 8
) -> DataFrame:
    """Apply a learned merge list to a ``(word, ...)`` table ->
    ``+ syms`` column. To encode a CORPUS, segment its distinct words with
    this and broadcast-join the result back onto the token stream — the
    expensive fold runs once per distinct word, never once per token.
    ``chunk`` bounds how many folds stack into one codegen stage before a
    lineage cut."""
    out = words.withColumn("syms", F.split(F.col("word"), ""))
    for i, (a, b) in enumerate(merges):
        out = out.withColumn("syms", _merge_expr("syms", a, b))
        if (i + 1) % chunk == 0:
            out = out.localCheckpoint()
    return out
