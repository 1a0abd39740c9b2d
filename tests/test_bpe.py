"""Distributed BPE training == sequential reference BPE (merge-list and
final-segmentation equality), on goldens and the real corpus."""

from pyspark.sql import Row

from compute_histogram_spark.operators import bpe as B
from compute_histogram_spark.sources.tables import load


def py_bpe(wordfreq, num_merges, min_freq=2):
    """Sequential reference implementation (the textbook algorithm)."""
    vocab = {w: list(w) for w in wordfreq}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for w, f in wordfreq.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_freq:
            break
        merges.append((a, b))
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_golden(spark):
    """The classic low/lower/newest/widest example: 'est' chains first."""
    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(
        [Row(word=w, weight=f) for w, f in wf.items()]
    )
    merges, vocab = B.bpe_train(words, num_merges=4)
    assert merges == py_bpe(wf, 4)[0]
    # highest-count pair is (e,s) at 9, then (es,t) at 9 ...
    assert merges[0] == ("e", "s") and merges[1] == ("es", "t")
    segs = {r["word"]: r["syms"] for r in vocab.collect()}
    assert segs["newest"][-1] == "est"


def test_bpe_vs_sequential_on_corpus(spark, sf_dir):
    """Merge list + every word's segmentation match the sequential twin on
    the real documents word-frequency table (iterative op — rows-only by
    design, no SQL oracle; this equality is the correctness evidence)."""
    words = B.word_freqs(load(spark, sf_dir, "documents"))
    wf = {r["word"]: r["weight"] for r in words.collect()}
    merges, vocab = B.bpe_train(words, num_merges=12)
    py_merges, py_vocab = py_bpe(wf, 12)
    assert merges == py_merges and len(merges) == 12
    segs = {r["word"]: r["syms"] for r in vocab.collect()}
    assert segs == py_vocab


def test_bpe_segment_matches_training_output(spark, sf_dir):
    """Re-applying the learned merges reproduces training segmentations
    (the encode path a corpus join uses)."""
    words = B.word_freqs(load(spark, sf_dir, "documents"))
    merges, vocab = B.bpe_train(words, num_merges=6)
    seg = B.bpe_segment(words.select("word"), merges)
    got = {r["word"]: r["syms"] for r in seg.collect()}
    want = {r["word"]: r["syms"] for r in vocab.collect()}
    assert got == want


# ------------------------------------------- staged DuckDB twins (r10)


def _duck_check(name, sdf, sf_dir, sql):
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    from check_oracle import compare, duck_connection

    pdf = sdf.toPandas()
    con = duck_connection(sf_dir)  # keep a ref: the relation borrows it
    odf = con.sql(sql).df()
    assert len(pdf) > 0
    assert compare(name, pdf, odf) == []


def test_bpe_segment_duckdb_twin(spark, sf_dir):
    """Staged rotation twin: the replace-encoded fold oracle matches the
    Catalyst aggregate fold value-exact on the real corpus."""
    from compute_histogram_spark.registry import (
        BPE_SEGMENT_ORACLE,
        q_bpe_segment,
    )

    _duck_check("bpe_segment", q_bpe_segment(spark, sf_dir), sf_dir,
                BPE_SEGMENT_ORACLE)


def test_bpe_train_duckdb_twin(spark, sf_dir):
    """Staged rotation twin: 6 unrolled training rounds (pair counts ->
    argmax -> data-driven replace) reproduce the Spark merge list."""
    from compute_histogram_spark.registry import (
        BPE_TRAIN_ORACLE,
        q_bpe_train,
    )

    _duck_check("bpe_train", q_bpe_train(spark, sf_dir), sf_dir,
                BPE_TRAIN_ORACLE)


def test_replace_encoding_equals_fold_adversarial(spark):
    """The separator-replace encoding == the Catalyst fold on the cases
    where naive encodings diverge: self-pairs over runs ('xxxx', 'aaa'),
    consecutive eligible pairs, and merges whose operands are merge
    products (banana chain)."""
    import duckdb

    cases = [
        ("xxxx", [("x", "x")]),
        ("aaa", [("a", "a")]),
        ("xxyy", [("x", "y")]),
        ("banana", [("a", "n"), ("b", "an"), ("ban", "an")]),
        ("aggregate", [("a", "g"), ("ag", "g"), ("g", "a"), ("t", "e")]),
    ]
    con = duckdb.connect()
    from compute_histogram_spark.registry import _bpe_apply, _bpe_enc

    for word, merges in cases:
        expr = _bpe_enc(f"'{word}'")
        for a, b in merges:
            expr = _bpe_apply(expr, a, b)
        duck = con.sql(
            f"SELECT string_split(trim({expr}, chr(31)), "
            f"chr(31)||chr(31))"
        ).fetchone()[0]
        sdf = spark.createDataFrame([Row(word=word)])
        got = B.bpe_segment(sdf, merges).first()["syms"]
        assert list(got) == list(duck), (word, merges, got, duck)
