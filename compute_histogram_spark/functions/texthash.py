"""Text shingling and portable hashing expressions.

Hash choice: ``md5`` (hex string) everywhere instead of Spark's native
``xxhash64``/``hash`` because md5 is implemented identically in every engine
— the DuckDB oracle can reproduce signatures byte-for-byte. MinHash works on
*lexicographic min of hex digests*, which is order-isomorphic to min over
uniform integers. For a pure-Spark 100 TB production run, swapping
``md5(concat(seed, s))`` for ``xxhash64(s, seed)`` (8-byte int, no string
materialization) is a one-line change in ``minhash_aggs``; semantics are
identical, only the digest space changes.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into ``F.expr``
    text, so names with spaces, hyphens or backticks parse as one
    identifier."""
    return "`" + name.replace("`", "``") + "`"


def tokens(col: str = "text") -> Column:
    """Single-space split — mirrors DuckDB ``string_split(text, ' ')``."""
    return F.split(F.col(col), " ")


def word_shingles(tok_col: str = "toks", n: int = 3) -> Column:
    """Word n-gram shingles of a pre-tokenized ARRAY<STRING> column.

    Guarded so docs shorter than n yield an empty array (matching DuckDB's
    empty ``generate_series`` range in the oracle).
    """
    t = _ident(tok_col)
    items = ", ".join(f"{t}[i + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({t}) >= {n} "
        f"THEN transform(sequence(0, size({t}) - {n}), "
        f"     i -> concat_ws(' ', {items})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def seeded_md5(seed: int, col: Column) -> Column:
    """Portable seeded hash: ``md5('<seed>:' || s)`` — identical text in,
    identical lowercase-hex out, in Spark and DuckDB alike."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col))


def minhash_aggs(shingle_col: str, num_hashes: int) -> list[Column]:
    """Aggregate exprs: per-doc MinHash signature (one min-digest per seed).

    Built as ONE parsed expression string per seed (r17, guide §5 — the
    driver should do almost no work: the nested ``F.min(F.md5(F.concat(
    F.lit(...))))`` constructor chain cost ~6 py4j socket round trips
    per seed, ~100 ms of every minhash-family query BUILD at any scale;
    ``F.expr`` parses the same tree JVM-side in one round trip).
    Identical analyzed plan, value-identity pinned by every existing
    signature test."""
    return [
        F.expr(f"min(md5(concat('{i}:', {_ident(shingle_col)}))) AS mh{i}")
        for i in range(num_hashes)
    ]


def band_hashes(num_hashes: int, rows_per_band: int) -> list[Column]:
    """LSH banding: hash each band of the signature down to one digest.
    One parsed expression per band (see minhash_aggs)."""
    bands = num_hashes // rows_per_band
    out = []
    for b in range(bands):
        members = ", ".join(
            _ident(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        )
        out.append(F.expr(f"md5(concat_ws('|', {members})) AS band{b}"))
    return out
