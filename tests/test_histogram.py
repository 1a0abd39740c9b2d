"""Golden + property tests for the histogram pipeline.

F1/F2 goldens come verbatim from the reference unit tests
(/root/reference/test/test_histogram.py:9-28); F3 is the vestigial mask
fixture realized as a real masked-histogram option (FIXTURES.md).
"""

import math

import pytest
from pyspark.sql import Row, functions as F

from compute_histogram_spark import (
    BinScheme,
    bin_counts,
    compute_min_max,
    histogram,
    merge_histograms,
)

# reference fixture a = [[1,2,3],[2,3,4],[3,4,5]] flattened (test_histogram.py:5)
A = [1, 2, 3, 2, 3, 4, 3, 4, 5]
MASK = [False, True, True, True, False, True, True, True, False]


def keys_df(spark, vals):
    return spark.createDataFrame([Row(k=int(v)) for v in vals])


def counts_list(df):
    return [r["pixel_count"] for r in df.orderBy("bin").collect()]


# ---- F1: golden histograms (test_histogram.py:9-20) ------------------------

def test_make_histogram_range_0_6(spark):
    df = keys_df(spark, A)
    assert counts_list(bin_counts(df, "k", 0, 6)) == [0, 1, 2, 3, 2, 1]


def test_make_histogram_range_0_9(spark):
    df = keys_df(spark, A)
    assert counts_list(bin_counts(df, "k", 0, 9)) == [0, 1, 2, 3, 2, 1, 0, 0, 0]


def test_np_histogram_edge_rules(spark):
    # keys outside [lo,hi] dropped; key == hi lands in the closed last bin
    df = keys_df(spark, [-1, 0, 5, 6, 7])
    assert counts_list(bin_counts(df, "k", 0, 6)) == [1, 0, 0, 0, 0, 2]


# ---- F2: merge golden (test_histogram.py:23-28) ----------------------------

def test_add_histogram(spark):
    h1 = [0, 1, 2, 3, 2, 1, 0, 0, 0]
    h2 = [1, 2, 1, 2, 0, 0, 1, 1, 1]
    d1 = spark.createDataFrame([Row(bin=i, pixel_count=c) for i, c in enumerate(h1)])
    d2 = spark.createDataFrame([Row(bin=i, pixel_count=c) for i, c in enumerate(h2)])
    assert counts_list(merge_histograms(d1, d2)) == [1, 3, 3, 5, 2, 1, 1, 1, 1]


# ---- F3: masked histogram (vestigial in reference, real here) --------------

def test_masked_histogram(spark):
    df = spark.createDataFrame(
        [Row(k=int(v), mask=m) for v, m in zip(A, MASK)]
    )
    out = bin_counts(df.where("mask"), "k", 0, 6)
    # masked-out: one 1, one 3, one 5 removed
    assert counts_list(out) == [0, 0, 2, 2, 2, 0]


# ---- bin scheme planning (main.py:152-179) ---------------------------------

def test_linear_scheme_int_truncation():
    s = BinScheme.from_min_max(-1.239, 4.567, "linear")
    # int() truncates toward zero: int(-123.9) = -123 (not floor -124)
    assert (s.lo, s.hi) == (-123 - 10, 456 + 10)
    assert s.bins == s.hi - s.lo


def test_log_scheme_offset():
    s = BinScheme.from_min_max(-99.0, 100.0, "log")
    assert s.offset == 100.0
    assert s.lo == math.trunc(math.log(1.0) * 1000) == 0
    assert s.hi == math.trunc(math.log(200.0) * 1000)


def test_unknown_method():
    with pytest.raises(ValueError):
        BinScheme.from_min_max(0, 1, "cubic")


# ---- min/max pass (main.py:127-149) ----------------------------------------

def test_min_max_sane_and_ref_compat(spark):
    df = spark.createDataFrame([Row(v=3.0), Row(v=7.5), Row(v=float("nan"))])
    assert compute_min_max(df, "v") == (3.0, 7.5)
    # ref seeds accumulators at 0 (main.py:131-132) -> min(0, 3.0) = 0
    assert compute_min_max(df, "v", ref_compat=True) == (0.0, 7.5)


def test_min_max_empty_ref_compat(spark):
    df = spark.createDataFrame([Row(v=float("nan"))])
    assert compute_min_max(df, "v", ref_compat=True) == (0.0, 0.0)
    with pytest.raises(ValueError):
        compute_min_max(df, "v")


# ---- end-to-end histogram --------------------------------------------------

def test_histogram_end_to_end_linear(spark):
    vals = [0.5, 1.0, 1.01, 2.5, -0.3, float("nan")]
    df = spark.createDataFrame([Row(v=x) for x in vals])
    out = histogram(df, "v", "linear").collect()
    s = BinScheme.from_min_max(-0.3, 2.5, "linear")
    assert len(out) == s.bins
    total = sum(r["pixel_count"] for r in out)
    assert total == 5  # NaN dropped, everything else in range
    by_bin = {r["bin"]: r["pixel_count"] for r in out}
    assert by_bin[50] == 1 and by_bin[100] == 1 and by_bin[101] == 1
    assert by_bin[250] == 1 and by_bin[-30] == 1
    row0 = [r for r in out if r["bin"] == 50][0]
    assert row0["value"] == 0.5


def test_histogram_given_bounds_skips_pass1(spark):
    # bounds provided -> plan shortcut (main.py:53-54): single job
    df = spark.createDataFrame([Row(v=x * 1.0) for x in range(10)])
    out = histogram(df, "v", "linear", min_value=0.0, max_value=9.0)
    assert sum(r["pixel_count"] for r in out.collect()) == 10


def test_histogram_log_matches_numpy_shape(spark):
    import numpy as np

    vals = [0.1, 1.0, 5.0, 20.0, 100.0]
    df = spark.createDataFrame([Row(v=x) for x in vals])
    out = histogram(df, "v", "log").collect()
    s = BinScheme.from_min_max(0.1, 100.0, "log")
    # replicate with numpy: keys = trunc(log(v+offset)*1000)
    keys = np.trunc(np.log(np.array(vals) + s.offset) * 1000).astype(np.int64)
    golden = np.histogram(keys, s.bins, (s.lo, s.hi))[0]
    assert [r["pixel_count"] for r in out] == golden.tolist()


def test_histogram_ref_compat_log_offset_bug(spark):
    # ref forward transform hardcodes +100 (main.py:197) regardless of offset
    df = spark.createDataFrame([Row(v=2.0), Row(v=50.0)])
    s = BinScheme.from_min_max(2.0, 50.0, "log", ref_compat=True)
    keyed = df.select(s.bin_key_expr(F.col("v")).alias("k")).collect()
    assert keyed[0]["k"] == int(math.log(2.0 + 100) * 1000)  # not offset=0


def test_histogram_sparse_mode(spark):
    df = spark.createDataFrame([Row(v=1.0), Row(v=1.0)])
    out = histogram(df, "v", "linear", min_value=0.0, max_value=5.0, dense=False)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["pixel_count"] == 2


def test_merge_associative_property(spark):
    import random

    rnd = random.Random(7)
    h = [[rnd.randint(0, 9) for _ in range(5)] for _ in range(3)]
    dfs = [
        spark.createDataFrame([Row(bin=i, pixel_count=c) for i, c in enumerate(x)])
        for x in h
    ]
    left = merge_histograms(merge_histograms(dfs[0], dfs[1]), dfs[2])
    right = merge_histograms(dfs[0], merge_histograms(dfs[1], dfs[2]))
    assert counts_list(left) == counts_list(right)


def test_log_histogram_constant_column_fails_loudly(spark):
    df = spark.createDataFrame([Row(value=5.0)] * 4)
    with pytest.raises(ValueError, match="degenerate bin scheme"):
        histogram(df, "value", "log")


def test_histogram_log_keeps_sign_of_negative_zero_label(spark, tmp_path):
    """A log-bin label in (-0.005, 0) prints as "-0.00" in the reference
    and rounds to -0.0 in the DuckDB oracle; the declared row must keep
    that sign bit (the oracle comparison tells -0.0 from +0.0). With
    min -1.0 the offset is 2.0, so bins 691..693 carry labels
    exp(k/1000) - 2 in (-0.005, 0)."""
    import os
    import sys

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compute_histogram_spark import registry

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import check_oracle

    values = [-1.0, -0.75, -0.5, -0.25, 0.0, 0.25, 0.5]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(values)), pa.int64()),
            "value": pa.array(values, pa.float64()),
        }),
        str(tmp_path / "events.parquet"),
    )
    sdf = registry.QUERIES["histogram_log"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    odf = con.execute(registry.ORACLES["histogram_log"]).df()

    near_zero = sdf[(sdf["bin"] >= 691) & (sdf["bin"] <= 693)]["value"]
    assert len(near_zero) == 3
    assert (near_zero == 0).all() and np.signbit(near_zero).all()
    assert check_oracle.compare("histogram_log", sdf, odf) == []
