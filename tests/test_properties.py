"""Property-based invariants (SURVEY §5c): the Spark histogram pipeline must
agree with np.histogram (the reference's kernel, main.py:248-249) on ANY
input, and structural invariants must hold regardless of data.

Spark round-trips are ~0.5 s each, so examples are capped; the point is
breadth of shapes (negatives, constants, tiny spans, NaN mix), not volume.
"""

import math

import numpy as np
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from compute_histogram_spark.operators import histogram as H
from compute_histogram_spark.plans.bin_scheme import BinScheme

_spark = None


def _df(values):
    rows = [Row(value=float(v)) for v in values]
    return _spark.createDataFrame(rows, "value double")


floats = st.floats(
    min_value=-300.0, max_value=300.0, allow_nan=False, allow_infinity=False
)
value_lists = st.lists(floats, min_size=1, max_size=50)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=value_lists)
def test_linear_histogram_matches_numpy(spark, values):
    global _spark
    _spark = spark
    out = H.histogram(_df(values), "value", "linear").collect()
    s = BinScheme.from_min_max(min(values), max(values), "linear")
    keys = np.trunc(np.asarray(values, dtype=np.float64) * 100).astype(np.int64)
    golden = np.histogram(keys, s.bins, (s.lo, s.hi))[0]
    assert [r["pixel_count"] for r in out] == golden.tolist()
    # dense spine: bins are contiguous and labels = bin/100
    bins = [r["bin"] for r in out]
    assert bins == list(range(s.lo, s.hi))
    assert all(math.isclose(r["value"], r["bin"] / 100.0) for r in out)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=value_lists)
def test_total_count_conservation_with_nans(spark, values):
    global _spark
    _spark = spark
    # interleave NaNs: they must be dropped, never binned (main.py:241)
    mixed = []
    for v in values:
        mixed.append(v)
        mixed.append(float("nan"))
    out = H.histogram(_df(mixed), "value", "linear").collect()
    total = sum(r["pixel_count"] for r in out)
    # np.histogram drops out-of-range values; with the scheme derived from
    # the data's own min/max plus margin, every valid value is in range
    assert total == len(values)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(st.floats(min_value=0.5, max_value=300.0), min_size=1, max_size=30))
def test_linear_log_total_agreement(spark, values):
    global _spark
    _spark = spark
    # the log scheme has NO ±margin (unlike linear, main.py:161-172), so a
    # narrow value spread yields 0 log bins and drops everything — reference
    # behavior (np.histogram with bins=0 even raises there). The totals
    # property only holds for non-degenerate log schemes.
    log_scheme = BinScheme.from_min_max(min(values), max(values), "log")
    assume(log_scheme.bins > 0)
    lin = H.histogram(_df(values), "value", "linear").collect()
    log = H.histogram(_df(values), "value", "log").collect()
    n_lin = sum(r["pixel_count"] for r in lin)
    n_log = sum(r["pixel_count"] for r in log)
    # log's missing margin can also drop the extreme values themselves when
    # they truncate onto the (closed) boundary keys; allow only that loss.
    assert n_log <= n_lin
    assert n_lin == len(values)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.lists(st.integers(min_value=0, max_value=8), min_size=1, max_size=20),
    b=st.lists(st.integers(min_value=0, max_value=8), min_size=1, max_size=20),
)
def test_merge_commutative(spark, a, b):
    global _spark
    _spark = spark
    ha = _spark.createDataFrame([Row(bin=i, pixel_count=c) for i, c in enumerate(a)])
    hb = _spark.createDataFrame([Row(bin=i, pixel_count=c) for i, c in enumerate(b)])
    ab = {r["bin"]: r["pixel_count"] for r in H.merge_histograms(ha, hb).collect()}
    ba = {r["bin"]: r["pixel_count"] for r in H.merge_histograms(hb, ha).collect()}
    assert ab == ba
    assert sum(ab.values()) == sum(a) + sum(b)


words = st.sampled_from("the quick brown fox spark shuffle join hash".split())
docs_strategy = st.lists(
    st.lists(words, min_size=3, max_size=12).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy)
def test_exact_dedup_conserves_counts(spark, texts):
    from compute_histogram_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    out = DD.exact_dedup(df).collect()
    # copies sum to input size; one keeper per distinct text; keeper is the
    # minimal doc_id of its group
    assert sum(r["n_copies"] for r in out) == len(texts)
    assert len(out) == len(set(texts))
    first_idx = {}
    for i, t in enumerate(texts):
        first_idx.setdefault(t, i)
    assert {r["doc_id"] for r in out} == set(first_idx.values())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy)
def test_simhash_identical_texts_collide(spark, texts):
    from compute_histogram_spark.operators import dedup as DD

    # duplicate every text: identical content MUST get identical signatures
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts + texts)]
    )
    sig = {r["doc_id"]: r["simhash"] for r in DD.simhash(df).collect()}
    n = len(texts)
    for i in range(n):
        assert sig[i] == sig[i + n]
        assert 0 <= sig[i] < 2**16


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_toks=st.integers(min_value=1, max_value=300),
    chunk=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_chunking_covers_every_token_exactly(spark, n_toks, chunk, data):
    from compute_histogram_spark.operators import pipeline as PL

    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    toks = [f"t{i}" for i in range(n_toks)]
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(toks))])
    out = sorted(
        PL.chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    stride = chunk - overlap
    # starts form the exact arithmetic progression; windows tile [0, n)
    assert [r["start_tok"] for r in out] == [i * stride for i in range(len(out))]
    assert out[-1]["start_tok"] + out[-1]["n_chunk_tokens"] == n_toks
    if len(out) > 1:
        assert out[-2]["start_tok"] + chunk < n_toks + stride  # no phantom chunk
    covered = set()
    for r in out:
        assert r["chunk_text"].split(" ") == toks[
            r["start_tok"] : r["start_tok"] + r["n_chunk_tokens"]
        ]
        covered.update(range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
    assert covered == set(range(n_toks))


# ---------------------------------------------------------------------------
# codec round-trips: ANY array survives encode->decode byte-exact (no Spark
# session involved, so examples are cheap — run plenty)
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    dtype=st.sampled_from(["u1", "i2", "i4", "f4", "f8"]),
    compression=st.sampled_from(["none", "deflate", "packbits"]),
    tile=st.sampled_from([None, 8, 16]),
    data=st.data(),
)
def test_geotiff_roundtrip_any_array(h, w, dtype, compression, tile, data):
    from compute_histogram_spark.multimodal.geotiff import (
        decode_geotiff,
        encode_geotiff,
    )

    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    if dtype.startswith("f"):
        a = rng.normal(0, 1e3, size=(h, w)).astype(dtype)
        # NaN/inf must survive too (the validity filter is downstream)
        if h * w > 3:
            a.flat[0] = np.nan
            a.flat[1] = np.inf
    else:
        info = np.iinfo(dtype)
        a = rng.integers(
            info.min, info.max, size=(h, w), endpoint=True
        ).astype(dtype)
    blob = encode_geotiff(a, compression=compression, tile_size=tile)
    out = decode_geotiff(blob)
    assert out.dtype == a.dtype and out.shape == a.shape
    assert np.array_equal(out, a, equal_nan=True)


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_mp4_corrupt_bytes_never_crash_weirdly(data):
    import struct as _struct

    from compute_histogram_spark.multimodal.mp4 import encode_mp4, mp4_info

    blob = bytearray(encode_mp4(12.0, timescale=600))
    pos = data.draw(st.integers(0, len(blob) - 1))
    bit = data.draw(st.integers(0, 7))
    blob[pos] ^= 1 << bit
    try:
        mp4_info(bytes(blob))
    except (ValueError, _struct.error):
        pass


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_geotiff_corrupt_bytes_never_crash_weirdly(data):
    """Single-bit corruption of classic or BigTIFF containers must either
    still decode (flip landed in pixel data — values differ, shape holds)
    or raise a diagnosed error type — never hang or throw something
    unrelated."""
    import struct as _struct
    import zlib as _zlib

    from compute_histogram_spark.multimodal.geotiff import (
        decode_geotiff,
        encode_geotiff,
    )

    rng = np.random.default_rng(21)
    a = rng.normal(40.0, 9.0, size=(16, 16)).astype(np.float32)
    big = data.draw(st.booleans())
    comp = data.draw(st.sampled_from(["none", "deflate", "lzw"]))
    blob = bytearray(encode_geotiff(a, compression=comp, bigtiff=big))
    pos = data.draw(st.integers(0, len(blob) - 1))
    bit = data.draw(st.integers(0, 7))
    blob[pos] ^= 1 << bit
    try:
        out = decode_geotiff(bytes(blob))
        assert out.shape == a.shape  # decoded despite the flip
    except (ValueError, _struct.error, _zlib.error, KeyError,
            OverflowError, MemoryError):
        pass  # diagnosed rejection paths


# --- r9 metadata parsers: parametric round-trips + single-bit corruption


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_sps_roundtrip_any_dims(data):
    """Any mb-expressible (profile, dims, scan type, chroma, depth)
    combination round-trips through build_sps -> parse_sps."""
    from compute_histogram_spark.multimodal.h264 import build_sps, parse_sps

    prof, cf, bd = data.draw(st.sampled_from([
        (66, 1, 8), (77, 1, 8), (100, 1, 8), (110, 1, 10), (122, 2, 10),
        (244, 3, 12),
    ]))
    fmo = data.draw(st.booleans())
    # crop-unit divisibility: SubWidthC | crop_w, SubHeightC*(2-fmo) | crop_h
    ux = 2 if cf in (1, 2) else 1
    uy = (2 if cf == 1 else 1) * (1 if fmo else 2)
    width = data.draw(st.integers(1, 256)) * ux
    height = data.draw(st.integers(1, 128)) * uy
    sps = build_sps(prof, 41, width, height, fmo, cf, bd)
    info = parse_sps(sps)
    assert (info["width"], info["height"]) == (width, height)
    assert info["interlaced"] == (not fmo)
    assert info["bit_depth_luma"] == bd


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_sps_corrupt_bytes_never_crash_weirdly(data):
    from compute_histogram_spark.multimodal.h264 import (
        build_avcc,
        build_sps,
        parse_avcc,
    )

    blob = bytearray(build_avcc(build_sps(100, 41, 1920, 1080)))
    pos = data.draw(st.integers(0, len(blob) - 1))
    bit = data.draw(st.integers(0, 7))
    blob[pos] ^= 1 << bit
    try:
        parse_avcc(bytes(blob))
    except ValueError:
        pass
