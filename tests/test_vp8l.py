"""Lossless-WebP (VP8L) decoder: round-trips over every bitstream
feature via the in-repo spec-conformant fixture encoder (no codec
library exists in the container), structural invariants of the spec
tables, and malformed-input behavior."""

import numpy as np
import pytest

from compute_histogram_spark.multimodal.vp8l import (
    DIST_MAP,
    _lz77_code,
    _lz77_value,
    decode_webp,
    encode_vp8l,
)


def _rt(img, **kw):
    out = decode_webp(encode_vp8l(img, **kw))
    assert out.shape == img.shape
    assert out.dtype == np.uint8
    np.testing.assert_array_equal(out, img)


def _noise(h, w, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 4), dtype=np.uint8)


def test_literals_only_roundtrip():
    _rt(_noise(13, 17), use_lz77=False)


def test_lz77_vertical_and_horizontal_copies():
    rng = np.random.default_rng(1)
    row = rng.integers(0, 256, (1, 29, 4), dtype=np.uint8)
    _rt(np.tile(row, (11, 1, 1)))          # dist = width (2D code (0,1))
    img = np.zeros((7, 40, 4), np.uint8)
    img[:, :, :] = [9, 8, 7, 255]          # dist = 1 runs (2D code (1,0))
    _rt(img)


def test_long_copy_crosses_rows():
    # a 1-pixel-period image: one copy token can span thousands of
    # pixels and must cross row boundaries with plain flat addressing
    img = np.full((50, 60, 4), 200, np.uint8)
    data = encode_vp8l(img)
    assert len(data) < 200  # really was run-length coded
    np.testing.assert_array_equal(decode_webp(data), img)


def test_color_cache_roundtrip():
    img = np.zeros((9, 9, 4), np.uint8)
    img[:, :] = [10, 20, 30, 255]
    img[::2, ::2] = [200, 100, 50, 255]
    for bits in (1, 4, 11):
        _rt(img, cache_bits=bits, use_lz77=False)


def test_subtract_green_roundtrip():
    _rt(_noise(8, 8, seed=2), subtract_green=True, use_lz77=False)


@pytest.mark.parametrize("mode", range(14))
def test_all_predictor_modes_roundtrip(mode):
    _rt(_noise(12, 16, seed=3), predictor_mode=mode, use_lz77=False)


def test_predictor_compresses_gradients():
    grad = np.zeros((20, 20, 4), np.uint8)
    for y in range(20):
        for x in range(20):
            grad[y, x] = [x * 3, y * 5, (x + y) * 2, 255]
    data = encode_vp8l(grad, predictor_mode=12)
    assert len(data) < 120  # 1600 raw bytes -> smooth residuals
    np.testing.assert_array_equal(decode_webp(data), grad)


def test_color_transform_roundtrip():
    # deltas exercise both signs of the 3.5 fixed-point arithmetic
    for cte in ((23, 200, 9), (130, 64, 255), (1, 2, 3)):
        _rt(_noise(12, 16, seed=4), color_transform=cte, use_lz77=False)


def test_stacked_transforms_roundtrip():
    _rt(_noise(12, 16, seed=5), subtract_green=True,
        color_transform=(130, 64, 255), predictor_mode=11, use_lz77=False)


def test_meta_prefix_groups_roundtrip():
    _rt(_noise(12, 16, seed=6), meta_split=True, use_lz77=False)


def test_palette_roundtrip_bundled_and_plain():
    rng = np.random.default_rng(7)
    for n_colors in (2, 3, 4, 9, 16, 17, 40, 256):
        pal = rng.integers(0, 256, (n_colors, 4), dtype=np.uint8)
        pal = np.unique(pal, axis=0)  # the encoder palettes unique ARGB
        idx = rng.integers(0, len(pal), (11, 23))
        _rt(pal[idx], palette=True)


def test_alpha_channel_survives():
    img = _noise(6, 6, seed=8)
    img[:, :, 3] = 128
    out = decode_webp(encode_vp8l(img, use_lz77=False))
    assert (out[:, :, 3] == 128).all()


def test_single_pixel_and_single_row():
    _rt(_noise(1, 1, seed=9), use_lz77=False)
    _rt(_noise(1, 37, seed=10))
    _rt(_noise(37, 1, seed=11))


def test_dist_map_construction():
    """The 120-entry neighborhood table IS the half-window dy in [0,7],
    dx in [-7,8] minus the non-causal dy==0, dx<=0 row, ordered by
    squared distance with ties |dx|-ascending, +dx before -dx — pinned
    by full re-derivation (a wrong tail would silently survive
    round-trip tests, since encoder and decoder share the table)."""
    domain = [(x, y) for y in range(8) for x in range(-7, 9)
              if y > 0 or x > 0]
    expected = sorted(
        domain,
        key=lambda p: (p[0] ** 2 + p[1] ** 2, abs(p[0]),
                       0 if p[0] >= 0 else 1))
    assert list(DIST_MAP) == expected
    assert len(DIST_MAP) == 120 == len(set(DIST_MAP))


def test_lz77_value_code_inverse():
    for v in list(range(1, 50)) + [63, 64, 65, 1000, 4096]:
        code, extra, nbits = _lz77_code(v)
        assert 0 <= code < 24 or v > 4096
        # reconstruct via the decoder arithmetic
        if code < 4:
            assert v == code + 1 and nbits == 0
        else:
            eb = (code - 2) >> 1
            offset = (2 + (code & 1)) << eb
            assert eb == nbits
            assert offset + extra + 1 == v


def test_malformed_inputs_raise():
    img = _noise(4, 4, seed=12)
    good = encode_vp8l(img)
    with pytest.raises(ValueError):
        decode_webp(b"RIFX" + good[4:])
    with pytest.raises(ValueError):
        # corrupt the VP8L signature byte
        i = good.index(b"VP8L") + 8
        decode_webp(good[:i] + b"\x00" + good[i + 1:])
    with pytest.raises((ValueError, IndexError)):
        decode_webp(good[:-6])  # truncated stream


def test_lossy_vp8_still_raises():
    """The lossy boundary memo stays honest: a 'VP8 ' chunk raises."""
    import struct

    payload = b"\x00" * 3 + b"\x9d\x01\x2a" + struct.pack("<HH", 16, 16)
    chunk = b"VP8 " + struct.pack("<I", len(payload)) + payload
    data = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(NotImplementedError):
        decode_webp(data)


def test_webp_info_agrees_with_pixel_decode():
    from compute_histogram_spark.multimodal.webp import webp_info

    img = _noise(21, 34, seed=13)
    data = encode_vp8l(img)
    w, h, _ = webp_info(data)
    assert (w, h) == (34, 21)
    assert decode_webp(data).shape == (21, 34, 4)


# --- property-based round-trips (hypothesis) ---

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYP = True
except Exception:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
        cache_bits=st.sampled_from([0, 0, 3, 8]),
        subtract_green=st.booleans(),
        use_lz77=st.booleans(),
        predictor=st.one_of(st.none(), st.integers(0, 13)),
    )
    def test_roundtrip_property(h, w, seed, cache_bits, subtract_green,
                                use_lz77, predictor):
        """Any image x any flag combination decodes back bit-exact."""
        img = np.random.default_rng(seed).integers(
            0, 256, (h, w, 4), dtype=np.uint8)
        out = decode_webp(encode_vp8l(
            img, cache_bits=cache_bits, subtract_green=subtract_green,
            use_lz77=use_lz77, predictor_mode=predictor))
        np.testing.assert_array_equal(out, img)

    @settings(max_examples=15, deadline=None)
    @given(
        h=st.integers(1, 10),
        w=st.integers(1, 10),
        n_colors=st.integers(1, 20),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_palette_roundtrip_property(h, w, n_colors, seed):
        """Paletted images round-trip across every bundling width
        (1/2/4/8 bits per index)."""
        rng = np.random.default_rng(seed)
        pal = np.unique(
            rng.integers(0, 256, (n_colors, 4), dtype=np.uint8), axis=0)
        img = pal[rng.integers(0, len(pal), (h, w))]
        out = decode_webp(encode_vp8l(img, palette=True))
        np.testing.assert_array_equal(out, img)


def test_palette_then_predictor_any_order_stream():
    """ADVICE r12: a legal stream may order COLOR_INDEXING before
    PREDICTOR, so the predictor is coded at the BUNDLED width; its
    inverse must run at that read-time width (inverting at the full
    image width mis-indexes the bundled rows)."""
    rng = np.random.default_rng(13)
    for n_colors, w in ((3, 23), (2, 17), (9, 11), (16, 8)):
        pal = np.unique(
            rng.integers(0, 256, (n_colors, 4), dtype=np.uint8), axis=0)
        idx = rng.integers(0, len(pal), (9, w))
        for mode in (1, 2, 7, 11):
            _rt(pal[idx], palette=True, predictor_mode=mode)


def test_prefix_code_repeat_overrun_raises_valueerror():
    """ADVICE r12: a code-length repeat run past the alphabet end is
    'malformed VP8L: ...' (ValueError), not an IndexError."""
    from compute_histogram_spark.multimodal.vp8l import (
        _BitReader,
        _BitWriter,
        _read_prefix_code,
    )

    bw = _BitWriter()
    bw.write(0, 1)   # normal (non-simple) code
    bw.write(5, 4)   # num_cl = 9: CL_ORDER[:9] covers symbols 1 and 16
    for sym in (17, 18, 0, 1, 2, 3, 4, 5, 16):
        bw.write(1 if sym in (1, 16) else 0, 3)
    bw.write(0, 1)   # no max_symbol cap
    # canonical: symbol 1 -> code 0, symbol 16 -> code 1 (both len 1)
    for _ in range(8):           # lengths[0..7] = 1
        bw.write_code_msb_first(0, 1)
    bw.write_code_msb_first(1, 1)  # cl = 16: repeat prev
    bw.write(3, 2)                 # rep = 3 + 3 = 6 -> 8 + 6 > 10
    br = _BitReader(bw.flush())
    with pytest.raises(ValueError, match="repeat overrun"):
        _read_prefix_code(br, 10)


def test_simple_code_symbol_out_of_range_raises_valueerror():
    """ADVICE r12: 8-bit simple-code symbols beyond a small alphabet
    (e.g. the 40-entry distance code) are malformed, not IndexError."""
    from compute_histogram_spark.multimodal.vp8l import (
        _BitReader,
        _BitWriter,
        _read_prefix_code,
    )

    bw = _BitWriter()
    bw.write(1, 1)    # simple code
    bw.write(1, 1)    # two symbols
    bw.write(1, 1)    # first symbol is 8-bit
    bw.write(255, 8)  # s0 = 255 >= alphabet 40
    with pytest.raises(ValueError, match="out of range"):
        _read_prefix_code(_BitReader(bw.flush()), 40)

    bw = _BitWriter()
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(2, 8)    # s0 ok
    bw.write(99, 8)   # s1 = 99 >= alphabet 40
    with pytest.raises(ValueError, match="out of range"):
        _read_prefix_code(_BitReader(bw.flush()), 40)
