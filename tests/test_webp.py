"""WebP container metadata (multimodal/webp.py): all three stream
variants round-trip through the in-repo fixtures."""

import pytest

from compute_histogram_spark.multimodal.webp import (
    build_webp_extended,
    build_webp_lossless,
    build_webp_lossy,
    webp_info,
)


def test_lossy_vp8_dimensions():
    assert webp_info(build_webp_lossy(640, 480)) == (640, 480, 3)
    assert webp_info(build_webp_lossy(1, 1)) == (1, 1, 3)
    # 14-bit ceiling
    assert webp_info(build_webp_lossy(16383, 16383)) == (16383, 16383, 3)


def test_lossless_vp8l_dimensions_and_alpha():
    assert webp_info(build_webp_lossless(1024, 768)) == (1024, 768, 3)
    assert webp_info(build_webp_lossless(1024, 768, alpha=True)) == (
        1024, 768, 4,
    )


def test_extended_vp8x_canvas_and_alpha():
    assert webp_info(build_webp_extended(4000, 3000)) == (4000, 3000, 3)
    assert webp_info(build_webp_extended(2, 2, alpha=True)) == (2, 2, 4)


def test_rejects_non_webp_and_interframe():
    with pytest.raises(ValueError):
        webp_info(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        webp_info(b"not riff at all")
    # an interframe-only VP8 chunk (bit 0 set) carries no dimensions
    import struct

    p = bytes([0x01, 0, 0]) + b"\x9d\x01\x2a" + struct.pack("<HH", 9, 9)
    body = b"WEBP" + b"VP8 " + struct.pack("<I", len(p)) + p
    with pytest.raises(ValueError):
        webp_info(b"RIFF" + struct.pack("<I", len(body)) + body)
