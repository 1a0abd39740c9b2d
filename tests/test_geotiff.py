"""Real GeoTIFF decode: round-trips across the baseline-TIFF matrix, then
the reference's two-pass raster program end-to-end on Spark vs a numpy
oracle (reference main.py:53-66 semantics: validity filter, global minmax,
np.histogram partials merged by summation)."""

import struct

import numpy as np
import pytest
from pyspark.sql import Row

from compute_histogram_spark.multimodal.geotiff import (
    decode_geotiff,
    encode_geotiff,
    geotiff_info,
    raster_histogram,
    raster_minmax,
)

RNG = np.random.default_rng(7)


def _f32(h, w):
    return RNG.normal(100.0, 25.0, size=(h, w)).astype(np.float32)


@pytest.mark.parametrize("compression", ["none", "deflate", "packbits", "lzw"])
def test_roundtrip_float32_strips(compression):
    a = _f32(37, 23)
    blob = encode_geotiff(a, compression=compression)
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_lzw_crosses_code_width_boundaries():
    """64x64 float32 = 16 KiB of diverse bytes per strip: the LZW table
    blows through the 9->10->11-bit early-change boundaries (511/1023
    entries), and a 128x128 single strip crosses the 4094-entry table
    reset. Round-trip proves encoder and decoder agree on all of them."""
    for shape in ((64, 64), (128, 128)):
        a = _f32(*shape)
        blob = encode_geotiff(a, compression="lzw")
        assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_lzw_predictor2_int16():
    # the libtiff-default pairing for integer rasters: LZW + horizontal
    # differencing
    a = (RNG.integers(-500, 500, size=(41, 53))).astype(np.int16)
    blob = encode_geotiff(a, compression="lzw", predictor=2)
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_lzw_tiled():
    a = _f32(50, 70)
    blob = encode_geotiff(a, compression="lzw", tile_size=32)
    assert geotiff_info(blob)["compression"] == 5
    assert np.array_equal(decode_geotiff(blob), a)


def test_lzw_known_vector():
    """Hand-checkable stream: Clear, 'A', KwKwK ('AA'), EOI at 9 bits =
    [256, 65, 258, 257] -> bits 100000000 001000001 100000010 100000001,
    packed MSB-first."""
    from compute_histogram_spark.multimodal.geotiff import _unlzw

    bits = "100000000" + "001000001" + "100000010" + "100000001"
    bits = bits.ljust((len(bits) + 7) // 8 * 8, "0")
    stream = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert _unlzw(stream, 3) == b"AAA"


def test_lzw_highly_repetitive_runs():
    # long constant runs exercise the KwKwK path repeatedly
    a = np.zeros((33, 47), dtype=np.uint8)
    a[5:9, :] = 200
    blob = encode_geotiff(a, compression="lzw")
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_tiled_with_edge_padding():
    a = _f32(50, 70)  # not a multiple of tile size -> padded edge tiles
    blob = encode_geotiff(a, tile_size=32)
    info = geotiff_info(blob)
    assert info["tiled"] and info["width"] == 70 and info["height"] == 50
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_predictor2_int16():
    a = (RNG.integers(-500, 500, size=(21, 33))).astype(np.int16)
    blob = encode_geotiff(a, compression="deflate", predictor=2)
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_predictor3_float32():
    a = _f32(19, 27)
    blob = encode_geotiff(a, compression="deflate", predictor=3)
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_uint8_multiband_band_select():
    a = RNG.integers(0, 255, size=(16, 24, 3)).astype(np.uint8)
    blob = encode_geotiff(a, compression="deflate")
    assert geotiff_info(blob)["bands"] == 3
    for b in (1, 2, 3):
        assert np.array_equal(decode_geotiff(blob, band=b), a[:, :, b - 1])
    with pytest.raises(ValueError):
        decode_geotiff(blob, band=4)


def test_big_endian_uncompressed():
    """Hand-built MM (big-endian) single-strip float32 file — the writer is
    LE-only, so the BE read path needs its own fixture."""
    a = _f32(5, 7)
    data = a.astype(">f4").tobytes()
    entries = [
        (256, 4, 1, struct.pack(">I", 7)),           # width
        (257, 4, 1, struct.pack(">I", 5)),           # height
        (258, 3, 1, struct.pack(">HH", 32, 0)),      # bits
        (259, 3, 1, struct.pack(">HH", 1, 0)),       # no compression
        (273, 4, 1, struct.pack(">I", 0)),           # strip offset (patched)
        (277, 3, 1, struct.pack(">HH", 1, 0)),
        (278, 4, 1, struct.pack(">I", 5)),
        (279, 4, 1, struct.pack(">I", len(data))),
        (339, 3, 1, struct.pack(">HH", 3, 0)),       # float samples
    ]
    ifd = struct.pack(">H", len(entries))
    data_off = 8 + 2 + 12 * len(entries) + 4
    for tag, ft, cnt, payload in entries:
        if tag == 273:
            payload = struct.pack(">I", data_off)
        ifd += struct.pack(">HHI", tag, ft, cnt) + payload.ljust(4, b"\x00")
    blob = b"MM\x00*" + struct.pack(">I", 8) + ifd + struct.pack(">I", 0) + data
    assert np.array_equal(decode_geotiff(blob), a)


def test_info_geo_tags_and_nodata():
    a = _f32(8, 8)
    blob = encode_geotiff(
        a, nodata=-9999.0,
        pixel_scale=(0.00025, 0.00025, 0.0),
        tiepoint=(0.0, 0.0, 0.0, 10.0, 40.0, 0.0),
    )
    info = geotiff_info(blob)
    assert info["nodata"] == -9999.0
    assert info["pixel_scale"][0] == pytest.approx(0.00025)
    assert info["tiepoint"][3:5] == (10.0, 40.0)
    assert info["dtype"] == "f4"


def test_rejects_non_tiff():
    with pytest.raises(ValueError):
        decode_geotiff(b"\x89PNG\r\n\x1a\nnot a tiff")


@pytest.mark.parametrize("compression", ["none", "deflate", "lzw"])
def test_roundtrip_bigtiff(compression):
    """BigTIFF (version 43): 20-byte IFD entries, 8-byte counts/offsets,
    LONG8 chunk location arrays — byte-identical pixels back."""
    a = _f32(37, 23)
    blob = encode_geotiff(a, compression=compression, bigtiff=True)
    assert blob[:4] == b"II+\x00"
    assert np.array_equal(decode_geotiff(blob), a)


def test_roundtrip_bigtiff_tiled_predictor2():
    a = (RNG.integers(-500, 500, size=(41, 53))).astype(np.int16)
    blob = encode_geotiff(
        a, compression="lzw", predictor=2, tile_size=16, bigtiff=True
    )
    info = geotiff_info(blob)
    assert info["tiled"] and info["compression"] == 5
    assert np.array_equal(decode_geotiff(blob), a)


def test_bigtiff_info_and_nodata():
    a = _f32(20, 20)
    blob = encode_geotiff(a, nodata=-9999.0, bigtiff=True)
    info = geotiff_info(blob)
    assert (info["width"], info["height"]) == (20, 20)
    assert info["nodata"] == -9999.0
    assert info["pixel_scale"] is not None


def test_bigtiff_malformed_header_rejected():
    # claims 4-byte offsets — outside the spec (must be 8)
    bad = b"II+\x00" + struct.pack("<HHQ", 4, 0, 16)
    with pytest.raises(ValueError):
        decode_geotiff(bad + b"\x00" * 64)


def _tile_assets(spark, n_tiles=9, h=32, w=32, nodata=-9999.0):
    """Synthetic float32 GeoTIFF tiles with NaN holes and nodata pixels —
    the reference's production shape (248 float32 tiles) in miniature."""
    tiles, blobs = [], []
    for i in range(n_tiles):
        a = RNG.normal(50.0 * (i % 3 + 1), 10.0, size=(h, w)).astype(np.float32)
        a[RNG.random(size=(h, w)) < 0.03] = np.nan
        a[RNG.random(size=(h, w)) < 0.02] = nodata
        comp = ["none", "deflate", "packbits", "lzw"][i % 4]
        blobs.append(encode_geotiff(a, nodata=nodata, compression=comp,
                                    tile_size=16 if i % 2 else None))
        tiles.append(a)
    df = spark.createDataFrame(
        [Row(asset_id=i, kind="raster", content=bytearray(b))
         for i, b in enumerate(blobs)]
    ).repartition(4)
    valid = np.concatenate([
        t[~np.isnan(t) & (t != nodata)].astype(np.float64) for t in tiles
    ])
    return df, valid


def test_raster_minmax_matches_numpy(spark):
    df, valid = _tile_assets(spark)
    row = raster_minmax(df).first()
    assert row["min_value"] == pytest.approx(float(valid.min()), abs=0)
    assert row["max_value"] == pytest.approx(float(valid.max()), abs=0)
    assert row["n_valid"] == valid.size


def test_raster_histogram_matches_numpy_exactly(spark):
    """Counts equal np.histogram over the pooled pixels bit-for-bit —
    closed last bin and out-of-range drop included (a narrowed range makes
    both edge behaviors observable)."""
    df, valid = _tile_assets(spark)
    lo, hi = float(valid.min()) + 5.0, float(valid.max()) - 5.0
    out = raster_histogram(df, lo, hi, bins=64).collect()
    expect, _ = np.histogram(valid, bins=64, range=(lo, hi))
    assert [r["pixel_count"] for r in out] == expect.tolist()
    assert [r["bin"] for r in out] == list(range(64))
    assert out[0]["bin_left"] == pytest.approx(lo)
    assert out[-1]["bin_right"] == pytest.approx(hi)
    assert sum(expect) < valid.size  # out-of-range pixels really dropped


def test_corrupt_dimension_tag_raises_not_misshapes():
    """Regression for the r6 fuzz find (VERDICT r6 'What's wrong #1'): a
    single bit flip in the ImageLength tag (classic TIFF, compression
    none, byte 26 bit 1 of the 16x16 float32 fixture) turned h=16 into
    1048576 and decode_geotiff returned a zero-padded (1048576, 16) array
    instead of raising. Corrupt structural tags must take the diagnosed
    ValueError path — the path the reference's retry wrapper maps to
    (reference main.py:222-236)."""
    rng = np.random.default_rng(21)
    a = rng.normal(40.0, 9.0, size=(16, 16)).astype(np.float32)
    blob = bytearray(encode_geotiff(a, compression="none"))
    blob[26] ^= 1 << 1  # the exact Hypothesis falsifying example
    with pytest.raises(ValueError):
        decode_geotiff(bytes(blob))


def test_giant_single_strip_dimension_lie_raises():
    """The chunk-count check alone can't catch a corrupted file claiming
    one enormous strip (RowsPerStrip >= height keeps expected_chunks at 1);
    the container-size plausibility cap must refuse the allocation."""
    a = np.zeros((8, 8), dtype=np.float32)
    blob = bytearray(encode_geotiff(a, compression="none"))
    # rewrite both ImageLength (257) and RowsPerStrip (278) to 2**30 in the
    # little-endian classic IFD so expected_chunks stays 1 but h is absurd
    (n,) = struct.unpack_from("<H", blob, struct.unpack_from("<I", blob, 4)[0])
    base = struct.unpack_from("<I", blob, 4)[0] + 2
    for i in range(n):
        tag, ftype = struct.unpack_from("<HH", blob, base + 12 * i)
        if tag in (257, 278):
            struct.pack_into("<HHII", blob, base + 12 * i, tag, 4, 1, 1 << 30)
    with pytest.raises(ValueError, match="implausible|chunk count|short"):
        decode_geotiff(bytes(blob))


@pytest.mark.parametrize("code", [7, 34712])
def test_jpeg_compression_codes_rejected(code):
    """JPEG (7) and JPEG 2000 (34712) tiles are outside the supported
    codecs: rewriting a deflate tile's Compression tag to either must
    take the diagnosed ValueError path."""
    a = np.zeros((8, 8), dtype=np.float32)
    blob = bytearray(encode_geotiff(a, compression="deflate"))
    (off,) = struct.unpack_from("<I", blob, 4)
    (n,) = struct.unpack_from("<H", blob, off)
    for i in range(n):
        tag, _ = struct.unpack_from("<HH", blob, off + 2 + 12 * i)
        if tag == 259:
            struct.pack_into("<HHII", blob, off + 2 + 12 * i, 259, 3, 1, code)
    with pytest.raises(ValueError, match="unsupported compression"):
        decode_geotiff(bytes(blob))
