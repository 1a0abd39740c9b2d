"""Real WAV decode: round-trips across bit depths / channel layouts, spec
details (u8 offset-binary, i24 packing, EXTENSIBLE fmt, odd-sized chunk
padding), and the Spark feature kernel vs numpy."""

import struct

import numpy as np
import pytest
from pyspark.sql import Row

from compute_histogram_spark.multimodal.audio import (
    decode_wav,
    encode_wav,
    extract_audio_features,
)
from compute_histogram_spark.multimodal.binary import decode_audio

RNG = np.random.default_rng(3)


def _sig(n=1000, ch=1):
    t = np.arange(n)[:, None]
    f = 0.01 * (1 + np.arange(ch))[None, :]
    return (0.8 * np.sin(2 * np.pi * f * t)).reshape(n, ch)


@pytest.mark.parametrize("bits,tol", [(16, 2**-15), (32, 2**-31)])
def test_roundtrip_int_pcm(bits, tol):
    a = _sig()
    x, rate = decode_wav(encode_wav(a, 16000, bits=bits))
    assert rate == 16000 and x.shape == a.shape
    assert np.abs(x - a).max() <= tol


@pytest.mark.parametrize("bits", [-32, -64])
def test_roundtrip_float(bits):
    a = _sig(ch=2)
    x, rate = decode_wav(encode_wav(a, 44100, bits=bits))
    assert rate == 44100 and x.shape == a.shape
    if bits == -64:
        assert np.array_equal(x, a)  # float64 is lossless
    else:
        assert np.abs(x - a).max() < 1e-7


def test_u8_offset_binary():
    # u8 silence is 128, full negative is 0
    raw = encode_wav(np.zeros(10), 8000, bits=16)
    # hand-build a u8 file: 5 frames [0, 128, 255]
    data = bytes([0, 128, 255])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 1 + 8 + len(data) + 1)
        + b"WAVE"
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data + b"\x00"
    )
    x, rate = decode_wav(blob)
    assert x[:, 0].tolist() == [-1.0, 0.0, pytest.approx(127 / 128)]
    assert raw  # silence encodes fine too


def test_i24_packing():
    vals = np.array([0.5, -0.5, 0.25])
    ints = np.round(vals * 2**23).astype(np.int64)
    data = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in ints)
    fmt = struct.pack("<HHIIHH", 1, 1, 48000, 48000 * 3, 3, 24)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )
    x, _ = decode_wav(blob)
    assert np.abs(x[:, 0] - vals).max() < 2**-22


def test_extensible_fmt_resolves_guid():
    a = _sig(ch=2)
    base = encode_wav(a, 22050, bits=16)
    # rebuild with an EXTENSIBLE fmt chunk: base(16) + cbSize/validBits/
    # channelMask(8) + 16-byte SubFormat GUID whose first two bytes are the
    # real tag (PCM=1) -> 40 bytes total
    fmt = (
        struct.pack(
            "<HHIIHHHHI", 0xFFFE, 2, 22050, 22050 * 4, 4, 16, 22, 16, 0
        )
        + struct.pack("<H", 1)
        + b"\x00" * 14
    )
    data = base[base.index(b"data") + 8 :]
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )
    x, rate = decode_wav(blob)
    assert rate == 22050 and x.shape == a.shape


def test_decode_audio_gateway():
    x, rate = decode_audio(encode_wav(_sig(), 8000))
    assert rate == 8000
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3-ish payload")
    with pytest.raises(NotImplementedError):
        decode_audio(b"fLaC" + bytes(38))  # no FLAC decoder
    with pytest.raises(ValueError):
        decode_audio(b"RIFF\x00\x00\x00\x00AVI LIST")  # RIFF but not WAVE


def test_extract_audio_features_spark(spark):
    sigs = {1: _sig(8000, 1), 2: _sig(4000, 2)}
    rows = [
        Row(asset_id=k, kind="audio",
            content=bytearray(encode_wav(v, 16000, bits=-32)))
        for k, v in sigs.items()
    ] + [
        Row(asset_id=9, kind="audio", content=bytearray(b"not audio")),
        Row(asset_id=10, kind="image", content=bytearray(b"skipped")),
    ]
    out = {r["asset_id"]: r for r in
           extract_audio_features(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 2, 9}           # non-audio kinds filtered out
    for k, v in sigs.items():
        r = out[k]
        assert r["decoded"] and r["sample_rate"] == 16000
        assert (r["n_frames"], r["n_channels"]) == v.shape
        assert r["duration_s"] == pytest.approx(v.shape[0] / 16000)
        assert r["rms"] == pytest.approx(float(np.sqrt((v**2).mean())), rel=1e-6)
        assert r["peak"] == pytest.approx(float(np.abs(v).max()), rel=1e-6)
    assert out[9]["decoded"] is False and out[9]["rms"] is None


# --- G.711 µ-law / A-law + IMA-ADPCM (r7: telephony-corpus coverage) ---


def test_g711_tables_match_spec_landmarks():
    """Spot-pin the LUTs against published G.711 values: µ-law 0xFF
    decodes to 0 and 0x7F to the positive max 32124; A-law 0xD5 (the
    silence byte) decodes to ±8-range small values per the CCITT tables."""
    from compute_histogram_spark.multimodal.audio import (
        _ALAW_DECODE,
        _ULAW_DECODE,
    )

    assert _ULAW_DECODE[0xFF] == 0
    assert _ULAW_DECODE[0x7F] == -0  # negative zero collapses to 0
    assert int(_ULAW_DECODE.max()) == 32124
    assert int(_ULAW_DECODE.min()) == -32124
    assert int(_ALAW_DECODE.max()) == 32256
    assert int(_ALAW_DECODE.min()) == -32256
    assert _ALAW_DECODE[0xD5] == 8  # the canonical A-law 'silence' level


@pytest.mark.parametrize("law", ["ulaw", "alaw"])
def test_roundtrip_g711(law):
    from compute_histogram_spark.multimodal.audio import encode_wav_g711

    a = _sig(1200, 2)
    x, rate = decode_wav(encode_wav_g711(a, 8000, law=law))
    assert rate == 8000 and x.shape == a.shape
    # logarithmic companding: relative error small for large samples,
    # absolute error bounded by the widest segment's step (~1024/32768)
    assert np.abs(x - a).max() < 0.032
    big = np.abs(a) > 0.1
    assert np.abs((x - a)[big] / a[big]).max() < 0.05


@pytest.mark.parametrize("ch", [1, 2])
def test_roundtrip_ima_adpcm(ch):
    from compute_histogram_spark.multimodal.audio import encode_wav_ima

    a = _sig(1000, ch)  # non-multiple of block_frames: fact-chunk trim path
    x, rate = decode_wav(encode_wav_ima(a, 16000))
    assert rate == 16000 and x.shape == a.shape
    # 4-bit predictive coding of a smooth signal tracks within ~2%
    assert np.abs(x - a).max() < 0.02


def test_ima_adpcm_malformed_raises():
    from compute_histogram_spark.multimodal.audio import encode_wav_ima

    blob = bytearray(encode_wav_ima(_sig(505), 8000))
    # corrupt the in-block step index beyond table range (offset of first
    # block header's index byte = 12-byte RIFF + fmt chunk + fact + data hdr;
    # find it structurally instead of hardcoding)
    i = blob.index(b"data") + 8 + 2  # predictor int16, then index byte
    blob[i] = 120
    with pytest.raises(ValueError, match="step index"):
        decode_wav(bytes(blob))


# ------------------------------------------------------------------ AIFF


def test_aiff_round_trip_all_depths():
    import numpy as np

    from compute_histogram_spark.multimodal.audio import (
        decode_aiff,
        encode_aiff,
    )

    rng = np.random.default_rng(5)
    x = rng.uniform(-0.9, 0.9, size=(500, 2))
    for bits, tol in ((8, 1 / 120), (16, 1 / 30000), (24, 1 / 8e6),
                      (32, 1 / 2e9)):
        y, rate = decode_aiff(encode_aiff(x, 44100, bits=bits))
        assert rate == 44100 and y.shape == x.shape
        assert np.abs(y - x).max() <= tol, bits
    y, r = decode_aiff(encode_aiff(x[:, 0], 8000, bits=16))
    assert y.shape == (500, 1) and r == 8000


def test_aifc_sowt_little_endian():
    """AIFF-C 'sowt' stores PCM little-endian — build the container by
    hand so the decode path is proven against an independent layout."""
    import struct

    import numpy as np

    from compute_histogram_spark.multimodal.audio import (
        _float_to_f80,
        decode_aiff,
    )

    rng = np.random.default_rng(9)
    x = rng.uniform(-0.8, 0.8, size=(64, 1))
    q = np.clip(np.round(x * 32768), -32768, 32767).astype("<i2")
    comm = (
        struct.pack(">hIh", 1, 64, 16)
        + _float_to_f80(16000.0)
        + b"sowt"
        + b"\x04sowt\x00"  # pascal-string compression name, padded
    )
    ssnd = struct.pack(">II", 0, 0) + q.tobytes()

    def chunk(cid, body):
        return cid + struct.pack(">I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    body = b"AIFC" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    blob = b"FORM" + struct.pack(">I", len(body)) + body
    y, rate = decode_aiff(blob)
    assert rate == 16000 and y.shape == (64, 1)
    assert np.abs(y - q.astype(np.float64) / 32768.0).max() == 0.0


def test_aiff_rejections_and_decode_audio_route():
    import numpy as np
    import pytest as _pytest

    from compute_histogram_spark.multimodal.audio import (
        decode_aiff,
        encode_aiff,
    )
    from compute_histogram_spark.multimodal.binary import decode_audio

    with _pytest.raises(ValueError, match="not an AIFF"):
        decode_aiff(b"FORM\x00\x00\x00\x04WAVE")
    blob = encode_aiff(np.zeros((16, 1)), 8000)
    with _pytest.raises(ValueError):
        decode_aiff(blob[:20])
    y, rate = decode_audio(blob)
    assert rate == 8000 and y.shape == (16, 1)


def test_ima_adpcm_short_final_block_decodes():
    """The WAV spec permits a short FINAL IMA-ADPCM block; its samples
    must decode rather than silently vanish."""
    import numpy as np

    from compute_histogram_spark.multimodal.audio import (
        decode_wav,
        encode_wav_ima,
    )

    rng = np.random.default_rng(13)
    x = rng.uniform(-0.5, 0.5, size=(700, 1))
    blob = bytearray(encode_wav_ima(x, 8000))
    full, _ = decode_wav(bytes(blob))
    # truncate the data chunk mid-final-block: drop the last 40 payload
    # bytes and patch the RIFF + data sizes accordingly
    import struct

    cut = 40
    pos = blob.find(b"data")
    (dsize,) = struct.unpack_from("<I", blob, pos + 4)
    struct.pack_into("<I", blob, pos + 4, dsize - cut)
    struct.pack_into("<I", blob, 4, struct.unpack_from("<I", blob, 4)[0] - cut)
    short = bytes(blob[: len(blob) - cut])
    y, rate = decode_wav(short)
    assert rate == 8000
    # loses only the cut tail (40 bytes = 80 nibble samples), never a
    # whole block; and what remains matches the full decode exactly
    assert len(full) - len(y) <= 80 + 8
    assert np.array_equal(y, full[: len(y)])
