"""REAL audio decode for WAV (RIFF PCM / IEEE-float / G.711 / IMA-ADPCM)
and AIFF/AIFF-C (big-endian signed PCM + 'sowt', the Mac/pro-audio
container) — pure stdlib struct + numpy, the audio sibling of the PNG
codec (binary.py) and the GeoTIFF reader (geotiff.py). Uncompressed
audio is chunked containers with raw samples, fully parseable without
any codec library. Perceptual formats (MP3/AAC/OGG) genuinely need
codecs the container lacks; those still raise with a clear message.

Supported: RIFF/WAVE with fmt tags 1 (integer PCM: u8, i16, i24, i32),
3 (float32/64), 6 (G.711 A-law), 7 (G.711 µ-law — both ubiquitous in
telephony corpora) and 0x11 (IMA/DVI ADPCM, the classic 4-bit speech
codec), any channel count, chunk order per spec (fmt before data, unknown
chunks skipped). ``WAVE_FORMAT_EXTENSIBLE`` (tag 0xFFFE) resolves through
its SubFormat GUID. G.711 decodes through the canonical CCITT segment
tables (LUT, vectorized); IMA-ADPCM walks its predictor state per block —
O(samples) Python, with a native plug point if ADPCM corpora ever
dominate a workload.

Spark side: :func:`extract_audio_features` follows the module's kernel
pattern — Arrow-batched ``mapInPandas``, per-row decode inside the scan
stage's task, features projected out before any shuffle, a bad payload
yields ``decoded=false`` instead of poisoning the batch.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

RIFF_MAGIC = b"RIFF"

_PCM_DTYPES = {8: np.uint8, 16: np.int16, 32: np.int32}
_FLOAT_DTYPES = {32: np.float32, 64: np.float64}
# first two bytes of the EXTENSIBLE SubFormat GUID
_GUID_PCM, _GUID_FLOAT = 1, 3
_TAG_ALAW, _TAG_ULAW, _TAG_IMA_ADPCM = 6, 7, 0x11


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry int16 decode LUTs for (µ-law, A-law) — the canonical
    CCITT G.711 segment expansion (sign bit, 3-bit segment, 4-bit
    mantissa; µ-law is biased by 0x84 and stored complemented, A-law is
    stored XOR 0x55)."""
    u = (~np.arange(256, dtype=np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)

    a = np.arange(256, dtype=np.int64) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)))
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)
    return ulaw, alaw


_ULAW_DECODE, _ALAW_DECODE = _g711_tables()

# IMA/DVI ADPCM state tables (IMA Digital Audio Pack, 1992)
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _ima_decode_channel(nibbles, pred: int, index: int) -> list[int]:
    """Sequential IMA-ADPCM nibble expansion for one channel of one block.
    The predictor recurrence is inherently serial — honest Python loop."""
    out = []
    for n in nibbles:
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX_ADJ[n & 7])))
        out.append(pred)
    return out


def _decode_ima_adpcm(data: bytes, n_ch: int, block_align: int) -> np.ndarray:
    """IMA-ADPCM 'data' chunk -> int16 [n_frames, n_ch]. Block layout per
    the WAV spec: a 4-byte header per channel (int16 predictor, uint8 step
    index, pad), then nibble payload in 4-byte (8-sample) groups
    interleaved across channels."""
    if block_align < 4 * n_ch or (block_align - 4 * n_ch) % (4 * n_ch):
        raise ValueError(f"malformed IMA-ADPCM block align {block_align}")
    frames: list[list[int]] = [[] for _ in range(n_ch)]
    b0 = 0
    # the FINAL block may be short (the WAV spec permits it; truncated
    # telephony captures produce it) — decode it too instead of silently
    # dropping up to a block of samples, trimming its payload to whole
    # cross-channel nibble groups
    while b0 + 4 * n_ch <= len(data):
        block = data[b0 : b0 + block_align]
        b0 += block_align
        chans = []
        for c in range(n_ch):
            pred, index, _pad = struct.unpack_from("<hBB", block, 4 * c)
            if index > 88:
                raise ValueError(f"malformed IMA-ADPCM step index {index}")
            chans.append((pred, index))
            frames[c].append(pred)  # header predictor IS sample 0
        payload_len = len(block) - 4 * n_ch
        payload_len -= payload_len % (4 * n_ch)
        payload = np.frombuffer(
            block, dtype=np.uint8, offset=4 * n_ch, count=payload_len
        )
        lo, hi = payload & 0x0F, payload >> 4
        nib = np.empty(payload.size * 2, dtype=np.uint8)
        nib[0::2], nib[1::2] = lo, hi  # low nibble first, per spec
        # regroup: 4-byte word (8 nibbles) per channel, channels rotating
        groups = nib.reshape(-1, 8)
        for c in range(n_ch):
            ch_nib = groups[c::n_ch].ravel()
            pred, index = chans[c]
            frames[c].extend(_ima_decode_channel(ch_nib.tolist(), pred, index))
    n = min(len(f) for f in frames) if frames else 0
    return np.stack(
        [np.asarray(f[:n], dtype=np.int16) for f in frames], axis=1
    )


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """-> (samples ``[n_frames, n_channels]`` as float64 in [-1, 1],
    sample_rate). Integer PCM is scaled by its full-scale value; float PCM
    passes through."""
    if content[:4] != RIFF_MAGIC or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, min(len(content), 8 + struct.unpack_from("<I", content, 4)[0])
    fmt = None
    data = None
    n_fact = None
    while pos + 8 <= end:
        cid, size = struct.unpack_from("<4sI", content, pos)
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, n_ch, rate, _br, block, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag == 0xFFFE:  # EXTENSIBLE: real format is in the GUID
                if size < 40:
                    raise ValueError("malformed EXTENSIBLE fmt chunk")
                (tag,) = struct.unpack_from("<H", body, 24)
            fmt = (tag, n_ch, rate, block, bits)
        elif cid == b"fact" and size >= 4:
            (n_fact,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    tag, n_ch, rate, _block, bits = fmt
    if tag == _GUID_PCM:
        if bits == 24:  # no i24 dtype: widen via byte padding
            b = np.frombuffer(data, dtype=np.uint8)
            b = b[: len(b) - len(b) % 3].reshape(-1, 3)
            widened = np.zeros((b.shape[0], 4), dtype=np.uint8)
            widened[:, 1:] = b
            x = widened.view("<i4").ravel().astype(np.float64) / 2**31
        elif bits in _PCM_DTYPES:
            raw = np.frombuffer(data, dtype=np.dtype(_PCM_DTYPES[bits]).newbyteorder("<"))
            if bits == 8:  # u8 WAV is offset-binary
                x = (raw.astype(np.float64) - 128.0) / 128.0
            else:
                x = raw.astype(np.float64) / float(2 ** (bits - 1))
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == _GUID_FLOAT:
        if bits not in _FLOAT_DTYPES:
            raise ValueError(f"unsupported float bit depth {bits}")
        x = np.frombuffer(
            data, dtype=np.dtype(_FLOAT_DTYPES[bits]).newbyteorder("<")
        ).astype(np.float64)
    elif tag in (_TAG_ULAW, _TAG_ALAW):
        if bits != 8:
            raise ValueError(f"G.711 must be 8-bit, got {bits}")
        lut = _ULAW_DECODE if tag == _TAG_ULAW else _ALAW_DECODE
        x = lut[np.frombuffer(data, dtype=np.uint8)].astype(np.float64) / 32768.0
    elif tag == _TAG_IMA_ADPCM:
        if bits != 4:
            raise ValueError(f"IMA-ADPCM must be 4-bit, got {bits}")
        y = _decode_ima_adpcm(data, n_ch, _block)
        if n_fact is not None:  # fact chunk trims the padded tail block
            y = y[:n_fact]
        return y.astype(np.float64) / 32768.0, rate
    else:
        raise ValueError(
            f"WAV format tag {tag} needs a codec library (only PCM/float/"
            "G.711/IMA-ADPCM decode without one)"
        )
    n = len(x) - len(x) % n_ch
    return x[:n].reshape(-1, n_ch), rate


def encode_wav(samples, sample_rate: int, bits: int = 16) -> bytes:
    """Minimal PCM/float WAV writer for fixtures and round-trip proof.
    ``bits``: 16/32 -> integer PCM, -32/-64 -> IEEE float."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    n_ch = a.shape[1]
    if bits > 0:
        dt = np.dtype(_PCM_DTYPES[bits]).newbyteorder("<")
        full = float(2 ** (bits - 1))
        data = np.clip(np.round(a * full), -full, full - 1).astype(dt).tobytes()
        tag = 1
    else:
        bits = -bits
        dt = np.dtype(_FLOAT_DTYPES[bits]).newbyteorder("<")
        data = a.astype(dt).tobytes()
        tag = 3
    block = n_ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", tag, n_ch, sample_rate, sample_rate * block, block, bits
    )
    chunks = b"".join(
        struct.pack("<4sI", cid, len(body)) + body + (b"\x00" * (len(body) & 1))
        for cid, body in ((b"fmt ", fmt), (b"data", data))
    )
    return RIFF_MAGIC + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _wrap_wav(fmt_body: bytes, data: bytes, extra=()) -> bytes:
    chunks = b"".join(
        struct.pack("<4sI", cid, len(body)) + body + (b"\x00" * (len(body) & 1))
        for cid, body in ((b"fmt ", fmt_body), *extra, (b"data", data))
    )
    return RIFF_MAGIC + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_wav_g711(samples, sample_rate: int, law: str = "ulaw") -> bytes:
    """G.711 µ-law / A-law WAV writer — the fixture generator proving the
    telephony decode path by round-trip. Encoding quantizes each int16
    sample to the code whose LUT expansion is nearest (the decode tables
    are the ground truth, so encoder and decoder cannot drift apart)."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    n_ch = a.shape[1]
    pcm = np.clip(np.round(a * 32768.0), -32768, 32767).astype(np.int64)
    lut = _ULAW_DECODE if law == "ulaw" else _ALAW_DECODE
    order = np.argsort(lut, kind="stable")
    sorted_vals = lut[order].astype(np.int64)
    pos = np.searchsorted(sorted_vals, pcm.ravel())
    lo = np.clip(pos - 1, 0, 255)
    hi = np.clip(pos, 0, 255)
    pick = np.where(
        np.abs(sorted_vals[hi] - pcm.ravel())
        < np.abs(sorted_vals[lo] - pcm.ravel()),
        hi,
        lo,
    )
    data = order[pick].astype(np.uint8).tobytes()
    tag = _TAG_ULAW if law == "ulaw" else _TAG_ALAW
    fmt = struct.pack(
        "<HHIIHH", tag, n_ch, sample_rate, sample_rate * n_ch, n_ch, 8
    )
    return _wrap_wav(fmt, data)


def encode_wav_ima(samples, sample_rate: int, block_frames: int = 505) -> bytes:
    """IMA-ADPCM WAV writer (format tag 0x11) — fixture generator for the
    4-bit predictive path. ``block_frames`` must be 8k+1 (one header sample
    plus whole 4-byte nibble groups per channel; 505 is the stock mono
    choice)."""
    if (block_frames - 1) % 8:
        raise ValueError("block_frames must be 8k+1")
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    n_frames, n_ch = a.shape
    pcm = np.clip(np.round(a * 32768.0), -32768, 32767).astype(np.int64)
    block_align = 4 * n_ch + (block_frames - 1) * n_ch // 2
    out = bytearray()
    # per-channel step index: fitted to the opening slope, then carried
    # across block boundaries (resetting to 0 each block gives the codec a
    # slow 'attack' every block_frames samples — audible and test-visible)
    idx_state = []
    for c in range(n_ch):
        d0 = abs(int(pcm[1, c]) - int(pcm[0, c])) if n_frames > 1 else 0
        idx_state.append(int(np.abs(_IMA_STEPS - d0).argmin()))
    for f0 in range(0, n_frames, block_frames):
        blk = pcm[f0 : f0 + block_frames]
        if blk.shape[0] < block_frames:  # zero-pad the tail block
            pad = np.zeros((block_frames - blk.shape[0], n_ch), dtype=np.int64)
            blk = np.vstack([blk, pad])
        nibs = [[] for _ in range(n_ch)]
        for c in range(n_ch):
            pred, index = int(blk[0, c]), idx_state[c]
            out += struct.pack("<hBB", pred, index, 0)
            for s in blk[1:, c]:
                step = int(_IMA_STEPS[index])
                delta = int(s) - pred
                code = 8 if delta < 0 else 0
                delta = abs(delta)
                if delta >= step:
                    code |= 4
                    delta -= step
                if delta >= step >> 1:
                    code |= 2
                    delta -= step >> 1
                if delta >= step >> 2:
                    code |= 1
                # reconstruct with the decoder arithmetic to keep state
                diff = step >> 3
                if code & 1:
                    diff += step >> 2
                if code & 2:
                    diff += step >> 1
                if code & 4:
                    diff += step
                pred = pred - diff if code & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + int(_IMA_INDEX_ADJ[code & 7])))
                nibs[c].append(code)
            idx_state[c] = index
        # interleave in 8-nibble groups per channel
        for g in range((block_frames - 1) // 8):
            for c in range(n_ch):
                eight = nibs[c][g * 8 : g * 8 + 8]
                for k in range(0, 8, 2):
                    out.append(eight[k] | (eight[k + 1] << 4))
    spb = block_frames
    fmt = struct.pack(
        "<HHIIHHHH",
        _TAG_IMA_ADPCM,
        n_ch,
        sample_rate,
        sample_rate * block_align // spb,
        block_align,
        4,
        2,      # cbSize
        spb,    # wSamplesPerBlock
    )
    fact = struct.pack("<I", n_frames)
    return _wrap_wav(fmt, bytes(out), extra=((b"fact", fact),))


AUDIO_FEATURE_SCHEMA = (
    "asset_id BIGINT, sample_rate INT, n_channels INT, n_frames BIGINT, "
    "duration_s DOUBLE, rms DOUBLE, peak DOUBLE, decoded BOOLEAN"
)


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """Per-asset audio features via Arrow-batched ``mapInPandas``: REAL
    decode for WAV payloads; MP3 payloads report real HEADER
    metadata (rate/channels/frames/duration from the frame walk,
    multimodal/mp3.py) with ``decoded=false`` and null PCM features;
    ``decoded=false`` all-null passthrough otherwise. rms/peak are over
    all channels; payload bytes never cross a shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from compute_histogram_spark.multimodal.audio import decode_wav
        from compute_histogram_spark.multimodal.aac import aac_info
        from compute_histogram_spark.multimodal.mp3 import id3v2_size, mp3_info
        from compute_histogram_spark.multimodal.ogg import OGG_MAGIC, ogg_info

        def _lossy_info(c: bytes):
            # ADTS vs MP3 sync is disambiguated by the layer bits: ADTS
            # requires layer 00 (second byte F0/F1/F8/F9), which is the
            # RESERVED layer for MPEG audio frames, so the patterns are
            # disjoint. An ID3v2 tag can front either stream — sniff the
            # first post-tag frame to route (ID3 is an MP3 convention but
            # taggers put it on ADTS files too).
            if c[:4] == OGG_MAGIC:
                return ogg_info(c)
            body, skip = c, 0
            if c[:3] == b"ID3":
                skip = id3v2_size(c)
                body = c[skip:]
            if len(body) >= 2 and body[0] == 0xFF and (body[1] & 0xF6) == 0xF0:
                return aac_info(body)  # ADTS (with any leading tag cut)
            if skip or (
                len(body) >= 2 and body[0] == 0xFF and (body[1] & 0xE0) == 0xE0
            ):
                return mp3_info(c)  # mp3_info does its own ID3 handling
            return None

        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content)
                try:
                    info = _lossy_info(content)
                    if info is not None:
                        rows.append(
                            (row.asset_id, info["sample_rate"],
                             info["n_channels"], info["n_samples"],
                             info["duration_s"], None, None, False)
                        )
                        continue
                    x, rate = decode_wav(content)
                    n, c = x.shape
                    rows.append(
                        (row.asset_id, rate, c, n, n / rate,
                         float(np.sqrt((x ** 2).mean())) if n else 0.0,
                         float(np.abs(x).max()) if n else 0.0, True)
                    )
                except Exception:
                    rows.append(
                        (row.asset_id, None, None, None, None, None, None,
                         False)
                    )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "sample_rate", "n_channels", "n_frames",
                         "duration_s", "rms", "peak", "decoded"],
            )

    return assets.where(F.col("kind") == "audio").mapInPandas(
        kernel, AUDIO_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------- AIFF

AIFF_MAGIC = b"FORM"


def _f80_to_float(b: bytes) -> float:
    """80-bit IEEE 754 extended (the AIFF COMM sample-rate field)."""
    if len(b) != 10:
        raise ValueError("malformed AIFF: bad extended float")
    (se,) = struct.unpack(">H", b[:2])
    (mant,) = struct.unpack(">Q", b[2:])
    sign = -1.0 if se & 0x8000 else 1.0
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def _float_to_f80(v: float) -> bytes:
    if v == 0:
        return b"\x00" * 10
    sign = 0x8000 if v < 0 else 0
    v = abs(v)
    exp = 16383 + 63
    while v >= 2.0**64:
        v /= 2.0
        exp += 1
    while v < 2.0**63:
        v *= 2.0
        exp -= 1
    return struct.pack(">HQ", sign | exp, int(v))


def decode_aiff(content: bytes) -> tuple[np.ndarray, int]:
    """AIFF / AIFF-C ('NONE' big-endian, 'sowt' little-endian PCM) ->
    (samples [n_frames, n_channels] float64 in [-1, 1], sample_rate).
    AIFF PCM is SIGNED at every depth (8/16/24/32) — unlike WAV's
    offset-binary u8 — and big-endian by default; the FORM/chunk grammar
    mirrors RIFF with big-endian sizes."""
    if content[:4] != AIFF_MAGIC or content[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF file")
    aifc = content[8:12] == b"AIFC"
    pos = 12
    end = min(len(content), 8 + struct.unpack_from(">I", content, 4)[0])
    comm = None
    data = None
    little = False
    while pos + 8 <= end:
        cid, size = struct.unpack_from(">4sI", content, pos)
        body = content[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("malformed AIFF: truncated chunk")
        if cid == b"COMM":
            if size < 18:
                raise ValueError("malformed AIFF: short COMM")
            n_ch, _n_frames, bits = struct.unpack_from(">hIh", body, 0)
            rate = _f80_to_float(body[8:18])
            if aifc:
                if size < 22:
                    raise ValueError("malformed AIFC: missing compression")
                ctype = body[18:22]
                if ctype == b"sowt":
                    little = True
                elif ctype != b"NONE":
                    raise ValueError(
                        f"AIFC compression {ctype!r} needs a codec library"
                    )
            comm = (n_ch, bits, rate)
        elif cid == b"SSND":
            if size < 8:
                raise ValueError("malformed AIFF: short SSND")
            (offset,) = struct.unpack_from(">I", body, 0)
            data = body[8 + offset :]
        pos += 8 + size + (size & 1)
    if comm is None or data is None:
        raise ValueError("malformed AIFF: missing COMM/SSND chunk")
    n_ch, bits, rate = comm
    if n_ch < 1 or not (6 <= rate <= 10_000_000):
        raise ValueError("malformed AIFF: bad channel count or rate")
    eb = "<" if little else ">"
    if bits == 24:
        b = np.frombuffer(data, dtype=np.uint8)
        b = b[: len(b) - len(b) % 3].reshape(-1, 3)
        widened = np.zeros((b.shape[0], 4), dtype=np.uint8)
        # assemble little-endian i32 [0, LSB, mid, MSB]: sowt stores
        # LSB-first already; big-endian AIFF stores MSB-first, so reverse
        widened[:, 1:] = b if little else b[:, ::-1]
        x = widened.view("<i4").ravel().astype(np.float64) / 2**31
    elif bits in (8, 16, 32):
        dt = {8: "i1", 16: "i2", 32: "i4"}[bits]
        raw = np.frombuffer(data, dtype=np.dtype(dt).newbyteorder(eb))
        x = raw.astype(np.float64) / float(2 ** (bits - 1))
    else:
        raise ValueError(f"unsupported AIFF bit depth {bits}")
    n = len(x) - len(x) % n_ch
    return x[:n].reshape(-1, n_ch), int(round(rate))


def encode_aiff(samples, sample_rate: int, bits: int = 16) -> bytes:
    """Big-endian AIFF PCM writer (8/16/24/32 signed) — the fixture
    proving :func:`decode_aiff` by round trip."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n_frames, n_ch = x.shape
    scale = float(2 ** (bits - 1))
    q = np.clip(np.round(x * scale), -scale, scale - 1).astype(np.int64)
    if bits == 24:
        as32 = (q.ravel().astype(">i4")).view(np.uint8).reshape(-1, 4)
        data = as32[:, 1:].tobytes()  # drop the high byte of each BE i32
    elif bits in (8, 16, 32):
        dt = {8: ">i1", 16: ">i2", 32: ">i4"}[bits]
        data = q.ravel().astype(dt).tobytes()
    else:
        raise ValueError(f"unsupported AIFF bit depth {bits}")
    comm = struct.pack(">hIh", n_ch, n_frames, bits) + _float_to_f80(
        float(sample_rate)
    )
    ssnd = struct.pack(">II", 0, 0) + data

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack(">I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    body = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return AIFF_MAGIC + struct.pack(">I", len(body)) + body
