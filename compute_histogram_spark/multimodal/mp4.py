"""REAL MP4 / ISO-BMFF container parsing — pure stdlib struct, no codec.

Video joins PNG (binary.py), WAV (audio.py), FLAC (flac.py) and GeoTIFF
(geotiff.py) in the "real parsing, honestly-gated decode" policy: the
ISO base-media file format (MP4/MOV/M4A/3GP) is a public box structure
(ISO/IEC 14496-12), so duration, timescale, track layout, codec fourccs
and visual dimensions parse with ``struct`` alone. FRAME decode would
need an H.264/H.265/AV1 codec the container lacks and is not done;
this module gives the real metadata the typed-columns contract promises.

Box model: ``[size u32][type 4cc][payload]``; size 1 -> u64 largesize
follows; size 0 -> box runs to end of enclosure. Containers nest:
``moov`` > ``mvhd`` (timescale/duration) + per-track ``trak`` > ``tkhd``
(16.16 fixed-point width/height) + ``mdia`` > ``hdlr`` (handler 4cc) +
``mdhd`` (per-track timescale) + ``minf/stbl/stsd`` (sample-entry codec
fourcc). Version-1 boxes carry 64-bit times; both versions handled.

Spark side: :func:`extract_video_info` is the standard Arrow
``mapInPandas`` kernel — per-file parse inside the scan task, a bad
payload yields ``parsed=false`` instead of poisoning the batch, bytes
never cross a shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in a span."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4 : pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box header")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            payload = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"malformed box {btype!r} (size {size})")
        yield btype, payload, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, *path: bytes):
    """First box at a nested path, as a (payload_start, payload_end) span."""
    if not path:
        return start, end
    for btype, p0, p1 in _boxes(data, start, end):
        if btype == path[0]:
            return _find(data, p0, p1, *path[1:])
    return None


def _versioned_times(body: bytes, off: int) -> tuple[int, int, int]:
    """(timescale, duration, bytes consumed incl. version word) for
    mvhd/mdhd-style boxes: v0 = u32 times, v1 = u64 times."""
    version = body[off]
    if version == 1:
        ts, dur = struct.unpack_from(">IQ", body, off + 20)
        return ts, dur, 32
    ts, dur = struct.unpack_from(">II", body, off + 12)
    return ts, dur, 20


def mp4_info(content: bytes) -> dict[str, Any]:
    """Container metadata: brand, duration, timescale, per-track handler /
    codec fourcc / visual dimensions."""
    n = len(content)
    brand = None
    moov = None
    for btype, p0, p1 in _boxes(content, 0, n):
        if btype == b"ftyp":
            brand = content[p0 : p0 + 4].decode("latin-1")
        elif btype == b"moov":
            moov = (p0, p1)
    if brand is None and moov is None:
        raise ValueError("not an ISO-BMFF file (no ftyp/moov box)")
    if moov is None:
        raise ValueError("ISO-BMFF file without a moov box")

    info: dict[str, Any] = {"brand": brand, "tracks": []}
    m0, m1 = moov
    for btype, p0, p1 in _boxes(content, m0, m1):
        if btype == b"mvhd":
            ts, dur, _ = _versioned_times(content, p0)
            if ts == 0:
                raise ValueError("mvhd timescale 0")
            info["timescale"] = ts
            info["duration_s"] = round(dur / ts, 6)
        elif btype == b"trak":
            track: dict[str, Any] = {
                "handler": None, "codec": None, "width": 0, "height": 0,
            }
            tkhd = _find(content, p0, p1, b"tkhd")
            if tkhd:
                t0, t1 = tkhd
                # width/height are the LAST two 16.16 fixed words
                w_fix, h_fix = struct.unpack_from(">II", content, t1 - 8)
                track["width"] = w_fix >> 16
                track["height"] = h_fix >> 16
            hdlr = _find(content, p0, p1, b"mdia", b"hdlr")
            if hdlr:
                h0, _h1 = hdlr
                track["handler"] = content[h0 + 8 : h0 + 12].decode("latin-1")
            stsd = _find(
                content, p0, p1, b"mdia", b"minf", b"stbl", b"stsd"
            )
            if stsd:
                s0, s1 = stsd
                (n_entries,) = struct.unpack_from(">I", content, s0 + 4)
                if n_entries and s0 + 16 <= s1:
                    track["codec"] = content[s0 + 12 : s0 + 16].decode(
                        "latin-1"
                    )
                    if track["codec"] in ("avc1", "avc3"):
                        # the visual sample entry's fixed part is 78
                        # bytes; child boxes (avcC, pasp, ...) follow.
                        # SPS dims are AUTHORITATIVE (tkhd is display
                        # size); parse failures leave container metadata
                        # intact rather than poisoning the track
                        try:
                            for bt, c0, c1 in _boxes(
                                content, s0 + 16 + 78, s1
                            ):
                                if bt == b"avcC":
                                    from compute_histogram_spark.multimodal.h264 import (  # noqa: E501
                                        parse_avcc,
                                    )

                                    track["sps"] = parse_avcc(
                                        content[c0:c1]
                                    )
                                    break
                        except ValueError:
                            pass
            info["tracks"].append(track)
    info["n_tracks"] = len(info["tracks"])
    if "duration_s" not in info:
        raise ValueError("moov without mvhd")
    return info


VIDEO_INFO_SCHEMA = (
    "asset_id BIGINT, brand STRING, duration_s DOUBLE, timescale BIGINT, "
    "n_tracks INT, video_codec STRING, width INT, height INT, "
    "audio_codec STRING, parsed BOOLEAN"
)


def extract_video_info(assets: DataFrame) -> DataFrame:
    """Per-asset container metadata via Arrow ``mapInPandas`` — real parse
    for ISO-BMFF payloads, ``parsed=false`` passthrough otherwise."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from compute_histogram_spark.multimodal.mp4 import mp4_info

        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                try:
                    content = bytes(row.content)
                    i = mp4_info(content)
                    vid = next(
                        (t for t in i["tracks"] if t["handler"] == "vide"),
                        None,
                    )
                    aud = next(
                        (t for t in i["tracks"] if t["handler"] == "soun"),
                        None,
                    )
                    # SPS coded dimensions (avcC) are authoritative over
                    # the tkhd display size when present (h264.py, r9)
                    sps = vid.get("sps") if vid else None
                    rows.append(
                        (
                            row.asset_id,
                            i["brand"],
                            i["duration_s"],
                            i["timescale"],
                            i["n_tracks"],
                            vid["codec"] if vid else None,
                            (sps or vid)["width"] if vid else 0,
                            (sps or vid)["height"] if vid else 0,
                            aud["codec"] if aud else None,
                            True,
                        )
                    )
                except Exception:
                    rows.append(
                        (row.asset_id, None, None, None, None, None, None,
                         None, None, False)
                    )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "brand", "duration_s", "timescale",
                         "n_tracks", "video_codec", "width", "height",
                         "audio_codec", "parsed"],
            )

    return assets.where(F.col("kind") == "video").mapInPandas(
        kernel, VIDEO_INFO_SCHEMA
    )


# ---------------------------------------------------------------------------
# fixture encoder — minimal, spec-conformant boxes
# ---------------------------------------------------------------------------


def _box(btype: bytes, payload: bytes, force_large: bool = False) -> bytes:
    if force_large or len(payload) + 8 > 0xFFFFFFFF:
        return struct.pack(">I4sQ", 1, btype, len(payload) + 16) + payload
    return struct.pack(">I4s", len(payload) + 8, btype) + payload


def encode_mp4(
    duration_s: float,
    timescale: int = 1000,
    video: tuple[str, int, int] | None = ("avc1", 640, 360),
    audio: str | None = "mp4a",
    brand: str = "isom",
    version1: bool = False,
    large_moov: bool = False,
    video_avcc: bytes | None = None,
) -> bytes:
    """Minimal ISO-BMFF writer for parser fixtures: ftyp + moov with mvhd
    and per-track tkhd/hdlr/stsd chains (no media data — the parser's
    scope is container metadata). ``version1`` emits 64-bit mvhd times;
    ``large_moov`` forces a 64-bit largesize moov box header;
    ``video_avcc`` embeds an avcC record in a real-shaped (78-byte fixed
    part) visual sample entry."""
    dur = int(round(duration_s * timescale))
    if version1:
        mvhd = (
            b"\x01" + b"\x00" * 3 + b"\x00" * 16
            + struct.pack(">IQ", timescale, dur) + b"\x00" * 80
        )
    else:
        mvhd = (
            b"\x00" * 4 + b"\x00" * 8
            + struct.pack(">II", timescale, dur) + b"\x00" * 80
        )

    def trak(handler: str, codec: str, w: int, h: int) -> bytes:
        tkhd = b"\x00" * 4 + b"\x00" * 72 + struct.pack(">II", w << 16, h << 16)
        hdlr = b"\x00" * 8 + handler.encode() + b"\x00" * 13
        if handler == "vide" and video_avcc is not None:
            entry = _box(
                codec.encode(), b"\x00" * 78 + _box(b"avcC", video_avcc)
            )
        else:
            entry = _box(codec.encode(), b"\x00" * 70)
        stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", _box(b"hdlr", hdlr) + minf)
        return _box(b"trak", _box(b"tkhd", tkhd) + mdia)

    traks = b""
    if video is not None:
        codec, w, h = video
        traks += trak("vide", codec, w, h)
    if audio is not None:
        traks += trak("soun", audio, 0, 0)
    ftyp = _box(b"ftyp", brand.encode() + struct.pack(">I", 0) + b"isommp41")
    moov = _box(b"moov", _box(b"mvhd", mvhd) + traks, force_large=large_moov)
    return ftyp + moov
