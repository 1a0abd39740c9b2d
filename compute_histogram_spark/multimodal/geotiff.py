"""REAL GeoTIFF raster decode — pure stdlib (struct + zlib) + numpy.

Closes the one "partial by design" row in SURVEY §2 (S3 raster scan): the
reference reads band 1 of float32 GeoTIFF tiles via rasterio
(reference main.py:237-241) and histograms the pixels. The container has
no GDAL/rasterio, but a *baseline* TIFF is a simple container format —
header, IFD tag directory, strip/tile chunks — fully parseable with
``struct``, with the two compressions GDAL actually emits for float
rasters (DEFLATE via stdlib ``zlib``, and PackBits RLE) decodable without
any codec library. So the decode path here is REAL, not a stub, for the
mainstream GeoTIFF subset:

- classic TIFF and BigTIFF (version 43, 8-byte offsets), little- or
  big-endian;
- strips or tiles; chunky planar config; any band count;
- uint8/16/32, int8/16/32, float32/64 samples;
- compression: none (1), LZW (5), DEFLATE (8 / legacy 32946), PackBits (32773);
- predictor: none (1), horizontal differencing (2), floating-point
  byte-split differencing (3);
- GeoTIFF georeferencing (ModelPixelScale / ModelTiepoint) and the GDAL
  NoData ASCII tag surfaced as metadata.

Anything outside that subset raises — a clearly-diagnosed error beats a
silently wrong raster.

The Spark side mirrors the reference's two-pass program exactly
(min/max pass then histogram pass, main.py:53-57, partials merged by
summation, main.py:244-249), expressed scale-first: decode happens inside
Arrow-batched ``mapInPandas`` kernels in the scan stage's task, each task
emits an O(bins) dense partial, and the only shuffle carries
``tasks x bins`` count rows — tile bytes NEVER cross a shuffle. At 100 TB
that is the same partial/final shape as the engine's column histogram
(operators/histogram.py), with the map side swapped for a raster decode.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

TIFF_MAGIC_LE = b"II*\x00"
TIFF_MAGIC_BE = b"MM\x00*"

# TIFF field type -> (struct code, byte size); enough for baseline+geo tags
_FIELD_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("c", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: ("II", 8),  # RATIONAL (num, den)
    6: ("b", 1),   # SBYTE
    7: ("B", 1),   # UNDEFINED (opaque bytes)
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
    16: ("Q", 8),  # LONG8 (BigTIFF)
    17: ("q", 8),  # SLONG8 (BigTIFF)
}

T_WIDTH, T_HEIGHT = 256, 257
T_BITS, T_COMPRESSION, T_PHOTOMETRIC = 258, 259, 262
T_STRIP_OFFSETS, T_SPP, T_ROWS_PER_STRIP, T_STRIP_COUNTS = 273, 277, 278, 279
T_PLANAR, T_PREDICTOR, T_SAMPLE_FORMAT = 284, 317, 339
T_TILE_W, T_TILE_H, T_TILE_OFFSETS, T_TILE_COUNTS = 322, 323, 324, 325
T_PIXEL_SCALE, T_TIEPOINT, T_GDAL_NODATA = 33550, 33922, 42113

# (sample_format, bits) -> numpy dtype char (endianness applied at read)
_DTYPES = {
    (1, 8): "u1", (1, 16): "u2", (1, 32): "u4",
    (2, 8): "i1", (2, 16): "i2", (2, 32): "i4",
    (3, 32): "f4", (3, 64): "f8",
}


def _parse_header(content: bytes) -> tuple[str, bool, int]:
    """TIFF header -> (endian prefix, is_bigtiff, first IFD offset).

    Classic TIFF: magic 42, 4-byte IFD offset at byte 4. BigTIFF: magic 43,
    then {offset bytesize (must be 8), constant 0} and an 8-byte IFD offset
    at byte 8 — the layout GDAL emits for rasters past 4 GiB."""
    if content[:2] == b"II":
        eb = "<"
    elif content[:2] == b"MM":
        eb = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (version,) = struct.unpack_from(eb + "H", content, 2)
    if version == 42:
        (ifd_off,) = struct.unpack_from(eb + "I", content, 4)
        return eb, False, ifd_off
    if version == 43:
        osize, zero = struct.unpack_from(eb + "HH", content, 4)
        if osize != 8 or zero != 0:
            raise ValueError(f"malformed BigTIFF header ({osize}, {zero})")
        (ifd_off,) = struct.unpack_from(eb + "Q", content, 8)
        return eb, True, ifd_off
    raise ValueError(f"not a TIFF (version {version})")


def _read_ifd(
    content: bytes, eb: str, off: int, big: bool = False
) -> dict[int, tuple]:
    """First IFD as {tag: (type, values tuple)}. BigTIFF IFDs differ only
    in widths: 8-byte entry count, 20-byte entries (8-byte value count and
    inline-value field), 8-byte overflow offsets."""
    if big:
        (n,) = struct.unpack_from(eb + "Q", content, off)
        base, esize, inline, offcode = off + 8, 20, 8, "Q"
    else:
        (n,) = struct.unpack_from(eb + "H", content, off)
        base, esize, inline, offcode = off + 2, 12, 4, "I"
    tags: dict[int, tuple] = {}
    for i in range(n):
        tag, ftype = struct.unpack_from(eb + "HH", content, base + esize * i)
        (count,) = struct.unpack_from(
            eb + offcode, content, base + esize * i + 4
        )
        if ftype not in _FIELD_TYPES:
            continue  # unknown type: per spec, readers skip
        code, size = _FIELD_TYPES[ftype]
        nbytes = size * count
        vpos = base + esize * i + (12 if big else 8)
        if nbytes > inline:
            (vpos,) = struct.unpack_from(eb + offcode, content, vpos)
        if vpos + nbytes > len(content):
            # a corrupted count/offset would otherwise drive an unbounded
            # format-string build + unpack below; bound it by the container
            raise ValueError(
                f"malformed TIFF: tag {tag} values beyond end of file"
            )
        if ftype == 2:  # ASCII: NUL-terminated string
            raw = content[vpos : vpos + count]
            tags[tag] = (ftype, (raw.split(b"\x00")[0].decode("latin-1"),))
        elif ftype == 5:
            vals = struct.unpack_from(eb + "II" * count, content, vpos)
            tags[tag] = (ftype, tuple(
                vals[2 * j] / vals[2 * j + 1] if vals[2 * j + 1] else float("nan")
                for j in range(count)
            ))
        else:
            tags[tag] = (
                ftype,
                struct.unpack_from(eb + code * count, content, vpos),
            )
    return tags


def _tag(tags: dict, tag: int, default=None):
    return tags[tag][1] if tag in tags else default


def _tag1(tags: dict, tag: int, default=None):
    v = _tag(tags, tag)
    return v[0] if v else default


def _unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits RLE decode (TIFF spec §9)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        b = data[i]
        i += 1
        if b < 128:          # literal run of b+1 bytes
            out += data[i : i + b + 1]
            i += b + 1
        elif b > 128:        # repeat next byte 257-b times
            out += data[i : i + 1] * (257 - b)
            i += 1
        # b == 128: no-op
    return bytes(out)


def _unlzw(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW decode (TIFF spec §13, compression code 5) — the
    most common in-the-wild GeoTIFF codec (the reference reads it through
    GDAL transparently, main.py:237-241).

    TIFF LZW is MSB-first bit packing with ClearCode=256, EOI=257, first
    table entry 258, and the "early change" convention: the code width
    bumps 9->10->11->12 when the table reaches 511/1023/2047 entries (one
    code EARLIER than generic LZW's 512/1024/2048 — libtiff compatible).
    """
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    table = list(base)
    nbits = 9
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + nbits <= total_bits and len(out) < expected:
        byte0 = bitpos >> 3
        window = int.from_bytes(data[byte0 : byte0 + 3].ljust(3, b"\0"), "big")
        code = (window >> (24 - (bitpos & 7) - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == CLEAR:
            table = list(base)
            nbits = 9
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= 256:
                raise ValueError("corrupt LZW stream: first code not literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        prev = entry
        # early change, decoder side: the decoder's table lags the
        # encoder's by one entry (it inserts for code N while reading code
        # N+1), so it widens at 510/1022/2046 where the encoder widens at
        # 511/1023/2047 (TIFF spec §13 decoder pseudocode).
        if len(table) >= (1 << nbits) - 2 and nbits < 12:
            nbits += 1
    return bytes(out[:expected])


def _lzw_compress(raw: bytes) -> bytes:
    """TIFF-variant LZW encode — fixture generator proving :func:`_unlzw`
    by round-trip (same early-change convention; table reset at 4094 like
    libtiff so 12-bit codes never overflow)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = 0
    nbuf = 0
    nbits = 9

    def emit(code: int) -> None:
        nonlocal buf, nbuf
        buf = (buf << nbits) | code
        nbuf += nbits
        while nbuf >= 8:
            nbuf -= 8
            out.append((buf >> nbuf) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    prev = b""
    for byte in raw:
        cur = prev + bytes([byte])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        table[cur] = next_code
        next_code += 1
        prev = bytes([byte])
        if next_code == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        elif next_code == 4094:
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
    if prev:
        emit(table[prev])
    emit(EOI)
    if nbuf:
        buf <<= 8 - nbuf
        out.append(buf & 0xFF)
    return bytes(out)


def _undo_predictor(chunk: np.ndarray, predictor: int, spp: int) -> np.ndarray:
    """Invert TIFF predictor on a [rows, cols, spp] chunk."""
    if predictor == 2:  # horizontal differencing on integer samples
        return np.cumsum(
            chunk.astype(np.int64), axis=1, dtype=np.int64
        ).astype(chunk.dtype)
    if predictor == 3:
        # float predictor: each row stored as byte-planes (all MSBs first),
        # horizontally byte-differenced. Invert: cumsum bytes, regroup
        # planes -> big-endian sample bytes.
        rows, cols, _ = chunk.shape
        itemsize = chunk.dtype.itemsize
        raw = chunk.view(np.uint8).reshape(rows, cols * spp * itemsize)
        acc = np.cumsum(raw.astype(np.uint16), axis=1).astype(np.uint8)
        planes = acc.reshape(rows, itemsize, cols * spp)
        be = np.transpose(planes, (0, 2, 1)).reshape(rows, cols * spp * itemsize)
        return (
            np.frombuffer(be.tobytes(), dtype=chunk.dtype.newbyteorder(">"))
            .reshape(rows, cols, spp)
            .astype(chunk.dtype)
        )
    return chunk


def decode_geotiff(content: bytes, band: int = 1) -> np.ndarray:
    """Decode one band (1-based, matching rasterio/reference main.py:241)
    of a baseline TIFF/GeoTIFF — classic or BigTIFF — into a 2-D numpy
    array [height, width]."""
    eb, big, ifd_off = _parse_header(content)
    tags = _read_ifd(content, eb, ifd_off, big)

    def _pos_int(v, name):
        # a corrupted field TYPE can deliver floats (RATIONAL/FLOAT reads)
        # for structural tags; reject instead of TypeError-ing downstream
        if not isinstance(v, int) or v <= 0:
            raise ValueError(f"malformed TIFF: bad {name} ({v!r})")
        return v

    w = _pos_int(_tag1(tags, T_WIDTH), "width")
    h = _pos_int(_tag1(tags, T_HEIGHT), "height")
    spp = _pos_int(_tag1(tags, T_SPP, 1), "samples/pixel")
    if not 1 <= band <= spp:
        raise ValueError(f"band {band} out of range (1..{spp})")
    bits = _tag(tags, T_BITS, (8,) * spp)
    if len(set(bits)) != 1:
        raise ValueError("heterogeneous BitsPerSample unsupported")
    fmt = _tag1(tags, T_SAMPLE_FORMAT, 1)
    if (fmt, bits[0]) not in _DTYPES:
        raise ValueError(f"unsupported sample (format={fmt}, bits={bits[0]})")
    dtype = np.dtype(eb + _DTYPES[(fmt, bits[0])])
    comp = _tag1(tags, T_COMPRESSION, 1)
    if comp not in (1, 5, 8, 32946, 32773):
        raise ValueError(
            f"unsupported compression {comp} "
            "(need none/lzw/deflate/packbits)"
        )
    predictor = _tag1(tags, T_PREDICTOR, 1)
    if predictor not in (1, 2, 3):
        raise ValueError(f"unsupported predictor {predictor}")
    if _tag1(tags, T_PLANAR, 1) != 1:
        raise ValueError("planar (separated) sample layout unsupported")

    tiled = T_TILE_OFFSETS in tags
    if tiled:
        cw = _pos_int(_tag1(tags, T_TILE_W), "tile width")
        ch = _pos_int(_tag1(tags, T_TILE_H), "tile height")
        offsets, counts = _tag(tags, T_TILE_OFFSETS), _tag(tags, T_TILE_COUNTS)
        tiles_across = (w + cw - 1) // cw
    else:
        cw, ch = w, _pos_int(_tag1(tags, T_ROWS_PER_STRIP, h), "rows/strip")
        offsets, counts = _tag(tags, T_STRIP_OFFSETS), _tag(tags, T_STRIP_COUNTS)
        tiles_across = 1
    if not offsets or not counts:
        raise ValueError("malformed TIFF: missing strip/tile locations")
    if not all(isinstance(v, int) and v >= 0 for v in (*offsets, *counts)):
        raise ValueError("malformed TIFF: non-integer strip/tile locations")

    # Structural consistency BEFORE allocating: a bit-flipped dimension tag
    # (e.g. ImageLength 16 -> 1048576) must take the diagnosed-rejection
    # path, not "succeed" with a wrongly-shaped (potentially multi-GiB)
    # zero-filled array inside an executor kernel. Three independent checks:
    # (1) the chunk count the layout implies must equal the chunks present;
    # (2) every chunk must lie inside the container; (3) the output raster
    # cannot exceed the container bytes times the codec's max expansion
    # (deflate tops out ~1032:1; TIFF-LZW on degenerate runs ~sqrt-bounded,
    # 4096 is generous for any real tile size; PackBits 128:1; none 1:1 —
    # strip/tile payloads for a valid file always cover the visible raster).
    if len(offsets) != len(counts):
        raise ValueError(
            "malformed TIFF: strip/tile offsets vs byte-counts mismatch "
            f"({len(offsets)} vs {len(counts)})"
        )
    expected_chunks = tiles_across * ((h + ch - 1) // ch)
    if len(offsets) != expected_chunks:
        raise ValueError(
            "malformed TIFF: dimensions inconsistent with chunk count "
            f"({len(offsets)} chunks present, layout implies {expected_chunks})"
        )
    if any(off + cnt > len(content) for off, cnt in zip(offsets, counts)):
        raise ValueError("malformed TIFF: strip/tile beyond end of file")
    max_expansion = {1: 1, 8: 1100, 32946: 1100, 5: 4096, 32773: 128}[comp]
    if h * w * spp * dtype.itemsize > max(sum(counts), 1) * max_expansion:
        raise ValueError(
            "malformed TIFF: dimensions implausible for container size "
            f"({h}x{w}x{spp} {dtype.itemsize}B samples vs "
            f"{sum(counts)} payload bytes)"
        )

    out = np.zeros((h, w), dtype=dtype.newbyteorder("="))
    for idx, (off, cnt) in enumerate(zip(offsets, counts)):
        data = content[off : off + cnt]
        if comp in (8, 32946):
            data = zlib.decompress(data)
        elif comp == 5:
            data = _unlzw(data, cw * ch * spp * dtype.itemsize)
        elif comp == 32773:
            data = _unpackbits(data, cw * ch * spp * dtype.itemsize)
        row0 = (idx // tiles_across) * ch
        col0 = (idx % tiles_across) * cw
        rows = ch if tiled else min(ch, h - row0)
        need = rows * cw * spp * dtype.itemsize
        if len(data) < need:
            raise ValueError(f"chunk {idx}: short data ({len(data)} < {need})")
        chunk = np.frombuffer(data[:need], dtype=dtype).reshape(rows, cw, spp)
        chunk = _undo_predictor(chunk, predictor, spp)
        vis_r = min(rows, h - row0)
        vis_c = min(cw, w - col0)
        out[row0 : row0 + vis_r, col0 : col0 + vis_c] = (
            chunk[:vis_r, :vis_c, band - 1]
        )
    return out


def geotiff_info(content: bytes) -> dict[str, Any]:
    """Header-only metadata: dims, bands, dtype, compression, nodata, and
    GeoTIFF georeferencing (pixel scale + tiepoint) when present."""
    eb, big, ifd_off = _parse_header(content)
    tags = _read_ifd(content, eb, ifd_off, big)
    spp = _tag1(tags, T_SPP, 1)
    bits = _tag(tags, T_BITS, (8,) * spp)
    fmt = _tag1(tags, T_SAMPLE_FORMAT, 1)
    nodata = _tag1(tags, T_GDAL_NODATA)
    return {
        "width": _tag1(tags, T_WIDTH),
        "height": _tag1(tags, T_HEIGHT),
        "bands": spp,
        "dtype": _DTYPES.get((fmt, bits[0]), f"raw{bits[0]}"),
        "compression": _tag1(tags, T_COMPRESSION, 1),
        "tiled": T_TILE_OFFSETS in tags,
        "nodata": float(nodata) if nodata not in (None, "") else None,
        "pixel_scale": _tag(tags, T_PIXEL_SCALE),
        "tiepoint": _tag(tags, T_TIEPOINT),
    }


def encode_geotiff(
    arr,
    nodata: float | None = None,
    compression: str = "deflate",
    tile_size: int | None = None,
    pixel_scale: tuple[float, float, float] = (0.00025, 0.00025, 0.0),
    tiepoint: tuple[float, ...] = (0.0, 0.0, 0.0, 10.0, 40.0, 0.0),
    predictor: int = 1,
    bigtiff: bool = False,
) -> bytes:
    """Minimal little-endian GeoTIFF writer for ``[h, w]`` or ``[h, w, c]``
    arrays — the fixture generator proving :func:`decode_geotiff` by
    round-trip (the same role :func:`~compute_histogram_spark.multimodal.
    binary.encode_png` plays for the PNG path). Supports none/lzw/deflate/
    packbits compression, optional square tiling, predictor 2 (ints) and
    3 (floats), and the BigTIFF layout (20-byte IFD entries, LONG8
    chunk locations) so the 8-byte parsing path is round-trip-provable
    without a >4 GiB fixture."""
    a = np.ascontiguousarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, spp = a.shape
    fmt = {"u": 1, "i": 2, "f": 3}[a.dtype.kind]
    bits = a.dtype.itemsize * 8
    a = a.astype(a.dtype.newbyteorder("<"))

    def apply_predictor(chunk: np.ndarray) -> np.ndarray:
        if predictor == 2:
            d = chunk.astype(np.int64)
            d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
            return d.astype(chunk.dtype)
        if predictor == 3:
            rows, cols, c = chunk.shape
            be = chunk.astype(chunk.dtype.newbyteorder(">"))
            planes = (
                be.view(np.uint8)
                .reshape(rows, cols * c, chunk.dtype.itemsize)
                .transpose(0, 2, 1)
                .reshape(rows, cols * c * chunk.dtype.itemsize)
            )
            d = planes.astype(np.int16)
            d[:, 1:] = d[:, 1:] - d[:, :-1]
            return d.astype(np.uint8)
        return chunk

    def pack(chunk: np.ndarray) -> bytes:
        raw = apply_predictor(chunk).tobytes()
        if compression == "deflate":
            return zlib.compress(raw, 6)
        if compression == "lzw":
            return _lzw_compress(raw)
        if compression == "packbits":
            out = bytearray()
            i, n = 0, len(raw)
            while i < n:
                # repeat run?
                j = i
                while j + 1 < n and raw[j + 1] == raw[i] and j - i < 127:
                    j += 1
                if j > i:  # run of (j-i+1) equal bytes
                    out += bytes([257 - (j - i + 1), raw[i]])
                    i = j + 1
                else:      # literal run up to 128 or until a 3-run starts
                    j = i
                    while (
                        j + 1 < n
                        and j - i < 127
                        and not (
                            j + 2 < n and raw[j + 1] == raw[j + 2] == raw[j]
                        )
                    ):
                        j += 1
                    out += bytes([j - i]) + raw[i : j + 1]
                    i = j + 1
            return bytes(out)
        return raw

    chunks: list[bytes] = []
    if tile_size:
        ts = tile_size
        for r0 in range(0, h, ts):
            for c0 in range(0, w, ts):
                tile = np.zeros((ts, ts, spp), dtype=a.dtype)
                vr, vc = min(ts, h - r0), min(ts, w - c0)
                tile[:vr, :vc] = a[r0 : r0 + vr, c0 : c0 + vc]
                chunks.append(pack(tile))
    else:
        chunks.append(pack(a))

    comp_code = {"none": 1, "lzw": 5, "deflate": 8,
                 "packbits": 32773}[compression]
    nodata_ascii = (
        (repr(float(nodata)).encode() + b"\x00") if nodata is not None else b""
    )

    entries: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, payload)

    def add(tag: int, ftype: int, values: tuple) -> None:
        code, _ = _FIELD_TYPES[ftype]
        if ftype == 2:
            entries.append((tag, 2, len(values[0]), values[0]))
        else:
            entries.append(
                (tag, ftype, len(values), struct.pack("<" + code * len(values), *values))
            )

    add(T_WIDTH, 4, (w,))
    add(T_HEIGHT, 4, (h,))
    add(T_BITS, 3, (bits,) * spp)
    add(T_COMPRESSION, 3, (comp_code,))
    add(T_PHOTOMETRIC, 3, (1,))
    add(T_SPP, 3, (spp,))
    add(T_PLANAR, 3, (1,))
    if predictor != 1:
        add(T_PREDICTOR, 3, (predictor,))
    add(T_SAMPLE_FORMAT, 3, (fmt,) * spp)
    if tile_size:
        add(T_TILE_W, 3, (tile_size,))
        add(T_TILE_H, 3, (tile_size,))
    else:
        add(T_ROWS_PER_STRIP, 4, (h,))
    add(T_PIXEL_SCALE, 12, tuple(pixel_scale))
    add(T_TIEPOINT, 12, tuple(tiepoint))
    if nodata_ascii:
        add(T_GDAL_NODATA, 2, (nodata_ascii,))

    # layout: header | IFD | overflow values | chunk data.
    # BigTIFF widens every offset-shaped field: 16-byte header, 8-byte IFD
    # entry count, 20-byte entries with 8 inline bytes, 8-byte next-IFD
    # pointer, and LONG8 (type 16) chunk location arrays.
    hdr_size = 16 if bigtiff else 8
    esize = 20 if bigtiff else 12
    inline = 8 if bigtiff else 4
    ptr = "Q" if bigtiff else "I"
    nfmt = "Q" if bigtiff else "H"
    loc_type, loc_code = (16, "Q") if bigtiff else (4, "I")

    n_loc = len(entries) + 2  # + offsets/counts arrays
    ifd_size = struct.calcsize(nfmt) + esize * n_loc + struct.calcsize(ptr)
    overflow_pos = hdr_size + ifd_size
    overflow: list[bytes] = []

    def entry_bytes(tag: int, ftype: int, count: int, payload: bytes) -> bytes:
        nonlocal overflow_pos
        head = struct.pack("<HH" + ptr, tag, ftype, count)
        if len(payload) <= inline:
            return head + payload.ljust(inline, b"\x00")
        e = head + struct.pack("<" + ptr, overflow_pos)
        overflow.append(payload)
        overflow_pos += len(payload)
        return e

    # chunk locations resolve after overflow: two passes over sizes
    loc_tag = (T_TILE_OFFSETS if tile_size else T_STRIP_OFFSETS)
    cnt_tag = (T_TILE_COUNTS if tile_size else T_STRIP_COUNTS)
    counts_payload = struct.pack(
        "<" + loc_code * len(chunks), *[len(c) for c in chunks]
    )
    placeholder = struct.pack("<" + loc_code * len(chunks), *([0] * len(chunks)))
    all_entries = entries + [
        (loc_tag, loc_type, len(chunks), placeholder),
        (cnt_tag, loc_type, len(chunks), counts_payload),
    ]
    all_entries.sort(key=lambda e: e[0])  # IFD must be tag-ascending

    body = b""
    rendered = []
    for tag, ftype, count, payload in all_entries:
        rendered.append(entry_bytes(tag, ftype, count, payload))
    data_pos = overflow_pos
    chunk_offsets = []
    for c in chunks:
        chunk_offsets.append(data_pos)
        data_pos += len(c)
    offsets_payload = struct.pack("<" + loc_code * len(chunks), *chunk_offsets)
    if len(offsets_payload) <= inline:
        fixed = struct.pack(
            "<HH" + ptr, loc_tag, loc_type, len(chunks)
        ) + offsets_payload.ljust(inline, b"\x00")
        rendered = [
            fixed if struct.unpack_from("<H", r)[0] == loc_tag else r
            for r in rendered
        ]
    else:
        # the placeholder already claimed an overflow slot: overwrite it
        for i, (tag, _f, _c, payload) in enumerate(all_entries):
            if tag == loc_tag:
                oi = sum(
                    1
                    for _t, _ft, _ct, p in all_entries[:i]
                    if len(p) > inline
                )
                overflow[oi] = offsets_payload
                break
    body = b"".join(rendered)
    ifd = (
        struct.pack("<" + nfmt, len(all_entries))
        + body
        + struct.pack("<" + ptr, 0)
    )
    if bigtiff:
        header = b"II+\x00" + struct.pack("<HHQ", 8, 0, 16)
    else:
        header = TIFF_MAGIC_LE + struct.pack("<I", 8)
    return header + ifd + b"".join(overflow) + b"".join(chunks)


# ---------------------------------------------------------------------------
# Spark operators: the reference's two-pass raster program, scale-first
# ---------------------------------------------------------------------------

RASTER_MINMAX_SCHEMA = "min_value DOUBLE, max_value DOUBLE, n_valid BIGINT"
RASTER_HISTO_PARTIAL_SCHEMA = "bin INT, pixel_count BIGINT"


def _valid_pixels(content: bytes, band: int) -> np.ndarray:
    """Decode + apply the reference's validity rule (main.py:46-50):
    drop NaN and the tile's declared nodata value."""
    px = decode_geotiff(content, band=band).ravel()
    info = geotiff_info(content)
    px = px[~np.isnan(px.astype(np.float64))]
    if info["nodata"] is not None:
        px = px[px != info["nodata"]]
    return px


def raster_minmax(
    assets: DataFrame, content_col: str = "content", band: int = 1
) -> DataFrame:
    """Pass 1 of the reference program (main.py:53-57): global min/max over
    all tiles' valid pixels. Each task reduces its tiles to ONE row; the
    final agg merges O(tasks) rows — pixels never leave the scan stage."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from compute_histogram_spark.multimodal.geotiff import _valid_pixels

        lo, hi, n = np.inf, -np.inf, 0
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                px = _valid_pixels(bytes(getattr(row, content_col)), band)
                if px.size:
                    lo = min(lo, float(px.min()))
                    hi = max(hi, float(px.max()))
                    n += int(px.size)
        if n:
            yield pd.DataFrame({"min_value": [lo], "max_value": [hi],
                                "n_valid": [n]})

    partials = assets.mapInPandas(kernel, RASTER_MINMAX_SCHEMA)
    return partials.agg(
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.sum("n_valid").alias("n_valid"),
    )


def raster_histogram(
    assets: DataFrame,
    min_value: float,
    max_value: float,
    bins: int = 256,
    content_col: str = "content",
    band: int = 1,
) -> DataFrame:
    """Pass 2: per-tile ``np.histogram`` partials merged by summation —
    EXACTLY the reference's merge (main.py:244-249), including
    np.histogram's closed last bin and silent drop of out-of-range pixels.

    -> (bin INT, bin_left DOUBLE, bin_right DOUBLE, pixel_count BIGINT),
    dense over all ``bins`` rows. The shuffle carries O(tasks x bins)
    pre-summed rows; at 100 TB with 256 bins that is a few KB per task.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from compute_histogram_spark.multimodal.geotiff import _valid_pixels

        acc = np.zeros(bins, dtype=np.int64)
        seen = False
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                px = _valid_pixels(bytes(getattr(row, content_col)), band)
                h, _ = np.histogram(
                    px.astype(np.float64), bins=bins,
                    range=(min_value, max_value),
                )
                acc += h
                seen = True
        if seen:
            yield pd.DataFrame(
                {"bin": np.arange(bins, dtype=np.int32), "pixel_count": acc}
            )

    partials = assets.mapInPandas(kernel, RASTER_HISTO_PARTIAL_SCHEMA)
    width = (max_value - min_value) / bins
    return (
        partials.groupBy("bin")
        .agg(F.sum("pixel_count").alias("pixel_count"))
        .select(
            "bin",
            (F.lit(min_value) + F.col("bin") * F.lit(width)).alias("bin_left"),
            (F.lit(min_value) + (F.col("bin") + 1) * F.lit(width)).alias(
                "bin_right"
            ),
            "pixel_count",
        )
        .orderBy("bin")
    )
