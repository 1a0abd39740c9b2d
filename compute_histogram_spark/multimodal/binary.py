"""Multimodal columns as opaque BINARY + typed metadata.

An asset table (``ASSET_SCHEMA``: id, kind, content bytes, source) is
read by Arrow-batched ``mapInPandas`` kernels in the scan stage's task.
:func:`extract_features` emits one metadata row per asset. For images it
parses a REAL header for exactly two formats, both with the stdlib:
PNG (IHDR, this module) and TIFF (first IFD, ``multimodal/geotiff.py``).
Every other payload gets a clearly-marked deterministic fake derived
from the sha256 of its bytes, so results are stable and the text-derived
``multimodal_features`` query has a value-exact DuckDB oracle.

Scale notes: mapInPandas streams Arrow batches — one batch in memory per
task, never the whole partition; binary payloads never pass through a
shuffle (feature extraction projects them away first); at 100 TB the asset
table is stored with payloads in their own parquet column (column pruning
skips them unless the kernel asks).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from compute_histogram_spark.multimodal.geotiff import (
    TIFF_MAGIC_BE,
    TIFF_MAGIC_LE,
    geotiff_info,
)

ASSET_SCHEMA = (
    "asset_id BIGINT, kind STRING, content BINARY, source STRING"
)

FEATURE_SCHEMA = (
    "asset_id BIGINT, kind STRING, n_bytes BIGINT, sha256 STRING, "
    "width INT, height INT, n_channels INT"
)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic asset table derived from ``documents``: the UTF-8 bytes
    of each text as an opaque 'image' payload. Stands in for a real
    (asset_id, kind, content, source) landing table so the multimodal path
    has a driver-checkable query; schema/plumbing identical to real assets.
    """
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.col("source"),
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type: gray, RGB, palette, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def png_info(content: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the IHDR chunk — a REAL stdlib-only
    decode of PNG metadata (signature + first chunk), no codec library."""
    import struct

    if not content.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    length, ctype = struct.unpack(">I4s", content[8:16])
    if ctype != b"IHDR" or length != 13:
        raise ValueError("malformed PNG: IHDR not first")
    w, h, _depth, color_type = struct.unpack(">IIBB", content[16:26])
    return w, h, _PNG_CHANNELS[color_type]


def encode_png(arr) -> bytes:
    """Minimal stdlib PNG writer (filter 0, one IDAT) for ``uint8``
    ``[h, w]`` or ``[h, w, channels]`` arrays — the fixture generator for
    the real PNG header path of :func:`decode_image`."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    scanlines = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 6))
        + chunk(b"IEND", b"")
    )


def decode_image(content: bytes) -> tuple[int, int, int]:
    """(width, height, channels). REAL for PNG (IHDR) and TIFF (first
    IFD); DETERMINISTIC FAKE for everything else, JPEG, GIF and WebP
    included: dimensions derived from the content digest — stable,
    content-addressed, clearly not a real decode. Magic-byte gating means
    synthetic (text) payloads always take the fake path, keeping the
    driver oracle exact. Never raises: a malformed header takes the fake
    path too, so one bad payload cannot poison the whole Arrow batch."""
    try:
        if content.startswith(PNG_MAGIC):
            return png_info(content)
        if content.startswith((TIFF_MAGIC_LE, TIFF_MAGIC_BE)):
            i = geotiff_info(content)
            return i["width"], i["height"], i["bands"]
    except Exception:
        pass
    d = hashlib.sha256(content).digest()
    return 16 + d[0] % 240, 16 + d[1] % 240, 1 + d[2] % 3


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset features via Arrow-batched mapInPandas; non-image kinds
    get zeroed dimensions.

    The kernel imports :func:`decode_image` executor-side — ship the
    package to executors like any Spark app dependency (``--py-files`` /
    archives) — so the header parsers exist once.

    Arrow batch sizing comes from the session conf
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — it is read at JOB
    time, so setting it here and restoring before returning the (lazy)
    DataFrame would be a no-op; size it where the job runs.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from compute_histogram_spark.multimodal.binary import decode_image

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content)
                w, h, c = (
                    decode_image(content) if row.kind == "image" else (0, 0, 0)
                )
                out.append(
                    (
                        row.asset_id,
                        row.kind,
                        len(content),
                        hashlib.sha256(content).hexdigest(),
                        w,
                        h,
                        c,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "kind",
                    "n_bytes",
                    "sha256",
                    "width",
                    "height",
                    "n_channels",
                ],
            )

    return assets.mapInPandas(kernel, FEATURE_SCHEMA)
