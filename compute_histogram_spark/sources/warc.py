"""WARC web archives (ISO 28500) as a registered Spark SOURCE.

``spark.read.format("warcdocs").option("path", <file|dir|glob>)`` exposes
a directory of ``.warc`` / ``.warc.gz`` crawl archives — the standard
container for web-scale training corpora (Common Crawl ships ~100 TB per
monthly crawl in exactly this format) — as a DOCUMENT table: one row per
selected record with the target URI, HTTP status, content type and
payload, plus optional stdlib HTML-to-text extraction. Once crawl
records are rows, the whole pipeline suite (language ID, quality
signals, dedup, decontamination, packing) applies with no new machinery.

Everything here is built from the PUBLIC format specs alone: WARC/1.0-1.1
record framing (version line, CRLF headers with RFC-822 folding, exact
Content-Length block, double-CRLF terminator; ISO 28500 §4), per-record
gzip members (§D.2 — stdlib ``gzip`` decodes concatenated members
transparently), RFC 7230 HTTP message split incl. chunked
transfer-decoding, and HTML text extraction over ``html.parser``.

Scale shape: one InputPartition per FILE — the natural parallelism unit
of a crawl dump (Common Crawl segments are ~1 GB each, tens of thousands
per crawl), so a directory fans out to one task per archive while each
task STREAMS its records; the driver lists paths only and bytes never
cross a shuffle. Filter pushdown is unnecessary: the per-record work is
dominated by decompression, which any reader pays once.

Error contract matches the GeoTIFF reader: structurally malformed
records raise ``ValueError('malformed WARC: ...')`` parser-side; the
SOURCE keeps whatever records decoded before a mid-file corruption and
marks zero-yield files with a single ``parsed=false`` row.
"""

from __future__ import annotations

import gzip as _gzip
import io

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_CRLF = b"\r\n"
_VERSIONS = (b"WARC/1.0", b"WARC/1.1")


# ------------------------------------------------------------ record layer


def _parse_header_block(block: bytes) -> dict[str, str]:
    """CRLF-separated ``Name: value`` lines with RFC-822 continuation
    folding (a line starting with SP/HT extends the previous value).
    Names are case-insensitivized to lower-case; first occurrence wins."""
    headers: dict[str, str] = {}
    last: str | None = None  # last PHYSICAL header name seen
    stored = False  # whether that header's value was kept (first occurrence)
    for raw in block.split(_CRLF):
        if not raw:
            continue
        if raw[:1] in (b" ", b"\t"):
            if last is None:
                raise ValueError("malformed WARC: continuation before any header")
            if stored:
                headers[last] += " " + raw.strip().decode("utf-8", "replace")
            # else: the continuation belongs to an IGNORED duplicate header
            # — folding it into the first occurrence would corrupt that
            # value, so it is dropped with its owner
            continue
        name, sep, value = raw.partition(b":")
        if not sep:
            raise ValueError("malformed WARC: header line without ':'")
        key = name.strip().decode("ascii", "replace").lower()
        last = key
        stored = key not in headers
        if stored:
            headers[key] = value.strip().decode("utf-8", "replace")
    return headers


_READ_CHUNK = 1 << 20  # 1 MiB refill unit for the streaming parser


def iter_warc_stream(fobj, chunk_size: int = _READ_CHUNK):
    """Yield ``(offset, headers_dict, content_bytes)`` per record from a
    binary file object, INCREMENTALLY.

    ``offset`` is the record's byte position in the (decompressed)
    stream. Framing is spec-strict: version line, header block, blank
    line, exactly ``Content-Length`` content bytes, then the two-CRLF
    record terminator. Trailing empty bytes after the last record are
    tolerated (writers commonly end the file on the terminator).

    Memory contract (the reason this is a stream, not a slurp): the
    rolling buffer holds at most one record plus one refill chunk, so a
    ~1 GB Common Crawl segment costs O(largest record) per task — not
    5 GB+ of raw-bytes + full-decompressed copies. Each parsed record is
    dropped from the buffer before the next is framed."""
    buf = bytearray()
    base = 0  # stream offset of buf[0]
    eof = False

    def _fill(need: int) -> None:
        """Grow buf to >= need bytes (or EOF)."""
        nonlocal eof
        while not eof and len(buf) < need:
            chunk = fobj.read(max(chunk_size, need - len(buf)))
            if not chunk:
                eof = True
            else:
                buf.extend(chunk)

    def _find(sub: bytes, start: int) -> int:
        """Index of sub in buf, refilling until found or EOF. The next
        probe resumes just before the previous buffer end (overlap of
        len(sub)-1), so header scanning never re-walks consumed bytes."""
        probe = start
        while True:
            i = buf.find(sub, probe)
            if i >= 0:
                return i
            if eof:
                return -1
            probe = max(start, len(buf) - len(sub) + 1)
            _fill(len(buf) + 1)

    while True:
        _fill(30)
        if not buf and eof:
            return
        # trailing blank tail: writers end on extra CRLFs. Any real record
        # needs >= 30 bytes, so a short all-whitespace remainder at EOF is
        # the only legitimate tail; a LONG whitespace run falls through to
        # the version check and raises like other junk.
        if eof and len(buf) < 30 and bytes(buf).strip() == b"":
            return
        eol = _find(_CRLF, 0)
        if eol < 0:
            raise ValueError("malformed WARC: truncated version line")
        version = bytes(buf[:eol])
        if version not in _VERSIONS:
            raise ValueError(
                f"malformed WARC: bad version line {version[:20]!r}"
            )
        hdr_end = _find(_CRLF + _CRLF, eol)
        if hdr_end < 0:
            raise ValueError("malformed WARC: truncated header block")
        headers = _parse_header_block(bytes(buf[eol + 2 : hdr_end]))
        try:
            length = int(headers["content-length"])
        except KeyError:
            raise ValueError("malformed WARC: missing Content-Length")
        except ValueError:
            raise ValueError("malformed WARC: non-integer Content-Length")
        if length < 0:
            raise ValueError("malformed WARC: negative Content-Length")
        body_start = hdr_end + 4
        body_end = body_start + length
        _fill(body_end + 4)
        if body_end + 4 > len(buf):
            # the record terminator is part of the mandatory framing
            if body_end <= len(buf) and bytes(buf[body_end:]).rstrip(b"\r\n") == b"":
                # last record, terminator possibly short — accept the
                # common writer truncation of the final two CRLFs
                yield base, headers, bytes(buf[body_start:body_end])
                return
            raise ValueError("malformed WARC: truncated content block")
        if bytes(buf[body_end : body_end + 4]) != _CRLF + _CRLF:
            raise ValueError("malformed WARC: missing record terminator")
        yield base, headers, bytes(buf[body_start:body_end])
        del buf[: body_end + 4]  # drop the consumed record — the O(1) claim
        base += body_end + 4


def iter_warc_records(data: bytes):
    """Yield ``(offset, headers_dict, content_bytes)`` per record of an
    in-memory archive — the byte-buffer twin of ``iter_warc_stream``
    (single implementation; this is a thin adapter kept for fixtures and
    tests that already hold the bytes)."""
    return iter_warc_stream(io.BytesIO(data))


def open_warc_stream(fobj):
    """Wrap a binary file object so gzip'd archives decompress
    INCREMENTALLY. Per-record gzip members (the spec's recommended
    layout, §D.2) and a single whole-file member both land here:
    ``gzip.GzipFile`` walks concatenated members transparently, and
    reading through it keeps peak memory at O(read window) instead of
    materializing the whole decompressed stream."""
    head = fobj.peek(2)[:2] if hasattr(fobj, "peek") else b""
    if head == b"\x1f\x8b":
        return _gzip.GzipFile(fileobj=fobj)
    return fobj


def read_warc(raw: bytes):
    """Dispatch plain vs gzip'd archive BYTES and iterate records (the
    in-memory convenience entry; the source itself streams from the file
    object via ``open_warc_stream`` + ``iter_warc_stream``)."""
    if raw[:2] == b"\x1f\x8b":
        return iter_warc_stream(_gzip.GzipFile(fileobj=io.BytesIO(raw)))
    return iter_warc_records(raw)


# -------------------------------------------------------------- HTTP layer


def split_http_response(payload: bytes):
    """``(status:int, headers:dict, body:bytes)`` from a raw HTTP/1.x
    response message (the content block of a WARC ``response`` record).

    Handles chunked transfer-decoding (RFC 7230 §4.1; trailers dropped)
    and trims to Content-Length when present — crawlers store the wire
    form, so both appear in real archives."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        raise ValueError("malformed HTTP: no header/body separator")
    head_lines = payload[:sep].split(_CRLF)
    status_line = head_lines[0]
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"malformed HTTP: bad status line {status_line[:30]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError("malformed HTTP: non-integer status code")
    headers: dict[str, str] = {}
    for raw in head_lines[1:]:
        name, sepc, value = raw.partition(b":")
        if not sepc:
            continue  # tolerate stray lines — crawled servers emit junk
        key = name.strip().decode("ascii", "replace").lower()
        headers.setdefault(key, value.strip().decode("utf-8", "replace"))
    body = payload[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    else:
        cl = headers.get("content-length")
        if cl is not None and cl.isdigit():
            body = body[: int(cl)]
    return status, headers, body


def _dechunk(body: bytes) -> bytes:
    out = io.BytesIO()
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("malformed HTTP: truncated chunk size line")
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            raise ValueError("malformed HTTP: bad chunk size")
        pos = eol + 2
        if size == 0:
            return out.getvalue()  # trailers (if any) are dropped
        if pos + size + 2 > len(body):
            raise ValueError("malformed HTTP: truncated chunk")
        out.write(body[pos : pos + size])
        if body[pos + size : pos + size + 2] != _CRLF:
            raise ValueError("malformed HTTP: chunk missing CRLF")
        pos = pos + size + 2


# -------------------------------------------------------------- HTML layer

_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "br", "li", "ul", "ol", "tr", "table", "section",
        "article", "header", "footer", "nav", "aside", "main",
        "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
    }
)


def html_to_text(html: str) -> str:
    """Visible text from an HTML document — stdlib ``html.parser``.

    script/style/noscript/template subtrees are dropped, block-level
    boundaries become newlines, runs of intra-line whitespace collapse
    to one space, and entity references decode (convert_charrefs). The
    result is deterministic, dependency-free input for the text
    pipeline (lang-ID, quality, dedup) — not a layout engine."""
    from html.parser import HTMLParser

    class _Extractor(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.chunks: list[str] = []
            self._skip_depth = 0

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP_TAGS:
                self._skip_depth += 1
            elif tag in _BLOCK_TAGS:
                self.chunks.append("\n")

        def handle_endtag(self, tag):
            if tag in _SKIP_TAGS and self._skip_depth:
                self._skip_depth -= 1
            elif tag in _BLOCK_TAGS:
                self.chunks.append("\n")

        def handle_data(self, data):
            if not self._skip_depth:
                self.chunks.append(data)

    p = _Extractor()
    p.feed(html)
    p.close()
    lines = []
    for raw_line in "".join(p.chunks).split("\n"):
        line = " ".join(raw_line.split())
        if line:
            lines.append(line)
    return "\n".join(lines)


_COMMENT_RE = None  # compiled lazily: the fast path imports re on first use


def html_to_text_fast(doc: str) -> str:
    """Regex tag-stripping twin of :func:`html_to_text` — the throughput
    path (measured 5-7x faster; BASELINE.md r9): drop comments and
    script/style/noscript/template subtrees, turn block-level tags into
    newlines, strip remaining tags, unescape entities, collapse
    whitespace. Identical output on well-formed markup (pinned in
    tests); DIVERGES on pathological HTML that a tokenizer handles and
    regexes cannot (unclosed <script>, '>' inside quoted attributes) —
    which is why the warcdocs default stays the html.parser tokenizer
    and this is the opt-in ``extractor=fast`` for bulk ingest, where a
    garbled extraction of a malformed page is filtered downstream by the
    quality signals anyway."""
    global _COMMENT_RE, _SKIP_RE, _BLOCK_RE, _TAG_RE
    import html as _html
    import re

    if _COMMENT_RE is None:
        _COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
        _SKIP_RE = re.compile(
            r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>",
            re.IGNORECASE | re.DOTALL,
        )
        _BLOCK_RE = re.compile(
            r"</?(?:" + "|".join(sorted(_BLOCK_TAGS)) + r")\b[^>]*/?>",
            re.IGNORECASE,
        )
        _TAG_RE = re.compile(r"<[^>]+>")
    doc = _COMMENT_RE.sub("", doc)
    doc = _SKIP_RE.sub("", doc)
    doc = _BLOCK_RE.sub("\n", doc)
    doc = _TAG_RE.sub("", doc)  # inline tags vanish without a separator,
    # exactly like the tokenizer path (handle_data concatenation)
    doc = _html.unescape(doc)
    lines = []
    for raw_line in doc.split("\n"):
        line = " ".join(raw_line.split())
        if line:
            lines.append(line)
    return "\n".join(lines)


def _decode_charset(body: bytes, content_type: str) -> str:
    """Body text via the Content-Type charset, utf-8 otherwise; decode
    errors are replaced, never raised — crawl bodies lie about their
    encodings routinely and a reader must not fail the scan over it."""
    charset = "utf-8"
    for token in content_type.split(";")[1:]:
        k, _, v = token.partition("=")
        if k.strip().lower() == "charset" and v.strip():
            charset = v.strip().strip("\"'")
    try:
        return body.decode(charset, "replace")
    except LookupError:  # unknown charset label
        return body.decode("utf-8", "replace")


# ------------------------------------------------------------ Spark source

WARC_SCHEMA = (
    "path STRING, record_offset BIGINT, warc_type STRING, warc_date STRING, "
    "record_id STRING, target_uri STRING, http_status INT, "
    "content_type STRING, content_length BIGINT, payload BINARY, "
    "text STRING, parsed BOOLEAN"
)


class WarcDocsDataSource(DataSource):
    """``spark.read.format("warcdocs").option("path", ...)``.

    Registration: ``spark.dataSource.register(WarcDocsDataSource)``.

    Options: ``path`` (file, directory, or glob — required), ``types``
    (comma list of WARC-Type values to keep, default ``response``),
    ``extract`` (``true``/``false``, default true — fill ``text`` with
    html_to_text for HTML payloads, decoded body text for text/*)."""

    @classmethod
    def name(cls) -> str:
        return "warcdocs"

    def schema(self) -> str:
        return WARC_SCHEMA

    def reader(self, schema):  # noqa: ANN001 — framework signature
        return _WarcDocsReader(self.options)

    def streamReader(self, schema):  # noqa: ANN001 — framework signature
        return _WarcDocsStreamReader(self.options)


class _WarcOptions:
    """Option parsing + per-file scan shared by the batch and stream
    readers (both are pickled to executors, so this must stay
    self-contained)."""

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("warcdocs source requires .option('path', ...)")
        self._path = path
        self._types = {
            t.strip().lower()
            for t in options.get("types", "response").split(",")
            if t.strip()
        }
        self._extract = str(options.get("extract", "true")).lower() != "false"
        extractor = str(options.get("extractor", "parser")).lower()
        if extractor not in ("parser", "fast"):
            raise ValueError("warcdocs: extractor must be 'parser' or 'fast'")
        self._extractor = extractor

    def _list(self) -> list[str]:
        import glob
        import os

        if os.path.isdir(self._path):
            files = sorted(
                os.path.join(self._path, f)
                for f in os.listdir(self._path)
                if f.lower().endswith((".warc", ".warc.gz"))
            )
            pattern = os.path.join(self._path, "*.warc[.gz] (any case)")
        else:
            pattern = self._path
            files = sorted(glob.glob(pattern))
        if not files:
            raise ValueError(f"warcdocs: no files match {pattern!r}")
        return files

    def _scan_file(self, path):
        yielded = False
        try:
            with open(path, "rb") as f:
                stream = open_warc_stream(f)
                for offset, headers, content in iter_warc_stream(stream):
                    wtype = headers.get("warc-type", "").lower()
                    if self._types and wtype not in self._types:
                        continue
                    row = self._row(path, offset, headers, wtype, content)
                    if row is not None:
                        yielded = True
                        yield row
        except Exception:
            # keep records parsed before a mid-file corruption; a file
            # with ZERO parsed records yields one parsed=false marker
            if not yielded:
                yield (
                    path, None, None, None, None, None, None, None, None,
                    None, None, False,
                )

    def _row(self, path, offset, headers, wtype, content):
        uri = headers.get("warc-target-uri")
        status = None
        ctype = None
        body = content
        if wtype in ("response", "revisit"):
            try:
                status, http_headers, body = split_http_response(content)
            except ValueError:
                return None  # HTTP-layer junk: skip the record, not the file
            ctype = http_headers.get("content-type")
        else:
            ctype = headers.get("content-type")
        text = None
        if self._extract and body and ctype:
            base = ctype.split(";")[0].strip().lower()
            if base in ("text/html", "application/xhtml+xml"):
                fn = html_to_text_fast if self._extractor == "fast" else html_to_text
                text = fn(_decode_charset(body, ctype))
            elif base.startswith("text/"):
                text = _decode_charset(body, ctype)
        return (
            path,
            offset,
            wtype,
            headers.get("warc-date"),
            headers.get("warc-record-id"),
            uri,
            status,
            ctype,
            len(body) if body is not None else None,
            bytes(body) if body is not None else None,
            text,
            True,
        )


class _WarcDocsReader(_WarcOptions, DataSourceReader):
    def partitions(self):
        # one partition per ARCHIVE: crawl dumps ship thousands of ~1 GB
        # segment files; the driver touches only the listing
        return [InputPartition(p) for p in self._list()]

    def read(self, partition):
        return self._scan_file(partition.value)


class _WarcDocsStreamReader(_WarcOptions, DataSourceStreamReader):
    """Micro-batch tail of a growing crawl directory.

    Each batch covers the segment files that appeared since the last
    offset; a file is still one InputPartition, scanned executor-side by
    the shared per-file walk, so the streaming path has the batch path's
    exact scale shape. The offset is the lexicographically LARGEST file
    name processed so far — O(1) state, no per-file ledger — which
    relies on the crawl-dump convention that segment names grow
    monotonically (``seg-00000``, ``seg-00001``, ...; Common Crawl and
    every WARC writer here follow it). A late file sorting BELOW the
    watermark is never picked up; name your segments monotonically or
    use the batch reader."""

    def initialOffset(self):
        return {"last": ""}

    def _listing(self):
        try:
            return self._list()
        except ValueError:
            return []  # an empty directory is a quiet tail, not an error

    def latestOffset(self):
        names = self._listing()
        return {"last": names[-1] if names else ""}

    def partitions(self, start, end):
        lo, hi = start.get("last", ""), end.get("last", "")
        return [
            InputPartition(p) for p in self._listing() if lo < p <= hi
        ]

    def read(self, partition):
        return self._scan_file(partition.value)

    def commit(self, end):
        pass  # the watermark offset is the whole state


# --------------------------------------------------------------- fixtures


def build_warc_record(
    warc_type: str = "response",
    uri: str = "http://example.com/",
    date: str = "2026-01-01T00:00:00Z",
    record_id: str = "<urn:uuid:00000000-0000-0000-0000-000000000001>",
    content: bytes = b"",
    extra_headers: dict[str, str] | None = None,
    version: str = "WARC/1.0",
) -> bytes:
    """One spec-valid WARC record (fixture builder for the parser)."""
    lines = [
        version.encode(),
        f"WARC-Type: {warc_type}".encode(),
        f"WARC-Target-URI: {uri}".encode() if uri else None,
        f"WARC-Date: {date}".encode(),
        f"WARC-Record-ID: {record_id}".encode(),
        f"Content-Length: {len(content)}".encode(),
    ]
    for k, v in (extra_headers or {}).items():
        lines.append(f"{k}: {v}".encode())
    head = _CRLF.join(x for x in lines if x is not None)
    return head + _CRLF + _CRLF + content + _CRLF + _CRLF


def build_http_response(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
    chunked: bool = False,
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """A raw HTTP/1.1 response message — the content block of a WARC
    ``response`` record. ``chunked=True`` emits the body as two
    transfer-encoding chunks (exercises the de-chunker)."""
    lines = [f"HTTP/1.1 {status} X".encode(), f"Content-Type: {content_type}".encode()]
    for k, v in (extra_headers or {}).items():
        lines.append(f"{k}: {v}".encode())
    if chunked:
        lines.append(b"Transfer-Encoding: chunked")
        half = max(1, len(body) // 2)
        payload = b""
        for chunk in (body[:half], body[half:]):
            if chunk:
                payload += f"{len(chunk):x}".encode() + _CRLF + chunk + _CRLF
        payload += b"0" + _CRLF + _CRLF
    else:
        lines.append(f"Content-Length: {len(body)}".encode())
        payload = body
    return _CRLF.join(lines) + _CRLF + _CRLF + payload


def build_warc(records: list[bytes], gzip_per_record: bool = False) -> bytes:
    """Concatenate records into an archive; ``gzip_per_record=True``
    compresses each record as its own gzip member (the spec layout)."""
    if gzip_per_record:
        return b"".join(_gzip.compress(r) for r in records)
    return b"".join(records)
