"""WARC ingestion — read Common Crawl's native archive format (ISO 28500 /
the public WARC 1.0/1.1 specification) straight into the pipeline's pages
schema, so the engine consumes real crawl archives, not just parquet
exports.

Format essentials (from the public spec only):
  * a WARC file is a concatenation of records; Common Crawl ships each
    record as its own gzip member (a "member-gzipped" .warc.gz), which
    plain ``gzip.decompress`` handles transparently for the whole stream
    because Python's zlib consumes members back-to-back via
    ``decompressobj`` loops;
  * a record is ``WARC/1.x CRLF`` + header lines (``Name: value``) +
    ``CRLF CRLF`` + exactly ``Content-Length`` payload bytes + ``CRLF
    CRLF``;
  * ``response`` records carry an HTTP response (status line + headers +
    CRLF CRLF + body) as payload; the page bytes are the HTTP body.

Scale shape: ``spark.read.format('binaryFile')`` gives (path, content)
rows — one WARC file per row — and the record scan runs inside
``mapInPandas`` so archives are parsed executor-side, in parallel across
files, and the driver never sees payload bytes.  WARC files are not
splittable mid-record (gzip members would be, with an index; plain
concatenation is not), so per-FILE parallelism is the unit — exactly how
Common Crawl shards its crawls (tens of thousands of ~1 GB segment files),
which keeps every executor busy at any cluster size.
"""

from __future__ import annotations

import gzip
import io
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
#: WARC reads additionally carry the HTTP-declared charset so ingest's
#: extraction honors the transport encoding (functions/textnorm precedence:
#: BOM > this hint > <meta charset> > utf-8); parquet/JSONL pages without
#: the column behave exactly as before
PAGES_CHARSET_DDL = PAGES_DDL + ", charset string"

_CRLF = b"\r\n"
#: quoted parameter values are legal HTTP (charset="shift_jis") — consume
#: an optional opening quote so the token group never starts at the quote
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([^;\s\"']+)", re.IGNORECASE)


def _gunzip_all(data: bytes) -> bytes:
    """Decompress a possibly multi-member gzip stream (or passthrough).
    A corrupt/truncated member ends decompression with the intact prefix —
    damaged segment files are routine at crawl scale and must cost their
    own records only, never the task."""
    if data[:2] != b"\x1f\x8b":
        return data
    out = io.BytesIO()
    pos = 0
    import zlib

    while pos < len(data):
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        try:
            out.write(d.decompress(data[pos:]))
            out.write(d.flush())
        except zlib.error:
            break
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return out.getvalue()


def _bump(stats: "dict | None", key: str, by: int = 1) -> None:
    if stats is not None:
        stats[key] = stats.get(key, 0) + by


def iter_warc_records(
    data: bytes, stats: "dict | None" = None
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, payload) per WARC record in a (possibly gzipped)
    WARC byte stream.  Total over damage (crawl-scale archives carry it in
    volume), and NEVER silent about it:

      * a record with a missing/unparseable ``Content-Length`` is SKIPPED by
        re-syncing to the next ``CRLF WARC/`` magic — the records after it
        still parse (a single bad record used to drop the archive's whole
        tail), and ``stats['records_skipped']`` counts it;
      * a truncated tail (header block or declared payload running past the
        end) stops iteration with the complete prefix yielded and counts as
        ``records_truncated``.

    ``stats``, when passed, is mutated in place (counter dict)."""
    data = _gunzip_all(data)
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] == _CRLF:
            pos += 2
        if not data[pos : pos + 5] == b"WARC/":
            break
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            _bump(stats, "records_truncated")
            break
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(_CRLF)[1:]:
            k, _, v = line.decode("utf-8", errors="replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # corrupt record: skip to the next record magic so the rest of
            # the archive still parses; counted, never silent
            _bump(stats, "records_skipped")
            nxt = data.find(_CRLF + b"WARC/", head_end)
            if nxt < 0:
                break
            pos = nxt + 2
            continue
        body_start = head_end + 4
        if length < 0 or body_start + length > n:
            _bump(stats, "records_truncated")
            break
        yield headers, data[body_start : body_start + length]
        pos = body_start + length


def _dechunk(body: bytes) -> tuple[bytes, bool]:
    """Decode ``Transfer-Encoding: chunked`` framing (RFC 9112 §7.1):
    hex-size line (chunk extensions after ';' ignored) + CRLF + chunk bytes
    + CRLF, terminated by a zero-size chunk (trailer fields ignored).
    Malformed/truncated framing returns the RAW body with ok=False — the
    function is total and the caller counts the degradation."""
    out = io.BytesIO()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            return body, False
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return body, False
        if size < 0:
            return body, False
        if size == 0:
            return out.getvalue(), True
        start = eol + 2
        end = start + size
        if end + 2 > n or body[end : end + 2] != _CRLF:
            return body, False
        out.write(body[start:end])
        pos = end + 2


def _decompress(body: bytes, coding: str) -> tuple[bytes, bool]:
    """Decode one ``Content-Encoding``/``Transfer-Encoding`` content coding.
    gzip/x-gzip and deflate (both the RFC's zlib-wrapped form and the
    raw-deflate form broken servers ship — tried in that order) decode;
    identity passes through; anything else (br, zstd, compress) or corrupt
    compressed bytes returns the RAW body with ok=False, counted upstream —
    compressed soup must never masquerade as page text silently."""
    import zlib

    enc = coding.strip().lower()
    if enc in ("identity", ""):
        return body, True
    try:
        if enc in ("gzip", "x-gzip"):
            d = zlib.decompressobj(wbits=31)
            return d.decompress(body) + d.flush(), True
        if enc == "deflate":
            try:
                d = zlib.decompressobj(wbits=15)
                return d.decompress(body) + d.flush(), True
            except zlib.error:
                d = zlib.decompressobj(wbits=-15)
                return d.decompress(body) + d.flush(), True
    except zlib.error:
        return body, False
    return body, False


def _http_body(
    payload: bytes, stats: "dict | None" = None
) -> tuple[bytes, str | None]:
    """HTTP response payload -> (decoded body bytes, Content-Type charset or
    None).  The header charset is the TRANSPORT encoding signal — real
    Common Crawl is full of latin-1 / windows-1252 / shift-jis pages whose
    only correct decode hint lives here; discarding it yields deterministic
    mojibake.

    WARC response records store the HTTP message AS CAPTURED, so real
    archives carry ``Transfer-Encoding: chunked`` framing and
    ``Content-Encoding: gzip/deflate`` compression in volume; both are
    decoded here, BEFORE the downstream charset decode (RFC order: transfer
    codings first, then content codings).  Every step is total — malformed
    framing or corrupt compressed bytes fall back to the raw bytes with a
    counter bump (``dechunk_failures`` / ``decompress_failures``), never an
    exception and never a silent drop."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        return payload, None
    charset = None
    te_tokens: list[str] = []
    ce_tokens: list[str] = []
    for line in payload[:sep].split(_CRLF):
        low = line.lower()
        if low[:13] == b"content-type:":
            m = _CHARSET_RE.search(line)
            if m:
                charset = m.group(1).decode("ascii", errors="replace")
        elif low[:18] == b"transfer-encoding:":
            te_tokens = [
                t.strip() for t in line[18:].decode("ascii", errors="replace").split(",")
                if t.strip()
            ]
        elif low[:17] == b"content-encoding:":
            ce_tokens = [
                t.strip() for t in line[17:].decode("ascii", errors="replace").split(",")
                if t.strip()
            ]
    body = payload[sep + 4 :]
    # transfer codings decode first; 'chunked' is always the last-applied
    # coding per the RFC, so it is the first removed
    if te_tokens and te_tokens[-1].lower() == "chunked":
        body, ok = _dechunk(body)
        _bump(stats, "bodies_dechunked" if ok else "dechunk_failures")
        te_tokens = te_tokens[:-1]
    # any remaining transfer codings, then content codings, in reverse
    # application order (sender applied left-to-right)
    for coding in list(reversed(te_tokens)) + list(reversed(ce_tokens)):
        decoded, ok = _decompress(body, coding)
        if not ok:
            _bump(stats, "decompress_failures")
            break
        if coding.strip().lower() not in ("identity", ""):
            _bump(stats, "bodies_decompressed")
        body = decoded
    return body, charset


def warc_bytes_to_pages(
    data: bytes, record_type: str = "response", stats: "dict | None" = None
) -> list[dict]:
    """One WARC archive -> pages rows.

    ``record_type='response'``: raw-crawl WARC — the HTTP body (de-chunked
    and content-decoded) becomes the ``html`` column, text extraction
    happens downstream in ingest.
    ``record_type='conversion'``: Common Crawl WET — the payload IS
    extracted utf-8 text, shipped in the ``text`` column with ``html``
    null (the pruned-ingest plan: the scan never touches html).

    ``stats`` (optional, mutated in place) collects the damage/degradation
    counters: records_skipped, records_truncated, bodies_dechunked,
    dechunk_failures, bodies_decompressed, decompress_failures."""
    rows = []
    for headers, payload in iter_warc_records(data, stats=stats):
        if headers.get("warc-type") != record_type:
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = pd.to_datetime(headers.get("warc-date"), utc=True, errors="coerce")
        charset = None
        if record_type == "conversion":
            # WET conversion records are utf-8 text by the published spec
            html, text = None, payload.decode("utf-8", errors="replace")
        else:
            html, charset = _http_body(payload, stats=stats)
            text = None
        rows.append(
            {
                "url": url,
                # a record with no/invalid WARC-Date yields None (to_datetime
                # returns None for None input, NaT for unparseable)
                "warc_ts": None if ts is None or ts is pd.NaT else ts.tz_localize(None),
                "html": html,
                "text": text,
                "lang": None,
                "charset": charset,
            }
        )
    return rows


def read_warc(spark: SparkSession, path: str, record_type: str = "response") -> DataFrame:
    """WARC/WET file(s)/glob -> pages DataFrame (url, warc_ts, html, text,
    lang).  ``record_type='conversion'`` reads Common Crawl WET text
    records (pair with ``extract_pages(recompute_text=False)``).

    Parsing runs executor-side via mapInPandas over binaryFile rows; feed
    the result to DedupPipeline.run (ingest's html->text extraction and
    null-policy then apply as for any pages input)."""
    if record_type not in ("response", "conversion"):
        raise ValueError(f"record_type must be 'response' or 'conversion', got {record_type!r}")
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "warc_ts", "html", "text", "lang", "charset"]
        for pdf in batches:
            for content in pdf["content"]:
                rows = warc_bytes_to_pages(bytes(content), record_type)
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(gen, schema=PAGES_CHARSET_DDL)


#: per-archive damage/degradation counters surfaced by read_warc_stats —
#: the no-silent-caps contract for the ingestion edge
WARC_STAT_KEYS = (
    "records_yielded",
    "records_skipped",
    "records_truncated",
    "bodies_dechunked",
    "dechunk_failures",
    "bodies_decompressed",
    "decompress_failures",
)
_WARC_STATS_DDL = "path string, " + ", ".join(f"{k} long" for k in WARC_STAT_KEYS)


def read_warc_stats(
    spark: SparkSession, path: str, record_type: str = "response"
) -> DataFrame:
    """Per-archive parse/damage counters for WARC file(s)/glob — the audit
    companion to :func:`read_warc` (records skipped over corruption, bodies
    de-chunked/decompressed, decode failures).  Runs the same executor-side
    parse over a fresh binaryFile scan; an audit pass costs one extra read
    of the archives, and the page-producing scan stays a clean
    single-purpose plan."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                stats: dict = {}
                rows = warc_bytes_to_pages(bytes(content), record_type, stats=stats)
                stats["records_yielded"] = len(rows)
                out.append({"path": p, **{k: stats.get(k, 0) for k in WARC_STAT_KEYS}})
            yield pd.DataFrame(out, columns=["path", *WARC_STAT_KEYS])

    return files.mapInPandas(gen, schema=_WARC_STATS_DDL)


def write_warc(rows: list[dict], gzip_members: bool = True) -> bytes:
    """pages-style rows -> WARC bytes (response records; test encoder so no
    external WARC library is needed).

    Optional per-row keys exercise the transport decodings the reader
    undoes: ``content_encoding`` ('gzip'/'deflate') compresses the body and
    declares the header; ``transfer_chunked`` (True or a chunk size int)
    applies chunked framing and declares ``Transfer-Encoding: chunked``."""
    out = io.BytesIO()
    for r in rows:
        body = r.get("html") or b""
        extra_headers = b""
        enc = r.get("content_encoding")
        if enc:
            import zlib

            if enc == "gzip":
                body = gzip.compress(body)
            elif enc == "deflate":
                body = zlib.compress(body)
            else:
                raise ValueError(f"unsupported content_encoding {enc!r}")
            extra_headers += f"Content-Encoding: {enc}\r\n".encode()
        chunked = r.get("transfer_chunked")
        if chunked:
            size = 64 if chunked is True else int(chunked)
            chunks = [body[i : i + size] for i in range(0, len(body), size)]
            framed = b"".join(
                b"%x\r\n%s\r\n" % (len(c), c) for c in chunks
            ) + b"0\r\n\r\n"
            body = framed
            extra_headers += b"Transfer-Encoding: chunked\r\n"
        ctype = "text/html" + (
            f"; charset={r['charset']}" if r.get("charset") else ""
        )
        # errors='replace': read_warc itself can surface U+FFFD in a
        # malformed header's charset token — round-tripping such rows must
        # not abort the writer
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: "
            + ctype.encode("ascii", errors="replace") + b"\r\n"
            + extra_headers + b"\r\n" + body
        )
        ts = r.get("warc_ts")
        date = (
            pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
            if ts is not None
            else "2025-01-01T00:00:00Z"
        )
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(http)}\r\n"
        ).encode()
        rec = head + _CRLF + http + _CRLF + _CRLF
        out.write(gzip.compress(rec) if gzip_members else rec)
    return out.getvalue()
