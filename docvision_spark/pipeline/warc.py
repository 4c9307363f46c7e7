"""WARC source: ingest Common-Crawl-style WARC files into the pages table.

The reference's file-scan source (S1, core/parser.py:554-563) reads one
local image path; the web-scale twin is a WARC archive scan:

    spark.read.format("binaryFile").load("*.warc.gz")
      -> mapInPandas(parse_warc)  (one archive per row, many pages out)
      -> pages table (url, warc_ts, html, text, lang)

Parser is a deterministic WARC/1.0 subset (what Common Crawl emits for
response records): CRLF header block, Content-Length framed payload,
HTTP response envelope stripped — including the two HTTP-level framings
real crawls capture verbatim from servers: Transfer-Encoding: chunked
bodies are de-chunked, and Content-Encoding: gzip / x-gzip / deflate
(both zlib-wrapped and raw) bodies are decompressed. Bodies whose
declared coding cannot be decoded with the stdlib (br/zstd — no brotli
or zstd in this container) or whose framing is corrupt are SKIPPED like
any other malformed record, never passed through compressed (compressed
bytes would garbage-extract downstream). gzip member-per-record and
plain concatenated files both supported via stdlib gzip/zlib only.

The writer exists so the corpus can round-trip: write_warc(pages) ->
read_warc -> identical page rows (tested).
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

_CRLF = b"\r\n"


def _dechunk(body: bytes) -> bytes | None:
    """Decode a Transfer-Encoding: chunked HTTP body (RFC 9112 §7.1):
    hex-size line (chunk extensions after ';' ignored) + chunk + CRLF,
    terminated by a zero-size chunk; trailer section ignored. Returns
    None on corrupt framing."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            return None
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) ignored
        if pos + size > n:
            return None
        out += body[pos:pos + size]
        pos += size
        if body[pos:pos + 2] != _CRLF:
            return None
        pos += 2


def _decode_http_body(headers: dict[str, str], body: bytes) -> bytes | None:
    """Undo the HTTP framings a crawl captures verbatim: chunked transfer
    coding, then gzip/deflate content coding. Returns None when the body
    declares a coding we cannot decode (br/zstd) or the framing/stream is
    corrupt — the caller skips the record."""
    te = [t.strip() for t in headers.get("transfer-encoding", "").lower()
          .split(",") if t.strip() and t.strip() != "identity"]
    if te == ["chunked"]:
        body = _dechunk(body)
        if body is None:
            return None
    elif te:
        # stacked transfer codings ('gzip, chunked') or anything else we
        # cannot fully undo: skip — the module contract is that
        # compressed bytes are NEVER passed through to the extractor
        return None
    ce = headers.get("content-encoding", "").strip().lower()
    if ce in ("", "identity"):
        return body
    if ce in ("gzip", "x-gzip"):
        try:
            return gzip.decompress(body)
        except (OSError, EOFError):
            return None
    if ce == "deflate":
        import zlib
        for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):  # zlib-wrapped, raw
            try:
                return zlib.decompress(body, wbits)
            except zlib.error:
                continue
        return None
    return None  # br / zstd / multi-codings: undecodable here, skip


def write_warc(records: list[dict], path: str, compress: bool = True) -> None:
    """Write WARC/1.0 response records. records: dicts with url (str),
    warc_ts (datetime), payload (bytes), lang (str, stored as a custom
    header so the round-trip is lossless). An optional per-record
    "coding" applies the HTTP framing real servers emit — "chunked",
    "gzip", "deflate", or "chunked+gzip" — so the reader's decode path
    can be exercised end-to-end."""
    out = io.BytesIO()
    for r in records:
        body = r["payload"]
        coding = r.get("coding", "")
        extra = b""
        if "gzip" in coding:
            body = gzip.compress(body, compresslevel=1)
            extra += b"Content-Encoding: gzip\r\n"
        elif "deflate" in coding:
            import zlib
            body = zlib.compress(body)
            extra += b"Content-Encoding: deflate\r\n"
        if "chunked" in coding:
            chunks = bytearray()
            for i in range(0, len(body), 512):
                part = body[i:i + 512]
                chunks += f"{len(part):x}".encode() + _CRLF + part + _CRLF
            chunks += b"0" + _CRLF + _CRLF
            body = bytes(chunks)
            extra += b"Transfer-Encoding: chunked\r\n"
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: " +
                (b"application/pdf" if r["payload"][:5] == b"%PDF-"
                 else b"text/html") + _CRLF + extra +
                f"Content-Length: {len(body)}".encode() + _CRLF +
                _CRLF + body)
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        header = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {r['url']}".encode() + _CRLF
            + f"WARC-Date: {ts}".encode() + _CRLF
            + f"X-Crawl-Lang: {r.get('lang', '')}".encode() + _CRLF
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}".encode() + _CRLF
            + _CRLF
        )
        out.write(header + http + _CRLF + _CRLF)
    data = out.getvalue()
    if compress:
        data = gzip.compress(data, compresslevel=1)
    with open(path, "wb") as f:
        f.write(data)


def parse_warc_bytes(blob: bytes) -> list[dict]:
    """Parse WARC bytes (gzipped or plain) -> page dicts. Deterministic;
    malformed records are skipped, never raised."""
    if blob[:2] == b"\x1f\x8b":
        try:
            blob = gzip.decompress(blob)
        except OSError:
            return []
    pages: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        head_start = blob.find(b"WARC/1.0", pos)
        if head_start < 0:
            break
        head_end = blob.find(_CRLF + _CRLF, head_start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in blob[head_start:head_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            pos = head_end + 4
            continue
        body = blob[head_end + 4: head_end + 4 + clen]
        pos = head_end + 4 + clen
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        try:
            ts = datetime.strptime(
                headers.get("warc-date", ""), "%Y-%m-%dT%H:%M:%SZ"
            ).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
        # strip the HTTP envelope, undoing transfer/content codings
        http_end = body.find(_CRLF + _CRLF)
        if http_end >= 0:
            hhdrs: dict[str, str] = {}
            for line in body[:http_end].split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                hhdrs[k.strip().decode("latin-1").lower()] = \
                    v.strip().decode("latin-1")
            payload = _decode_http_body(hhdrs, body[http_end + 4:])
            if payload is None:
                continue  # undecodable coding / corrupt framing: skip
        else:
            payload = body
        pages.append({
            "url": url, "warc_ts": ts, "html": payload,
            "text": None, "lang": headers.get("x-crawl-lang") or None,
        })
    return pages


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan -> pages DataFrame. One archive per input row
    (binaryFile source); archives fan out in parallel, each parsed in a
    python worker over Arrow. At CC scale: ~1 GB per .warc.gz, thousands of
    files, partitions = files."""
    from docvision_spark.pipeline.shipping import map_in_pandas

    blobs = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.warc*").load(path) \
        .select("content")

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from docvision_spark.pipeline.warc import parse_warc_bytes

        cols = [f.name for f in PAGES_SCHEMA.fields]
        for pdf in it:
            for blob in pdf["content"]:
                rows = parse_warc_bytes(bytes(blob))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return map_in_pandas(blobs, fn, PAGES_SCHEMA)
