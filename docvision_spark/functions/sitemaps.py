"""Sitemap ingestion (sitemaps.org protocol): the crawl frontier's seed.

robots.txt names them (functions/robots.py collects Sitemap: lines); this
module parses the three wire formats hosts actually serve —

  - XML <urlset> of <url><loc> entries (lastmod kept when present),
  - XML <sitemapindex> of <sitemap><loc> child references,
  - plain-text one-url-per-line,

each optionally gzip-compressed (sniffed, stdlib zlib) — and turns them
into a (host, kind, loc, lastmod) entry table with a mapInPandas stage
(sitemaps number in the millions at crawl scale; one task parses many).
The frontier diff (listed-but-not-crawled / crawled-but-not-listed) is
then plain relational algebra against the pages table.

XML sitemaps are tokenized by kernel/xml_scan.py, the XML subset shared
with the feed and SVG readers; entity decode uses the shared WHATWG table
and malformed markup degrades to skip-ahead.
"""
from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

ENTRY_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("kind", StringType()),      # urlset | sitemapindex | text
    StructField("loc", StringType()),
    StructField("lastmod", StringType()),   # raw W3C datetime string
    StructField("error", StringType()),
])

_MAX_ENTRIES = 50000  # the protocol's own per-file cap
_URL_PREFIXES = ("http://", "https://")  # an entry must be an absolute url


def parse_sitemap(payload: bytes) -> dict:
    """Sitemap bytes -> {kind, entries: [(loc, lastmod)], error}.
    For a sitemapindex, entries are the CHILD sitemap locations. An XML
    sitemap's kind is its root element's name; in both formats only
    http(s) urls become entries."""
    from docvision_spark.kernel.entities import decode_entities
    from docvision_spark.kernel.xml_scan import CDATA, START, TEXT, scan

    if payload[:2] == b"\x1f\x8b":
        try:
            payload = gzip.decompress(payload)
        except OSError as e:
            return {"kind": None, "entries": [], "error": f"gzip: {e}"}
    text = payload.decode("utf-8", errors="replace")
    stripped = text.lstrip("﻿ \t\r\n")
    if not stripped.startswith("<"):
        # plain-text sitemap: one absolute url per line
        entries = []
        for line in text.splitlines():
            line = line.strip()
            if line.startswith(_URL_PREFIXES):
                entries.append((line, None))
            if len(entries) >= _MAX_ENTRIES:
                break
        if not entries:
            return {"kind": None, "entries": [],
                    "error": "not xml and no url lines"}
        return {"kind": "text", "entries": entries, "error": None}

    # track url/sitemap containers, capture loc/lastmod text
    kind = None
    entries: list[tuple[str, str | None]] = []
    loc = lastmod = None
    capture: str | None = None
    buf: list[str] = []
    for tok in scan(text):
        if len(entries) >= _MAX_ENTRIES:
            break
        name = tok.data
        if tok.kind == TEXT or tok.kind == CDATA:
            if capture is not None:
                buf.append(decode_entities(tok.data) if tok.kind == TEXT
                           else tok.data)
        elif tok.kind == START:
            if kind is None:
                if name not in ("urlset", "sitemapindex"):
                    break  # the root element is not a sitemap
                kind = name
            elif name in ("loc", "lastmod") and not tok.selfclose:
                capture, buf = name, []
        elif name == "loc" and capture == "loc":
            loc = "".join(buf).strip()
            capture = None
        elif name == "lastmod" and capture == "lastmod":
            lastmod = "".join(buf).strip() or None
            capture = None
        elif name in ("url", "sitemap"):
            if loc and loc.startswith(_URL_PREFIXES):
                entries.append((loc, lastmod))
            loc = lastmod = None
    if kind is None:
        return {"kind": None, "entries": [], "error": "no urlset root"}
    if loc and loc.startswith(_URL_PREFIXES):  # truncated final entry
        entries.append((loc, lastmod))
    return {"kind": kind, "entries": entries, "error": None}


def sitemap_entries(df: DataFrame) -> DataFrame:
    """(host, payload binary) rows -> flat entry table via mapInPandas
    (Arrow-batched; one task parses many sitemap files). Parse errors are
    per-row typed rows, never task failures — same discipline as the
    extraction kernel."""
    from docvision_spark.pipeline.shipping import map_in_pandas

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in ENTRY_SCHEMA.fields]
        for pdf in it:
            out = []
            for host, payload in zip(pdf["host"], pdf["payload"]):
                try:
                    r = parse_sitemap(bytes(payload))
                except Exception as e:  # noqa: BLE001
                    r = {"kind": None, "entries": [],
                         "error": f"{type(e).__name__}: {e}"[:200]}
                if r["error"] is not None:
                    out.append({"host": host, "kind": r["kind"], "loc": None,
                                "lastmod": None, "error": r["error"]})
                for loc, lm in r["entries"]:
                    out.append({"host": host, "kind": r["kind"], "loc": loc,
                                "lastmod": lm, "error": None})
            yield pd.DataFrame(out, dtype=object, columns=cols)

    return map_in_pandas(df, fn, ENTRY_SCHEMA)


def make_sitemap_xml(urls: list[str], lastmod: str | None = None,
                     index: bool = False, as_gzip: bool = False,
                     as_text: bool = False) -> bytes:
    """Deterministic sitemap encoder (fixture/round-trip twin of the
    parser, like every other codec in this repo)."""
    if as_text:
        data = ("\n".join(urls) + "\n").encode()
    else:
        tag, item = (("sitemapindex", "sitemap") if index
                     else ("urlset", "url"))
        lm = f"<lastmod>{lastmod}</lastmod>" if lastmod else ""
        body = "".join(
            f"<{item}><loc>{u.replace('&', '&amp;')}</loc>{lm}</{item}>"
            for u in urls)
        data = (f'<?xml version="1.0" encoding="UTF-8"?>\n'
                f'<{tag} xmlns="http://www.sitemaps.org/schemas/sitemap'
                f'/0.9">{body}</{tag}>').encode()
    return gzip.compress(data, compresslevel=1) if as_gzip else data
