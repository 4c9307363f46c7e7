"""Top-level extraction entry: bytes -> ExtractResult.

Mirrors the reference's ParseResult envelope (core/types.py:46-52) and its
content-addressed id (sha3_256 of content, core/parser.py:565-572 — exact
algorithm parity matters for fixture identity; Spark's builtin sha2 is
SHA-2, not SHA-3, hence hashlib inside the kernel). Dispatch on the %PDF-
magic replaces the reference's file-extension dispatch.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

from docvision_spark.kernel import pdf_text
from docvision_spark.kernel.charset import decode_html
from docvision_spark.kernel.dom import segment_with_meta
from docvision_spark.kernel.feed import feed_blocks, looks_like_feed
from docvision_spark.kernel.markdown import Span, emit, render

# Truncation guard: analogue of the reference's adaptive-resize work cap
# (processing/image.py:351-366 caps pixels; we cap bytes). Oversized docs are
# processed up to the cap and flagged, never dropped.
MAX_DOC_BYTES = 8 * 1024 * 1024


@dataclass
class ExtractResult:
    id: str = ""
    text: str = ""
    markdown: str = ""
    spans: list[Span] = field(default_factory=list)
    # one (page_no, text, markdown) per non-empty page — the analogue of the
    # reference's List[ParseResult] (one ParseResult per page,
    # core/parser.py:308-322); empty pages are dropped like the reference's
    # per-page None squelch (core/parser.py:316-318) but keep their original
    # 1-indexed page_no. HTML documents are a single page 1.
    pages: list[tuple[int, str, str]] = field(default_factory=list)
    page_count: int = 0
    processing_mode: str = ""     # 'html' | 'pdf' | 'feed'
    charset: str = ""
    truncated: bool = False
    error: str | None = None
    # head metadata (HTML only): the site's own dup signal + index policy —
    # a curation pipeline consults both before paying dedup/training cost
    canonical_url: str | None = None   # <link rel=canonical href=...>
    robots: str | None = None          # <meta name=robots content=...>, lower
    # out-links (HTML only): RAW deduped hrefs in document order, capped at
    # dom.MAX_LINKS; resolution against the page url happens JVM-side
    # (functions/urls.resolve_href) — the web-graph edge source
    links: list[str] = field(default_factory=list)


def sha3_id(text: str) -> str:
    """Content-addressed id — parity with reference core/parser.py:565-572."""
    return hashlib.sha3_256(text.encode("utf-8")).hexdigest()


# Mojibake guard: >10% U+FFFD replacement chars in the extracted text means
# the payload was not text in any declared charset (e.g. raw binary) —
# rational threshold, no float.
_MOJIBAKE_NUM, _MOJIBAKE_DEN = 1, 10


def _extract_html(payload: bytes) -> ExtractResult:
    decoded, charset = decode_html(payload)
    if looks_like_feed(decoded):
        # syndication XML (RSS 2.0 / RSS 1.0 RDF / Atom): per-item
        # headings + each entry's HTML content through the same
        # segment/classify/emit chain (kernel/feed.py)
        blocks = feed_blocks(decoded)
        mode, meta = "feed", {"canonical": None, "robots": None, "links": []}
    else:
        blocks, meta = segment_with_meta(decoded)
        mode = "html"
    text, markdown, spans = emit(blocks)
    n_bad = text.count("�")
    if text and n_bad * _MOJIBAKE_DEN > len(text) * _MOJIBAKE_NUM:
        return ExtractResult(id=sha3_id(""), processing_mode=mode,
                             charset=charset, error="mojibake")
    return ExtractResult(
        id=sha3_id(text), text=text, markdown=markdown, spans=spans,
        pages=[(1, text, markdown)],
        page_count=1, processing_mode=mode, charset=charset,
        canonical_url=meta["canonical"], robots=meta["robots"],
        links=meta["links"],
    )


def _extract_pdf(payload: bytes) -> ExtractResult:
    try:
        pages, page_count = pdf_text.parse_pdf(payload)
    except pdf_text.PdfUnsupportedFontError:
        # CID/Type0 WITHOUT a /ToUnicode CMap is undecodable — a typed,
        # taxonomy-stable error row (not the generic exception fallback);
        # Type0 fonts WITH ToUnicode extract normally via the cmap
        return ExtractResult(id=sha3_id(""), processing_mode="pdf",
                             charset="binary", error="pdf_unsupported_font")
    except pdf_text.PdfUnsupportedFilterError:
        # a required stream uses a filter outside the supported set
        # (CCITTFax/JBIG2/DCT/JPX — raster-image filters); typed error row
        return ExtractResult(id=sha3_id(""), processing_mode="pdf",
                             charset="binary", error="pdf_unsupported_filter")
    except pdf_text.PdfEncryptedError:
        # password-protected (empty user password rejected) or an
        # unsupported security handler — typed error row; RC4/AESV2 docs
        # openable with the empty user password decrypt and never get here
        return ExtractResult(id=sha3_id(""), processing_mode="pdf",
                             charset="binary", error="pdf_encrypted")
    if page_count == 0 or all(not blocks for blocks in pages):
        # %PDF magic but nothing parseable: surface it for lineage instead
        # of silently emitting an empty document
        return ExtractResult(id=sha3_id(""), processing_mode="pdf",
                             charset="binary", error="pdf_no_pages")
    page_results: list[tuple[int, str, str]] = []
    spans: list[Span] = []
    pos = 0  # offset of the next page's text in the document text
    for pno, blocks in enumerate(pages, start=1):
        if not blocks:
            continue
        page_text, page_md, page_spans = render(blocks)
        if page_results:
            pos += 2  # the "\n\n" between pages
        # block ids stay dense across pages: the next id is len(spans)
        bid = len(spans)
        spans.extend((bid + i, kind, pos + s, pos + e)
                     for i, kind, s, e in page_spans)
        pos += len(page_text)
        page_results.append((pno, page_text, page_md))
    text = "\n\n".join(t for _pno, t, _md in page_results)
    # document markdown = the reference markdown-writer byte format
    # (core/parser.py:536-546): '<!-- page N -->\n' + page content, pages
    # separated by '\n\n---\n\n'
    markdown = "\n\n---\n\n".join(
        f"<!-- page {pno} -->\n{md}" for pno, _t, md in page_results)
    return ExtractResult(
        id=sha3_id(text), text=text, markdown=markdown, spans=spans,
        pages=page_results, page_count=page_count,
        processing_mode="pdf", charset="binary",
    )


def extract(url: str, payload: bytes | None) -> ExtractResult:
    """Pure function of (url, payload) — no RNG, clock, or global state.

    Per-doc errors are captured in-result (error column), never raised: a
    task must not fail on one bad document at 10^12-doc scale (replaces the
    reference's silent per-page swallow, core/parser.py:316-320, with
    explicit failure rows per the north rule).
    """
    if payload is None or len(payload) == 0:
        return ExtractResult(id=sha3_id(""), error="empty_payload")
    truncated = False
    if len(payload) > MAX_DOC_BYTES:
        payload = payload[:MAX_DOC_BYTES]
        truncated = True
    try:
        if payload[:5] == b"%PDF-":
            res = _extract_pdf(payload)
        else:
            res = _extract_html(payload)
        res.truncated = truncated
        return res
    except Exception as e:  # noqa: BLE001 — error column, not task failure
        return ExtractResult(
            id=sha3_id(""), truncated=truncated,
            error=f"{type(e).__name__}: {e}"[:500],
        )
