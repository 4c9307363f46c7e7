"""SVG metadata extraction: dimensions + visible text, NO rasterization.

SVG is the one ubiquitous crawl image format that is vector, not raster —
the honest feature surface is its declared geometry (width/height
attributes, else the viewBox) plus the indexable text content
(<text>/<tspan>/<textPath>/<title>/<desc>), and an element count as a
complexity proxy. Perceptual features (luma, aHash/dHash) stay NULL by
design: producing them would require a from-scratch path rasterizer,
which is out of scope the same way OCR is (SURVEY §2 S3). The reference
pipeline never rasterizes SVG either — cv2.imread returns None for it
(/root/reference/src/docvision/core/parser.py:554-563 silently skips).

Markup is tokenized by kernel/xml_scan.py, the XML subset shared with the
feed and sitemap readers (prolog constructs skipped, quoted attributes,
CDATA, entity references via the shared WHATWG decoder — a superset of
XML's five predefined entities, correct for the crawl reality of SVG
authored inside HTML). Malformed markup degrades to skip-ahead, never an
exception, except when the root element is not <svg> (then it isn't an
SVG at all).
"""
from __future__ import annotations

import re

from docvision_spark.kernel.charset import decode_html
from docvision_spark.kernel.entities import decode_entities
from docvision_spark.kernel.xml_scan import CDATA, END, TEXT, attributes, scan


class SvgError(ValueError):
    """Payload is not parseable as SVG."""


_SCAN_CAP = 4 << 20          # bytes of markup scanned, same spirit as the
#                              pixel budgets on the raster codecs
_TEXT_TAGS = {"text", "tspan", "textpath", "title", "desc"}
_SKIP_TAGS = {"style", "script", "metadata"}  # raw-text containers

# CSS px per unit (SVG 1.1 / CSS absolute lengths); relative units
# (em/ex/%/vw/vh) have no absolute answer without layout -> None
_UNIT_PX = {"": 1.0, "px": 1.0, "pt": 96.0 / 72.0, "pc": 16.0,
            "in": 96.0, "mm": 96.0 / 25.4, "cm": 96.0 / 2.54}

_LENGTH_RE = re.compile(r"^\s*([+-]?\d*\.?\d+(?:[eE][+-]?\d+)?)\s*"
                        r"([a-z%]*)\s*$")


def _parse_length(val: str) -> int | None:
    m = _LENGTH_RE.match(val)
    if not m:
        return None
    scale = _UNIT_PX.get(m.group(2).lower())
    if scale is None:
        return None
    px = float(m.group(1)) * scale
    if not (0 < px < 1 << 20):
        return None
    return int(round(px))


def svg_info(payload: bytes) -> dict:
    """Parse SVG markup -> {width, height, n_elements, text}.

    width/height resolve from the root element's attributes (absolute
    units converted to CSS px), falling back to the viewBox extent;
    both None when only relative units are declared. text is the
    whitespace-normalized concatenation of text-bearing elements in
    document order. Raises SvgError when the root element is not <svg>.
    """
    s, _ = decode_html(payload[:_SCAN_CAP])
    width = height = None
    n_elements = 0
    texts: list[str] = []
    stack: list[str] = []
    seen_root = False
    for tok in scan(s, skip=_SKIP_TAGS):
        if tok.kind == TEXT or tok.kind == CDATA:
            if stack and stack[-1] in _TEXT_TAGS:
                texts.append(decode_entities(tok.data)
                             if tok.kind == TEXT else tok.data)
        elif tok.kind == END:
            for i in range(len(stack) - 1, -1, -1):
                if stack[i] == tok.data:
                    del stack[i:]
                    break
        else:
            if not seen_root:
                if tok.data != "svg":
                    raise SvgError(f"root element is <{tok.data}>, not <svg>")
                seen_root = True
                a = attributes(s[tok.start:tok.end])
                width = _parse_length(a.get("width", ""))
                height = _parse_length(a.get("height", ""))
                if (width is None or height is None) and "viewbox" in a:
                    parts = a["viewbox"].replace(",", " ").split()
                    if len(parts) == 4:
                        vw = _parse_length(parts[2])
                        vh = _parse_length(parts[3])
                        width = width if width is not None else vw
                        height = height if height is not None else vh
            n_elements += 1
            if not tok.selfclose:
                stack.append(tok.data)
    if not seen_root:
        raise SvgError("no <svg> root element")
    text = " ".join(" ".join(t.split()) for t in texts if t.strip())
    return {"width": width, "height": height,
            "n_elements": n_elements, "text": text}


def looks_like_svg(payload: bytes) -> bool:
    """Cheap magic sniff: '<svg' appears in the prolog region before any
    other root element can have opened (first 1 KB, after decode)."""
    head = payload[:1024]
    if b"<svg" in head or b"<SVG" in head:
        return True
    # UTF-16 crawl payloads: the '<svg' bytes are interleaved with NULs
    return (b"<\x00s\x00v\x00g\x00" in head
            or b"\x00<\x00s\x00v\x00g" in head)
