"""Streaming DOM block segmentation.

Consumes the token stream and emits a flat list of text Blocks in document
pre-order (the reading order), each annotated with the structural features
the boilerplate classifier needs. A full DOM tree is never materialized —
an open-element stack with implied-end-tag recovery is enough for block
segmentation and is ~3x faster, which matters in the 100 TB hot path.

Capability ancestors in the reference:
 - reading-order sort (processing/ocr_engine.py:196-215) → pre-order emission
 - content-region detection (processing/crop.py:123-173) → per-block
   signals (neg/pos ancestors, link chars) consumed by classify.py
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from docvision_spark.kernel.entities import decode_entities
from docvision_spark.kernel.html_tokenizer import (
    VOID_ELEMENTS,
    parse_attrs,
    scan,
)

# Tags that terminate the current text block when opened or closed.
BLOCK_TAGS = frozenset({
    "address", "article", "aside", "blockquote", "body", "caption", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li", "main",
    "nav", "ol", "p", "pre", "section", "table", "tbody", "td", "tfoot",
    "th", "thead", "tr", "ul",
})

# Tags whose subtree carries an inherited negative (boilerplate) signal.
NEG_TAGS = frozenset({"nav", "aside", "footer", "header", "form", "menu", "button", "select", "option", "label", "iframe"})
# Tags whose subtree carries an inherited positive (content) signal.
POS_TAGS = frozenset({"article", "main"})

# id/class patterns — fixed, version-pinned vocabulary (extractor_version
# bumps if these change, since goldens depend on them).
_NEG_PAT = re.compile(
    r"nav|footer|header|menu|sidebar|side-bar|banner|breadcrumb|crumb|"
    r"comment|share|social|related|widget|cookie|consent|advert|\bad\b|ads|"
    r"promo|subscribe|newsletter|masthead|pagination|pager|byline|metadata|"
    r"skip|toolbar|dropdown|login|signup|search|copyright|legal|disclaimer",
    re.IGNORECASE,
)
_POS_PAT = re.compile(
    r"article|articleBody|\bcontent\b|content-|-content|main|post-|-post|"
    r"\bpost\b|entry|\btext\b|story|\bbody\b|page-body|prose",
    re.IGNORECASE,
)

# Tags that auto-close an open <p> (HTML5 implied end tags).
_P_CLOSERS = BLOCK_TAGS - {"caption"}
# li auto-closes a previous open li; same for td/th/tr/option/dd/dt.
_SELF_CLOSERS = {
    "li": ("li",),
    "td": ("td", "th"),
    "th": ("td", "th"),
    "tr": ("tr", "td", "th"),
    "dd": ("dd", "dt"),
    "dt": ("dd", "dt"),
    "p": ("p",),
}


@dataclass
class Block:
    kind: str                     # paragraph | heading | list_item | table | pre | quote | figure
    text: str = ""
    level: int = 0                # heading level (1..3 after clamping)
    chars: int = 0                # collapsed char count
    anchor_chars: int = 0         # chars emitted inside <a>
    signal: int = 0               # +1 content ancestor, -1 boilerplate ancestor, 0 neutral
    rows: list[list[str]] = field(default_factory=list)   # table rows
    ordered: bool = False         # for list items: inside <ol>


# An open element on the stack is a plain (name, signal) tuple — this is
# the hottest allocation in the kernel (one per start tag); a dataclass
# here measurably slows the 100 TB path (attribute access + __init__).
# signal: -1 / 0 / +1 resolved at open time.
#
# _Builder's open-element state is that stack plus `open`: how many of
# each _NESTED name are on it. A count goes up at the one push in _open and
# down at each pop; a block's kind, a list item's ordered flag and a text
# run's anchor/whitespace handling read it. Only these six names are
# counted: counting every tag costs a dict update per element.
_NESTED = frozenset({"a", "pre", "li", "ol", "blockquote", "table"})
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# elements whose pop has an effect beyond its count (see _popped)
_POP_EFFECTS = _HEADINGS | {"td", "th", "tr", "table"}


# out-link capture: one cheap regex per <a ... href=...>; hrefs stay RAW
# here (entity-decoded, not resolved) — resolution against the page url is
# a JVM-side expression at the Spark layer (functions/urls.resolve_href),
# where it runs inside whole-stage codegen instead of the Python hot path
_HREF_RE = re.compile(
    # the attribute-name boundary matters: without it, data-href= (lazy
    # loaders) or ng-href= would be captured as the link
    r"""(?:^|[\s"'])href\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE)
# non-navigational schemes / fragments: not edges of the web graph
_NON_LINK = ("#", "javascript:", "mailto:", "tel:", "data:", "about:")
MAX_LINKS = 2048  # per-document out-link cap (scale guard, like MAX_DOC_BYTES)


class _Builder:
    def __init__(self) -> None:
        self.blocks: list[Block] = []
        self.stack: list[tuple[str, int]] = []
        self.buf: list[str] = []
        self.buf_anchor = 0
        self.open = dict.fromkeys(_NESTED, 0)
        # level of the most recently opened heading; any heading close
        # resets it, so it is not a count
        self.heading: int = 0
        # table assembly (outermost table only)
        self.tab_rows: list[list[str]] = []
        self.tab_cur_row: list[str] | None = None
        self.tab_cell: list[str] | None = None
        self.tab_signal = 0
        # head metadata (first occurrence wins, like browsers)
        self.canonical: str | None = None   # <link rel=canonical href>
        self.robots: str | None = None      # <meta name=robots content>, lower
        # out-links: raw hrefs in document order, exact-deduped, capped
        self.links: list[str] = []
        self._links_seen: set[str] = set()

    # -- signals ---------------------------------------------------------
    def _resolve_signal(self, name: str, attrs_raw: str) -> int:
        if name in POS_TAGS:
            return 1
        if name in NEG_TAGS:
            return -1
        if attrs_raw and ("id" in attrs_raw or "class" in attrs_raw):
            attrs = parse_attrs(attrs_raw)
            idcls = (attrs.get("id", "") + " " + attrs.get("class", "")).strip()
            if idcls:
                if _NEG_PAT.search(idcls):
                    return -1
                if _POS_PAT.search(idcls):
                    return 1
        return self.stack[-1][1] if self.stack else 0

    # -- text buffering ----------------------------------------------------
    def _append_text(self, raw: str) -> None:
        if self.open["pre"]:
            text = decode_entities(raw)
        else:
            # whitespace separators must land in the buffer the text will
            # land in — with an open table cell that is tab_cell, not buf
            # (else '<td><b>a</b> <b>b</b></td>' collapses to cell 'ab')
            dest = self.tab_cell if self.tab_cell is not None else self.buf
            if raw.isspace():  # hot path: inter-tag whitespace, no alloc
                if dest and not dest[-1].endswith(" "):
                    dest.append(" ")
                    if self.open["a"] and dest is self.buf:
                        self.buf_anchor += 1
                return
            text = " ".join(decode_entities(raw).split())
            if raw[:1].isspace() and dest and not dest[-1].endswith(" "):
                text = " " + text
            if raw[-1:].isspace():
                text += " "
        if not text:
            return
        if self.tab_cell is not None:
            self.tab_cell.append(text)
            return
        self.buf.append(text)
        if self.open["a"]:
            self.buf_anchor += len(text)

    def _flush(self) -> None:
        if not self.buf:
            self.buf_anchor = 0
            return
        text = "".join(self.buf)
        open_ = self.open
        if not open_["pre"]:
            text = text.strip()
        else:
            text = text.strip("\n")
        self.buf = []
        anchor = min(self.buf_anchor, len(text))
        self.buf_anchor = 0
        if not text.strip():
            return
        sig = self.stack[-1][1] if self.stack else 0
        if open_["pre"]:
            kind, level = "pre", 0
        elif self.heading:
            kind, level = "heading", min(self.heading, 3)
        elif open_["li"]:
            kind, level = "list_item", 0
        elif open_["blockquote"]:
            kind, level = "quote", 0
        else:
            kind, level = "paragraph", 0
        self.blocks.append(Block(
            kind=kind, text=text, level=level, chars=len(text),
            anchor_chars=anchor, signal=sig,
            ordered=open_["ol"] > 0 and kind == "list_item",
        ))

    # -- element open/close ------------------------------------------------
    def _open(self, name: str, attrs_raw: str, self_closing: bool) -> None:
        if name == "a":
            # an anchor implies no end tag and no block boundary, and a
            # self-closing <a/> still opens one
            if attrs_raw and len(self.links) < MAX_LINKS:
                m = _HREF_RE.search(attrs_raw)
                if m:
                    href = decode_entities(
                        m.group(2) or m.group(3) or m.group(4) or "").strip()
                    if href and not href.lower().startswith(_NON_LINK) \
                            and href not in self._links_seen:
                        self._links_seen.add(href)
                        self.links.append(href)
        elif name == "br":
            self._append_text(" ")
            return
        elif name == "img":
            attrs = parse_attrs(attrs_raw)
            alt = " ".join(decode_entities(attrs.get("alt", "")).split())
            self._flush()
            sig = self.stack[-1][1] if self.stack else 0
            self.blocks.append(Block(kind="figure", text=alt, chars=len(alt),
                                     signal=sig))
            return
        elif name == "link":
            attrs = parse_attrs(attrs_raw)
            if (attrs.get("rel", "").strip().lower() == "canonical"
                    and self.canonical is None):
                href = decode_entities(attrs.get("href", "")).strip()
                if href:
                    self.canonical = href
            return
        elif name == "meta":
            attrs = parse_attrs(attrs_raw)
            if (attrs.get("name", "").strip().lower() == "robots"
                    and self.robots is None):
                content = attrs.get("content", "").strip().lower()
                if content:
                    self.robots = content
            return
        elif name in VOID_ELEMENTS:
            return
        else:
            # implied end tags
            closers = _SELF_CLOSERS.get(name)
            if closers:
                for i in range(len(self.stack) - 1, -1, -1):
                    nm = self.stack[i][0]
                    if nm in closers:
                        self._close_to(i)
                        break
                    if nm in ("table", "ul", "ol", "dl", "div", "section", "article", "body"):
                        break
            elif name in _P_CLOSERS:
                if self.stack and self.stack[-1][0] == "p":
                    self._close_to(len(self.stack) - 1)
            if name in BLOCK_TAGS and self.buf:
                self._flush()
            if self_closing:
                return
        sig = self._resolve_signal(name, attrs_raw)
        self.stack.append((name, sig))
        open_ = self.open
        if name in open_:
            open_[name] += 1
            if name == "table" and open_["table"] == 1:
                self.tab_rows = []
                self.tab_cur_row = None
                self.tab_signal = sig
        elif name in _HEADINGS:
            self.heading = int(name[1])
        elif open_["table"] == 1:
            if name == "tr":
                self.tab_cur_row = []
            elif name in ("td", "th"):
                if self.tab_cur_row is None:
                    self.tab_cur_row = []
                self.tab_cell = []

    def _popped(self, name: str) -> None:
        """Effects of `name` leaving the stack; its count is already down."""
        if name in _HEADINGS:
            self.heading = 0
        elif name == "table":
            if self.open["table"] == 0:
                if self.tab_cur_row is not None and any(c.strip() for c in self.tab_cur_row):
                    self.tab_rows.append(self.tab_cur_row)
                rows = self.tab_rows
                self.tab_rows = []
                self.tab_cur_row = None
                self.tab_cell = None
                if rows:
                    txt = " ".join(" ".join(r) for r in rows)
                    self.blocks.append(Block(
                        kind="table", text=txt, chars=len(txt),
                        signal=self.tab_signal, rows=rows,
                    ))
        elif self.open["table"] != 1:
            return
        elif name == "tr":
            if self.tab_cur_row is not None:
                if any(c.strip() for c in self.tab_cur_row):
                    self.tab_rows.append(self.tab_cur_row)
                self.tab_cur_row = None
        elif self.tab_cell is not None:  # td / th
            cell = " ".join("".join(self.tab_cell).split())
            if self.tab_cur_row is None:
                self.tab_cur_row = []
            self.tab_cur_row.append(cell)
            self.tab_cell = None

    def _close_to(self, idx: int) -> None:
        """Pop stack down to and including idx, flushing block boundaries."""
        open_ = self.open
        while len(self.stack) > idx:
            top = self.stack[-1][0]
            if top != "a" and self.buf and top in BLOCK_TAGS:
                self._flush()  # before pop: block text carries its own signal
            self.stack.pop()
            if top in open_:
                open_[top] -= 1
            if top in _POP_EFFECTS:
                self._popped(top)

    def _close(self, name: str) -> None:
        if name == "a":
            for i in range(len(self.stack) - 1, -1, -1):
                if self.stack[i][0] == "a":
                    self.stack.pop(i)
                    self.open["a"] -= 1
                    return
            return
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i][0] == name:
                self._close_to(i)
                return
        # unmatched end tag: ignored (fixed error-recovery rule)

    def run(self, html: str) -> list[Block]:
        scan(html, self._append_text, self._open, self._close)
        self._close_to(0)
        self._flush()
        return self.blocks


def segment(html: str) -> list[Block]:
    """Segment an HTML document string into reading-order blocks."""
    return _Builder().run(html)


def segment_with_meta(html: str) -> tuple[list[Block], dict]:
    """segment() + head metadata: {'canonical': href-or-None,
    'robots': lowercased-content-or-None}. A curation pipeline needs both
    BEFORE spending dedup cost: rel=canonical is the site's own dup signal,
    robots=noindex marks pages the publisher excludes from indexing."""
    b = _Builder()
    blocks = b.run(html)
    return blocks, {"canonical": b.canonical, "robots": b.robots,
                    "links": b.links}
