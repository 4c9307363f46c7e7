"""RSS/Atom feed extraction: syndication XML -> reading-order blocks.

Real crawls are full of feed documents (application/rss+xml, atom+xml);
the reference pipeline would hand them to the VLM like any text page
(core/parser.py:308-322). Routing them through the HTML segmenter as-is
produces noise — element soup of dates/guids/urls interleaved with
escaped markup. This module parses the three syndication shapes that
cover the format in practice (RSS 2.0, RSS 1.0 / RDF, Atom) and emits the
same Block stream the DOM segmenter produces, so classification, markdown
emission, span addressing, and byte-identity goldens all apply unchanged:

    channel/feed title      -> heading level 1
    channel description     -> paragraph
    per item/entry: title   -> heading level 2
    item content            -> the entry's HTML, run through dom.segment()

Item content selects the fullest field available (content:encoded over
description for RSS, content over summary for Atom) and handles all three
encodings feeds use: CDATA-wrapped raw HTML, entity-escaped HTML, and
inline XHTML child markup. Non-content metadata (links, dates, guids,
authors, categories, enclosures) is dropped — it is the feed analogue of
boilerplate. Item fields are flushed title-first at element close, so
field order inside the XML never changes the output (reading-order
normalization, same rule family as the PDF y-cluster sort).

Tokens come from kernel/xml_scan.py, the XML subset shared with the SVG
and sitemap readers; entity decode uses the shared WHATWG table and
malformed markup degrades to skip-ahead.
"""
from __future__ import annotations

from docvision_spark.kernel.dom import Block, segment
from docvision_spark.kernel.entities import decode_entities
from docvision_spark.kernel.xml_scan import CDATA, END, START, TEXT, scan

# local names whose text is an item's content, in preference order
_RSS_CONTENT = ("encoded", "description")   # content:encoded, description
_ATOM_CONTENT = ("content", "summary")
_ITEM_TAGS = {"item", "entry"}
_ROOTS = {"rss", "feed", "rdf"}
_PROLOG_CHARS = 4096  # the root must open within this many characters


def looks_like_feed(s: str) -> bool:
    """True when the document's root element is a syndication root
    (<rss>, <feed>, or RSS 1.0's <rdf:RDF>). Scans only the prolog."""
    for tok in scan(s):
        if tok.kind == TEXT and not tok.data.strip():
            continue  # whitespace between prolog constructs
        # anything else before the root's start tag is not XML
        return (tok.kind == START and tok.start < _PROLOG_CHARS
                and tok.data in _ROOTS)
    return False


def _text_blocks(text: str, kind: str = "paragraph",
                 level: int = 0) -> list[Block]:
    """One whitespace-normalized block, none for blank text."""
    t = " ".join(text.split())
    if not t:
        return []
    return [Block(kind=kind, text=t, level=level, chars=len(t), signal=1)]


def _fragment_blocks(raw: str, cdata: list[str], saw_child: bool) -> list[Block]:
    """Blocks for one content field. CDATA bodies are raw HTML; inline
    child markup (Atom type=xhtml) is raw HTML; otherwise the text is
    entity-escaped HTML or plain text."""
    if cdata:
        html = "".join(cdata)
    elif saw_child:
        html = raw
    else:
        html = decode_entities(raw)
    if "<" in html:
        return segment(html)
    return _text_blocks(html)


def feed_blocks(s: str) -> list[Block]:
    """Parse feed markup -> Block list (see module docstring)."""
    blocks: list[Block] = []
    stack: list[str] = []  # local names of the open elements

    # per-item capture state
    item_title: str | None = None
    item_fields: dict[str, tuple[str, list[str], bool]] = {}
    chan_title_done = False

    # active capture: (local, depth, start_offset, cdata_bodies, saw_child)
    cap: list | None = None
    # title / channel description text up to the next end tag:
    # (destination, decoded parts); destination None discards it
    txt: tuple[str | None, list[str]] | None = None

    def finish_text() -> None:
        nonlocal item_title
        dest, parts = txt
        if dest == "item_title":
            item_title = "".join(parts)
        elif dest == "chan_title":
            blocks.extend(_text_blocks("".join(parts), "heading", 1))
        elif dest == "chan_desc":
            blocks.extend(_text_blocks("".join(parts)))

    def complete_capture(end: int) -> None:
        # the field's inner markup, sliced verbatim
        if in_item():
            item_fields.setdefault(cap[0], (s[cap[2]:end], cap[3], cap[4]))

    def flush_item() -> None:
        nonlocal item_title
        if item_title is not None:
            blocks.extend(_text_blocks(item_title, "heading", 2))
        in_atom = "feed" in stack
        for name in (_ATOM_CONTENT if in_atom else _RSS_CONTENT):
            if name in item_fields:
                blocks.extend(_fragment_blocks(*item_fields[name]))
                break
        item_title = None
        item_fields.clear()

    def in_item() -> bool:
        return any(t in _ITEM_TAGS for t in stack)

    for tok in scan(s):
        kind, name = tok.kind, tok.data
        if kind == TEXT:
            if txt is not None:
                txt[1].append(decode_entities(name))
            # a capture slices the source directly at close
            continue
        if kind == CDATA:
            if txt is not None:
                txt[1].append(name)
            elif cap is not None:
                cap[3].append(name)
            continue
        if kind == END:
            if txt is not None:
                finish_text()
                txt = None
            if cap is not None:
                # cap[1] is the stack depth BEFORE the captured element was
                # pushed; its own close tag arrives at depth cap[1] + 1
                if name == cap[0] and len(stack) == cap[1] + 1:
                    complete_capture(tok.start)
                    cap = None
                else:
                    cap[4] = True  # child end tag inside the capture
            for i in range(len(stack) - 1, -1, -1):
                if stack[i] == name:
                    if cap is not None and i <= cap[1]:
                        # error recovery: the pop removes the CAPTURED
                        # element itself (unclosed void child pushed a
                        # phantom depth, so the exact-depth check above
                        # missed) — complete the capture here rather
                        # than leak it into the next item
                        complete_capture(tok.start)
                        cap = None
                    closing_item = any(t in _ITEM_TAGS for t in stack[i:])
                    del stack[i:]
                    if closing_item:
                        flush_item()
                    break
            continue
        selfclose = tok.selfclose
        if txt is not None:
            continue  # child markup inside a title: its text still counts
        if cap is not None:
            cap[4] = True  # child start tag inside the capture
            if not selfclose:
                stack.append(name)
            continue
        if selfclose:
            # a self-closed <title/> (legal empty title) must not take the
            # next sibling's text as its own
            continue
        if name == "title":
            if in_item():
                dest = "item_title" if item_title is None else None
            elif stack and stack[-1] in ("channel", "feed") \
                    and not chan_title_done:
                dest = "chan_title"
                chan_title_done = True
            else:
                dest = None
            txt = (dest, [])
            continue
        if in_item() and name in ("encoded", "description", "content",
                                  "summary"):
            cap = [name, len(stack), tok.end, [], False]
        elif name == "description" and stack and stack[-1] == "channel" \
                and not in_item():
            txt = ("chan_desc", [])
            continue
        stack.append(name)
    # truncated feed: finish open text, complete an open capture with the
    # remaining source, then flush any in-progress item
    if txt is not None:
        finish_text()
    if cap is not None:
        complete_capture(len(s))
    if in_item():
        flush_item()
    return blocks
