"""Spec-subset HTML5 tokenizer — regex-scanner based, deterministic.

scan() walks the document once and reports each token (text, start tag,
end tag) to three callbacks in document order. Rawtext elements
(script/style/...) swallow their content so no JS/CSS leaks into extracted
text. Designed for throughput: one compiled master regex scans the document
and dispatch is on Match.lastgroup. This is the hottest loop of the 100 TB
path, so no token object is built: dom._Builder passes its own bound
methods as the callbacks.

Capability ancestor in the reference: OCR recognize (processing/
ocr_engine.py:73-88) — "turn the raw payload into positioned text runs".
Here the positions are DOM positions instead of pixel boxes.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple


# Readable token for tests and debugging: tokenize() collects the scan()
# callbacks as a list of these.
class Tok(NamedTuple):
    kind: str          # 'start' | 'end' | 'text'
    data: str          # tag name (lower) or raw text
    attrs: str = ""    # raw attribute substring for start tags
    self_closing: bool = False


_MASTER_RE = re.compile(
    r"""<(?:
        (?P<comment>!--.*?(?:-->|\Z))
      | (?P<doctype>![^>]*(?:>|\Z))
      | (?P<pi>\?[^>]*(?:>|\Z))
      | /\s*(?P<end>[a-zA-Z][a-zA-Z0-9:-]*)[^>]*(?:>|\Z)
      | (?P<start>[a-zA-Z][a-zA-Z0-9:-]*)
        (?P<attrs>(?:"[^"]*"|'[^']*'|[^>"'])*)(?:>|\Z)
    )""",
    re.DOTALL | re.VERBOSE,
)

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s/>]*))?"""
)

# Elements whose content is raw (never parsed as markup).
RAWTEXT_ELEMENTS = frozenset({"script", "style", "textarea", "title",
                              "noscript", "template", "svg", "math"})

# Pre-compiled close-tag scanners for rawtext elements (hot path: every
# page has several <script>/<style> blocks).
_RAWTEXT_CLOSE = {
    name: re.compile(r"</\s*" + name + r"\s*>", re.IGNORECASE)
    for name in RAWTEXT_ELEMENTS
}

# Void elements: never have end tags.
VOID_ELEMENTS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
})


def parse_attrs(attrs_raw: str) -> dict[str, str]:
    """Parse a raw attribute substring into a {name: value} dict.

    First occurrence of a duplicated attribute wins (fixed rule). Values are
    unquoted but NOT entity-decoded here (callers decode only what they use).
    """
    out: dict[str, str] = {}
    for m in _ATTR_RE.finditer(attrs_raw):
        name = m.group(1).lower()
        if name in out:
            continue
        val = m.group(2) or ""
        if len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
            val = val[1:-1]
        out[name] = val
    return out


def scan(html: str, on_text: Callable[[str], None],
         on_start: Callable[[str, str, bool], None],
         on_end: Callable[[str], None]) -> None:
    """Scan `html` once, in document order, calling on_text(text),
    on_start(name, attrs_raw, self_closing) and on_end(name) per token.
    Tag names are lower-cased. Comments, doctypes and processing
    instructions are dropped; a rawtext element's content is skipped and
    its start is followed directly by on_end (also when unclosed at EOF,
    which ends the scan)."""
    pos = 0
    n = len(html)
    search = _MASTER_RE.search
    while pos < n:
        m = search(html, pos)
        if m is None:
            on_text(html[pos:])
            return
        start = m.start()
        if start > pos:
            on_text(html[pos:start])
        pos = m.end()
        grp = m.lastgroup
        if grp == "attrs" or grp == "start":
            name = m.group("start").lower()
            attrs = m.group("attrs") or ""
            self_closing = attrs.rstrip().endswith("/")
            on_start(name, attrs, self_closing)
            if not self_closing and name in RAWTEXT_ELEMENTS:
                cm = _RAWTEXT_CLOSE[name].search(html, pos)
                on_end(name)
                if cm is None:
                    return
                pos = cm.end()  # rawtext content dropped
        elif grp == "end":
            on_end(m.group("end").lower())
        # comment / doctype / pi: dropped


def tokenize(html: str) -> list[Tok]:
    """The scan() callbacks collected as readable tokens (tests, debugging)."""
    toks: list[Tok] = []
    scan(html,
         lambda text: toks.append(Tok("text", text)),
         lambda name, attrs, sc: toks.append(Tok("start", name, attrs, sc)),
         lambda name: toks.append(Tok("end", name)))
    return toks
