"""XML-subset scanner: the one tokenizer behind the feed, SVG and sitemap
readers (kernel/feed.py, kernel/svg_info.py, functions/sitemaps.py).

A deliberate subset, not a conformant parser, and the only code that knows
the syntax:

  - comments <!-- ... -->, processing instructions <? ... ?> (the XML
    declaration among them) and markup declarations such as
    <!DOCTYPE ... [internal subset]> are skipped;
  - <![CDATA[ ... ]]> is reported as literal character data;
  - a start tag ends at the first '>' outside a quoted attribute value;
  - element names are reported as lowercased local names (namespace
    prefix dropped), which is how every reader here matches elements.

Text tokens carry source characters; entity decoding (the shared WHATWG
table, kernel/entities.py) is left to the caller, which knows whether the
text is content or markup it will slice verbatim. Malformed markup
degrades to skip-ahead and an unterminated construct ends the scan;
scanning never raises. html_tokenizer.scan is not reusable here: its
rawtext rules swallow <title> and <svg>, and it ends <![CDATA[ at the
first '>'.
"""
from __future__ import annotations

import re
from collections.abc import Collection, Iterator
from typing import NamedTuple

from docvision_spark.kernel.entities import decode_entities

TEXT, CDATA, START, END = "text", "cdata", "start", "end"


class Token(NamedTuple):
    kind: str         # TEXT | CDATA | START | END
    data: str         # character data (TEXT, CDATA) or local name (START, END)
    start: int        # source offset of the token's first character
    end: int          # source offset just past its last character
    selfclose: bool = False   # START only: <name ... />


_NAME_RE = re.compile(r"[A-Za-z_:][-A-Za-z0-9._:]*")
# a start tag runs to the first '>' outside a quoted attribute value; an
# unterminated value falls back to the first '>' after its '='. The body
# is matched atomically (a lookahead capture, then a backreference; the
# possessive *+ needs Python 3.11): backtracking into it would retry every
# split of a run of '="' and could end the tag at a '>' inside quotes.
_START_TAG_RE = re.compile(
    r"""<([A-Za-z_:][-A-Za-z0-9._:]*)"""
    r"""(?=((?:=\s*(?:"[^"]*"|'[^']*')|[^>])*))\2>""")
_ATTR_RE = re.compile(
    r"""([-A-Za-z0-9._:]+)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?""")


def _local_name(qname: str) -> str:
    return qname.rsplit(":", 1)[-1].lower()


def scan(s: str, skip: Collection[str] = ()) -> Iterator[Token]:
    """Tokens of s in document order. An element whose local name is in
    skip (raw-text containers such as SVG <style>) has its content left
    unscanned: only its start and end tags are reported."""
    n = len(s)
    pos = 0
    while pos < n:
        lt = s.find("<", pos)
        if lt < 0:
            yield Token(TEXT, s[pos:], pos, n)
            return
        if lt > pos:
            yield Token(TEXT, s[pos:lt], pos, lt)
        c = s[lt + 1:lt + 2]
        if c == "/":
            gt = s.find(">", lt + 2)
            if gt < 0:
                return
            pos = gt + 1
            yield Token(END, _local_name(s[lt + 2:gt].strip()), lt, pos)
        elif c == "?":
            end = s.find("?>", lt + 2)
            if end < 0:
                return
            pos = end + 2
        elif c != "!":
            m = _START_TAG_RE.match(s, lt)
            if m is None:
                # a start tag cut off ends the scan; a '<' that opens no
                # tag is skipped through the next '>'
                gt = -1 if _NAME_RE.match(s, lt + 1) else s.find(">", lt)
                if gt < 0:
                    return
                pos = gt + 1
                continue
            pos = m.end()
            name = _local_name(m.group(1))
            selfclose = s[m.end(1):pos - 1].rstrip().endswith("/")
            yield Token(START, name, lt, pos, selfclose)
            if name in skip and not selfclose:
                close = re.compile("</" + re.escape(m.group(1)),
                                   re.IGNORECASE).search(s, pos)
                gt = -1 if close is None else s.find(">", close.end())
                if gt < 0:
                    return
                pos = gt + 1
                yield Token(END, name, close.start(), pos)
        elif s.startswith("--", lt + 2):
            end = s.find("-->", lt + 4)
            if end < 0:
                return
            pos = end + 3
        elif s.startswith("[CDATA[", lt + 2):
            end = s.find("]]>", lt + 9)
            if end < 0:
                yield Token(CDATA, s[lt + 9:], lt, n)
                return
            pos = end + 3
            yield Token(CDATA, s[lt + 9:end], lt, pos)
        else:
            # markup declaration; a '[' before its '>' opens an internal
            # subset whose declarations carry '>' of their own
            gt = s.find(">", lt + 2)
            if gt < 0:
                return
            br = s.find("[", lt + 2, gt)
            close = s.find("]", br) if br >= 0 else -1
            if close >= 0:
                gt = s.find(">", close)
                if gt < 0:
                    return
            pos = gt + 1


def attributes(tag: str) -> dict[str, str]:
    """Attributes of one start tag's source (s[tok.start:tok.end]):
    lowercased names, values unquoted and entity-decoded."""
    out = {}
    for a in _ATTR_RE.finditer(tag, _NAME_RE.match(tag, 1).end(),
                               len(tag) - 1):
        v = a.group(2) or ""
        if v[:1] in "\"'":
            v = v[1:-1]
        out[a.group(1).lower()] = decode_entities(v)
    return out
