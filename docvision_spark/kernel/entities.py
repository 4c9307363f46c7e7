"""Fixed HTML entity table + deterministic entity decoding.

The COMPLETE WHATWG named-character-references table (2,125 names), read
from the stdlib's `html.entities.html5`, a verbatim copy of the WHATWG
list, which the spec declares static. Byte-identity of extracted text is
the north-rule invariant, so the derived table is checked at import
against a pinned sha256: a host whose table differs fails loudly instead
of changing kernel output. A handful of whitespace entities carry
deliberate normalization overrides (see _WS_FOLD below)."""

from __future__ import annotations

import hashlib
import json
import re
from html.entities import html5

# FULL maps every spec name (semicolon stripped) to its replacement text.
# LEGACY: names browsers accept WITHOUT a trailing semicolon (the WHATWG
# legacy set, 106 names incl. uppercase forms). Everything newer requires
# the ';', so '&integer' must NOT decode via the 'int' prefix.
FULL: dict[str, str] = {k[:-1]: v for k, v in html5.items() if k.endswith(";")}
LEGACY = frozenset(k for k in html5 if not k.endswith(";"))
TABLE_SHA256 = "432e9f82cdff1c52f68d7d02a83250ffc55bea1654d0c3e96fe6c856c378676a"


def table_digest(full: dict[str, str], legacy: frozenset[str]) -> str:
    return hashlib.sha256(
        json.dumps([sorted(full.items()), sorted(legacy)]).encode()).hexdigest()


if table_digest(FULL, LEGACY) != TABLE_SHA256:
    raise ImportError(
        "html.entities.html5 differs from the pinned WHATWG table "
        f"(sha256 {table_digest(FULL, LEGACY)}); extracted text would change")

# Whitespace-normalization policy, CHARACTER-based (round-4 ADVICE: the
# old name-keyed overrides {nbsp, shy, ensp, emsp, thinsp} let WHATWG
# synonyms for the same characters — NonBreakingSpace, ThinSpace, emsp13,
# hairsp, MediumSpace, ... — bypass the policy, so one character
# normalized differently by entity name). Any replacement consisting
# solely of these codepoints is folded per-char: Unicode space-separator
# family -> plain space, soft hyphen -> removed — training-text
# normalization, frozen since round 1 (golden-gated).
_WS_FOLD = {
    "\u00a0": " ",  # no-break space (nbsp, NonBreakingSpace)
    "\u00ad": "",   # soft hyphen (shy)
    "\u2002": " ",  # en space (ensp)
    "\u2003": " ",  # em space (emsp)
    "\u2004": " ",  # three-per-em space (emsp13)
    "\u2005": " ",  # four-per-em space (emsp14)
    "\u2006": " ",  # six-per-em space
    "\u2007": " ",  # figure space (numsp)
    "\u2008": " ",  # punctuation space (puncsp)
    "\u2009": " ",  # thin space (thinsp, ThinSpace; in ThickSpace)
    "\u200a": " ",  # hair space (hairsp, VeryThinSpace)
    "\u202f": " ",  # narrow no-break space
    "\u205f": " ",  # medium mathematical space (MediumSpace)
}


def _fold_ws(rep: str) -> str:
    if rep and all(c in _WS_FOLD for c in rep):
        return "".join(_WS_FOLD[c] for c in rep)
    return rep


# The COMPLETE 2,125-name WHATWG table + the whitespace policy applied
# uniformly by character.
ENTITIES: dict[str, str] = {n: _fold_ws(r) for n, r in FULL.items()}

_ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);?")


# Windows-1252 remapping for C1-range numeric references (&#147; etc.),
# per the HTML5 spec's fixed table.
_C1_MAP = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8a: "Š", 0x8b: "‹", 0x8c: "Œ",
    0x8e: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9a: "š", 0x9b: "›",
    0x9c: "œ", 0x9e: "ž", 0x9f: "Ÿ",
}


def _sub_entity(m: re.Match) -> str:
    body = m.group(1)
    if body[0] == "#":
        try:
            cp = int(body[2:], 16) if body[1] in ("x", "X") else int(body[1:])
        except ValueError:
            return m.group(0)
        if cp in _C1_MAP:
            return _C1_MAP[cp]
        if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
        return "�"
    has_semi = m.group(0).endswith(";")
    if has_semi:
        rep = ENTITIES.get(body)
        if rep is not None:
            return rep
    # LEGACY names decode by longest prefix even when the run happens to
    # end with ';' and the full name is unknown: '&notit;' -> '¬it;' is
    # the HTML5 spec's own example. '&integer' stays literal ('int' is not
    # legacy), '&notify' -> '¬ify'.
    for n in range(len(body), 1, -1):
        if body[:n] in LEGACY:
            rep = ENTITIES.get(body[:n]) or ENTITIES[body[:n].lower()]
            return rep + body[n:] + (";" if has_semi else "")
    return m.group(0)


def decode_entities(s: str) -> str:
    """Decode entity references using the pinned table only."""
    if "&" not in s:
        return s
    return _ENTITY_RE.sub(_sub_entity, s)
