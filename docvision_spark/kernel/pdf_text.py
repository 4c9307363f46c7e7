"""pdfminer-style PDF text extraction — deterministic stdlib-only subset.

Replaces the reference's rasterize-then-OCR path (processing/image.py:62-108
pdf_to_images + processing/ocr_engine.py recognize) with direct content-stream
text parsing: object scan -> page tree walk -> content-stream tokenizer ->
text-state machine (Tf/Td/TD/Tm/TL/T*/Tj/TJ/'/\") -> y-clustered lines ->
reading-order blocks -> heading detection by font-size rank.

Supported subset: content, ToUnicode and object streams stored raw or under
a /Filter chain of FlateDecode, LZWDecode, ASCIIHexDecode, ASCII85Decode and
RunLengthDecode (with /DecodeParms PNG and TIFF predictors for Flate/LZW);
any other filter on such a stream raises PdfUnsupportedFilterError. String
objects follow ISO 32000-1 §7.3.4 in one parser, `_string_at`: hex strings
skip whitespace and pad an odd final digit with 0; literal strings nest
balanced unescaped parentheses, decode the named escapes, 1-3 octal digits
and backslash-EOL line continuation, and keep the character of an unknown
escape. The same parser reads content-stream strings, /ID and the
encryption dict's /O /U /UE /Perms.
PDF 1.5 container features are handled: object streams (/Type /ObjStm)
are expanded into the object table, and cross-reference-stream files
parse fine because object discovery is a full-file scan (the xref is only a
byte-offset index — a scanner never needs it). CID/Type0 fonts carry
multi-byte code-to-glyph mappings this parser cannot decode; documents
declaring one raise PdfUnsupportedFontError, which the extraction kernel
converts to a per-doc `pdf_unsupported_font` error row (graceful at-scale
behavior, reference capability via fitz: processing/image.py:62-108).
y-cluster tolerance is integer-quantized so line grouping never depends on
float rounding.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_NAME_VAL_RE = {
    b"Type": re.compile(rb"/Type\s*/(\w+)"),
    b"Pages": re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R"),
    b"Kids": re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL),
    b"Contents": re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R"),
    b"Filter": re.compile(rb"/Filter\s*/(\w+)"),
}

# content-stream tokens: string opener (parsed by _string_at), number,
# array bracket, name, operator
_CS_TOKEN_RE = re.compile(
    rb"""
      (?P<str>[(<])
    | (?P<num>[+-]?\d+(?:\.\d+)?|[+-]?\.\d+)
    | (?P<arr>[\[\]])
    | (?P<name>/[^\s\[\]()<>/]+)
    | (?P<op>[A-Za-z'"][A-Za-z0-9*'"]*)
    """,
    re.VERBOSE,
)

# string objects (ISO 32000-1 §7.3.4)
_HEX_STRING_RE = re.compile(rb"<([0-9a-fA-F\s]*)>")
# CR is special too: a bare CR or CRLF inside a literal reads as one LF
_LITERAL_SPECIAL_RE = re.compile(rb"[\\()\r]")
# after a backslash: 1-3 octal digits, an EOL (line continuation, dropped)
# or any one byte; nothing at all for a backslash that ends the input
_LITERAL_ESCAPE_RE = re.compile(rb"\\(?:([0-7]{1,3})|(\r\n?|.))?", re.DOTALL)
_NAMED_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
                  b"f": b"\f", b"\n": b"", b"\r": b"", b"\r\n": b""}


def _string_at(body: bytes, i: int) -> tuple[bytes, int] | None:
    """(bytes, end) of the hex `<..>` or literal `(..)` string object that
    starts at body[i], or None if none does. A literal nests balanced
    unescaped parentheses; an escape is a named one (\\n \\r \\t \\b \\f),
    1-3 octal digits (high bits dropped) or a backslash-EOL continuation,
    and any other escaped character stands for itself. A bare CR or CRLF
    reads as one LF (§7.3.4.2). An unterminated literal runs to the end of
    `body`."""
    if body.startswith(b"<", i):
        m = _HEX_STRING_RE.match(body, i)
        if m is None:
            return None
        hx = re.sub(rb"\s", b"", m.group(1))
        if len(hx) % 2:
            hx += b"0"  # §7.3.4.3: odd final digit implies trailing 0
        return bytes.fromhex(hx.decode("ascii")), m.end()
    if not body.startswith(b"(", i):
        return None
    out = bytearray()
    depth = 1
    i += 1
    while (m := _LITERAL_SPECIAL_RE.search(body, i)) is not None:
        j = m.start()
        out += body[i:j]
        c = body[j]
        if c == 0x5C:
            em = _LITERAL_ESCAPE_RE.match(body, j)
            if em.group(1):
                out.append(int(em.group(1), 8) & 0xFF)
            else:
                ch = em.group(2) or b""
                out += _NAMED_ESCAPES.get(ch, ch)
            i = em.end()
            continue
        if c == 0x0D:
            out.append(0x0A)
            i = j + 2 if body.startswith(b"\n", j + 1) else j + 1
            continue
        depth += 1 if c == 0x28 else -1
        if not depth:
            return bytes(out), j + 1
        out.append(c)
        i = j + 1
    out += body[i:]
    return bytes(out), len(body)


@dataclass
class Run:
    yq: int        # quantized baseline y (descending = top of page first)
    x: float
    size: float
    text: str


@dataclass
class PdfBlock:
    kind: str      # heading | paragraph | table
    level: int
    text: str
    size: float
    rows: list | None = None   # table cell grid (kind == 'table')


class PdfUnsupportedFontError(ValueError):
    """Document declares a CID/Type0 font with no usable /ToUnicode CMap
    (multi-byte codes this parser cannot map to text) — callers map it to a
    per-doc error row. Type0 fonts WITH a ToUnicode CMap extract normally
    (the common real-world case: most generators embed one)."""


class PdfUnsupportedFilterError(ValueError):
    """A required stream (page content, ObjStm, ToUnicode) declares a
    /Filter outside the supported set (Flate, LZW, ASCIIHex, ASCII85,
    RunLength, chains thereof) — e.g. CCITTFaxDecode or JBIG2Decode, which
    only make sense for raster images. Callers map it to a per-doc
    `pdf_unsupported_filter` error row (graceful at-scale: a typed lineage
    bucket, never a task failure)."""


class PdfEncryptedError(ValueError):
    """Document is encrypted and cannot be opened with the empty user
    password (password-protected), or uses a security handler outside the
    supported subset (/Standard, V 1/2/4/5 — RC4, AESV2, AESV3 incl. the
    R6 hardened hash). Callers map it to a per-doc `pdf_encrypted` error
    row. Docs encrypted with an owner password but an EMPTY user password
    — the overwhelmingly common real-crawl case — decrypt and extract
    normally."""


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR_RE = re.compile(rb"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*"
    rb"(\[(?:\s*<[0-9a-fA-F]+>)+\s*\]|<[0-9a-fA-F]+>)")


def _utf16be(hexs: bytes) -> str:
    try:
        return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be",
                                                          "replace")
    except ValueError:
        return "�"


def parse_tounicode(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap stream (PDF 9.10.3): bfchar entries and
    bfrange entries in both increment (<lo> <hi> <base>) and array
    (<lo> <hi> [<d0> <d1> ...]) forms -> {code: unicode string}."""
    out: dict[int, str] = {}
    for m in _BFRANGE_RE.finditer(data):
        for rm in _RANGE_RE.finditer(m.group(1)):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if hi - lo > 0xFFFF:          # malformed guard
                continue
            dst = rm.group(3)
            if dst.startswith(b"["):
                items = re.findall(rb"<([0-9a-fA-F]+)>", dst)
                for i, it in enumerate(items[:hi - lo + 1]):
                    out[lo + i] = _utf16be(it)
            else:
                base = int(dst[1:-1], 16)
                for c in range(lo, hi + 1):
                    cp = base + (c - lo)
                    out[c] = chr(cp) if cp <= 0x10FFFF else "�"
    for m in _BFCHAR_RE.finditer(data):
        for cm in _HEXPAIR_RE.finditer(m.group(1)):
            out[int(cm.group(1), 16)] = _utf16be(cm.group(2))
    return out


# /Filter value: single name or array of names (chain, applied in array
# order on decode — ISO 32000-1 §7.4, Table 6). /DecodeParms mirrors it.
_FILTER_VAL_RE = re.compile(rb"/(?:Filter|F(?![A-Za-z]))\s*(\[[^\]]*\]|/\w+)")
_DECODEPARMS_RE = re.compile(rb"/(?:DecodeParms|DP)\s*(\[.*?\]|<<.*?>>|null)",
                             re.DOTALL)

# short filter abbreviations are legal in inline images only, but some
# writers leak them into stream dicts; accept both spellings
_FILTER_ALIAS = {
    b"Fl": b"FlateDecode", b"LZW": b"LZWDecode", b"AHx": b"ASCIIHexDecode",
    b"A85": b"ASCII85Decode", b"RL": b"RunLengthDecode",
}
_SUPPORTED_FILTERS = {b"FlateDecode", b"LZWDecode", b"ASCIIHexDecode",
                      b"ASCII85Decode", b"RunLengthDecode"}


def _dict_int(body: bytes, key: bytes, default: int | None = None) -> int | None:
    """The integer value of /key in a dict body, or `default`."""
    m = re.search(rb"/" + key + rb"\s+(-?\d+)", body)
    return int(m.group(1)) if m else default


def _filter_chain(dict_part: bytes) -> list[tuple[bytes, bytes]]:
    """(filter name, /DecodeParms dict body) per stage of a stream dict's
    /Filter chain, in decode order; b'' stands for null or absent parms."""
    fm = _FILTER_VAL_RE.search(dict_part)
    if not fm:
        return []
    v = fm.group(1)
    names = re.findall(rb"/(\w+)", v) if v.startswith(b"[") else [v[1:]]
    pm = _DECODEPARMS_RE.search(dict_part)
    pv = pm.group(1) if pm else b"null"
    if pv.startswith(b"<<"):
        parms = [pv]
    else:  # array: '<<...>>' / 'null' items in order
        parms = [g if g != b"null" else b""
                 for g in re.findall(rb"<<.*?>>|null", pv, re.DOTALL)]
    return [(name, parms[i] if i < len(parms) else b"")
            for i, name in enumerate(names)]


def _png_unpredict(data: bytes, parms: bytes) -> bytes:
    """Reverse PNG row predictors 10-15 (ISO 32000-1 §7.4.4.4 defers to the
    PNG spec) or TIFF predictor 2; predictor 1/absent is identity. Used for
    Flate/LZW streams whose /DecodeParms carry /Predictor."""
    pred = _dict_int(parms, b"Predictor", 1)
    if pred <= 1:
        return data
    colors = _dict_int(parms, b"Colors", 1)
    bpc = _dict_int(parms, b"BitsPerComponent", 8)
    columns = _dict_int(parms, b"Columns", 1)
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    import numpy as np
    if pred == 2:  # TIFF horizontal differencing (8-bit only here)
        if bpc != 8:
            raise PdfUnsupportedFilterError("predictor 2 with bpc != 8")
        n_rows = len(data) // rowlen
        arr = np.frombuffer(data[:n_rows * rowlen], dtype=np.uint8)
        acc = np.cumsum(arr.reshape(n_rows, -1, bpp).astype(np.int64),
                        axis=1) % 256
        return acc.astype(np.uint8).tobytes()
    # PNG predictors: each row prefixed by a filter-type byte; a truncated
    # last row decodes the bytes it carries
    from docvision_spark.kernel.image_codec import ImageDecodeError, _png_unfilter

    if rowlen < 0:
        raise ValueError(f"png predictor row length {rowlen}")
    if not data:
        return b""
    rowlen = min(rowlen, len(data) - 1)  # a lone partial row: input-bounded
    n_rows = -(-len(data) // (rowlen + 1))
    raw = np.zeros(n_rows * (rowlen + 1), dtype=np.uint8)
    raw[:len(data)] = np.frombuffer(data, dtype=np.uint8)
    try:
        rec = _png_unfilter(raw, n_rows, rowlen, bpp)
    except ImageDecodeError as e:
        raise PdfUnsupportedFilterError(f"png predictor: {e}") from None
    return rec.tobytes()[:len(data) - n_rows]


def _apply_one_filter(name: bytes, data: bytes, parms: bytes) -> bytes:
    """Decode one filter stage; raises PdfUnsupportedFilterError for names
    outside the supported set and ValueError subclasses on corrupt input."""
    name = _FILTER_ALIAS.get(name, name)
    if name not in _SUPPORTED_FILTERS:
        raise PdfUnsupportedFilterError(name.decode("latin-1"))
    if name == b"FlateDecode":
        data = zlib.decompress(data)
        return _png_unpredict(data, parms)
    if name == b"LZWDecode":
        from docvision_spark.kernel.tiff_codec import _lzw_decode
        early = _dict_int(parms, b"EarlyChange", 1) != 0
        data = _lzw_decode(data, 1 << 30, early=early)
        return _png_unpredict(data, parms)
    if name == b"ASCIIHexDecode":
        hx = re.sub(rb"\s", b"", data.split(b">", 1)[0])
        if len(hx) % 2:
            hx += b"0"  # §7.4.2: odd final digit implies trailing 0
        return bytes.fromhex(hx.decode("ascii"))
    if name == b"ASCII85Decode":
        import base64
        raw = re.sub(rb"\s", b"", data)
        end = raw.find(b"~>")
        if end != -1:
            raw = raw[:end]
        return base64.a85decode(raw, adobe=False)
    # RunLengthDecode (§7.4.5): L<128 copy L+1; L>128 repeat next 257-L; 128 EOD
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out += data[i + 1:i + 2 + length]
            i += 2 + length
        else:
            if i + 1 >= n:
                break
            out += data[i + 1:i + 2] * (257 - length)
            i += 2
    return bytes(out)


def _load_stream(body: bytes, oid: int = 0, crypt: "_Crypt | None" = None) -> bytes:
    """Raw (decrypted, decoded) stream bytes of an object body, b'' if
    none. Decryption precedes filter decode: the stored bytes of an
    encrypted PDF are Encrypt(Filter(data)). The full /Filter chain is
    applied in array order (Flate / LZW / ASCIIHex / ASCII85 / RunLength,
    with /DecodeParms predictors for Flate/LZW); unsupported filter names
    raise PdfUnsupportedFilterError so callers emit a typed error row,
    while merely corrupt data in a supported filter degrades to b'' (same
    contract as the old Flate-only path — one bad stream never kills the
    document)."""
    sm = _STREAM_RE.search(body)
    if not sm:
        return b""
    data = _decrypted(crypt, oid, sm.group(1))
    if data is None:
        return b""
    try:
        for name, parms in _filter_chain(body[:sm.start()]):
            data = _apply_one_filter(name, data, parms)
    except PdfUnsupportedFilterError:
        raise
    except (ValueError, zlib.error):
        return b""
    return data


# -- standard security handler (PDF 32000-1:2008 §7.6) ----------------------

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*(?=[<(])")


def _dict_string(body: bytes, key: bytes) -> bytes | None:
    """The bytes of the string value of /key in a dict body, or None."""
    m = re.search(rb"/" + key + rb"\s*[(<]", body)
    s = _string_at(body, m.end() - 1) if m else None
    return None if s is None else s[0]


class _Crypt:
    """Per-document decryptor: file key + crypt-filter kind. Generation
    number is assumed 0 (the synthesizer and the vast majority of real
    streams; a nonzero gen would only mis-key that one object). V5/AESV3
    has no per-object key at all — streams use the file key directly."""

    __slots__ = ("key", "aes", "v5", "n_ok", "perms_ok")

    def __init__(self, key: bytes, aes: bool, v5: bool = False,
                 perms_ok: bool = True):
        self.key = key
        self.aes = aes
        self.v5 = v5
        self.n_ok = 0
        self.perms_ok = perms_ok

    def decrypt(self, oid: int, data: bytes) -> bytes | None:
        """`data` decrypted for object `oid`; None when this one stream
        fails its pad check, PdfEncryptedError when the key does."""
        from docvision_spark.kernel import pdf_crypt
        try:
            if self.v5:
                out = pdf_crypt.decrypt_object_v5(self.key, data)
            else:
                out = pdf_crypt.decrypt_object(self.key, oid, 0, data,
                                               self.aes)
            self.n_ok += 1
            return out
        except pdf_crypt.AesPaddingError as e:
            # A bad pad on the FIRST decrypted stream after successful /U
            # auth is a key-level signal (mis-parsed /ID or a non-standard
            # KDF) => typed error row rather than silently-empty pages
            # (round-3 advice). Once at least one stream has decrypted
            # cleanly the key is proven right, so a later pad failure is
            # per-stream corruption — degrade that one stream to b'' like
            # every other corrupt-stream case (_load_stream's contract;
            # round-4 ADVICE: one bit-rotted stream must not reclassify an
            # otherwise-extractable doc as pdf_encrypted). A V5 key that
            # failed its /Perms check is never proven right: any pad
            # failure then condemns the key, not the stream, and so does
            # a document that yields no text at all (parse_pdf).
            if self.n_ok == 0 or not self.perms_ok:
                raise PdfEncryptedError(f"decrypt failed: {e}") from e
            return None


def _decrypted(crypt: _Crypt | None, oid: int, data: bytes) -> bytes | None:
    """Stream bytes of object `oid` as stored, decrypted when the document
    is; None when this one stream fails its pad check. A key-level failure
    raises PdfEncryptedError."""
    return data if crypt is None else crypt.decrypt(oid, data)


def _build_crypt(payload: bytes, objs: dict[int, bytes]) -> _Crypt | None:
    """None for unencrypted docs; a _Crypt for docs the empty user password
    opens; PdfEncryptedError otherwise (password-protected / unsupported
    handler). Last /Encrypt reference wins (incremental updates)."""
    em = None
    for em in _ENCRYPT_REF_RE.finditer(payload):
        pass
    if em is None:
        return None
    body = objs.get(int(em.group(1)))
    if body is None:
        raise PdfEncryptedError("encrypt dict object missing")
    if not re.search(rb"/Filter\s*/Standard\b", body):
        raise PdfEncryptedError("non-standard security handler")
    v = _dict_int(body, b"V") or 0
    r = _dict_int(body, b"R") or 2
    if v not in (1, 2, 4, 5):
        raise PdfEncryptedError(f"unsupported /V {v}")
    if v in (4, 5):
        # /StmF selects the STREAM crypt filter; the spec default when the
        # key is ABSENT is Identity (PDF 32000-1 Table 20) — streams pass
        # through unencrypted and need no password gate. Only an explicit
        # /StmF /StdCF routes streams through the standard filter; any
        # other named filter is one we cannot decrypt.
        stmf = re.search(rb"/StmF\s*/(\w+)", body)
        if stmf is None or stmf.group(1) == b"Identity":
            return None
        if stmf.group(1) != b"StdCF":
            raise PdfEncryptedError("unsupported stream crypt filter")
    from docvision_spark.kernel import pdf_crypt
    if v == 5:
        # AES-256 (AESV3): /U carries hash+salts, /UE the wrapped file key
        u = _dict_string(body, b"U")
        ue = _dict_string(body, b"UE")
        if u is None or ue is None:
            raise PdfEncryptedError("incomplete V5 encrypt dict")
        key = pdf_crypt.check_user_password_v5(
            b"", u, ue, r if r in (5, 6) else 6)
        if key is None:
            raise PdfEncryptedError("password required")
        # Algorithm 13 alone does not reject the doc: writers that emit a
        # bad /Perms exist and other readers (qpdf, pypdf) only warn. A
        # failed check makes every stream pad failure key-level instead.
        perms = _dict_string(body, b"Perms")
        return _Crypt(key, aes=True, v5=True, perms_ok=(
            perms is None or pdf_crypt.check_perms_v5(key, perms)))
    n = (_dict_int(body, b"Length") or 40) // 8 if v != 1 else 5
    if v == 4:
        n = 16
    o = _dict_string(body, b"O")
    u = _dict_string(body, b"U")
    p = _dict_int(body, b"P")
    if o is None or u is None or p is None:
        raise PdfEncryptedError("incomplete encrypt dict")
    aes = v == 4 and b"/AESV2" in body
    enc_meta = not re.search(rb"/EncryptMetadata\s+false", body)
    id0 = b""
    for im in _ID_RE.finditer(payload):  # last /ID wins (incremental updates)
        s = _string_at(payload, im.end())
        if s is not None:
            id0 = s[0]
    key = pdf_crypt.check_user_password(b"", o, u, p, id0, n, r, enc_meta)
    if key is None:
        raise PdfEncryptedError("password required")
    return _Crypt(key, aes)


_FONTDICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_FONTREF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")


def _page_fonts(objs: dict[int, bytes], page_body: bytes,
                crypt: "_Crypt | None" = None) -> dict[str, dict | None]:
    """{'/F1': cmap-or-None} for a page's /Resources /Font dict. A Type0
    font maps to its ToUnicode cmap; raises PdfUnsupportedFontError for a
    Type0 font with no usable ToUnicode. Simple (non-Type0) fonts map to
    None (strings decode as latin-1/WinAnsi approximation)."""
    fm = _FONTDICT_RE.search(page_body)
    if not fm:
        return {}
    out: dict[str, dict | None] = {}
    for name, oid in _FONTREF_RE.findall(fm.group(1)):
        body = objs.get(int(oid), b"")
        if _TYPE0_RE.search(body):
            tm = _TOUNICODE_RE.search(body)
            cmap = parse_tounicode(
                _load_stream(objs.get(int(tm.group(1)), b""),
                             int(tm.group(1)), crypt)) if tm else {}
            if not cmap:
                raise PdfUnsupportedFontError("CID/Type0 font without ToUnicode")
            out["/" + name.decode("latin-1")] = cmap
        else:
            out["/" + name.decode("latin-1")] = None
    return out


def _expand_objstm(body: bytes, oid: int = 0,
                   crypt: _Crypt | None = None) -> dict[int, bytes]:
    """Parse one /Type /ObjStm body into {obj_id: obj_body} (PDF 1.5 §7.5.7):
    the decompressed stream holds N (id, offset) integer pairs, then the
    object bodies back to back starting at /First. In an encrypted doc the
    ObjStm stream itself is encrypted; the objects inside are NOT separately
    encrypted (spec §7.6.2). Stream extraction/decrypt/inflate is shared
    with every other stream via _load_stream."""
    n = _dict_int(body, b"N", -1)
    first = _dict_int(body, b"First", -1)
    if n < 0 or first < 0:
        return {}
    data = _load_stream(body, oid, crypt)
    if not data:
        return {}
    header = data[:first].split()
    if len(header) < 2 * n:
        return {}
    try:
        pairs = [(int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)]
    except ValueError:
        return {}
    out: dict[int, bytes] = {}
    for i, (oid, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < n else len(data) - first
        out[oid] = data[first + off:first + end]
    return out


def _parse_objects(payload: bytes) -> tuple[dict[int, bytes], _Crypt | None]:
    """Full-file object scan + ObjStm expansion. A scanner needs no xref
    (classic table or 1.5 xref stream — both are just byte-offset indexes),
    so both file layouts parse identically; compressed objects are recovered
    by expanding every object stream. Top-level objects win id collisions
    (incremental-update precedence heuristic: later regex match overwrites).
    The crypt handle is built from the top-level scan (the /Encrypt dict is
    never inside an ObjStm, spec §7.5.7) and used to decrypt ObjStm payloads
    before expansion."""
    objs = {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(payload)}
    crypt = _build_crypt(payload, objs)
    expanded: dict[int, bytes] = {}
    for oid, body in objs.items():
        t = _NAME_VAL_RE[b"Type"].search(body)
        if t and t.group(1) == b"ObjStm":
            expanded.update(_expand_objstm(body, oid, crypt))
    for oid, body in expanded.items():
        objs.setdefault(oid, body)
    return objs, crypt


_RASTER_FILTERS = {b"CCITTFaxDecode", b"DCTDecode", b"JBIG2Decode",
                   b"JPXDecode"}


def pdf_image_xobjects(payload: bytes, max_images: int = 8) -> list:
    """Decoded `(gray, fmt)` pairs — grayscale (H, W) uint8 array
    (255 = paper, 0 = ink) plus the source filter tag — for the
    document's embedded raster image XObjects.

    /CCITTFaxDecode streams (fmt "g4") pixel-decode via kernel/ccitt_codec
    across the whole K surface (K < 0 pure G4 MMR — the dominant
    scanned-doc encoding — plus K == 0 G3 1-D and K > 0 G3 mixed);
    /DCTDecode streams (fmt "jpeg") — the other encoding real scanners
    emit, for grayscale/photo scans — decode via kernel/jpeg_codec and
    reduce to BT.601 luma. /JBIG2Decode streams (fmt "jbig2") decode via
    kernel/jbig2_codec for generic regions in both MMR and MQ-arithmetic
    coding (incl. a /JBIG2Globals stream when referenced); /JPXDecode
    streams (fmt "jpx") decode via kernel/jp2_codec for reversible-5/3
    JPEG 2000 in JP2-box or raw-codestream form (9/7 irreversible is
    skipped — such docs keep typed error/partial semantics elsewhere).
    The reference rasterizes all such pages via
    fitz and OCRs them (reference processing/image.py:62-108); here the
    bitmap itself feeds the media feature path.
    Ink is reported as gray 0 regardless of /BlackIs1 — that flag governs
    the written bit values, not the coding-domain black runs, and feature
    extraction wants ink. Raises PdfEncryptedError for locked docs, like
    parse_pdf."""
    import numpy as np

    from docvision_spark.kernel import ccitt_codec

    objs, crypt = _parse_objects(payload)
    out = []
    for oid in sorted(objs):
        if len(out) >= max_images:
            break
        body = objs[oid]
        sm = _STREAM_RE.search(body)
        if not sm:
            continue
        d = body[:sm.start()]
        if b"/Image" not in d:
            continue
        is_ccitt = b"/CCITTFaxDecode" in d
        is_dct = b"/DCTDecode" in d
        is_jbig2 = b"/JBIG2Decode" in d
        is_jpx = b"/JPXDecode" in d
        if not (is_ccitt or is_dct or is_jbig2 or is_jpx):
            continue
        w, h = _dict_int(d, b"Width", 0), _dict_int(d, b"Height", 0)
        k, cols = _dict_int(d, b"K", 0), _dict_int(d, b"Columns", 1728)
        if w <= 0 or h <= 0 or cols <= 0:
            continue
        balign = re.search(rb"/EncodedByteAlign\s+true", d) is not None
        data = _decrypted(crypt, oid, sm.group(1))
        if data is None:
            continue  # per-stream pad corruption: skip this image
        # real scanners sometimes wrap the raster in transport filters,
        # e.g. [/FlateDecode /DCTDecode]: apply every filter BEFORE the
        # terminal raster filter through the text-side filter machinery
        try:
            for name, parms in _filter_chain(d):
                if name in _RASTER_FILTERS:
                    break
                data = _apply_one_filter(name, data, parms)
        except (ValueError, zlib.error):
            continue  # undecodable transport filter: skip this image
        if is_ccitt:
            try:
                bm = ccitt_codec.g3_decode(data, cols, rows=h, k=k,
                                           byte_align=balign)
            except ccitt_codec.CcittError:
                continue  # corrupt raster degrades like corrupt text
            out.append((np.where(bm != 0, 0, 255).astype(np.uint8), "g4"))
        elif is_jbig2:
            from docvision_spark.kernel.jbig2_codec import (Jbig2Error,
                                                            decode_jbig2)
            gm = re.search(rb"/JBIG2Globals\s+(\d+)\s+\d+\s+R", d)
            gid = int(gm.group(1)) if gm else -1
            gsm = _STREAM_RE.search(objs.get(gid, b""))
            gdata = (_decrypted(crypt, gid, gsm.group(1)) if gsm else None) or b""
            try:
                bm = decode_jbig2(data, gdata)
            except Jbig2Error:
                continue  # arithmetic-coded / malformed: skip this raster
            out.append((np.where(bm != 0, 0, 255).astype(np.uint8),
                        "jbig2"))
        elif is_jpx:
            # /JPXDecode: JPEG 2000 — JP2 box format or raw codestream
            from docvision_spark.kernel.jp2_codec import (Jp2Error,
                                                          decode_jp2)
            try:
                img = decode_jp2(data)
            except Jp2Error:
                continue  # out-of-subset (9/7, multi-tile) or corrupt
            if img.ndim == 3 and img.shape[2] >= 3:
                img = np.clip(np.round(
                    0.299 * img[:, :, 0].astype(np.float64)
                    + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]),
                    0, 255).astype(np.uint8)
            elif img.ndim == 3:
                img = img[:, :, 0]  # 2-comp (gray+alpha): gray plane
            out.append((img, "jpx"))
        else:
            # /DCTDecode: the stream IS a complete JFIF payload
            from docvision_spark.kernel.jpeg_codec import (ImageDecodeError,
                                                           decode_jpeg)
            try:
                rgb = decode_jpeg(data)
            except ImageDecodeError:
                continue
            gray = np.clip(np.round(
                0.299 * rgb[:, :, 0].astype(np.float64)
                + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]),
                0, 255).astype(np.uint8)
            out.append((gray, "jpeg"))
    return out


_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b|/Encoding\s*/Identity-[HV]\b")


def _page_content_streams(
        payload: bytes) -> tuple[list[tuple[bytes, dict]], _Crypt | None]:
    """One (decoded content-stream, font map) per page, page-tree order,
    and the document's crypt handle."""
    objs, crypt = _parse_objects(payload)
    pages_obj = None
    for body in objs.values():
        t = _NAME_VAL_RE[b"Type"].search(body)
        if t and t.group(1) == b"Catalog":
            pm = _NAME_VAL_RE[b"Pages"].search(body)
            if pm:
                pages_obj = int(pm.group(1))
            break
    page_ids: list[int] = []
    if pages_obj is not None and pages_obj in objs:
        km = _NAME_VAL_RE[b"Kids"].search(objs[pages_obj])
        if km:
            page_ids = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
    if not page_ids:  # fallback: all /Type /Page objects in object-id order
        page_ids = sorted(
            oid for oid, body in objs.items()
            if (m := _NAME_VAL_RE[b"Type"].search(body)) and m.group(1) == b"Page"
        )
    streams: list[tuple[bytes, dict]] = []
    for pid in page_ids:
        body = objs.get(pid, b"")
        fonts = _page_fonts(objs, body, crypt)
        cm = _NAME_VAL_RE[b"Contents"].search(body)
        if not cm:
            streams.append((b"", fonts))
            continue
        streams.append((_load_stream(objs.get(int(cm.group(1)), b""),
                                     int(cm.group(1)), crypt), fonts))
    return streams, crypt


def _runs_from_stream(data: bytes, fonts: dict | None = None) -> list[Run]:
    """Execute the text-positioning subset of the content stream. `fonts`
    maps resource names to a ToUnicode cmap (Type0) or None (simple font);
    strings shown under a cmap font decode as 2-byte big-endian codes."""
    fonts = fonts or {}
    runs: list[Run] = []
    font_size = size = 12.0  # size = Tf size x text-matrix scale
    scale = 1.0
    leading = 14.0
    a, b, c, d = 1.0, 0.0, 0.0, 1.0  # text matrix without translation (Tm)
    x = y = 0.0  # start of the current line in user space
    cmap: dict | None = None

    def next_line(tx: float, ty: float) -> None:
        """Move the line start by (tx, ty) in text space (§9.4.2)."""
        nonlocal x, y
        x += tx * a + ty * c
        y += tx * b + ty * d

    def shown(s: str) -> str:
        if cmap is None:
            return s
        raw = s.encode("latin-1", "replace")
        return "".join(
            cmap.get(int.from_bytes(raw[i:i + 2], "big"), "�")
            for i in range(0, len(raw) - 1, 2))

    stack: list[object] = []  # operand stack (numbers / strings / arrays)
    arr: list[object] | None = None
    pos = 0
    while (m := _CS_TOKEN_RE.search(data, pos)) is not None:
        pos = m.end()
        if m.group("str") is not None:
            s = _string_at(data, m.start())
            if s is None:
                continue  # a '<' that opens no hex string (e.g. '<<')
            val: object = s[0].decode("latin-1")
            pos = s[1]
        elif m.group("num") is not None:
            val = float(m.group("num"))
        elif m.group("arr") is not None:
            if m.group("arr") == b"[":
                arr = []
            else:
                val = arr if arr is not None else []
                arr = None
                stack.append(val)
            continue
        elif m.group("name") is not None:
            val = m.group("name").decode("latin-1")
        else:
            op = m.group("op")
            if op == b"Tf":
                if stack and isinstance(stack[-1], float):
                    font_size = stack[-1]
                    size = font_size * scale
                    leading = font_size * 1.2
                if (len(stack) >= 2 and isinstance(stack[-2], str)
                        and stack[-2].startswith("/")):
                    cmap = fonts.get(stack[-2])
            elif op in (b"Td", b"TD"):
                if len(stack) >= 2 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                    next_line(stack[-2], stack[-1])
                    if op == b"TD":
                        leading = -stack[-1] if stack[-1] else leading
            elif op == b"Tm":
                if len(stack) >= 6:
                    try:
                        a, b, c, d, x, y = (float(v) for v in stack[-6:])
                        scale = abs(d) or 1.0
                        size = font_size * scale
                    except (TypeError, ValueError):
                        pass
            elif op == b"TL":
                if stack and isinstance(stack[-1], float):
                    leading = stack[-1]
            elif op == b"T*":
                next_line(0.0, -leading)
            elif op == b"Tj":
                if stack and isinstance(stack[-1], str):
                    runs.append(Run(int(round(y)), x, size, shown(stack[-1])))
            elif op == b"TJ":
                if stack and isinstance(stack[-1], list):
                    parts: list[str] = []
                    for el in stack[-1]:
                        if isinstance(el, str):
                            parts.append(shown(el))
                        elif isinstance(el, float) and el < -150:
                            parts.append(" ")
                    if parts:
                        runs.append(Run(int(round(y)), x, size, "".join(parts)))
            elif op in (b"'", b'"'):
                next_line(0.0, -leading)
                if stack and isinstance(stack[-1], str):
                    runs.append(Run(int(round(y)), x, size, shown(stack[-1])))
            stack = []
            continue
        if arr is not None:
            arr.append(val)
        else:
            stack.append(val)
    return runs


_Y_TOL = 2  # quantized-y units; integer comparison only


def _runs_to_blocks(runs: list[Run]) -> list[PdfBlock]:
    if not runs:
        return []
    # stable sort: top of page first (max y), then left-to-right
    runs = sorted(runs, key=lambda r: (-r.yq, r.x))
    # cluster into lines by quantized y
    lines: list[tuple[int, float, list[Run]]] = []  # (yq, max_size, runs)
    for r in runs:
        if lines and abs(lines[-1][0] - r.yq) <= _Y_TOL:
            yq, sz, rs = lines[-1]
            rs.append(r)
            lines[-1] = (yq, max(sz, r.size), rs)
        else:
            lines.append((r.yq, r.size, [r]))
    # table detection by x-aligned runs: >=2 consecutive lines, each with
    # >=2 runs at IDENTICAL integer-quantized x positions, form a cell grid
    def x_sig(rs: list[Run]) -> tuple:
        return tuple(int(round(r.x)) for r in sorted(rs, key=lambda r: r.x))

    items: list[tuple] = []   # ("line", (yq, sz, runs)) | ("table", rows, last_yq)
    i = 0
    while i < len(lines):
        rs = lines[i][2]
        if len(rs) >= 2:
            sig = x_sig(rs)
            j = i + 1
            while (j < len(lines) and len(lines[j][2]) >= 2
                   and x_sig(lines[j][2]) == sig):
                j += 1
            if j - i >= 2:
                rows_grid = [
                    [" ".join(r.text.split()) for r in sorted(ls[2], key=lambda r: r.x)]
                    for ls in lines[i:j]
                ]
                items.append(("table", rows_grid, lines[j - 1][0]))
                i = j
                continue
        items.append(("line", lines[i]))
        i += 1

    # line gap statistics -> block splits
    sizes = sorted(ln[1] for ln in lines)
    median_size = sizes[len(sizes) // 2]
    blocks: list[PdfBlock] = []
    cur_lines: list[str] = []
    cur_size = lines[0][1]
    prev_y = lines[0][0]

    def flush() -> None:
        nonlocal cur_lines
        txt = " ".join(" ".join(t.split()) for t in cur_lines if t.strip())
        if txt:
            # heading iff font size clearly above page median (rational compare)
            if cur_size * 10 >= median_size * 12:
                # level by size rank: biggest=1
                bigger = len({s for s in sizes if s > cur_size})
                blocks.append(PdfBlock("heading", min(bigger + 1, 3), txt, cur_size))
            else:
                blocks.append(PdfBlock("paragraph", 0, txt, cur_size))
        cur_lines = []

    for item in items:
        if item[0] == "table":
            flush()
            _tag, rows_grid, last_yq = item
            txt = " ".join(" ".join(r) for r in rows_grid)
            blocks.append(PdfBlock("table", 0, txt, cur_size, rows=rows_grid))
            prev_y = last_yq
            cur_lines = []
            continue
        yq, sz, rs = item[1]
        line_txt = " ".join(r.text for r in sorted(rs, key=lambda r: r.x))
        gap = prev_y - yq
        new_block = (
            cur_lines
            and (gap > int(cur_size * 18) // 10 + int(cur_size)  # > ~1.8 lines
                 or (sz != cur_size))
        )
        if new_block:
            flush()
            cur_size = sz
        elif not cur_lines:
            cur_size = sz
        cur_lines.append(line_txt)
        prev_y = yq
    flush()
    return blocks


def parse_pdf(payload: bytes) -> tuple[list[list[PdfBlock]], int]:
    """Parse PDF bytes -> (per-page block lists, page_count)."""
    streams, crypt = _page_content_streams(payload)
    pages = [_runs_to_blocks(_runs_from_stream(s, fonts))
             for s, fonts in streams]
    if crypt is not None and not crypt.perms_ok and not any(pages):
        raise PdfEncryptedError("file key fails /Perms and yields no text")
    return pages, len(streams)
