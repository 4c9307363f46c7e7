"""Property-based robustness: the kernel is total and structurally sound on
ARBITRARY bytes (at 10^12 docs, every byte sequence on the web will arrive
eventually). No Spark needed — pure kernel properties.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docvision_spark.kernel.extract import extract

html_ish = st.one_of(
    st.binary(max_size=4096),
    st.text(max_size=2048).map(lambda s: s.encode("utf-8", "replace")),
    st.builds(
        lambda parts: b"".join(parts),
        st.lists(st.sampled_from([
            b"<p>", b"</p>", b"<div class='nav'>", b"</div>", b"<a href='x'>",
            b"</a>", b"<table><tr><td>", b"</td></tr></table>", b"<h2>",
            b"</h2>", b"<script>var x='<p>';</script>", b"<!-- c -->",
            b"text content here ", b"&amp;&bogus;&#65;&#xZZ;", b"<",
            b"&alpha;&Sigma;&sum;&notin;&rArr;", b"&notify &integer &mdash",
            b"&lceil;x&rfloor; &permil;&sigmaf;&copyright",
            b">", b"\xff\xfe", b"<li>", b"%PDF-", b"<meta charset='latin-1'>",
            b"<pre>raw\n block</pre>", b"<img alt='fig'>",
        ]), max_size=60),
    ),
)


@settings(max_examples=300, deadline=None)
@given(payload=html_ish)
def test_kernel_total_and_sound(payload):
    r = extract("https://fuzz.example/x", payload)
    r2 = extract("https://fuzz.example/x", payload)
    # total: never raises; deterministic: identical on repeat
    assert (r.text, r.markdown, r.spans, r.id, r.error) == \
           (r2.text, r2.markdown, r2.spans, r2.id, r2.error)
    if r.error is None:
        # spans index into text, ordered, non-overlapping
        prev_end = 0
        for (bid, kind, s, e) in r.spans:
            assert 0 <= s <= e <= len(r.text)
            assert s >= prev_end
            prev_end = e
            assert kind in {"heading", "paragraph", "list_item", "table", "caption"}
        assert len(r.id) == 64


@settings(max_examples=100, deadline=None)
@given(payload=st.binary(min_size=5, max_size=2048).map(lambda b: b"%PDF-" + b))
def test_pdf_path_total(payload):
    r = extract("https://fuzz.example/pdf", payload)
    assert r.processing_mode in ("pdf", "")
    if r.error is None:
        for (bid, kind, s, e) in r.spans:
            assert 0 <= s <= e <= len(r.text)


# ---------------------------------------------------------- image codec ----

rgb_arrays = st.tuples(
    st.integers(1, 24), st.integers(1, 24), st.sampled_from([2, 3, 4]),
    st.integers(0, 2**32 - 1),
).map(lambda t: _mk_array(*t))


def _mk_array(h, w, ndim_kind, seed):
    import numpy as np
    rng = np.random.default_rng(seed)
    if ndim_kind == 2:
        return rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    return rng.integers(0, 256, size=(h, w, ndim_kind), dtype=np.uint8)


@settings(max_examples=150, deadline=None)
@given(arr=rgb_arrays, ft=st.integers(0, 4))
def test_png_roundtrip_property(arr, ft):
    """encode->decode is the identity on the RGB channels for every shape,
    every filter type, gray/RGB/RGBA."""
    import numpy as np

    from docvision_spark.kernel.image_codec import decode_png, encode_png

    dec = decode_png(encode_png(arr, filter_type=ft))
    if arr.ndim == 2:
        exp = np.repeat(arr[:, :, None], 3, axis=2)
    elif arr.shape[2] == 4:
        exp = arr[:, :, :3]
    else:
        exp = arr
    assert dec.shape == exp.shape and (dec == exp).all()


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=512))
def test_decode_image_total_on_garbage(data):
    """decode_image never hangs/crashes on arbitrary bytes: it either returns
    a valid array or raises ImageDecodeError (no other exception class)."""
    from docvision_spark.kernel.image_codec import ImageDecodeError, decode_image

    try:
        rgb, fmt = decode_image(data)
        assert rgb.ndim == 3 and rgb.shape[2] == 3
        assert fmt in ("png", "bmp", "pnm", "gif", "jpeg", "tiff", "webp",
                       "jp2")
    except ImageDecodeError:
        pass


@settings(max_examples=100, deadline=None)
@given(data=st.binary(max_size=512), prefix=st.sampled_from(
    [b"\x89PNG\r\n\x1a\n", b"BM", b"P6 ", b"P5\n", b"GIF89a", b"GIF87a",
     b"\xFF\xD8\xFF\xE0", b"\xFF\xD8\xFF\xDB", b"II*\x00", b"MM\x00*",
     b"RIFF\x80\x00\x00\x00WEBPVP8L", b"\xff\x4f\xff\x51",
     b"\x00\x00\x00\x0cjP  \r\n\x87\n"]))
def test_decode_image_total_on_magic_prefixed_garbage(data, prefix):
    """Same totality with valid magic bytes followed by garbage — the parser
    paths themselves must fail cleanly, not just the dispatcher."""
    from docvision_spark.kernel.image_codec import ImageDecodeError, decode_image

    try:
        decode_image(prefix + data)
    except ImageDecodeError:
        pass


@settings(max_examples=150, deadline=None)
@given(data=st.binary(max_size=400),
       filt=st.sampled_from(["/FlateDecode", "/LZWDecode", "/ASCIIHexDecode",
                             "/ASCII85Decode", "/RunLengthDecode",
                             "[/ASCII85Decode /FlateDecode]",
                             "/FlateDecode /DecodeParms << /Predictor 12 "
                             "/Columns 8 >>"]))
def test_pdf_filter_decode_total(data, filt):
    """Every supported /Filter decode path is total on corrupt stream data:
    b'' degrade or PdfUnsupportedFilterError, never a hang or a foreign
    exception (round-4 filter chains)."""
    from docvision_spark.kernel import pdf_text

    body = (f"<< /Filter {filt} /Length {len(data)} >>\nstream\n".encode()
            + data + b"\nendstream")
    out = pdf_text._load_stream(body)
    assert isinstance(out, bytes)


@st.composite
def pdf_string_spellings(draw):
    """Random bytes plus a literal and a hex spelling of them (ISO 32000-1
    §7.3.4): the literal mixes plain bytes, bare CR or CRLF for LF, 1-3
    digit octal, the named escapes, unknown escapes, backslash-EOL
    continuations and unescaped balanced parentheses; the hex form has whitespace, mixed case and, when
    the last nibble is 0, an odd final digit."""
    # bias toward the bytes the literal syntax gives meaning to
    raw = bytes(draw(st.lists(st.one_of(
        st.integers(0, 255), st.sampled_from(b"()\\\r\n07nq")), max_size=40)))
    if draw(st.booleans()):
        raw += bytes([draw(st.integers(0, 15)) << 4])
    # pair parentheses like a bracket matcher: any subset of the pairs may
    # stay bare and the literal still balances
    bare, opened = set(), []
    for i, x in enumerate(raw):
        if x == 0x28:
            opened.append(i)
        elif x == 0x29 and opened:
            j = opened.pop()
            if draw(st.booleans()):
                bare |= {i, j}
    named = {0x0A: b"n", 0x0D: b"r", 0x09: b"t", 0x08: b"b", 0x0C: b"f",
             0x28: b"(", 0x29: b")", 0x5C: b"\\"}
    pieces = []
    for i, x in enumerate(raw):
        how = draw(st.sampled_from(["plain", "octal", "escape"]))
        if i in bare or (how == "plain" and x not in b"()\\\r\n"):
            pieces.append(bytes([x]))
        elif x == 0x0A and how == "plain":
            # a bare EOL reads as one LF; no piece starts with a bare LF,
            # so a lone CR cannot pair up with the next piece
            pieces.append(draw(st.sampled_from([b"\r", b"\r\n"])))
        elif x in named and how != "octal":
            pieces.append(b"\\" + named[x])
        elif how == "octal" or x in b"01234567nrtbf":
            digits = draw(st.integers(len("%o" % x), 3))
            pieces.append(b"\\" + ("%0*o" % (digits, x)).encode())
        else:  # no escape meaning: the backslash is dropped
            pieces.append(b"\\" + bytes([x]))
    for k in range(len(pieces) - 1):
        # an octal escape shorter than 3 digits must not run into a digit
        if (b"0" <= pieces[k][1:2] <= b"7"
                and b"0" <= pieces[k + 1][:1] <= b"7"):
            pieces[k] = b"\\" + ("%03o" % int(pieces[k][1:], 8)).encode()
    pieces = [(b"\\" + draw(st.sampled_from([b"\n", b"\r", b"\r\n"]))
               if draw(st.integers(0, 5)) == 0 else b"") + p for p in pieces]
    literal = b"(" + b"".join(pieces) + b")"
    hx = raw.hex()
    if hx.endswith("0") and draw(st.booleans()):
        hx = hx[:-1]
    hex_form = b"<" + b"".join(
        draw(st.sampled_from([b"", b" ", b"\n", b"\r\n\t"]))
        + (c.upper() if draw(st.booleans()) else c).encode()
        for c in hx) + b">"
    return raw, literal, hex_form


@settings(max_examples=300, deadline=None)
@given(spelled=pdf_string_spellings())
def test_pdf_string_spellings_agree(spelled):
    """One parser reads every spelling of a string to the same bytes, and a
    content stream shows them with Tj as their latin-1 text."""
    from docvision_spark.kernel.pdf_text import _runs_from_stream, _string_at

    raw, literal, hex_form = spelled
    assert _string_at(literal, 0) == (raw, len(literal)), literal
    assert _string_at(hex_form, 0) == (raw, len(hex_form)), hex_form
    for s in (literal, hex_form):
        runs = _runs_from_stream(b"BT /F1 12 Tf 72 700 Td " + s + b" Tj ET")
        assert [r.text for r in runs] == [raw.decode("latin-1")], s


@settings(max_examples=150, deadline=None)
@given(data=st.binary(max_size=600))
def test_vp8l_decode_total_on_garbage(data):
    """vp8l_decode is total on arbitrary bytes after the signature: valid
    array or ImageDecodeError, nothing else, no hangs."""
    from docvision_spark.kernel.image_codec import ImageDecodeError
    from docvision_spark.kernel.vp8l_codec import vp8l_decode

    try:
        out = vp8l_decode(bytes([0x2F]) + data)
        assert out.ndim == 3 and out.shape[2] == 4
    except ImageDecodeError:
        pass


@settings(max_examples=60, deadline=None)
@given(flips=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                      max_size=6), seed=st.integers(min_value=0, max_value=5))
def test_vp8l_bitflip_total(flips, seed):
    """Bit-flipped VALID VP8L streams (past the 5-byte header) decode to
    some image or raise ImageDecodeError — the prefix-code/transform state
    machines never escape their bounds."""
    import numpy as np

    from docvision_spark.kernel.image_codec import ImageDecodeError
    from docvision_spark.kernel.vp8l_codec import vp8l_encode

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(16, 21, 3), dtype=np.uint8)
    enc = bytearray(vp8l_encode(img))
    for f in flips:
        i = 25 + (f % max(1, len(enc) - 26))
        enc[i] ^= 1 << (f % 8)
    from docvision_spark.kernel.vp8l_codec import webp_decode
    try:
        out = webp_decode(bytes(enc))
        assert out.ndim == 3
    except ImageDecodeError:
        pass


feed_ish = st.lists(
    st.sampled_from([
        "<rss>", "</rss>", "<channel>", "</channel>", "<item>", "</item>",
        "<feed>", "</feed>", "<entry>", "</entry>", "<title>", "</title>",
        "<description>", "</description>", "<content:encoded>",
        "</content:encoded>", "<content type=\"xhtml\">", "</content>",
        "<summary>", "</summary>", "<![CDATA[", "]]>", "<p>", "</p>",
        "&lt;p&gt;", "&amp;", "<link href='x'/>", "word soup here ",
        "<?xml version=\"1.0\"?>", "<!-- c -->", "<", ">", "&bogus;",
    ]), max_size=50).map("".join)


@settings(max_examples=300, deadline=None)
@given(s=feed_ish)
def test_feed_blocks_total_and_deterministic(s):
    from docvision_spark.kernel.feed import feed_blocks, looks_like_feed

    looks_like_feed(s)  # total on any string
    doc = "<rss><channel>" + s  # force the feed path
    a = feed_blocks(doc)
    b = feed_blocks(doc)
    assert [(x.kind, x.text, x.level) for x in a] == \
           [(x.kind, x.text, x.level) for x in b]
    from docvision_spark.kernel.markdown import emit
    emit(a)  # block stream is emit-compatible: never raises


# shared XML-subset fragments: every construct kernel/xml_scan.py knows,
# whole and cut off, plus attribute values that hide '>'
xml_ish = st.lists(
    st.sampled_from([
        "<?xml version=\"1.0\"?>", "<?pi a>b ?>", "<?", "<!-- c -->", "<!--",
        "<!DOCTYPE x [<!ENTITY e \"v\">]>", "<!DOCTYPE", "<![CDATA[", "]]>",
        "<svg width=\"4\" height=\"3\">", "</svg>", "<text font=\"a>b\">",
        "</text>", "<tspan>", "</tspan>", "<style>", "</style>", "<g/>",
        "<urlset>", "</urlset>", "<url>", "</url>", "<loc>", "</loc>",
        "<lastmod>", "</lastmod>", "<sm:loc x='>'>", "https://h.ex/a&amp;b",
        "word ", "&amp;", "&bogus;", "<", ">", "\"", "'", "=",
    ]), max_size=50).map("".join)


@settings(max_examples=300, deadline=None)
@given(s=xml_ish)
def test_xml_scan_tokens_cover_the_source_in_order(s):
    from docvision_spark.kernel.xml_scan import TEXT, scan

    toks = list(scan(s, skip=("style",)))
    assert toks == list(scan(s, skip=("style",)))
    pos = 0
    for t in toks:
        assert pos <= t.start < t.end <= len(s)
        if t.kind == TEXT:
            assert t.data == s[t.start:t.end] and "<" not in t.data
        pos = t.end


@settings(max_examples=300, deadline=None)
@given(s=xml_ish)
def test_svg_info_total_and_deterministic(s):
    from docvision_spark.kernel.svg_info import SvgError, svg_info

    for doc in (s, "<svg>" + s):
        try:
            a = svg_info(doc.encode())
        except SvgError:
            continue  # the one typed failure: root is not <svg>
        assert a == svg_info(doc.encode())
        assert a["n_elements"] >= 1 and isinstance(a["text"], str)


@settings(max_examples=300, deadline=None)
@given(s=xml_ish)
def test_parse_sitemap_total_and_deterministic(s):
    from docvision_spark.functions.sitemaps import parse_sitemap

    for doc in (s, "<urlset>" + s):
        a = parse_sitemap(doc.encode())
        assert a == parse_sitemap(doc.encode())
        assert (a["error"] is None) == (a["kind"] is not None)
        assert all(loc.startswith(("http://", "https://"))
                   for loc, _ in a["entries"])
