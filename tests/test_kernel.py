"""Kernel unit tests — pure functions, no Spark (SURVEY.md §5.2.1).

Mirrors the reference's per-operator unit style (tests/unit/test_*.py):
each kernel stage tested in isolation with hand-built inputs.
"""

from __future__ import annotations

from docvision_spark.kernel.charset import decode_html, sniff_charset
from docvision_spark.kernel.classify import classify
from docvision_spark.kernel.dom import segment
from docvision_spark.kernel.entities import decode_entities
from docvision_spark.kernel.extract import extract, sha3_id
from docvision_spark.kernel.html_tokenizer import Tok, parse_attrs, tokenize
from docvision_spark.kernel.markdown import emit
from docvision_spark.kernel.pdf_text import parse_pdf


# ---------------------------------------------------------------- charset --
def test_sniff_meta_charset():
    assert sniff_charset(b'<html><meta charset="iso-8859-1"></html>') == "latin-1"
    assert sniff_charset(b'<meta charset=UTF-8>') == "utf-8"
    assert sniff_charset(b"no declaration at all") == "utf-8"
    assert sniff_charset(b'<meta charset="x-unknown-enc">') == "utf-8"


def test_decode_latin1_roundtrip():
    payload = '<meta charset="iso-8859-1"><p>caf\xe9</p>'.encode("latin-1")
    text, cs = decode_html(payload)
    assert cs == "latin-1"
    assert "café" in text


def test_decode_invalid_utf8_is_deterministic():
    t1, _ = decode_html(b"<p>\xff\xfe bad bytes</p>")
    t2, _ = decode_html(b"<p>\xff\xfe bad bytes</p>")
    assert t1 == t2


# --------------------------------------------------------------- entities --
def test_entities():
    assert decode_entities("a &amp; b") == "a & b"
    assert decode_entities("&lt;tag&gt;") == "<tag>"
    assert decode_entities("x&nbsp;y") == "x y"
    assert decode_entities("&#65;&#x42;") == "AB"
    assert decode_entities("&#147;q&#148;") == "“q”"  # C1 remap
    assert decode_entities("&bogusent;") == "&bogusent;"
    assert decode_entities("no amp") == "no amp"


def test_entities_widened_table():
    # Greek / arrows / math decode with the ';' present
    assert decode_entities("&alpha;&Omega;&sigmaf;") == "αΩς"
    assert decode_entities("a &rArr; b &harr; c") == "a ⇒ b ↔ c"
    assert decode_entities("&sum;&isin;&le;&ne;&infin;") == "∑∈≤≠∞"
    assert decode_entities("&OElig;&oelig;&permil;&loz;") == "Œœ‰◊"
    assert decode_entities("&lceil;x&rfloor;") == "⌈x⌋"


def test_entities_semicolon_rules():
    # post-legacy names REQUIRE the semicolon (browser parity): '&integer'
    # must not decode via the 'int' prefix, '&pine' not via 'pi'
    assert decode_entities("a=1&integer") == "a=1&integer"
    assert decode_entities("&pine") == "&pine"
    assert decode_entities("&mdash no semi") == "&mdash no semi"
    # legacy Latin-1 names still decode without it (longest prefix)
    assert decode_entities("&notify") == "¬ify"
    assert decode_entities("&copyright") == "©right"
    assert decode_entities("&timesup") == "×up"


# -------------------------------------------------------------- tokenizer --
def test_tokenize_basic():
    toks = list(tokenize('<p class="x">Hi <b>there</b></p>'))
    assert toks[0] == Tok("start", "p", ' class="x"', False)
    assert toks[1].kind == "text" and toks[1].data == "Hi "
    assert [t.kind for t in toks] == ["start", "text", "start", "text", "end", "end"]


def test_tokenize_rawtext_swallowed():
    toks = list(tokenize("<script>var a = '<p>no</p>';</script><p>yes</p>"))
    texts = [t.data for t in toks if t.kind == "text"]
    assert texts == ["yes"]


def test_tokenize_malformed():
    # stray '<', unterminated comment, unclosed tag at EOF
    toks1 = list(tokenize("a < b <p>ok"))
    assert any(t.kind == "start" and t.data == "p" for t in toks1)
    toks2 = list(tokenize("<!-- never closed <p>x"))
    assert all(t.kind != "start" for t in toks2)
    list(tokenize("<p attr="))  # must not raise


def test_tokenize_rawtext_and_attr_edges():
    """Edge cases of the rawtext and attribute branches, pinned on both the
    token stream and the DOM blocks built from the same scan."""
    S, E, T = (lambda n, a="", sc=False: Tok("start", n, a, sc),
               lambda n: Tok("end", n), lambda t: Tok("text", t))
    cases = [
        # unclosed <script> at EOF: content dropped, element closed, scan ends
        ("<p>before</p><script>var x = '<p>never</p>';",
         [S("p"), T("before"), E("p"), S("script"), E("script")],
         ["before"]),
        # self-closing <script/> swallows nothing
        ("<p>one <script/>two</p>",
         [S("p"), T("one "), S("script", "/", True), T("two"), E("p")],
         ["one two"]),
        # upper-case close tag with trailing space still ends the rawtext
        ("<p>x</p><script>if (a<b) {}</SCRIPT ><p>y</p>",
         [S("p"), T("x"), E("p"), S("script"), E("script"),
          S("p"), T("y"), E("p")],
         ["x", "y"]),
        # '>' inside quoted attribute values does not end the tag
        ("<p title=\"a > b\">text <a href='/x?a>b'>link</a></p>",
         [S("p", ' title="a > b"'), T("text "), S("a", " href='/x?a>b'"),
          T("link"), E("a"), E("p")],
         ["text link"]),
    ]
    for html, toks, texts in cases:
        assert list(tokenize(html)) == toks, html
        assert [b.text for b in segment(html)] == texts, html


def test_parse_attrs():
    a = parse_attrs(' id="main" class=\'a b\' data-x=1 checked')
    assert a == {"id": "main", "class": "a b", "data-x": "1", "checked": ""}


# --------------------------------------------------------------- dom ------
def test_segment_blocks_and_signals():
    html = """<body><nav class="main-nav"><a href="/">Home</a></nav>
    <main><h2>Title here</h2><p>A paragraph that is long enough to stand on its own two feet.</p>
    <ul><li>First item in the list</li><li>Second item in the list</li></ul></main>
    <footer><p>copyright text</p></footer></body>"""
    blocks = segment(html)
    kinds = [(b.kind, b.signal) for b in blocks]
    assert ("heading", 1) in kinds
    assert ("list_item", 1) in kinds
    nav = [b for b in blocks if "Home" in b.text]
    assert nav and nav[0].signal == -1
    foot = [b for b in blocks if "copyright" in b.text]
    assert foot and foot[0].signal == -1


def test_segment_implied_end_tags():
    html = "<p>first para<p>second para</p>"
    blocks = segment(html)
    texts = [b.text for b in blocks]
    assert texts == ["first para", "second para"]


def test_segment_table():
    html = ("<table><tr><th>A</th><th>B</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>")
    blocks = segment(html)
    assert blocks[0].kind == "table"
    assert blocks[0].rows == [["A", "B"], ["1", "2"]]


def test_table_cell_inline_element_spacing():
    # words separated by inline elements inside a cell keep their separator
    html = ("<table><tr><td><b>a</b> <b>b</b></td>"
            "<td>c <i>d</i>e</td></tr></table>")
    blocks = segment(html)
    assert blocks[0].rows == [["a b", "c de"]]


def test_anchor_chars_tracked():
    html = '<p><a href="x">link text here</a> and some plain words</p>'
    b = segment(html)[0]
    assert 0 < b.anchor_chars < b.chars


def _shape(html: str) -> list[tuple]:
    return [(b.kind, b.text, b.level, b.anchor_chars, b.ordered, b.rows)
            for b in segment(html)]


def test_segment_nesting_rules():
    """_Builder's error-recovery and nesting rules, pinned case by case."""
    # a table nested in a cell: only the outermost table assembles rows;
    # the inner table's text lands in the open outer cell
    assert _shape("<table><tr><td>a<table><tr><td>x</td><td>y</td></tr>"
                  "</table>b</td><td>c</td></tr></table><p>after</p>") == [
        ("table", "axyb c", 0, 0, False, [["axyb", "c"]]),
        ("paragraph", "after", 0, 0, False, [])]
    # closing the inner heading ends heading mode for the outer one too
    assert _shape("<h1>a<h2>b</h2> tail</h1>") == [
        ("heading", "a", 1, 0, False, []), ("heading", "b", 2, 0, False, []),
        ("paragraph", "tail", 0, 0, False, [])]
    # an unmatched end tag is ignored: no block boundary
    assert _shape("<p>one</div>two</p><p>three</p>") == [
        ("paragraph", "onetwo", 0, 0, False, []),
        ("paragraph", "three", 0, 0, False, [])]
    # </a> closes the anchor across a still-open block
    assert _shape("<p><a href=x>link<div>inner</a> rest</div> more</p>") == [
        ("paragraph", "link", 0, 4, False, []),
        ("paragraph", "inner rest", 0, 5, False, []),
        ("paragraph", "more", 0, 0, False, [])]
    # a self-closing <a/> stays open: its chars count until the parent closes
    assert _shape("<p><a/>anchored text</p><p>plain</p>") == [
        ("paragraph", "anchored text", 0, 13, False, []),
        ("paragraph", "plain", 0, 0, False, [])]
    # nested <pre>: each level splits a block, all of them stay pre
    assert _shape("<pre>x\n  <pre>y\n  z</pre>  w\n</pre><p>after</p>") == [
        ("pre", "x\n  ", 0, 0, False, []), ("pre", "y\n  z", 0, 0, False, []),
        ("pre", "  w", 0, 0, False, []),
        ("paragraph", "after", 0, 0, False, [])]
    # an <ol> inside a <ul> item: only its own items are ordered, also when
    # the </ul> closes the <ol> implicitly
    for html in ("<ul><li>u1<ol><li>o1</li></ol></li><li>u2</li></ul>",
                 "<ul><li>u1<ol><li>o1</ul><li>u2</li>"):
        assert [(b.text, b.ordered) for b in segment(html)] == [
            ("u1", False), ("o1", True), ("u2", False)]
    # stray cells and row ends outside any table are plain blocks
    assert _shape("<td>cell</td></tr><p>para</p><tr><td>c2</td></tr>") == [
        ("paragraph", "cell", 0, 0, False, []),
        ("paragraph", "para", 0, 0, False, []),
        ("paragraph", "c2", 0, 0, False, [])]


# ------------------------------------------------------------- classify ---
def test_classify_rules():
    html = """<body>
    <div class="sidebar"><p>This sidebar paragraph is long but inside a negative class so it dies.</p></div>
    <p><a href="1">one</a> <a href="2">two</a> <a href="3">three</a></p>
    <main><p>Real content paragraph, long enough to pass the chars threshold easily.</p>
    <p>tail</p></main>
    <h2>Dangling heading with no content after it</h2>
    </body>"""
    blocks = segment(html)
    keep = classify(blocks)
    kept = [b.text for b, k in zip(blocks, keep) if k]
    assert any("Real content" in t for t in kept)
    assert any(t == "tail" for t in kept)          # continuation rule
    assert not any("sidebar" in t for t in kept)   # neg class
    assert not any("one" in t for t in kept)       # link density
    assert not any("Dangling" in t for t in kept)  # heading prune


# ------------------------------------------------------------- markdown ---
def test_markdown_pipe_table_and_spans():
    html = ("<main><h1>T</h1><p>A paragraph long enough to be kept as content here.</p>"
            "<table><tr><th>H1</th><th>H2</th></tr><tr><td>a</td><td>bb</td></tr></table></main>")
    text, md, spans = emit(segment(html))
    assert md.startswith("# T")
    assert "| H1" in md and "| --" in md
    # spans index into text exactly
    for (_bid, _kind, s, e) in spans:
        assert text[s:e] == text[s:e].strip() or True
        assert 0 <= s <= e <= len(text)
    hd = spans[0]
    assert text[hd[2]:hd[3]] == "T"


def test_markdown_heading_clamp():
    html = "<main><h5>Deep</h5><p>Content paragraph long enough to keep the heading alive.</p></main>"
    _, md, _ = emit(segment(html))
    assert md.startswith("### Deep")  # h5 -> clamped to 3


# ------------------------------------------------------------------ pdf ---
def _tiny_pdf() -> bytes:
    from docvision_spark.corpus import make_pdf
    import random
    return make_pdf("v", random.Random(7), "en")


def test_pdf_parse():
    pages, count = parse_pdf(_tiny_pdf())
    assert count >= 1 and len(pages) == count
    assert pages[0], "first page has blocks"
    assert pages[0][0].kind == "heading"  # 20pt title
    assert all(b.text.strip() for p in pages for b in p)


def test_pdf_string_escapes():
    from docvision_spark.kernel.pdf_text import _string_at
    assert _string_at(rb"(a\(b\)c\\d)", 0) == (b"a(b)c\\d", 12)
    assert _string_at(rb"(\101\102)", 0) == (b"AB", 10)
    assert _string_at(rb"(x\ny)", 0) == (b"x\ny", 6)
    # unknown escape keeps its character; backslash-EOL continues the line
    assert _string_at(rb"(a\qb)", 0) == (b"aqb", 6)
    for eol in (b"\n", b"\r", b"\r\n"):
        assert _string_at(b"(a\\" + eol + b"b)", 0)[0] == b"ab"
    # a bare EOL inside a literal reads as one LF (§7.3.4.2)
    assert _string_at(b"(a\r\nb)", 0) == (b"a\nb", 6)
    assert _string_at(b"(a\rb)", 0) == (b"a\nb", 5)
    # at most 3 octal digits; balanced parentheses need no escape
    assert _string_at(rb"(\0053(p(q)r))", 0)[0] == b"\x053(p(q)r)"
    assert _string_at(b"x<4 1 4>", 1) == (b"A@", 8)  # odd digit: trailing 0
    assert _string_at(b"<<", 0) is None


def test_pdf_nested_parens_in_content_stream():
    """Unescaped balanced parentheses are legal inside a literal string
    (ISO 32000-1 §7.3.4.2); the shown text keeps them."""
    from docvision_spark.kernel.pdf_text import _runs_from_stream

    def shown(cs: bytes) -> list[str]:
        return [r.text for r in _runs_from_stream(cs)]

    assert shown(b"BT /F1 12 Tf (p(q)r) Tj ET") == ["p(q)r"]
    assert shown(b"BT [(Hello) -200 (W(or)ld)] TJ ET") == ["Hello W(or)ld"]
    assert shown(b"BT <</MCID 0>> BDC <48 69> Tj EMC ET") == ["Hi"]


def test_pdf_text_matrix_scales_font_size():
    """A run's size is the Tf size times the text-matrix scale: a title
    written as `/F1 1 Tf 24 0 0 24 x y Tm` is the same heading as one
    written with `/F1 24 Tf`."""
    from docvision_spark.kernel.pdf_text import _runs_from_stream, _runs_to_blocks

    body = b"".join(
        b"/F1 10 Tf 1 0 0 1 72 %d Tm (Body line %d of the page text) Tj "
        % (650 - 14 * i, i) for i in range(3))
    by_tm = b"BT /F1 1 Tf 24 0 0 24 72 700 Tm (A Big Title) Tj " + body + b"ET"
    by_tf = b"BT /F1 24 Tf 1 0 0 1 72 700 Tm (A Big Title) Tj " + body + b"ET"
    blocks = _runs_to_blocks(_runs_from_stream(by_tm))
    assert blocks == _runs_to_blocks(_runs_from_stream(by_tf))
    assert [(b.kind, b.size) for b in blocks] == [("heading", 24.0),
                                                  ("paragraph", 10.0)]


def test_pdf_line_moves_go_through_text_matrix():
    """Td/TD/T*/' offsets are in text space: under `12 0 0 12 x y Tm` a
    `0 -1.2 Td` moves the baseline down 14.4 units, not 1.2."""
    from docvision_spark.kernel.pdf_text import _runs_from_stream

    def baselines(ops: bytes) -> list[tuple[int, float]]:
        cs = b"BT /F1 1 Tf 12 0 0 12 72 700 Tm (one) Tj " + ops + b" ET"
        return [(r.yq, r.x) for r in _runs_from_stream(cs)]

    assert baselines(b"0 -1.2 Td (two) Tj") == [(700, 72.0), (686, 72.0)]
    assert baselines(b"1 -1.2 TD (two) Tj T* (three) Tj") == [
        (700, 72.0), (686, 84.0), (671, 84.0)]
    assert baselines(b"1.2 TL T* (two) Tj (three) '") == [
        (700, 72.0), (686, 72.0), (671, 72.0)]


def test_pdf_spans_across_pages():
    """Document spans index the document text across pages: every span
    covers its block's text, block ids are dense over all pages, and the
    document text is the page texts joined by a blank line."""
    import random

    from docvision_spark.corpus import make_pdf

    payload = make_pdf("v", random.Random(5), "en")
    pages, _ = parse_pdf(payload)
    blocks = [b for page in pages for b in page]
    r = extract("v", payload)
    assert r.error is None and len(r.pages) == 3
    assert [bid for bid, _k, _s, _e in r.spans] == list(range(len(blocks)))
    for (_bid, kind, s, e), b in zip(r.spans, blocks):
        assert r.text[s:e] == b.text
        assert kind == b.kind
    assert "table" in {b.kind for b in blocks}
    assert "\n\n".join(t for _pno, t, _md in r.pages) == r.text


def test_pdf15_layout_parity():
    """The same page content in the classic-xref 1.4 layout and the 1.5
    ObjStm + xref-stream layout must extract byte-identically (layout is a
    container concern, never a content concern)."""
    import random

    from docvision_spark.corpus import make_pdf

    for seed in (3, 11, 29):
        p14 = make_pdf("v", random.Random(seed), "en", force_layout15=False,
                       force_type0=False)
        p15 = make_pdf("v", random.Random(seed), "en", force_layout15=True,
                       force_type0=False)
        assert p14.startswith(b"%PDF-1.4") and p15.startswith(b"%PDF-1.5")
        assert p14 != p15
        r14, r15 = extract("v", p14), extract("v", p15)
        assert r14.error is None and r15.error is None
        assert r14.text == r15.text and r14.markdown == r15.markdown
        assert r14.pages == r15.pages and r14.id == r15.id


def test_pdf_objstm_expansion():
    """Objects hidden in a /Type /ObjStm are recovered by the scanner."""
    import random

    from docvision_spark.corpus import make_pdf
    from docvision_spark.kernel.pdf_text import _parse_objects

    p15 = make_pdf("v", random.Random(5), "en", force_layout15=True,
                   force_type0=False)
    objs, _crypt = _parse_objects(p15)
    # catalog, pages node and font live only inside the ObjStm
    assert 1 in objs and b"/Catalog" in objs[1]
    assert 2 in objs and b"/Pages" in objs[2]
    assert 3 in objs and b"/Font" in objs[3]


def test_pdf_type0_font_error_row():
    """A CID/Type0 font document WITHOUT a ToUnicode CMap yields the typed
    pdf_unsupported_font error row in BOTH container layouts — never a
    raise, never silent garbage text."""
    import random

    from docvision_spark.corpus import make_pdf

    for layout15 in (False, True):
        p = make_pdf("v", random.Random(13), "en", force_layout15=layout15,
                     force_type0=True, force_tounicode=False)
        r = extract("v", p)
        assert r.error == "pdf_unsupported_font"
        assert r.processing_mode == "pdf" and r.text == ""


def test_pdf_type0_tounicode_extracts():
    """Type0 + /ToUnicode (the common real-world case): 2-byte-coded zh
    text decodes through the CMap — identical in both container layouts,
    headings detected from Tf sizes as usual."""
    import random

    from docvision_spark.corpus import make_pdf

    outs = []
    for layout15 in (False, True):
        p = make_pdf("v", random.Random(3), "en", force_layout15=layout15,
                     force_type0=True, force_tounicode=True)
        r = extract("v", p)
        outs.append((r.error, r.text, r.markdown, r.id))
    assert outs[0] == outs[1]
    err, text, md, _ = outs[0]
    assert err is None
    assert "。" in text                      # cmap'd zh text came through
    assert "2026" in text                    # digits via the bfrange entry
    assert "\n# " in md                      # 20pt title -> heading
    assert "�" not in text              # every CID mapped


def test_head_metadata_extraction():
    """rel=canonical + meta robots surface on ExtractResult; first
    occurrence wins; absent -> None; body text unaffected."""
    html = (b'<html><head><link rel="canonical" href="https://ex.com/a">'
            b'<link rel="canonical" href="https://ex.com/b">'
            b'<meta name="ROBOTS" content="NOINDEX, follow"></head>'
            b"<body><main><p>Body text of sufficient length for a block."
            b"</p></main></body></html>")
    r = extract("u", html)
    assert r.canonical_url == "https://ex.com/a"     # first wins
    assert r.robots == "noindex, follow"             # lowercased
    assert "Body text" in r.text
    r2 = extract("u", b"<main><p>No head metadata here at all.</p></main>")
    assert r2.canonical_url is None and r2.robots is None


def test_encrypted_pdf_extracts_byte_identically():
    """RC4-40, RC4-128 and AES-128 docs (empty user password) extract the
    SAME text/markdown as their unencrypted twin, in both file layouts,
    including through an encrypted /ToUnicode CMap stream."""
    import random

    from docvision_spark.corpus import make_pdf

    for kind in ("rc4", "rc4_40", "aes", "aes256"):
        for layout15 in (False, True):
            enc = make_pdf("https://e.com/x", random.Random(3), "en",
                           force_layout15=layout15, force_type0=False,
                           force_encrypt=kind)
            plain = make_pdf("https://e.com/x", random.Random(3), "en",
                             force_layout15=layout15, force_type0=False,
                             force_encrypt="none")
            assert enc != plain
            re_, rp = extract("u", enc), extract("u", plain)
            assert re_.error is None, (kind, layout15, re_.error)
            assert re_.text == rp.text and re_.markdown == rp.markdown
    # Type0 + encrypted ToUnicode stream
    enc = make_pdf("u2", random.Random(9), "en", force_type0=True,
                   force_tounicode=True, force_encrypt="aes")
    plain = make_pdf("u2", random.Random(9), "en", force_type0=True,
                     force_tounicode=True, force_encrypt="none")
    assert extract("u2", enc).text == extract("u2", plain).text


def test_stmf_identity_streams_pass_through():
    """A V4 doc declaring /StmF /Identity leaves streams UNencrypted (only
    strings are) — the parser must not decrypt them, whatever the password."""
    import random
    import re as _re

    from docvision_spark.corpus import make_pdf

    plain = make_pdf("v", random.Random(6), "en", force_layout15=False,
                     force_type0=False, force_encrypt="none")
    locked = make_pdf("v", random.Random(6), "en", force_layout15=False,
                      force_type0=False, force_encrypt="locked")
    # graft an Identity-StmF V4 encrypt dict (streams stay plain bytes):
    # reuse the locked doc's /O //U values but mark streams Identity
    enc_dict = _re.search(rb"<< /Filter /Standard.*?>>", locked,
                          _re.DOTALL).group(0)
    ident = enc_dict.replace(b"/V 2 /R 3", b"/V 4 /R 4").replace(
        b" /O <", b" /CF << /StdCF << /CFM /V2 >> >> /StmF /Identity"
                  b" /StrF /StdCF /O <")
    nobj = max(int(m.group(1)) for m in
               _re.finditer(rb"(\d+) 0 obj", plain)) + 1
    doc = plain.replace(
        b"trailer\n<< /Size",
        f"{nobj} 0 obj\n".encode() + ident + b"\nendobj\ntrailer\n<< /Size")
    doc = doc.replace(b" /Root 1 0 R >>",
                      f" /Root 1 0 R /Encrypt {nobj} 0 R "
                      f"/ID [<00112233445566778899aabbccddeeff> "
                      f"<00112233445566778899aabbccddeeff>] >>".encode())
    r = extract("u", doc)
    rp = extract("u", plain)
    assert r.error is None and r.text == rp.text


def test_password_protected_pdf_error_row():
    """A doc whose USER password is non-empty cannot be opened -> the typed
    `pdf_encrypted` error row (graceful at-scale behavior, never a crash)."""
    import random

    from docvision_spark.corpus import make_pdf

    for layout15 in (False, True):
        locked = make_pdf("https://e.com/locked", random.Random(4), "en",
                          force_layout15=layout15, force_type0=False,
                          force_encrypt="locked")
        r = extract("u", locked)
        assert r.error == "pdf_encrypted"
        assert r.text == "" and r.processing_mode == "pdf"


def test_parse_tounicode_forms():
    """CMap parser handles bfchar, increment bfrange, and array bfrange."""
    from docvision_spark.kernel.pdf_text import parse_tounicode

    cmap = parse_tounicode(b"""
        1 beginbfrange
        <0030> <0032> <0041>
        <0040> <0041> [<4E00> <4E8C>]
        endbfrange
        2 beginbfchar
        <0100> <673A>
        <0101> <D83DDE00>
        endbfchar
        """)
    assert cmap[0x30] == "A" and cmap[0x32] == "C"      # increment range
    assert cmap[0x40] == "一" and cmap[0x41] == "二"     # array range
    assert cmap[0x100] == "机"                           # bfchar
    assert cmap[0x101] == "😀"                           # surrogate pair


# -------------------------------------------------------------- extract ---
def test_extract_dispatch_and_id():
    r = extract("u", b"<main><p>Hello world, a content paragraph of sufficient length.</p></main>")
    assert r.processing_mode == "html" and r.error is None
    assert r.id == sha3_id(r.text) and len(r.id) == 64
    rp = extract("u", _tiny_pdf())
    assert rp.processing_mode == "pdf" and rp.page_count >= 1


def test_extract_error_rows_not_raises():
    r = extract("u", None)
    assert r.error == "empty_payload"
    r2 = extract("u", b"%PDF-garbage not a real pdf \xff\xfe")
    assert r2.error is None or isinstance(r2.error, str)  # never raises


def test_extract_truncation_guard():
    import docvision_spark.kernel.extract as ex
    big = b"<main><p>" + b"word " * 10 + b"</p></main>"
    old = ex.MAX_DOC_BYTES
    try:
        ex.MAX_DOC_BYTES = 20
        r = extract("u", big)
        assert r.truncated
    finally:
        ex.MAX_DOC_BYTES = old


def test_kernel_purity():
    """Same input -> byte-identical output, repeatedly (north-rule invariant)."""
    from docvision_spark.corpus import gen_urls, make_page
    for u in gen_urls(20):
        p = make_page(u).html
        a, b = extract(u, p), extract(u, p)
        assert (a.text, a.markdown, a.spans, a.id) == (b.text, b.markdown, b.spans, b.id)


# ------------------------------------------------------- PDF stream filters

def _stream_body(filt: str, enc: bytes) -> bytes:
    return (f"<< {filt}/Length {len(enc)} >>\nstream\n".encode()
            + enc + b"\nendstream")


def _png_predict(data: bytes, rowlen: int, bpp: int,
                 types: tuple[int, ...]) -> bytes:
    """PNG-predicted rows of rowlen bytes, cycling the filter types; the
    last row keeps whatever bytes remain."""
    import numpy as np

    from docvision_spark.kernel.image_codec import _png_filter_row

    out = bytearray()
    prior = np.zeros(rowlen, dtype=np.uint8)
    for y, i in enumerate(range(0, len(data), rowlen)):
        line = np.frombuffer(data[i:i + rowlen], dtype=np.uint8)
        ft = types[y % len(types)]
        out.append(ft)
        out += _png_filter_row(ft, line, prior[:len(line)], bpp).tobytes()
        prior = line
    return bytes(out)


def test_pdf_filter_roundtrips():
    """Every supported /Filter (and the A85→Flate chain + Predictor-12
    parameterization) must decode back to the original stream bytes."""
    import zlib

    import pytest

    from docvision_spark.corpus import _pdf_stream_filter, _png_up_encode, _rle_encode
    from docvision_spark.kernel import pdf_text
    from docvision_spark.kernel.tiff_codec import _lzw_encode

    data = bytes(range(256)) * 37 + b"BT (tail) Tj ET"
    cases = [
        ("/Filter /FlateDecode ", zlib.compress(data)),
        ("/Filter /LZWDecode ", _lzw_encode(data)),
        ("/Filter /ASCIIHexDecode ", data.hex().encode() + b">"),
        ("/Filter /RunLengthDecode ", _rle_encode(data)),
        ("/Filter [/ASCII85Decode /FlateDecode] ",
         __import__("base64").a85encode(zlib.compress(data)) + b"~>"),
        ("/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 64 >> ",
         zlib.compress(_png_up_encode(data, 64))),
    ]
    # PNG predictor rows of every type; len(data) is not a multiple of
    # either row length, so the last row is truncated. 3 colors x 4 bits x
    # 3 columns is a 5-byte row over 2-byte pixels.
    for colors, bpc, columns, bpp in ((3, 8, 7, 3), (3, 4, 3, 2)):
        rowlen = (colors * bpc * columns + 7) // 8
        parms = (f"/DecodeParms << /Predictor 15 /Colors {colors} "
                 f"/BitsPerComponent {bpc} /Columns {columns} >> ")
        enc = _png_predict(data, rowlen, bpp, (1, 3, 4, 2, 0))
        assert len(data) % rowlen
        assert pdf_text._load_stream(_stream_body(
            "/Filter /FlateDecode " + parms, zlib.compress(enc))) == data
        with pytest.raises(pdf_text.PdfUnsupportedFilterError):
            pdf_text._png_unpredict(enc[:rowlen + 1] + b"\x05" + enc[1:],
                                    parms.encode())
    # a hostile /Colors makes bpp and the row length huge: the lone
    # partial row has no left or upper neighbours, and no buffer may be
    # sized from the declared geometry instead of the input
    import tracemalloc
    tracemalloc.start()
    try:
        for ft in (1, 2, 3, 4):
            assert pdf_text._png_unpredict(
                bytes([ft]) + data,
                b"/Predictor 15 /Colors 100000000 /Columns 1") == data
        assert tracemalloc.get_traced_memory()[1] < 2 << 20
    finally:
        tracemalloc.stop()
    for filt, enc in cases:
        assert pdf_text._load_stream(_stream_body(filt, enc)) == data, filt
    # the corpus selector itself must agree with the kernel for many urls
    for i in range(60):
        filt, enc = _pdf_stream_filter(f"http://h{i}.test/x", data)
        if "JBIG2" in filt:
            continue
        assert pdf_text._load_stream(_stream_body(filt, enc)) == data, filt


def test_pdf_lzw_early_change_param():
    """/EarlyChange 0 streams decode via the non-early table schedule; the
    default (absent) is early — mixing them up corrupts output past the
    first width bump, which needs >253 table entries to reach."""
    from docvision_spark.kernel import pdf_text
    from docvision_spark.kernel.tiff_codec import _lzw_decode, _lzw_encode

    # long low-entropy data forces several width bumps
    data = (b"abcd" * 9 + b"efgh~" * 7 + bytes(range(200))) * 40
    enc = _lzw_encode(data)  # early-change encoder
    assert _lzw_decode(enc, 1 << 24, early=True) == data
    body = _stream_body(
        "/Filter /LZWDecode /DecodeParms << /EarlyChange 1 >> ", enc)
    assert pdf_text._load_stream(body) == data
    # wrong schedule must NOT silently round-trip: after the first width
    # bump the code stream desynchronizes — either corrupt output or a
    # detected out-of-range code
    try:
        assert _lzw_decode(enc, 1 << 24, early=False) != data
    except Exception:
        pass  # detected desync is equally acceptable


def test_pdf_unsupported_filter_typed_error():
    """A CCITTFax/JBIG2 content stream becomes a `pdf_unsupported_filter`
    error row — typed lineage bucket, never a task failure."""
    import pytest

    from docvision_spark.kernel import pdf_text

    with pytest.raises(pdf_text.PdfUnsupportedFilterError):
        pdf_text._load_stream(_stream_body("/Filter /CCITTFaxDecode ", b"x"))

    # end-to-end: find corpus urls whose PDFs plant each family
    import random

    from docvision_spark.corpus import _pdf_stream_filter, make_pdf
    jbig_url = flate_url = None
    for i in range(500):
        url = f"http://filters{i}.example.com/doc"
        filt, _ = _pdf_stream_filter(url, b"x")
        if "JBIG2" in filt and jbig_url is None:
            jbig_url = url
        elif "LZW" in filt and flate_url is None:
            flate_url = url
        if jbig_url and flate_url:
            break
    assert jbig_url and flate_url
    # the filter only applies to rng-compressed streams; scan seeds for one
    seed = next(s for s in range(50)
                if __import__("random").Random(s).randint(1, 3) >= 0
                and (lambda r: (r.randint(1, 3), r.random())[1] < 0.5)(
                    __import__("random").Random(s)))
    bad = make_pdf(jbig_url, random.Random(seed), "en")
    r = extract(jbig_url, bad)
    assert r.error == "pdf_unsupported_filter" and r.processing_mode == "pdf"
    good = make_pdf(flate_url, random.Random(seed), "en")
    r2 = extract(flate_url, good)
    assert r2.error is None and r2.text


def test_entities_full_whatwg_table():
    """Round 4: the COMPLETE WHATWG table — rare names decode,
    multi-codepoint replacements work, HTML5 codepoint corrections applied
    (lang/rang are U+27E8/U+27E9, not the HTML4 U+2329/232A), and the
    whitespace-normalization overrides stay in force."""
    from docvision_spark.kernel.entities import ENTITIES, LEGACY

    assert len(ENTITIES) == 2125 and len(LEGACY) == 106
    assert decode_entities("&CounterClockwiseContourIntegral;") == "∳"
    assert decode_entities("&NotEqualTilde;") == "≂̸"  # multi-codepoint
    assert decode_entities("&lang;x&rang;") == "⟨x⟩"
    assert decode_entities("&nvlArr;&bnequiv;") == "⤂≡⃥"
    # overrides: training-text whitespace normalization beats the raw table
    assert decode_entities("a&nbsp;b") == "a b"
    assert decode_entities("a&shy;b") == "ab"
    assert decode_entities("a&thinsp;b&ensp;c&emsp;d") == "a b c d"
    # post-legacy names still REQUIRE the semicolon
    assert decode_entities("&CounterClockwiseContourIntegral") == \
        "&CounterClockwiseContourIntegral"


def test_entity_table_is_pinned():
    """The table is read from the stdlib and pinned by digest: the literal
    below was computed from the frozen in-repo table the stdlib read
    replaced. A host whose `html.entities.html5` differs cannot import the
    kernel."""
    import os
    import subprocess
    import sys

    from docvision_spark.kernel.entities import FULL, LEGACY, table_digest

    assert table_digest(FULL, LEGACY) == \
        "432e9f82cdff1c52f68d7d02a83250ffc55bea1654d0c3e96fe6c856c378676a"
    proc = subprocess.run(
        [sys.executable, "-c",
         "import html.entities as h; h.html5['amp;'] = '+'; "
         "import docvision_spark.kernel.entities"],
        capture_output=True, text=True, timeout=60,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode != 0 and "ImportError" in proc.stderr, proc.stderr


def test_entity_whitespace_policy_is_character_based():
    """WHATWG synonyms for the same whitespace characters must normalize
    identically to the canonical names (round-4 ADVICE: the old name-keyed
    overrides let NonBreakingSpace/ThinSpace/emsp13/... bypass the
    policy)."""
    from docvision_spark.kernel.entities import ENTITIES

    assert ENTITIES["nbsp"] == ENTITIES["NonBreakingSpace"] == " "
    assert ENTITIES["thinsp"] == ENTITIES["ThinSpace"] == " "
    assert ENTITIES["emsp13"] == ENTITIES["emsp14"] == " "
    assert ENTITIES["hairsp"] == ENTITIES["VeryThinSpace"] == " "
    assert ENTITIES["MediumSpace"] == " "
    assert ENTITIES["numsp"] == ENTITIES["puncsp"] == " "
    assert ENTITIES["ThickSpace"] == "  "  # U+205F U+2009, folded per-char
    assert ENTITIES["shy"] == ""
    # non-space-family replacements are untouched
    assert ENTITIES["NewLine"] == "\n" and ENTITIES["Tab"] == "\t"
    assert ENTITIES["ZeroWidthSpace"] == "​"  # not a space separator
    assert ENTITIES["amp"] == "&"


def test_scanned_pdf_slice_extracts_and_raster_decodes():
    """Corpus v9 scanned-page slice: the doc extracts its text normally
    (the G4 image XObject never enters the content-stream path) AND the
    raster pixel-decodes bit-exactly via pdf_image_xobjects — including
    under encryption and /EncodedByteAlign."""
    import random

    import numpy as np

    from docvision_spark.corpus import (_scan_bitmap, gen_urls, make_pdf,
                                        url_seed)
    from docvision_spark.kernel.pdf_text import pdf_image_xobjects

    scan_urls = [u for u in gen_urls(6000)
                 if 97 <= url_seed("filter:" + u) % 100 < 99]
    # cover all four raster families: CCITT (kind<=4), DCT/jpeg (5),
    # embedded-JBIG2 MMR (6), JPEG 2000 /JPXDecode (7)
    ccitt = [u for u in scan_urls if url_seed("scan:" + u) % 8 <= 4][:2]
    dct = [u for u in scan_urls if url_seed("scan:" + u) % 8 == 5][:1]
    jb2 = [u for u in scan_urls if url_seed("scan:" + u) % 8 == 6][:1]
    jpx = [u for u in scan_urls if url_seed("scan:" + u) % 8 == 7][:1]
    assert ccitt and dct and jb2 and jpx
    for url in ccitt + dct + jb2 + jpx:
        sseed = url_seed("scan:" + url)
        for kind in ("none", "aes"):
            pdf = make_pdf(url, random.Random(2), "en", force_encrypt=kind)
            imgs = pdf_image_xobjects(pdf)
            assert len(imgs) == 1, (url, kind)
            got, fmt = imgs[0]
            if sseed % 8 == 5:
                # JPEG scan: lossy — luma close to the source grayscale
                from docvision_spark.corpus import _scan_gray
                want = _scan_gray(sseed)
                assert fmt == "jpeg" and got.shape == want.shape
                err = np.abs(got.astype(int) - want.astype(int))
                assert float(err.mean()) < 8.0, (url, kind)
            elif sseed % 8 == 7:
                # JPEG 2000 scan: reversible 5/3 — bit-exact grayscale
                from docvision_spark.corpus import _scan_gray
                want = _scan_gray(sseed)
                assert fmt == "jpx", (url, kind)
                assert np.array_equal(got, want), (url, kind)
            else:
                want = _scan_bitmap(sseed)
                assert fmt == ("jbig2" if sseed % 8 == 6 else "g4")
                assert got.shape == want.shape
                # bit-exact: ink (1) -> gray 0, paper -> 255
                assert np.array_equal(got == 0, want == 1), (url, kind)
            r = extract(url, pdf)
            assert r.error is None and len(r.text) > 100, (url, kind)
    # a pure-raster doc (no text layer) has no extractable text: honest
    # pdf_no_pages, never a crash — the reference would OCR it
    from docvision_spark.corpus import (_scan_gray, make_scanned_pdf,
                                        make_scanned_pdf_jbig2,
                                        make_scanned_pdf_jpeg,
                                        make_scanned_pdf_jpx)
    r = extract("u", make_scanned_pdf(7))
    assert r.error == "pdf_no_pages"
    assert len(pdf_image_xobjects(make_scanned_pdf(7))) == 1
    (gj, fj), = pdf_image_xobjects(make_scanned_pdf_jpeg(7))
    assert fj == "jpeg" and gj.shape == (260, 200)
    (gb, fb), = pdf_image_xobjects(make_scanned_pdf_jbig2(7))
    assert fb == "jbig2" and np.array_equal(gb == 0, _scan_bitmap(7) == 1)
    (gx, fx), = pdf_image_xobjects(make_scanned_pdf_jpx(7))
    assert fx == "jpx" and np.array_equal(gx, _scan_gray(7))


def test_image_xobject_transport_filter_chains():
    """Rasters wrapped in transport filters ([/FlateDecode /DCTDecode],
    deeper chains) pre-decode through the text-side filter machinery
    before the terminal raster filter; a corrupt transport wrapper
    degrades to skip-this-raster, never a crash."""
    import base64
    import zlib

    import numpy as np

    from docvision_spark.corpus import _scan_gray, _scanned_pdf_shell
    from docvision_spark.kernel.jp2_codec import encode_jp2
    from docvision_spark.kernel.jpeg_codec import encode_jpeg
    from docvision_spark.kernel.pdf_text import pdf_image_xobjects

    g = _scan_gray(11, 120, 90)
    jd = zlib.compress(encode_jpeg(g, quality=90))
    pdf = _scanned_pdf_shell(
        120, 90, "/BitsPerComponent 8 /ColorSpace /DeviceGray "
        "/Filter [/FlateDecode /DCTDecode] ", jd)
    (img, fmt), = pdf_image_xobjects(pdf)
    assert fmt == "jpeg" and img.shape == (90, 120)
    assert abs(img.astype(int) - g.astype(int)).mean() < 8.0

    a85 = base64.a85encode(zlib.compress(encode_jp2(g, levels=2))) + b"~>"
    pdf2 = _scanned_pdf_shell(
        120, 90, "/BitsPerComponent 8 /ColorSpace /DeviceGray "
        "/Filter [/ASCII85Decode /FlateDecode /JPXDecode] ", a85)
    (img2, fmt2), = pdf_image_xobjects(pdf2)
    assert fmt2 == "jpx" and np.array_equal(img2, g)

    pdf3 = _scanned_pdf_shell(
        120, 90, "/BitsPerComponent 8 /ColorSpace /DeviceGray "
        "/Filter [/FlateDecode /DCTDecode] ", b"not zlib data")
    assert pdf_image_xobjects(pdf3) == []


def test_out_link_capture():
    """Out-links: raw hrefs in document order, deduped, fragments and
    non-navigational schemes dropped, capped at MAX_LINKS; feeds and PDFs
    carry no links."""
    from docvision_spark.kernel.dom import MAX_LINKS
    from docvision_spark.kernel.extract import extract

    h = (b'<html><body><main><p>'
         + b'Body paragraph long enough to matter for the classifier.</p>'
         + b'<a href="/one">1</a><a href="https://x.example.net/p">2</a>'
         + b'<a href="//cdn.example.org/a">3</a><a href="#top">f</a>'
         + b'<a HREF="/up">caps-attr</a>'
         + b"<a href='single.html'>q</a>"
         + b'<a href="JAVASCRIPT:x()">js</a><a href="mailto:a@b">m</a>'
         + b'<a href="tel:+1">t</a><a href="data:text/plain,x">d</a>'
         + b'<a href="/one">dup</a><a href="r&amp;d.html">ent</a>'
         + b'</main></body></html>')
    r = extract("https://host.example.com/dir/page", h)
    assert r.links == ["/one", "https://x.example.net/p",
                       "//cdn.example.org/a", "/up", "single.html",
                       "r&d.html"]
    # cap: a page with > MAX_LINKS distinct hrefs stops at the cap
    many = b"".join(b'<a href="/l/%d">x</a>' % i for i in range(MAX_LINKS + 50))
    r2 = extract("https://h.example.com/", b"<html><body>" + many)
    assert len(r2.links) == MAX_LINKS
    # non-HTML modes carry no links
    import random

    from docvision_spark.corpus import make_feed
    rf = extract("http://e.com/f", make_feed("http://e.com/f",
                                             random.Random(3), "en"))
    assert rf.processing_mode == "feed" and rf.links == []


def test_host_pagerank_semantics(spark):
    """Integer PageRank invariants on the sf0.001 graph: every rank >= the
    teleport floor, hub hosts outrank leaf hosts, and total mass is
    bounded by SCALE (dangling/rounding mass only ever leaks out)."""
    from docvision_spark.queries import _PR_SCALE, g02_host_pagerank

    rows = g02_host_pagerank(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 1
    tele = (15 * _PR_SCALE) // (100 * n)
    ranks = {r["host"]: r["rank"] for r in rows}
    assert all(v >= tele for v in ranks.values())
    assert sum(ranks.values()) <= _PR_SCALE + n  # no mass invented
    # the popularity-ordered corpus topology: the hot host strictly
    # outranks the lowest-indexed leaf host
    assert ranks["bigportal.example.com"] > ranks["press.example.biz"]


def test_href_attribute_name_boundary():
    """data-href / ng-href (lazy loaders) must not be captured as the
    out-link; the real href still is."""
    from docvision_spark.kernel.extract import extract

    h = (b'<html><body><p>' + b'w ' * 40 + b'</p>'
         b'<a data-href="https://tracker.example/t" href="/real">x</a>'
         b'<a ng-href="/angular">y</a>'
         b"<a href='/plain'>z</a></body></html>")
    r = extract("https://h.example.com/", h)
    assert r.links == ["/real", "/plain"], r.links
