"""Deterministic synthetic Common-Crawl-style pages corpus (build plan M0).

Every page is a pure function of its url: seed = sha3_256(url) drives a
local PRNG, so the same url always yields the same bytes — at any scale, on
any machine. No external data (driver instruction). Schema matches the
authoritative input_hint (BASELINE.json:15):
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING
plus the write-time partition column bucket INT = crc32(url) % n_buckets.

Fixture properties the pipeline's scale features are tested against:
 - one hot host holds ~30% of urls (skew -> salted repartition is testable)
 - long-tailed doc sizes: most 2-20 KB, ~2% are 10x larger (batch packing)
 - ~90% HTML (utf-8 / latin-1 with declared meta charset, nav/header/footer/
   sidebar boilerplate around a main article), ~10% PDF (uncompressed or
   FlateDecode; 65% classic-xref 1.4, 35% PDF 1.5 with object streams + a
   cross-reference stream; ~2% declare a CID/Type0 font -> the planted
   `pdf_unsupported_font` error rows; ~6% encrypted with the standard
   security handler [RC4-40, RC4-128, AES-128, AES-256 V5/R6 — empty user
   password] of which ~15% are password-protected -> the planted
   `pdf_encrypted` error rows), ~8% of HTML mildly malformed
"""

from __future__ import annotations

import hashlib
import random
import zlib
from binascii import crc32
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

N_BUCKETS_DEFAULT = 16
PARALLEL_THRESHOLD = 5000  # use a process pool above this corpus size
# bump when generated bytes change for any url — ensure_corpus regenerates
# any on-disk corpus written by an older generator (the _SUCCESS marker
# records the version). v2: PDF 1.5 layouts (ObjStm + xref stream) + planted
# CID/Type0 font docs. v3: Type0 docs with /ToUnicode CMaps over zh text. v4: rel=canonical
# links + robots-noindex metas in HTML heads. v5: ~6% encrypted PDFs (RC4-40/
# RC4-128/AES-128 standard security handler; a slice password-protected).
# v6: per-host promo paragraph planted in ~25% of HTML pages (the
# host-frequency residual-boilerplate fixture). v7: AES-256 V5/R6 docs
# (ISO 32000-2 hardened hash) join the encrypted slice.
# v8: ~50% of PDFs carry a url-hash-derived /Filter mix (Flate / LZW /
# [A85→Flate] chain / ASCIIHex / RunLength / Flate+Predictor-12) + a 3%
# CCITTFaxDecode slice planted for the `pdf_unsupported_filter` error row.
# v9: the 2/3 of that slice becomes REAL scanned-page docs — a CCITT G4
# (T.6) 1-bit image XObject + normal Flate text content, so the docs
# extract and the bitmap pixel-decodes for the media feature path; the
# remaining 1% plants /JBIG2Decode, keeping the typed
# `pdf_unsupported_filter` error row. v10: the scanned slice spans the
# whole /K surface (G4 plain + EncodedByteAlign, G3 1-D /K 0 with and
# without EOLs, G3 mixed /K 4) — same text content, so extraction
# outputs and curate counts are identical to v9.
# v11: the scanned slice gains a /DCTDecode variant (grayscale JPEG scan
# — the other raster encoding real scanners emit; decoded by
# kernel/jpeg_codec) — still the same text content, so extraction
# outputs and curate counts remain identical to v9/v10.
# v12: the scanned slice gains a /JBIG2Decode variant (embedded JBIG2
# MMR generic region, kernel/jbig2_codec) — raster bytes only, text
# content still identical to v9-v11. The 1% content-stream /JBIG2Decode
# plant is unchanged: that remains the typed `pdf_unsupported_filter`
# fixture (JBIG2 is an image filter; a content stream carrying it is
# undecodable by design).
# v13: the scanned slice gains a /JPXDecode variant (JPEG 2000
# reversible 5/3 in JP2 box format, kernel/jp2_codec), and the
# /JBIG2Decode variant splits MMR vs arithmetic-coded (MQ, template 0,
# TPGDON) generic regions on sseed — raster bytes only, text content
# still identical to v9-v12.
# v14: half the DCT/JPX scan rasters (keyed on sseed bit 4) wrap in a
# [/FlateDecode /X] transport-filter chain — the wrapping real scanner
# pipelines emit — raster bytes only, text content still identical.
# v15: ~2% of non-PDF pages are syndication XML (RSS 2.0 / RSS 1.0 RDF /
# Atom, make_feed) keyed on url_seed('feed:'+url)%100<2 — feed rows
# extract via kernel/feed.py (processing_mode=feed); all other pages'
# bytes are unchanged vs v14.
# v16: html footers gain 2-4 cross-host partner links (url-keyed rng,
# main rng sequence untouched) — the web-graph edge fixture. The footer
# is link-dense, so the classifier drops it and extracted text/markdown
# stay byte-identical to v15; only the `links` column changes.
# v17: AES-256 (V5/R6) PDFs carry /Perms (ISO 32000-2 Algorithm 10), so
# the kernel can validate the unwrapped file key; bytes of those PDFs
# change, extracted text does not.
CORPUS_VERSION = 17

HOSTS = [
    "bigportal.example.com",  # hot host: ~30% of urls
    "news.example.org", "blog.example.net", "docs.example.io",
    "shop.example.co", "wiki.example.edu", "forum.example.dev",
    "mag.example.info", "data.example.gov", "press.example.biz",
]

LANGS = ["en", "id", "es", "de", "fr"]

# per-language word pools; the leading words are stopwords shared with
# functions/text.LANG_STOPWORDS so stopword-ratio features are meaningful
_WORDS = {
    "en": ("the of and to in is was for with on as at by it this that from "
           "market growth report annual revenue system analysis data model "
           "energy policy research climate software industry product service "
           "development technology science health finance mountain river city "
           "history culture music education travel nature").split(),
    "id": ("dan yang di ke dari untuk dengan pada adalah ini itu "
           "pasar laporan tahunan pendapatan sistem analisis data model "
           "energi kebijakan riset iklim perangkat industri produk layanan "
           "pengembangan teknologi sains kesehatan keuangan gunung sungai "
           "kota sejarah budaya musik pendidikan wisata alam").split(),
    "es": ("el la los las de en y que un una es por con para "
           "mercado informe anual ingresos sistema datos modelo "
           "energía política investigación clima software industria producto "
           "desarrollo tecnología ciencia salud finanzas montaña río ciudad "
           "historia cultura música educación viaje naturaleza").split(),
    "de": ("der die das und ist von zu mit den im für "
           "markt bericht jährlich umsatz system analyse daten modell "
           "energie politik forschung klima software industrie produkt dienst "
           "entwicklung technologie wissenschaft gesundheit finanzen berg "
           "fluss stadt geschichte kultur musik bildung reise natur").split(),
    "fr": ("le les des du et est une dans qui pour sur "
           "marché rapport annuel revenus système analyse données modèle "
           "énergie politique recherche climat logiciel industrie produit "
           "développement technologie science santé finance montagne rivière "
           "ville histoire culture musique éducation voyage nature").split(),
}

_NAV_ITEMS = ["Home", "About", "Products", "Blog", "Contact", "Careers",
              "Support", "Pricing", "Docs", "Archive"]


def url_seed(url: str) -> int:
    return int.from_bytes(hashlib.sha3_256(url.encode("utf-8")).digest()[:8], "big")


def gen_urls(n: int) -> list[str]:
    """n unique urls; host chosen so HOSTS[0] gets ~30% of them."""
    urls = []
    for i in range(n):
        h = hashlib.sha3_256(f"url-{i}".encode()).digest()
        r = h[0] / 255.0
        host = HOSTS[0] if r < 0.30 else HOSTS[1 + h[1] % (len(HOSTS) - 1)]
        urls.append(f"https://{host}/p/{h[2:8].hex()}/{i}")
    return urls


def _sentence(rng: random.Random, words: list[str], lo: int = 6, hi: int = 18) -> str:
    n = rng.randint(lo, hi)
    ws = [rng.choice(words) for _ in range(n)]
    return ws[0].capitalize() + " " + " ".join(ws[1:]) + "."


def _paragraph(rng: random.Random, words: list[str], n_sent: int | None = None) -> str:
    n = n_sent if n_sent is not None else rng.randint(2, 6)
    return " ".join(_sentence(rng, words) for _ in range(n))


# --------------------------------------------------------------------------
# HTML generation
# --------------------------------------------------------------------------

def _nav_html(rng: random.Random) -> str:
    items = rng.sample(_NAV_ITEMS, rng.randint(4, 8))
    links = "".join(f'<li><a href="/{i.lower()}">{i}</a></li>' for i in items)
    return f'<nav class="main-nav"><ul>{links}</ul></nav>'


def _sidebar_html(rng: random.Random, words: list[str]) -> str:
    lis = "".join(
        f'<li><a href="/rel/{k}">{_sentence(rng, words, 3, 6)[:-1]}</a></li>'
        for k in range(rng.randint(3, 7))
    )
    return (f'<aside class="sidebar related"><h3>Related</h3><ul>{lis}</ul>'
            f'<div class="widget ad">{_sentence(rng, words, 4, 8)}</div></aside>')


def _table_html(rng: random.Random, words: list[str]) -> str:
    ncols = rng.randint(2, 5)
    nrows = rng.randint(2, 6)
    head = "".join(f"<th>{rng.choice(words).capitalize()}</th>" for _ in range(ncols))
    rows = []
    for _ in range(nrows):
        cells = "".join(
            f"<td>{rng.choice(words)} {rng.randint(1, 9999)}</td>" for _ in range(ncols)
        )
        rows.append(f"<tr>{cells}</tr>")
    return f"<table class=\"data\"><thead><tr>{head}</tr></thead><tbody>{''.join(rows)}</tbody></table>"


def _list_html(rng: random.Random, words: list[str]) -> str:
    tag = "ol" if rng.random() < 0.3 else "ul"
    lis = "".join(f"<li>{_sentence(rng, words, 4, 12)}</li>"
                  for _ in range(rng.randint(3, 7)))
    return f"<{tag}>{lis}</{tag}>"


def make_html(url: str, rng: random.Random, lang: str) -> bytes:
    words = _WORDS[lang]
    charset = "utf-8" if rng.random() < 0.8 else "iso-8859-1"
    malformed = rng.random() < 0.08
    # head metadata: ~35% declare rel=canonical (80% self-referential, the
    # real-web common case; the rest point at a parent url — a cross-url
    # dup signal), ~3% are robots-noindex (curation drop signal)
    has_canonical = rng.random() < 0.35
    canonical_self = rng.random() < 0.8
    noindex = rng.random() < 0.03
    # ~25% of a host's pages carry the SAME promo paragraph inside <main>:
    # residual template text with perfectly normal text density — the
    # planted fixture for corpus-level host-frequency boilerplate removal
    # (functions/boilerplate.py); per-host wording so hosts don't collide
    has_promo = rng.random() < 0.25
    r = rng.random()
    n_paras = rng.randint(80, 200) if r < 0.02 else rng.randint(3, 24)

    title = _sentence(rng, words, 4, 9)[:-1]
    body: list[str] = [f"<h1>{title}</h1>"]
    for p in range(n_paras):
        if p > 0 and rng.random() < 0.22:
            lvl = rng.randint(2, 4)  # h4 exercises the <=3 clamp
            body.append(f"<h{lvl}>{_sentence(rng, words, 3, 7)[:-1]}</h{lvl}>")
        para = _paragraph(rng, words)
        if rng.random() < 0.25:  # inline link inside the paragraph
            para += f' See <a href="/ref/{p}">{rng.choice(words)} {rng.choice(words)}</a> {rng.choice(words)}.'
        body.append(f"<p>{para}</p>")
        if rng.random() < 0.10:
            body.append(_table_html(rng, words))
        if rng.random() < 0.12:
            body.append(_list_html(rng, words))
        if rng.random() < 0.06:
            body.append(f'<img src="/img/{p}.jpg" alt="{_sentence(rng, words, 3, 6)[:-1]}">')
        if rng.random() < 0.08:
            body.append(f"<blockquote>{_sentence(rng, words, 8, 16)}</blockquote>")

    if has_promo:
        host = url.split("/")[2]
        promo_rng = random.Random(f"promo:{host}")
        body.insert(rng.randint(1, len(body)),
                    f"<p>Subscribe to the {host} newsletter for weekly "
                    f"updates on {promo_rng.choice(_WORDS['en'])} and "
                    f"{promo_rng.choice(_WORDS['en'])}, delivered free "
                    f"every week.</p>")
    article = "\n".join(body)
    if malformed:
        # unclosed <p>, stray '<', mismatched end tag — recovery must be deterministic
        article += f"\n<p>{_sentence(rng, words)}\n<span>stray < char</div>"

    footer_links = "".join(f'<a href="/f/{i}">{w}</a> · '
                           for i, w in enumerate(rng.sample(_NAV_ITEMS, 4)))
    # cross-host "partner" links (v16): the web-graph edge fixture. A
    # SEPARATE url-keyed rng so the page's main rng sequence — and with it
    # every other byte of v15 content — is untouched; and they live in the
    # link-dense footer, which the density classifier already drops, so
    # the extracted text/markdown stay byte-identical to v15 (only the
    # `links` column sees them).
    xrng = random.Random(f"xlink:{url}")
    own_host = url.split("/")[2]
    # partners point UP the popularity order (a host links only to hosts
    # listed before it, the hot host first) — an asymmetric graph, so
    # host-level PageRank has real structure instead of a uniform fixpoint
    idx = HOSTS.index(own_host) if own_host in HOSTS else len(HOSTS)
    cands = [h for h in HOSTS[:max(idx, 3)] if h != own_host]
    picks = xrng.sample(cands, min(len(cands), xrng.randint(2, 4)))
    footer_links += "".join(
        f'<a href="https://{h}/p/{xrng.randrange(16 ** 8):08x}/0">{h}</a> · '
        for h in picks)
    head_meta = ""
    if has_canonical:
        href = url if canonical_self else url.rsplit("/", 1)[0]
        head_meta += f'<link rel="canonical" href="{href}">\n'
    if noindex:
        head_meta += '<meta name="robots" content="noindex,follow">\n'
    html = f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
<meta charset="{charset}">
<title>{title}</title>
{head_meta}<script>var t = {rng.randint(1, 10**6)}; console.log("<p>not content</p>");</script>
<style>.main-nav {{ color: #333; }}</style>
</head>
<body>
<header class="masthead"><div class="logo">Example Site</div>{_nav_html(rng)}</header>
<div class="breadcrumb"><a href="/">Home</a> &raquo; <a href="/cat">Category</a></div>
<div class="layout">
<main class="article-content">
<article>
{article}
</article>
</main>
{_sidebar_html(rng, words)}
</div>
<footer class="site-footer"><p>{footer_links}&copy; 2026 Example Site. All rights reserved.</p></footer>
</body>
</html>"""
    return html.encode(charset, errors="replace")


def make_feed(url: str, rng: random.Random, lang: str) -> bytes:
    """Deterministic syndication XML: RSS 2.0, RSS 1.0 (RDF), or Atom by
    seeded choice; items carry escaped-HTML, CDATA-HTML, or plain-text
    content so all three feed content encodings are planted."""
    words = _WORDS[lang]
    host = url.split("/")[2]
    title = _sentence(rng, words, 3, 6)[:-1]
    n_items = rng.randint(3, 8)
    kind = rng.choice(("rss", "rdf", "atom"))

    def item_html() -> str:
        paras = "".join(f"<p>{_paragraph(rng, words)}</p>"
                        for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.3:
            paras += _list_html(rng, words)
        return paras

    items = []
    for i in range(n_items):
        ititle = _sentence(rng, words, 3, 8)[:-1]
        enc = rng.random()
        html = item_html()
        if kind == "atom":
            if enc < 0.45:
                body = (f'<content type="html">'
                        f'{html.replace("&", "&amp;").replace("<", "&lt;")}'
                        f"</content>")
            elif enc < 0.75:
                body = (f'<content type="xhtml">'
                        f'<div xmlns="http://www.w3.org/1999/xhtml">{html}'
                        f"</div></content>")
            else:
                body = (f"<summary>{_sentence(rng, words, 10, 20)}"
                        f"</summary>")
            items.append(
                f"<entry><title>{ititle}</title>"
                f'<link href="http://{host}/e/{i}"/>'
                f"<id>urn:ex:{i}</id><updated>2026-01-0{1 + i % 9}"
                f"T00:00:00Z</updated>{body}</entry>")
        else:
            if enc < 0.45:
                body = ("<description>"
                        + html.replace("&", "&amp;").replace("<", "&lt;")
                        + "</description>")
            elif enc < 0.75:
                body = (f"<content:encoded><![CDATA[{html}]]>"
                        f"</content:encoded><description>"
                        f"{_sentence(rng, words, 6, 10)}</description>")
            else:
                body = (f"<description>{_sentence(rng, words, 10, 20)}"
                        f"</description>")
            about = (f' rdf:about="http://{host}/i/{i}"'
                     if kind == "rdf" else "")
            items.append(
                f"<item{about}><title>{ititle}</title>"
                f"<link>http://{host}/i/{i}</link>"
                f"<pubDate>Mon, 0{1 + i % 9} Jan 2026 00:00:00 GMT"
                f"</pubDate>{body}</item>")

    desc = _sentence(rng, words, 6, 12)
    if kind == "atom":
        doc = (f'<?xml version="1.0" encoding="utf-8"?>\n'
               f'<feed xmlns="http://www.w3.org/2005/Atom">'
               f"<title>{title}</title>"
               f'<link href="http://{host}/"/>'
               f"<updated>2026-01-01T00:00:00Z</updated>"
               + "".join(items) + "</feed>")
    elif kind == "rdf":
        # RSS 1.0: items are SIBLINGS of channel under the rdf:RDF root
        doc = (f'<?xml version="1.0" encoding="utf-8"?>\n'
               f'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-'
               f'syntax-ns#" xmlns="http://purl.org/rss/1.0/" '
               f'xmlns:content="http://purl.org/rss/1.0/modules/content/">'
               f"<channel rdf:about=\"http://{host}/\"><title>{title}"
               f"</title><description>{desc}</description></channel>"
               + "".join(items) + "</rdf:RDF>")
    else:
        doc = (f'<?xml version="1.0" encoding="utf-8"?>\n'
               f'<rss version="2.0" xmlns:content="http://purl.org/rss/1.0/'
               f'modules/content/"><channel><title>{title}</title>'
               f"<link>http://{host}/</link>"
               f"<description>{desc}</description>"
               + "".join(items) + "</channel></rss>")
    return doc.encode("utf-8")


# --------------------------------------------------------------------------
# PDF generation (subset the kernel's pdf_text parser supports)
# --------------------------------------------------------------------------

def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_table(rng: random.Random, words: list[str]) -> list[str]:
    """x-aligned cell grid via relative Td moves (one Tj per cell) — the
    shape kernel/pdf_text detects as a table."""
    ncols = rng.randint(2, 4)
    nrows = rng.randint(3, 5)
    col_w = 130
    out: list[str] = []
    for r in range(nrows):
        for c in range(ncols):
            cell = (rng.choice(words).capitalize() if r == 0
                    else f"{rng.choice(words)} {rng.randint(1, 999)}")
            out.append(f"({_pdf_escape(cell)}) Tj")
            if c < ncols - 1:
                out.append(f"{col_w} 0 Td")
        out.append(f"{-col_w * (ncols - 1)} -16 Td")
    out.append("0 -12 Td")
    return out


# char pool for CID/Type0 (ToUnicode) PDF pages — unsegmented zh text, the
# content class the CJK-aware tokenizer and char-granular dedup target
_ZH_POOL = ("机器学习模型需大规高质量训练数据集提升泛化能力清洗与去重语料构"
            "流程中关键步骤天气旅行计划安排文本分析系统设计结果评估方法研究"
            "报告内容信息网络技术发展应用服务平台用户体验")


def _zh_sentence(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    return "".join(rng.choice(_ZH_POOL) for _ in range(n)) + "。"


def _type0_page_stream(rng: random.Random, charmap: dict[str, int],
                       title: str | None) -> bytes:
    """Type0 page: text shown as 2-byte-code HEX strings; charmap (char ->
    CID, grown on use) later becomes the ToUnicode bfchar section. ASCII
    digits use fixed codes 0x0030+d covered by a bfrange entry."""
    def code_of(ch: str) -> int:
        if ch.isdigit():
            return 0x0030 + int(ch)
        if ch not in charmap:
            charmap[ch] = 0x0100 + len(charmap)
        return charmap[ch]

    def hexstr(s: str) -> str:
        return "<" + "".join(f"{code_of(c):04X}" for c in s) + ">"

    lines: list[str] = ["BT", "/F1 11 Tf", "14 TL", "1 0 0 1 72 760 Tm"]
    if title:
        lines += ["/F1 20 Tf", f"{hexstr(title)} Tj", "/F1 11 Tf", "0 -28 Td"]
    for b in range(rng.randint(2, 5)):
        if b and rng.random() < 0.5:
            lines += ["/F1 15 Tf", f"{hexstr(_zh_sentence(rng, 3, 6))} Tj",
                      "/F1 11 Tf", "0 -24 Td"]
        for _ in range(rng.randint(2, 6)):
            lines.append(f"{hexstr(_zh_sentence(rng, 6, 14))} Tj")
            lines.append("T*")
        lines.append("0 -10 Td")
    lines.append("ET")
    return "\n".join(lines).encode("latin-1")


def _tounicode_stream(charmap: dict[str, int]) -> bytes:
    """Minimal valid ToUnicode CMap: one bfrange (digits) + bfchar entries
    for every used CID, in CID order."""
    entries = "\n".join(
        f"<{cid:04X}> <{ord(ch):04X}>"
        for ch, cid in sorted(charmap.items(), key=lambda kv: kv[1]))
    return (
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        "1 beginbfrange\n<0030> <0039> <0030>\nendbfrange\n"
        f"{len(charmap)} beginbfchar\n{entries}\nendbfchar\n"
        "endcmap\nCMap defined\nend end\n").encode("ascii")


def _pdf_page_stream(rng: random.Random, words: list[str], title: str | None) -> bytes:
    lines: list[str] = ["BT", "/F1 11 Tf", "14 TL", "1 0 0 1 72 760 Tm"]
    if title:
        lines += ["/F1 20 Tf", f"({_pdf_escape(title)}) Tj", "/F1 11 Tf",
                  "0 -28 Td"]
    n_blocks = rng.randint(2, 6)
    for b in range(n_blocks):
        if b and rng.random() < 0.5:
            lines += ["/F1 15 Tf",
                      f"({_pdf_escape(_sentence(rng, words, 3, 6)[:-1])}) Tj",
                      "/F1 11 Tf", "0 -24 Td"]
        n_lines = rng.randint(2, 7)
        for i in range(n_lines):
            txt = _pdf_escape(_sentence(rng, words, 5, 10))
            if rng.random() < 0.3:
                lines.append(f"[({txt}) -200 ({_pdf_escape(rng.choice(words))})] TJ")
            else:
                lines.append(f"({txt}) Tj")
            lines.append("T*")
        if rng.random() < 0.3:
            lines += _pdf_table(rng, words)
        lines.append("0 -10 Td")
    lines.append("ET")
    return "\n".join(lines).encode("latin-1")


def _rle_encode(data: bytes) -> bytes:
    """RunLengthDecode-compatible encoder (ISO 32000-1 §7.4.5): literal
    runs only (always valid, never expands past 1/128 overhead) + EOD."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)
    return bytes(out)


def _png_up_encode(data: bytes, cols: int) -> bytes:
    """PNG Up-predictor (type 2) rows of `cols` bytes, each prefixed by its
    filter-type byte — the xref-stream-style /Predictor 12 layout."""
    out = bytearray()
    prev = bytes(cols)
    for i in range(0, len(data), cols):
        row = data[i:i + cols]
        out.append(2)
        out += bytes((row[j] - prev[j]) & 0xFF for j in range(len(row)))
        prev = row
    return bytes(out)


def _pdf_stream_filter(url: str, data: bytes) -> tuple[str, bytes]:
    """URL-hash-derived /Filter choice for a 'compressed' content stream.
    Derived from url_seed, NOT an rng draw, so the corpus rng stream — and
    with it every non-PDF document of corpus v7 — stays byte-identical.

    Mix (of the ~50% filtered PDFs): 55% Flate, 13% LZW, 8% the common
    [ASCII85 → Flate] chain, 8% ASCIIHex, 8% RunLength, 5% Flate+PNG-Up
    predictor, 2% Flate on scanned-page docs (their CCITT G4 raster rides
    as an image XObject — see make_pdf), 1% JBIG2Decode — the planted
    input for the typed `pdf_unsupported_filter` error row
    (kernel/pdf_text.py decodes the text filters and ccitt_codec.py the
    G4 raster; the reference reads every fitz-supported filter,
    /root/reference/src/docvision/processing/image.py:62-108)."""
    sel = url_seed("filter:" + url) % 100
    if sel < 55 or 97 <= sel < 99:
        return "/Filter /FlateDecode ", zlib.compress(data)
    if sel < 68:
        from docvision_spark.kernel.tiff_codec import _lzw_encode
        return "/Filter /LZWDecode ", _lzw_encode(data)
    if sel < 76:
        import base64
        return ("/Filter [/ASCII85Decode /FlateDecode] ",
                base64.a85encode(zlib.compress(data)) + b"~>")
    if sel < 84:
        return "/Filter /ASCIIHexDecode ", data.hex().encode("ascii") + b">"
    if sel < 92:
        return "/Filter /RunLengthDecode ", _rle_encode(data)
    if sel < 97:
        return ("/Filter /FlateDecode /DecodeParms "
                "<< /Predictor 12 /Columns 64 >> ",
                zlib.compress(_png_up_encode(data, 64)))
    return "/Filter /JBIG2Decode ", data  # unsupported -> typed error row


def _scan_bitmap(seed: int, width: int = 200, height: int = 260,
                 noise: int = 0):
    """Deterministic text-like 1-bit page raster (1 = black): ruled text
    lines with seeded letter gaps + a margin mark — short and long runs in
    both colors, so the G4 encoder exercises pass/horizontal/vertical
    modes and run makeups. `noise` toggles a few pixels for planting
    near-dup scans whose perceptual hashes should still match."""
    import numpy as np

    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    bm = np.zeros((height, width), dtype=np.uint8)
    y = 18 + int(rng.integers(0, 6))
    while y < height - 12:
        th = 3 + int(rng.integers(0, 3))
        x0 = 14 + int(rng.integers(0, 8))
        x1 = width - 14 - int(rng.integers(0, 40))
        bm[y:y + th, x0:x1] = 1
        gaps = rng.integers(x0, max(x0 + 1, x1), size=10)
        for g in gaps:
            bm[y:y + th, g:g + 2] = 0
        y += th + 6 + int(rng.integers(0, 5))
    bm[height // 3:height // 3 + 12, 2:8] = 1  # margin mark
    if noise:
        ys = rng.integers(0, height, size=noise)
        xs = rng.integers(0, width, size=noise)
        bm[ys, xs] ^= 1
    return bm


def _scanned_pdf_shell(width: int, height: int, img_head: str,
                       data: bytes) -> bytes:
    """Minimal single-page 'scanner output' PDF shell: one full-page
    image XObject (dict head `img_head` + stream `data`), no text layer —
    the shape the reference sends to fitz+OCR (reference
    processing/image.py:62-108). Shared by the per-encoding
    make_scanned_pdf* planting builders."""
    img = (f"<< /Type /XObject /Subtype /Image /Width {width} "
           f"/Height {height} {img_head}/Length {len(data)} "
           f">>\nstream\n".encode() + data + b"\nendstream")
    content = (f"q {width} 0 0 {height} 0 0 cm /Im0 Do Q".encode())
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {width} {height}]"
            f" /Resources << /XObject << /Im0 5 0 R >> >>"
            f" /Contents 4 0 R >>".encode()),
        (4, f"<< /Length {len(content)} >>\nstream\n".encode()
            + content + b"\nendstream"),
        (5, img),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for oid, body in objs:
        offsets[oid] = len(out)
        out += f"{oid} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for oid in range(1, len(objs) + 1):
        out += f"{offsets[oid]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    return bytes(out)


def make_scanned_pdf(seed: int, width: int = 200, height: int = 260,
                     noise: int = 0) -> bytes:
    """Scanned-page PDF with a CCITT G4 (/K -1) 1-bit raster — the
    dominant scanned-document encoding. Used by synthesize_media to
    plant raster-PDF rows for the media feature path."""
    from docvision_spark.kernel.ccitt_codec import g4_encode

    gdata = g4_encode(_scan_bitmap(seed, width, height, noise=noise))
    return _scanned_pdf_shell(
        width, height,
        f"/BitsPerComponent 1 /ColorSpace /DeviceGray "
        f"/Filter /CCITTFaxDecode /DecodeParms << /K -1 "
        f"/Columns {width} /Rows {height} >> ", gdata)


def _scan_gray(seed: int, width: int = 200, height: int = 260,
               noise: int = 0):
    """Deterministic grayscale 'photo scan' page: the _scan_bitmap text
    layout rendered as ink (~30) on paper with seeded per-row shading
    (~225-243) — the tonal shape a flatbed scanner emits, which real
    pipelines store as /DCTDecode rather than CCITT."""
    import numpy as np

    bm = _scan_bitmap(seed, width, height, noise=noise)
    rng = np.random.default_rng((seed ^ 0x5CA17) & 0xFFFFFFFF)
    shade = 225 + rng.integers(0, 19, size=(height, 1), dtype=np.int64)
    paper = np.broadcast_to(shade, (height, width))
    return np.where(bm != 0, 30, paper).astype(np.uint8)


def make_scanned_pdf_jpeg(seed: int, width: int = 200, height: int = 260,
                          noise: int = 0, quality: int = 85) -> bytes:
    """Scanned-page PDF whose raster is a grayscale JPEG /DCTDecode
    image XObject (the non-bilevel sibling of make_scanned_pdf)."""
    from docvision_spark.kernel.jpeg_codec import encode_jpeg

    jdata = encode_jpeg(_scan_gray(seed, width, height, noise=noise),
                        quality=quality)
    return _scanned_pdf_shell(
        width, height,
        "/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /DCTDecode ",
        jdata)


def make_scanned_pdf_jbig2(seed: int, width: int = 200, height: int = 260,
                           noise: int = 0, arith: bool = False) -> bytes:
    """Scanned-page PDF whose raster is an embedded-JBIG2 generic-region
    /JBIG2Decode image XObject (MMR-coded, or MQ arithmetic-coded with
    `arith=True`) — the third raster encoding real scanned-document
    pipelines emit."""
    from docvision_spark.kernel.jbig2_codec import encode_jbig2

    jdata = encode_jbig2(_scan_bitmap(seed, width, height, noise=noise),
                         arith=arith)
    return _scanned_pdf_shell(
        width, height,
        "/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter /JBIG2Decode ",
        jdata)


def make_scanned_pdf_jpx(seed: int, width: int = 200, height: int = 260,
                         noise: int = 0) -> bytes:
    """Scanned-page PDF whose raster is a JPEG 2000 /JPXDecode image
    XObject (JP2 box format, reversible 5/3 — the archival-profile
    encoding; kernel/jp2_codec decodes it)."""
    from docvision_spark.kernel.jp2_codec import encode_jp2

    jdata = encode_jp2(_scan_gray(seed, width, height, noise=noise),
                       levels=3, wrap=True)
    return _scanned_pdf_shell(
        width, height,
        "/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /JPXDecode ",
        jdata)


def make_pdf(url: str, rng: random.Random, lang: str,
             force_layout15: bool | None = None,
             force_type0: bool | None = None,
             force_tounicode: bool | None = None,
             force_encrypt: str | None = None) -> bytes:
    """Classic-xref PDF 1.4 (65%) or PDF 1.5 with object streams + a
    cross-reference stream (35%) — both from the same page content, so the
    kernel's layout-independence is exercised at corpus scale. ~2% of PDFs
    declare a CID/Type0 font: of those, 60% carry a /ToUnicode CMap over
    unsegmented zh text (the common real-world case — text EXTRACTS via the
    CMap), the rest are bare Identity-H, the planted input for the graceful
    `pdf_unsupported_font` error row. ~6% are encrypted with the standard
    security handler and an EMPTY user password (RC4-128 V2/R3, RC4-40
    V1/R2, or AES-128 V4/R4/AESV2 — the kernel decrypts all three), and a
    slice of those are password-protected (non-empty user password), the
    planted input for the graceful `pdf_encrypted` error row. The force_*
    overrides replace the rng decision WITHOUT changing the rng stream
    (tests compare both layouts of byte-identical content); force_encrypt
    in {'none','rc4','rc4_40','aes','aes256','locked'}."""
    words = _WORDS[lang]
    n_pages = rng.randint(1, 3)
    compress = rng.random() < 0.5
    layout15 = rng.random() < 0.35
    type0 = rng.random() < 0.02
    tounicode = rng.random() < 0.6
    enc_r, enc_mode_r = rng.random(), rng.random()
    encrypt_kind: str | None = None
    if enc_r < 0.06:
        if enc_mode_r < 0.35:
            encrypt_kind = "rc4"
        elif enc_mode_r < 0.55:
            encrypt_kind = "rc4_40"
        elif enc_mode_r < 0.70:
            encrypt_kind = "aes"
        elif enc_mode_r < 0.85:
            encrypt_kind = "aes256"
        else:
            encrypt_kind = "locked"
    if force_layout15 is not None:
        layout15 = force_layout15
    if force_type0 is not None:
        type0 = force_type0
    if force_tounicode is not None:
        tounicode = force_tounicode
    if force_encrypt is not None:
        encrypt_kind = None if force_encrypt == "none" else force_encrypt

    # --- standard-security-handler setup (deterministic per url) ---------
    enc_stream = None
    encrypt_obj: bytes | None = None
    id0 = b""
    if encrypt_kind == "aes256":
        # V5/R6: AES-256 with the ISO 32000-2 hardened hash; /UE wraps a
        # per-url deterministic 256-bit file key, salts derived from url
        from docvision_spark.kernel import pdf_crypt
        id0 = hashlib.md5(url.encode("utf-8")).digest()
        fkey = hashlib.sha256(b"corpus-key:" + url.encode("utf-8")).digest()
        vsalt = hashlib.md5(b"v" + id0).digest()[:8]
        ksalt = hashlib.md5(b"k" + id0).digest()[:8]
        u_val, ue_val = pdf_crypt.make_v5_user_entries(b"", fkey, 6,
                                                       vsalt, ksalt)
        ovs = hashlib.md5(b"ov" + id0).digest()[:8]
        oks = hashlib.md5(b"ok" + id0).digest()[:8]
        o_val = pdf_crypt.hash_r6(b"corpus-owner", ovs, u_val[:48]) + ovs + oks
        oe_val = pdf_crypt.aes_cbc_nopad(
            pdf_crypt.hash_r6(b"corpus-owner", oks, u_val[:48]),
            b"\x00" * 16, fkey, decrypt=False)
        perms_val = pdf_crypt.make_v5_perms(
            fkey, -44, True, hashlib.md5(b"perms" + id0).digest())

        def enc_stream(oid: int, data: bytes) -> bytes:  # noqa: F811
            iv = hashlib.md5(id0 + bytes([oid & 0xFF])).digest()
            return pdf_crypt.encrypt_object_v5(fkey, data, iv=iv)

        encrypt_obj = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256"
            b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
            b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
            + f" /O <{o_val.hex()}> /U <{u_val.hex()}>"
              f" /OE <{oe_val.hex()}> /UE <{ue_val.hex()}>"
              f" /Perms <{perms_val.hex()}> /P -44 >>".encode())
    elif encrypt_kind:
        from docvision_spark.kernel import pdf_crypt
        id0 = hashlib.md5(url.encode("utf-8")).digest()
        # 'locked' docs have a NON-empty user password: the kernel's
        # empty-password attempt must fail -> pdf_encrypted error row
        user_pw = b"corpus-locked" if encrypt_kind == "locked" else b""
        if encrypt_kind == "rc4_40":
            v, r, n = 1, 2, 5
        elif encrypt_kind == "aes":
            v, r, n = 4, 4, 16
        else:  # rc4 / locked
            v, r, n = 2, 3, 16
        p = -44
        o_val = pdf_crypt.compute_o(b"corpus-owner", user_pw, r, n)
        fkey = pdf_crypt.file_key(user_pw, o_val, p, id0, n, r)
        u_val = pdf_crypt.compute_u(fkey, id0, r)
        aes = encrypt_kind == "aes"

        def enc_stream(oid: int, data: bytes) -> bytes:  # noqa: F811
            iv = hashlib.md5(id0 + bytes([oid & 0xFF])).digest()
            return pdf_crypt.encrypt_object(fkey, oid, 0, data, aes, iv=iv)

        cf = (b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
              b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF") if aes else b""
        length = b"" if v == 1 else f" /Length {n * 8}".encode()
        encrypt_obj = (f"<< /Filter /Standard /V {v} /R {r}".encode() + length
                       + cf + f" /O <{o_val.hex()}> /U <{u_val.hex()}>"
                             f" /P {p} >>".encode())

    page_ids = [4 + 2 * i for i in range(n_pages)]
    tu_id = 4 + 2 * n_pages
    img_id = tu_id + 1
    # scanned-page slice (corpus v9): the 97-98 band of the filter
    # selector embeds a REAL CCITT G4 image XObject on page 1 (text
    # content stays Flate, so the doc extracts normally AND the raster
    # pixel-decodes for the media feature path). url-hash derived, NOT an
    # rng draw — the rng stream (and every other document) is unchanged.
    scanned = compress and 97 <= url_seed("filter:" + url) % 100 < 99
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    if type0:
        font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /NotoSerifCJK "
                b"/Encoding /Identity-H"
                + (f" /ToUnicode {tu_id} 0 R".encode() if tounicode else b"")
                + b" >>")
    else:
        font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    # dict-only objects (ObjStm-eligible in the 1.5 layout)
    dict_objs: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()),
        (3, font),
    ]
    stream_objs: list[tuple[int, bytes]] = []
    charmap: dict[str, int] = {}
    for i, pid in enumerate(page_ids):
        if type0 and tounicode:
            title = _zh_sentence(rng, 4, 7)[:-1] + "2026" if i == 0 else None
            data = _type0_page_stream(rng, charmap, title)
        else:
            title = _sentence(rng, words, 4, 8)[:-1] if i == 0 else None
            data = _pdf_page_stream(rng, words, title)
        if scanned and i == 0:
            data += b"\nq 200 0 0 260 206 466 cm /Im0 Do Q"
        filt = b""
        if compress:
            fstr, data = _pdf_stream_filter(url, data)
            filt = fstr.encode("ascii")
        if enc_stream:
            data = enc_stream(pid + 1, data)
        xobj = (f" /XObject << /Im0 {img_id} 0 R >>"
                if scanned and i == 0 else "")
        dict_objs.append((pid,
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >>{xobj} >> "
            f"/Contents {pid + 1} 0 R >>".encode()))
        stream_objs.append((pid + 1,
            f"<< {filt.decode()}/Length {len(data)} >>\nstream\n".encode()
            + data + b"\nendstream"))
    if scanned:
        from docvision_spark.kernel.ccitt_codec import g3_encode, g4_encode
        sseed = url_seed("scan:" + url)
        # exercise every raster encoding real scanners emit — the whole
        # CCITTFaxDecode /K surface (G4 MMR plain + /EncodedByteAlign,
        # G3 1-D /K 0 with and without EOLs, G3 mixed /K 4), grayscale
        # JPEG /DCTDecode (v11), embedded-JBIG2 MMR /JBIG2Decode (v12),
        # and JPEG 2000 /JPXDecode (v13)
        kind = sseed % 8
        if kind == 5:
            from docvision_spark.kernel.jpeg_codec import encode_jpeg
            gdata = encode_jpeg(_scan_gray(sseed), quality=85)
            head = (b"/BitsPerComponent 8 /ColorSpace /DeviceGray "
                    b"/Filter /DCTDecode ")
        elif kind == 7:
            from docvision_spark.kernel.jp2_codec import encode_jp2
            gdata = encode_jp2(_scan_gray(sseed), levels=3, wrap=True)
            head = (b"/BitsPerComponent 8 /ColorSpace /DeviceGray "
                    b"/Filter /JPXDecode ")
        elif kind == 6:
            from docvision_spark.kernel.jbig2_codec import encode_jbig2
            # split the JBIG2 slice between MMR and MQ-arithmetic coding
            gdata = encode_jbig2(_scan_bitmap(sseed),
                                 arith=(sseed >> 3) % 2 == 1)
            head = (b"/BitsPerComponent 1 /ColorSpace /DeviceGray "
                    b"/Filter /JBIG2Decode ")
        else:
            bm = _scan_bitmap(sseed)
            balign = False
            if kind == 0:
                balign = True
                gdata, kparm = g4_encode(bm, byte_align=True), "-1"
            elif kind <= 2:
                gdata, kparm = g4_encode(bm), "-1"
            elif kind == 3:
                gdata, kparm = g3_encode(bm, end_of_line=sseed % 2 == 0), "0"
            else:
                gdata, kparm = g3_encode(bm, k=4), "4"
            head = (f"/BitsPerComponent 1 /ColorSpace /DeviceGray "
                    f"/Filter /CCITTFaxDecode "
                    f"/DecodeParms << /K {kparm} /Columns 200 /Rows 260"
                    f"{' /EncodedByteAlign true' if balign else ''} >> "
                    ).encode()
        if kind in (5, 7) and (sseed >> 4) % 2:
            # transport-wrapped raster (v14): the flate wrapping real
            # scanner pipelines emit — [/FlateDecode /DCTDecode|/JPXDecode]
            raster = head.split(b"/Filter ")[1].strip()
            gdata = zlib.compress(gdata)
            head = (b"/BitsPerComponent 8 /ColorSpace /DeviceGray "
                    b"/Filter [/FlateDecode " + raster + b"] ")
        if enc_stream:
            gdata = enc_stream(img_id, gdata)
        stream_objs.append((img_id, (
            b"<< /Type /XObject /Subtype /Image /Width 200 /Height 260 "
            + head
            + f"/Length {len(gdata)} >>\nstream\n".encode()
            + gdata + b"\nendstream")))
    if type0 and tounicode:
        tudata = _tounicode_stream(charmap)
        tufilt = b""
        if compress:
            tudata = zlib.compress(tudata)
            tufilt = b"/Filter /FlateDecode "
        if enc_stream:
            tudata = enc_stream(tu_id, tudata)
        stream_objs.append((tu_id,
            f"<< {tufilt.decode()}/Length {len(tudata)} >>\nstream\n".encode()
            + tudata + b"\nendstream"))

    if not layout15:
        all_objs = sorted(dict_objs + stream_objs)
        enc_trailer = ""
        if encrypt_obj is not None:
            enc_id = max(oid for oid, _ in all_objs) + 1
            all_objs.append((enc_id, encrypt_obj))
            enc_trailer = (f" /Encrypt {enc_id} 0 R"
                           f" /ID [<{id0.hex()}> <{id0.hex()}>]")
        out = bytearray(b"%PDF-1.4\n")
        offsets: dict[int, int] = {}
        for oid, body in all_objs:
            offsets[oid] = len(out)
            out += f"{oid} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_pos = len(out)
        nobj = max(offsets) + 1
        out += f"xref\n0 {nobj}\n".encode()
        out += b"0000000000 65535 f \n"
        for oid in range(1, nobj):
            if oid in offsets:
                out += f"{offsets[oid]:010d} 00000 n \n".encode()
            else:
                out += b"0000000000 65535 f \n"
        out += (f"trailer\n<< /Size {nobj} /Root 1 0 R{enc_trailer} >>\n"
                f"startxref\n{xref_pos}\n%%EOF\n").encode()
        return bytes(out)

    # --- PDF 1.5: dict objects packed into a Flate ObjStm, xref as a stream
    dict_objs.sort()
    inner = bytearray()
    pairs: list[str] = []
    for oid, body in dict_objs:
        pairs.append(f"{oid} {len(inner)}")
        inner += body + b"\n"
    header = (" ".join(pairs) + "\n").encode()
    objstm_id = max(oid for oid, _ in dict_objs + stream_objs) + 1
    enc_id = objstm_id + 1 if encrypt_obj is not None else None
    xref_id = (enc_id or objstm_id) + 1
    payload = zlib.compress(header + bytes(inner))
    if enc_stream:
        # the ObjStm stream itself is encrypted; inner objects are not
        # (spec §7.6.2); the xref stream below is NEVER encrypted
        payload = enc_stream(objstm_id, payload)
    objstm = (f"<< /Type /ObjStm /N {len(dict_objs)} /First {len(header)} "
              f"/Filter /FlateDecode /Length {len(payload)} >>\nstream\n".encode()
              + payload + b"\nendstream")

    top_level = sorted(stream_objs) + [(objstm_id, objstm)]
    if enc_id is not None:
        # the /Encrypt dict must stay top-level and unencrypted
        top_level.append((enc_id, encrypt_obj))
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for oid, body in top_level:
        offsets[oid] = len(out)
        out += f"{oid} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    # xref stream: /W [1 4 2]; type 0 free, 1 offset, 2 (objstm, index)
    rows = bytearray()
    rows += bytes([0]) + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")
    in_stm = {oid: idx for idx, (oid, _b) in enumerate(dict_objs)}
    for oid in range(1, xref_id + 1):
        if oid in in_stm:
            rows += bytes([2]) + objstm_id.to_bytes(4, "big") + in_stm[oid].to_bytes(2, "big")
        elif oid in offsets:
            rows += bytes([1]) + offsets[oid].to_bytes(4, "big") + (0).to_bytes(2, "big")
        elif oid == xref_id:
            rows += bytes([1]) + xref_pos.to_bytes(4, "big") + (0).to_bytes(2, "big")
        else:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")
    xdata = zlib.compress(bytes(rows))
    enc_trailer = (f" /Encrypt {enc_id} 0 R /ID [<{id0.hex()}> <{id0.hex()}>]"
                   if enc_id is not None else "")
    out += (f"{xref_id} 0 obj\n<< /Type /XRef /Size {xref_id + 1} /W [1 4 2] "
            f"/Root 1 0 R{enc_trailer} /Filter /FlateDecode "
            f"/Length {len(xdata)} >>\nstream\n".encode()
            + xdata + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)


# --------------------------------------------------------------------------
# record assembly + parquet writer
# --------------------------------------------------------------------------

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
_TAG_STRIP_RE = None  # lazy


def naive_text(html_bytes: bytes) -> str | None:
    """Naive tag strip for the pre-extraction `text` column (may be None)."""
    global _TAG_STRIP_RE
    import re
    if _TAG_STRIP_RE is None:
        _TAG_STRIP_RE = re.compile(r"<[^>]*>")
    try:
        s = html_bytes.decode("utf-8", errors="replace")
    except Exception:
        return None
    return " ".join(_TAG_STRIP_RE.sub(" ", s).split())[:20000]


@dataclass
class PageRecord:
    url: str
    warc_ts: datetime
    html: bytes
    text: str | None
    lang: str
    bucket: int


def make_page(url: str, n_buckets: int = N_BUCKETS_DEFAULT) -> PageRecord:
    seed = url_seed(url)
    rng = random.Random(seed)
    lang = LANGS[seed % len(LANGS)]
    is_pdf = rng.random() < 0.10
    # ~2% of non-PDF pages are syndication XML (RSS/Atom). Keyed on the
    # url (not an rng draw) and generated from the page's OWN rng — each
    # page seeds its rng from its url, so non-feed pages' bytes are
    # untouched (v15; same keying discipline as the v8 /Filter mix).
    is_feed = not is_pdf and url_seed("feed:" + url) % 100 < 2
    if is_pdf:
        payload = make_pdf(url, rng, lang)
    elif is_feed:
        payload = make_feed(url, rng, lang)
    else:
        payload = make_html(url, rng, lang)
    ts = _EPOCH + timedelta(seconds=seed % (365 * 24 * 3600))
    text = None
    if not is_pdf and not is_feed and rng.random() < 0.85:
        text = naive_text(payload)
    return PageRecord(
        url=url, warc_ts=ts, html=payload, text=text, lang=lang,
        bucket=crc32(url.encode("utf-8")) % n_buckets,
    )


def write_corpus(out_dir: str, n_docs: int, n_buckets: int = N_BUCKETS_DEFAULT) -> None:
    """Write the pages table as bucket-partitioned parquet (Iceberg-emulated
    layout: explicit url-hash bucketed partitioning per the north rule)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from collections import defaultdict
    import os

    urls = gen_urls(n_docs)
    if n_docs >= PARALLEL_THRESHOLD:
        # parallel generation — order-independent since records are a pure
        # function of url and get sorted per bucket before writing
        from functools import partial
        from multiprocessing import Pool

        with Pool(min(16, os.cpu_count() or 4)) as pool:
            recs = pool.map(partial(make_page, n_buckets=n_buckets), urls,
                            chunksize=256)
    else:
        recs = [make_page(u, n_buckets) for u in urls]
    by_bucket: dict[int, list[PageRecord]] = defaultdict(list)
    for rec in recs:
        by_bucket[rec.bucket].append(rec)

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    for bucket, recs in sorted(by_bucket.items()):
        recs.sort(key=lambda r: r.url)
        tbl = pa.Table.from_pydict({
            "url": [r.url for r in recs],
            "warc_ts": [r.warc_ts for r in recs],
            "html": [r.html for r in recs],
            "text": [r.text for r in recs],
            "lang": [r.lang for r in recs],
        }, schema=schema)
        d = os.path.join(out_dir, f"bucket={bucket}")
        os.makedirs(d, exist_ok=True)
        # bounded row groups so the files are SPLITTABLE: a single row
        # group per 14 MB file caps any scan of this table at one task per
        # file (guide §6 — Spark can only split parquet at row-group
        # boundaries). ~8 groups/file lets the scan parallelize to the
        # cluster without a repartition shuffle of the payload column.
        # Content (rows, order, values) is unchanged — layout only.
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"),
                       row_group_size=max(64, -(-len(recs) // 8)))


def ensure_corpus(out_dir: str, n_docs: int, n_buckets: int = N_BUCKETS_DEFAULT) -> str:
    """Idempotent: write the corpus if absent OR generated by an older
    CORPUS_VERSION (a silent stale corpus would make goldens/caches lie),
    return out_dir."""
    import os
    import shutil
    marker = os.path.join(out_dir, "_SUCCESS")
    # layout=rg8 is a STORAGE tag (row-grouped files, round-6): bumping it
    # rewrites the corpus with identical content — CORPUS_VERSION governs
    # content and stays untouched so goldens/caches keyed on it stay valid
    stamp = (f"n_docs={n_docs} n_buckets={n_buckets} "
             f"version={CORPUS_VERSION} layout=rg8\n")
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if f.read() == stamp:
                    return out_dir
        except OSError:
            pass
        shutil.rmtree(out_dir, ignore_errors=True)
    write_corpus(out_dir, n_docs, n_buckets)
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


if __name__ == "__main__":
    import sys
    out = sys.argv[1] if len(sys.argv) > 1 else "data/pages"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    ensure_corpus(out, n)
    print(f"wrote {n} pages to {out}")
