"""RSS/Atom feed extraction: the three syndication shapes, the three item
content encodings, field-order normalization, precedence, truncation, and
the kernel dispatch (processing_mode=feed)."""
from __future__ import annotations

from docvision_spark.kernel.extract import extract
from docvision_spark.kernel.feed import feed_blocks, looks_like_feed
from docvision_spark.kernel.markdown import emit

_LONG = ("A paragraph of entirely sufficient length for the densitometric "
         "classifier to keep as real content in the output.")


def _md(s: str) -> str:
    return emit(feed_blocks(s))[1]


def test_looks_like_feed_roots_only():
    assert looks_like_feed('<?xml version="1.0"?><rss version="2.0"/>')
    assert looks_like_feed('<feed xmlns="http://www.w3.org/2005/Atom"/>')
    assert looks_like_feed('<!-- c --><rdf:RDF xmlns="x"/>')
    assert not looks_like_feed("<html><body>rss</body></html>")
    assert not looks_like_feed('<svg width="1"/>')
    assert not looks_like_feed("plain text mentioning <rss> late"
                               + "x" * 5000)


def test_rss2_channel_items_and_encodings():
    md = _md(f"""<rss version="2.0"
      xmlns:content="http://purl.org/rss/1.0/modules/content/"><channel>
      <title>Chan Title</title><link>http://x/</link>
      <description>Chan description long enough to keep around here.</description>
      <item><title>Escaped</title>
        <description>&lt;p&gt;{_LONG}&lt;/p&gt;</description></item>
      <item><title>Cdata</title>
        <content:encoded><![CDATA[<p>{_LONG}</p>]]></content:encoded>
        <description>loser summary</description></item>
      <item><title>Plain</title>
        <description>{_LONG}</description></item>
      </channel></rss>""")
    assert md.startswith("# Chan Title")
    assert "## Escaped" in md and "## Cdata" in md and "## Plain" in md
    assert md.count(_LONG) == 3
    assert "loser summary" not in md        # content:encoded wins
    assert "http://x/" not in md            # links are metadata, dropped


def test_rss1_rdf_items_outside_channel():
    md = _md(f"""<rdf:RDF
      xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns="http://purl.org/rss/1.0/">
      <channel rdf:about="http://x/"><title>RDF Chan</title>
        <description>Site summary sentence of adequate length here.</description>
      </channel>
      <item rdf:about="http://x/1"><title>One</title>
        <description>{_LONG}</description></item>
      </rdf:RDF>""")
    assert md.startswith("# RDF Chan") and "## One" in md and _LONG in md


def test_atom_content_types_and_precedence():
    md = _md(f"""<feed xmlns="http://www.w3.org/2005/Atom">
      <title>Atom T</title>
      <entry><title>Html</title>
        <summary>loser</summary>
        <content type="html">&lt;p&gt;{_LONG}&lt;/p&gt;</content></entry>
      <entry><title>Xhtml</title>
        <content type="xhtml"><div xmlns="http://www.w3.org/1999/xhtml">
          <p>{_LONG}</p></div></content></entry>
      <entry><title>Sum</title><summary>{_LONG}</summary></entry>
      </feed>""")
    assert md.startswith("# Atom T")
    assert md.count(_LONG) == 3 and "loser" not in md


def test_field_order_does_not_change_output():
    a = _md(f"<rss><channel><title>T</title><item>"
            f"<title>I</title><description>{_LONG}</description>"
            f"</item></channel></rss>")
    b = _md(f"<rss><channel><title>T</title><item>"
            f"<description>{_LONG}</description><title>I</title>"
            f"</item></channel></rss>")
    assert a == b


def test_truncated_feed_flushes_open_item():
    md = _md(f"<rss><channel><title>T</title><item><title>Cut</title>"
             f"<description>{_LONG}")
    assert "## Cut" in md and _LONG in md


def test_item_html_content_nested_markup_and_entities():
    md = _md("""<rss><channel><title>T</title><item><title>Rich</title>
      <content:encoded><![CDATA[
        <h3>Sub heading</h3>
        <p>First paragraph body that is long enough to be kept, really.</p>
        <ul><li>alpha item of reasonable length here</li></ul>
        <table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>
      ]]></content:encoded></item></channel></rss>""")
    assert "### Sub heading" in md
    assert "- alpha item" in md
    assert "| a" in md  # data table kept as pipe table


def test_extract_dispatch_and_mode():
    from docvision_spark.corpus import make_feed
    import random

    r = extract("http://e.com/f.xml",
                make_feed("http://e.com/f.xml", random.Random(7), "en"))
    assert r.processing_mode == "feed" and r.error is None
    assert r.page_count == 1 and r.text and r.markdown.startswith("# ")
    assert r.spans and r.canonical_url is None
    # determinism: same payload -> same id
    r2 = extract("http://e.com/f.xml",
                 make_feed("http://e.com/f.xml", random.Random(7), "en"))
    assert r2.id == r.id and r2.text == r.text
    # html pages still go down the html path
    h = extract("http://e.com/", b"<html><body><p>" + b"w " * 40
                + b"</p></body></html>")
    assert h.processing_mode == "html"


def test_unclosed_void_tag_does_not_leak_capture():
    """An unclosed HTML void tag (<br>) directly inside a content field
    pushes a phantom depth; the capture must still complete at the
    field's close tag instead of swallowing every later item."""
    md = _md("<rss><channel><title>T</title>"
             f"<item><title>Item1</title>"
             f"<description>line one<br>{_LONG}</description></item>"
             f"<item><title>Item2</title>"
             f"<description>{_LONG}</description></item>"
             "</channel></rss>")
    assert "## Item1" in md and "## Item2" in md
    assert md.count(_LONG) == 2


def test_self_closed_empty_title_is_not_a_heading_grab():
    """<title/> (legal empty title) must not scan forward and turn the
    next sibling's raw markup into the item heading."""
    md = _md(f"""<feed><title>F</title>
      <entry><title/><id>urn:x:1</id><summary>{_LONG}</summary></entry>
      </feed>""")
    assert "urn:x:1" not in md and _LONG in md


def test_prolog_and_attribute_syntax_do_not_hide_or_leak():
    """The feed reader shares kernel/xml_scan.py with the SVG and sitemap
    readers: a DOCTYPE internal subset and a PI holding '>' are prolog,
    not text before the root, and a quoted '>' stays inside its
    attribute value."""
    feed = ("<rss version=\"2.0\"><channel><title>Channel T</title><item>"
            "<title>Item A</title><description>Body text here for the item."
            "</description></item></channel></rss>")
    want = extract("http://e.com/f.xml", feed.encode())
    assert want.processing_mode == "feed"
    assert want.markdown == ("# Channel T\n\n## Item A\n\n"
                             "Body text here for the item.")
    for prolog in ('<!DOCTYPE rss [<!ENTITY c "x">]>',
                   '<?xml-stylesheet href="a>b"?>'):
        r = extract("http://e.com/f.xml", (prolog + feed).encode())
        assert (r.processing_mode, r.markdown) == ("feed", want.markdown)
    md = _md(feed.replace("<description>", '<description x="a>b">'))
    assert md == want.markdown
