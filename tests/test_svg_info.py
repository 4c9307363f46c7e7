"""SVG metadata scanner: dims (absolute units + viewBox fallback),
element counts, text extraction through entities/CDATA, prolog handling,
and the honest not-an-SVG rejection."""
from __future__ import annotations

import pytest

from docvision_spark.kernel.svg_info import SvgError, looks_like_svg, svg_info


def test_dims_units_and_viewbox_fallback():
    assert svg_info(b'<svg width="2in" height="96px"/>')["width"] == 192
    assert svg_info(b'<svg width="72pt" height="25.4mm"/>') == {
        "width": 96, "height": 96, "n_elements": 1, "text": ""}
    i = svg_info(b'<svg viewBox="0 0 120.5 80"><path d="M0 0"/></svg>')
    assert (i["width"], i["height"], i["n_elements"]) == (120, 80, 2)
    # viewBox with comma separators
    i = svg_info(b'<svg viewBox="0,0,64,48"/>')
    assert (i["width"], i["height"]) == (64, 48)
    # relative units have no absolute answer
    i = svg_info(b'<svg width="100%" height="10em"/>')
    assert i["width"] is None and i["height"] is None
    # width attr wins over viewBox; missing height falls back
    i = svg_info(b'<svg width="10" viewBox="0 0 99 44"/>')
    assert (i["width"], i["height"]) == (10, 44)


def test_prolog_comments_doctype_and_namespace_prefix():
    svg = (b'\xef\xbb\xbf<?xml version="1.0"?>\n'
           b'<!DOCTYPE svg PUBLIC "-//W3C//DTD SVG 1.1//EN" "s.dtd"'
           b' [ <!ENTITY x "y"> ]>\n'
           b'<!-- <svg width="9" height="9"> commented out -->\n'
           b'<svg:svg xmlns:svg="http://www.w3.org/2000/svg"'
           b' width="30" height="20"><svg:rect/></svg:svg>')
    i = svg_info(svg)
    assert (i["width"], i["height"], i["n_elements"]) == (30, 20, 2)


def test_text_extraction_entities_cdata_and_raw_text_skips():
    svg = (b'<svg width="8" height="8">'
           b'<title>Logo &amp; mark</title>'
           b'<style>.a{fill:red} /* <text>not content</text> */</style>'
           b'<text x="0" y="5">Hello <tspan>brave&nbsp;new</tspan> world'
           b'</text>'
           b'<desc><![CDATA[raw <desc> data]]></desc>'
           b"<script>var t = '<text>no</text>';</script>"
           b'<rect width="1" height="1"/></svg>')
    t = svg_info(svg)["text"]
    assert "Logo & mark" in t and "Hello" in t and "world" in t
    assert "brave" in t and "new" in t
    assert "raw <desc> data" in t
    assert "not content" not in t and "no" not in t.split()
    assert "fill" not in t


def test_rejects_non_svg_root_and_sniffs():
    with pytest.raises(SvgError):
        svg_info(b"<html><body><svg/></body></html>")
    with pytest.raises(SvgError):
        svg_info(b"just text, no markup")
    assert looks_like_svg(b'<?xml version="1.0"?><svg/>')
    assert looks_like_svg('<svg width="1"/>'.encode("utf-16-le"))
    assert not looks_like_svg(b"<html></html>")
    assert not looks_like_svg(b"\x89PNG\r\n\x1a\n")


def test_malformed_markup_degrades_without_exception():
    # unterminated constructs after a valid root: scan ends, no raise
    i = svg_info(b'<svg width="5" height="5"><text>tail text')
    assert i["text"] == "tail text" and i["n_elements"] == 2
    i = svg_info(b'<svg width="5" height="5"><!-- never closed')
    assert i["n_elements"] == 1
    i = svg_info(b'<svg width="5" height="5"><style>never closed')
    assert i["n_elements"] == 2
    # a quoted '>' stays inside its attribute value
    i = svg_info(b'<svg width="5" height="5"><text font="a>b">Hi</text></svg>')
    assert (i["text"], i["n_elements"]) == ("Hi", 2)
    # mismatched end tags pop to the nearest match
    i = svg_info(b'<svg><g><text>a</g></text>b<text>c</text></svg>'
                 b'x' * 10)
    assert "a" in i["text"] and "c" in i["text"]


def test_synthetic_svg_generator_is_deterministic():
    from docvision_spark.functions.multimodal import make_synthetic_svg

    a, b = make_synthetic_svg(42), make_synthetic_svg(42)
    assert a == b
    info = svg_info(a)
    assert info["width"] and info["height"] and info["n_elements"] >= 4
    assert info["text"]
    assert make_synthetic_svg(43) != a
