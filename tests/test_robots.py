"""RFC 9309 robots.txt: parser group semantics, agent selection,
longest-match/Allow-wins precedence, wildcard/anchor patterns, and the
broadcast permission join's parity with the reference matcher."""
from __future__ import annotations

import pytest

from docvision_spark.functions.robots import (
    is_allowed, parse_robots_txt, pattern_to_regex, select_agent)

TXT = """
# example file
User-agent: googlebot
Disallow: /private/

User-agent: docvision-bot
User-agent: slow-bot
Disallow: /tmp/
Allow: /tmp/ok/
Disallow: /*.pdf$

User-agent: *
Disallow: /admin
Crawl-delay: 10
Sitemap: https://h.example.com/sitemap.xml
"""


def test_parse_groups_and_sitemaps():
    rules, sitemaps = parse_robots_txt(TXT)
    assert sitemaps == ["https://h.example.com/sitemap.xml"]
    agents = {r["agent"] for r in rules}
    assert agents == {"googlebot", "docvision-bot", "slow-bot", "*"}
    # shared group: both agents got all three rules
    assert sum(r["agent"] == "docvision-bot" for r in rules) == 3
    assert sum(r["agent"] == "slow-bot" for r in rules) == 3
    # rules before any user-agent line are ignored
    orphan, _ = parse_robots_txt("Disallow: /x\nUser-agent: *\nDisallow: /y")
    assert [r["pattern"] for r in orphan] == ["/y"]
    # empty Disallow means allow-all (no rule emitted)
    none_, _ = parse_robots_txt("User-agent: *\nDisallow:")
    assert none_ == []


def test_agent_selection_longest_prefix():
    groups = {"*", "docvision", "docvision-bot"}
    assert select_agent(groups, "DocVision-Bot/1.0") == "docvision-bot"
    assert select_agent(groups, "docvision-crawler") == "docvision"
    assert select_agent(groups, "otherbot") == "*"
    assert select_agent({"googlebot"}, "otherbot") is None


def test_pattern_translation_and_matching():
    assert pattern_to_regex("/a/*.pdf$") == r"^/a/.*\.pdf$"
    rules, _ = parse_robots_txt(TXT)
    # googlebot group
    assert not is_allowed(rules, "/private/x", "googlebot")
    assert is_allowed(rules, "/tmp/x", "googlebot")  # other group's rule
    # docvision group: longest match wins; Allow wins ties
    assert not is_allowed(rules, "/tmp/x", "docvision-bot")
    assert is_allowed(rules, "/tmp/ok/x", "docvision-bot")
    assert not is_allowed(rules, "/docs/file.pdf", "docvision-bot")
    assert is_allowed(rules, "/docs/file.pdfx", "docvision-bot")  # $ anchor
    # fallback group
    assert not is_allowed(rules, "/admin/panel", "otherbot")
    assert is_allowed(rules, "/public", "otherbot")
    # no robots at all -> allowed
    assert is_allowed([], "/anything", "any")


def test_allow_wins_equal_length():
    rules, _ = parse_robots_txt(
        "User-agent: *\nDisallow: /dir/a\nAllow: /dir/b")
    # equal-length distinct patterns: each governs its own path
    assert not is_allowed(rules, "/dir/a1")
    assert is_allowed(rules, "/dir/b1")
    # same-length SAME path coverage: Allow wins the tie
    rules2, _ = parse_robots_txt("User-agent: *\nDisallow: /d*\nAllow: /d?")
    # '/d?' is literal '?' (len 3) vs '/d*' (len 3): both match '/d?'
    assert is_allowed(rules2, "/d?")


@pytest.mark.spark
def test_crawl_allowed_matches_reference(spark):
    """The broadcast permission join agrees with the driver-side reference
    matcher on every (url, fixture) combination, including hosts with no
    robots entry (default allowed)."""
    from docvision_spark.functions.robots import (crawl_allowed,
                                                  robots_rules_df)

    robots = [
        ("a.example.com", TXT),
        ("b.example.com", "User-agent: *\nDisallow: /\nAllow: /pub*"),
    ]
    paths = ["/", "/tmp/x", "/tmp/ok/x", "/admin", "/admin/p", "/pub/1",
             "/docs/f.pdf", "/docs/f.pdfx", "/private/x", "/pub"]
    urls = ([f"https://a.example.com{p}" for p in paths]
            + [f"https://b.example.com{p}" for p in paths]
            + [f"https://norobots.example.net{p}" for p in paths])
    agent = "docvision-bot"
    rules = robots_rules_df(spark, robots, agent=agent)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["allowed"]
           for r in crawl_allowed(df, rules).collect()}
    parsed = {h: parse_robots_txt(t)[0] for h, t in robots}
    for u in urls:
        host = u.split("/")[2]
        path = "/" + u.split("/", 3)[3] if u.count("/") >= 3 else "/"
        want = is_allowed(parsed.get(host, []), path, agent)
        assert got[u] == want, (u, got[u], want)
    # the join side is broadcast — no shuffle of the url table
    plan = crawl_allowed(df, rules)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ------------------------------------------------------------- sitemaps ----

def test_sitemap_parse_formats_and_edges():
    from docvision_spark.functions.sitemaps import (make_sitemap_xml,
                                                    parse_sitemap)

    urls = [f"https://h.ex.com/p/{i}" for i in range(4)]
    urls.append("https://h.ex.com/a?x=1&y=2")  # entity-escaped in XML
    for kw in ({}, {"as_gzip": True}, {"as_text": True}, {"index": True},
               {"lastmod": "2026-01-05T00:00:00Z"}):
        r = parse_sitemap(make_sitemap_xml(urls, **kw))
        assert r["error"] is None
        assert [l for l, _ in r["entries"]] == urls, kw
        if kw.get("index"):
            assert r["kind"] == "sitemapindex"
        if kw.get("lastmod"):
            assert all(lm == "2026-01-05T00:00:00Z"
                       for _, lm in r["entries"])
    # CDATA-wrapped loc + namespace prefix + comments
    xml = (b'<?xml version="1.0"?><!-- c --><sm:urlset xmlns:sm="x">'
           b"<sm:url><sm:loc><![CDATA[https://h.ex.com/cdata]]></sm:loc>"
           b"</sm:url></sm:urlset>")
    r = parse_sitemap(xml)
    assert r["entries"] == [("https://h.ex.com/cdata", None)]
    # failures are typed, never raised
    assert parse_sitemap(b"junk bytes")["error"]
    assert parse_sitemap(b"<html><body>x</body></html>")["error"]
    assert parse_sitemap(b"\x1f\x8bnot-gzip")["error"].startswith("gzip")
    # truncated final entry still yields its loc
    r = parse_sitemap(b"<urlset><url><loc>https://h.ex.com/cut</loc>")
    assert r["entries"] == [("https://h.ex.com/cut", None)]
    # the kind comes from the root element, and a <loc> must be an
    # http(s) url like a plain-text line: a <urlset> further in does not
    # make a sitemap of a document rooted elsewhere
    r = parse_sitemap(b"</lastmod><?xml?></loc></url>https://x/<loc>2026 "
                      b"<urlset>2026 >&amp;amp;</loc></url>")
    assert (r["kind"], r["entries"]) == (None, []) and r["error"]
    r = parse_sitemap(b"<sitemapindex><urlset/><sitemap><loc>https://h.ex.com/a"
                      b"</loc></sitemap><sitemap><loc>/relative</loc></sitemap>"
                      b"<sitemap><loc>ftp://h.ex.com/b</loc></sitemap>"
                      b"</sitemapindex>")
    assert r["kind"] == "sitemapindex"
    assert r["entries"] == [("https://h.ex.com/a", None)]


@pytest.mark.spark
def test_sitemap_entries_stage(spark):
    from docvision_spark.functions.sitemaps import (make_sitemap_xml,
                                                    sitemap_entries)

    rows = [
        ("a.ex.com", make_sitemap_xml(["https://a.ex.com/1",
                                       "https://a.ex.com/2"])),
        ("b.ex.com", make_sitemap_xml(["https://b.ex.com/1"],
                                      as_gzip=True)),
        ("c.ex.com", b"total garbage"),
    ]
    df = spark.createDataFrame(rows, "host string, payload binary")
    got = sitemap_entries(df).collect()
    ok = [r for r in got if r["error"] is None]
    bad = [r for r in got if r["error"] is not None]
    assert {(r["host"], r["loc"]) for r in ok} == {
        ("a.ex.com", "https://a.ex.com/1"),
        ("a.ex.com", "https://a.ex.com/2"),
        ("b.ex.com", "https://b.ex.com/1")}
    assert len(bad) == 1 and bad[0]["host"] == "c.ex.com"
