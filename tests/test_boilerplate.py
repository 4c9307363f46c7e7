"""host-frequency residual-boilerplate: detection + strip semantics."""

import pytest

from docvision_spark.functions.boilerplate import (
    host_frequent_lines, strip_frequent_lines, with_host)

pytestmark = pytest.mark.spark

PROMO = "Subscribe to the Example newsletter for weekly updates."


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # host a: PROMO on 5 of 6 docs (frequent); unique content per doc
    for i in range(6):
        body = f"unique content line number {i} with enough characters"
        text = body if i == 5 else f"{body}\n{PROMO}"
        rows.append((f"https://a.example.com/p{i}", text))
    # host b: PROMO on only 2 docs -> NOT frequent there (per-host counts)
    for i in range(4):
        body = f"host b distinct paragraph {i} long enough to keep"
        text = f"{body}\n{PROMO}" if i < 2 else body
        rows.append((f"https://b.example.com/p{i}", text))
    # doc that is ONLY the promo line; a null-text doc
    rows.append(("https://a.example.com/only-promo", PROMO))
    rows.append(("https://a.example.com/null", None))
    return spark.createDataFrame(rows, "url string, text string").cache()


def test_with_host(spark, docs):
    got = dict(with_host(docs).select("url", "host").collect())
    assert got["https://a.example.com/p0"] == "a.example.com"
    assert got["https://b.example.com/p1"] == "b.example.com"


def test_host_frequent_lines_per_host_counts(spark, docs):
    freq = host_frequent_lines(docs, min_docs=4).collect()
    assert len(freq) == 1
    r = freq[0]
    assert (r.host, r.line) == ("a.example.com", PROMO)
    assert r.n_docs == 6  # 5 regular + the only-promo doc


def test_repeated_line_within_one_doc_counts_once(spark):
    rows = [(f"https://c.com/{i}",
             "the same promo line repeated twice in one doc\n"
             "the same promo line repeated twice in one doc") for i in range(3)]
    df = spark.createDataFrame(rows, "url string, text string")
    freq = host_frequent_lines(df, min_docs=3).collect()
    assert len(freq) == 1 and freq[0].n_docs == 3


def test_strip_frequent_lines(spark, docs):
    out = {r.url: r for r in strip_frequent_lines(docs, min_docs=4).collect()}
    # host a: promo removed, unique line kept, order/count right
    r = out["https://a.example.com/p0"]
    assert PROMO not in r.text and "unique content line number 0" in r.text
    assert r.n_stripped_lines == 1
    # untouched doc on host a
    assert out["https://a.example.com/p5"].n_stripped_lines == 0
    # host b keeps the promo (not frequent there)
    assert PROMO in out["https://b.example.com/p0"].text
    assert out["https://b.example.com/p0"].n_stripped_lines == 0
    # all-boilerplate doc -> empty, not restored
    assert out["https://a.example.com/only-promo"].text == ""
    assert out["https://a.example.com/only-promo"].n_stripped_lines == 1
    # null text passes through
    assert out["https://a.example.com/null"].text is None
    assert out["https://a.example.com/null"].n_stripped_lines == 0


def test_null_url_rows_pass_through_strip(spark):
    """A null-url row keeps its text verbatim (the reassembly join can
    never match it; clearing it would silently drop the doc downstream)."""
    rows = [(f"https://e.com/{i}",
             "shared template line across documents here\n"
             f"unique body line number {i} for this doc") for i in range(4)]
    rows.append((None, "orphan row text that must survive unchanged"))
    df = spark.createDataFrame(rows, "url string, text string")
    out = strip_frequent_lines(df, min_docs=4).collect()
    orphan = [r for r in out if r.url is None][0]
    assert orphan.text == "orphan row text that must survive unchanged"
    assert orphan.n_stripped_lines == 0
    # the named rows still got stripped
    named = [r for r in out if r.url is not None]
    assert all("shared template" not in r.text for r in named)


def test_strip_preserves_line_order(spark):
    rows = [(f"https://d.com/{i}",
             f"alpha first line of real content number {i}\n"
             "shared template line across documents\n"
             f"omega last line of real content number {i}") for i in range(4)]
    df = spark.createDataFrame(rows, "url string, text string")
    out = strip_frequent_lines(df, min_docs=4).collect()
    for i, r in enumerate(sorted(out, key=lambda r: r.url)):
        assert r.text == (f"alpha first line of real content number {i}\n"
                          f"omega last line of real content number {i}")
        assert r.n_stripped_lines == 1


def test_rows_sharing_a_url_keep_their_own_lines(spark):
    """Two rows of one host with the same url and different texts: each
    loses only its own frequent lines and keeps its own other lines, in
    order, never the other row's."""
    template = "shared template line across documents here"
    rows = [(f"https://f.com/{i}", f"body line number {i} of a doc\n{template}")
            for i in range(4)]
    rows += [("https://f.com/dup",
              f"first row opening line\n{template}\nfirst row closing line"),
             ("https://f.com/dup", f"{template}\nsecond row only line")]
    df = spark.createDataFrame(rows, "url string, text string")
    got = sorted((r.text, r.n_stripped_lines)
                 for r in strip_frequent_lines(df, min_docs=4).collect()
                 if r.url == "https://f.com/dup")
    assert got == [("first row opening line\nfirst row closing line", 1),
                   ("second row only line", 1)]
