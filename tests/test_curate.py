"""End-to-end curation pipeline test with planted duplicates (subprocess —
the job owns its SparkSession lifecycle)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_planted_pages(tmp_path) -> tuple[str, int]:
    """60 corpus pages plus planted copies: 8 exact duplicates under another
    url, 3 url-level variants and 4 near duplicates. Returns the pages dir
    and its row count."""
    from docvision_spark.corpus import gen_urls, make_page

    import re as _re

    recs = [make_page(u) for u in gen_urls(60)]
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}

    def sanitize(html: bytes) -> bytes:
        # strip head metadata so the robots/canonical stages are no-ops in
        # THIS test (the dup-count arithmetic below assumes every planted
        # pair reaches the content-dedup stages; the metadata stages have
        # their own dedicated test) — extracted TEXT is unchanged, so the
        # copies stay exact text duplicates
        html = _re.sub(rb'<link rel="canonical"[^>]*>\n?', b"", html)
        return _re.sub(rb'<meta name="robots"[^>]*>\n?', b"", html)

    def add(url, ts, html, lang):
        rows["url"].append(url)
        rows["warc_ts"].append(ts)
        rows["html"].append(html)
        rows["text"].append(None)
        rows["lang"].append(lang)

    n_html = 0
    for r in recs:
        r.html = sanitize(r.html)
        add(r.url, r.warc_ts, r.html, r.lang)
        if r.html[:5] != b"%PDF-" and n_html < 8:
            n_html += 1
            # exact duplicate under a different url
            add(r.url + "?dup=1", r.warc_ts, r.html, r.lang)
            if n_html <= 3:
                # url-level variant: canonicalizes onto r.url (tracking
                # param + fragment) -> must drop BEFORE extraction
                add(r.url + "?utm_source=feed#top", r.warc_ts, r.html, r.lang)
            if n_html <= 4:
                # near duplicate: inject one extra paragraph
                mutated = r.html.replace(
                    b"</article>",
                    b"<p>One additional sentence of content appended here "
                    b"to make this page a near duplicate of the original "
                    b"page rather than an exact byte copy of it.</p></article>", 1)
                add(r.url + "?near=1", r.warc_ts, mutated, r.lang)

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    in_dir = tmp_path / "pages"
    in_dir.mkdir()
    pq.write_table(pa.Table.from_pydict(rows, schema=schema),
                   str(in_dir / "part-0.parquet"))
    return str(in_dir), len(rows["url"])


@pytest.mark.spark
@pytest.mark.slow
def test_curate_drops_planted_duplicates(tmp_path):
    in_dir, n_input = write_planted_pages(tmp_path)
    out_dir = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", in_dir, "--output", out_dir,
         "--cores", "8", "--min-quality", "40"],
        capture_output=True, text=True, timeout=500, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])

    assert report["input_pages"] == n_input
    # the 3 planted url variants collapse before extraction is paid
    assert report["after_url_dedup"] == n_input - 3
    assert report["extracted"] == n_input - 3
    # all 8 exact dups collapse
    assert report["after_exact_dedup"] <= report["quality_pass"] - 8
    # all 4 near dups drop
    assert report["after_near_dedup"] <= report["after_exact_dedup"] - 4

    import duckdb
    got = duckdb.connect().execute(
        f"select count(*), count(distinct id) from read_parquet('{out_dir}/data/*.parquet')"
    ).fetchone()
    assert got[0] == got[1] == report["after_near_dedup"]


@pytest.mark.spark
@pytest.mark.slow
def test_curate_zero_survivor_report(tmp_path):
    """A quality floor nothing passes: every stage after it is empty, and
    the report still carries every default key as an int (an observed sum
    over no rows is null, an observed count pruned from an empty plan is
    absent), with the upstream counts intact. data/ is an empty table."""
    in_dir, n_input = write_planted_pages(tmp_path)
    out_dir = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", in_dir, "--output", out_dir,
         "--cores", "4", "--min-quality", "101"],
        capture_output=True, text=True, timeout=500, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)
    assert list(report) == [
        "input_pages", "after_url_dedup", "extracted", "extract_errors",
        "after_robots", "after_canonical", "quality_pass",
        "boiler_lines_stripped", "after_exact_dedup", "after_near_dedup"]
    assert all(type(v) is int for v in report.values()), report
    assert report["input_pages"] == n_input
    assert report["after_url_dedup"] == report["extracted"] == n_input - 3
    assert report["after_canonical"] > 0
    assert (report["quality_pass"] == report["after_exact_dedup"]
            == report["after_near_dedup"] == 0)
    assert report["boiler_lines_stripped"] == 0
    assert pq.read_table(os.path.join(out_dir, "data")).num_rows == 0


def test_curate_history_without_artifacts_fails_fast(tmp_path):
    """--history naming an output curated with --no-artifacts (data/ and
    report.json, no artifacts/) exits before any Spark work: non-zero, the
    reason on stderr, and no --output dir."""
    hist = tmp_path / "hist"
    (hist / "data").mkdir(parents=True)
    pq.write_table(pa.Table.from_pydict({"content_md5": ["0" * 32]}),
                   str(hist / "data" / "part-0.parquet"))
    (hist / "report.json").write_text("{}")
    out_dir = tmp_path / "curated"
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", str(tmp_path / "no_pages"), "--output", str(out_dir),
         "--history", str(hist)],
        capture_output=True, text=True, timeout=120, env=env)
    assert proc.returncode != 0
    assert "has no artifacts/ dir" in proc.stderr
    assert "--no-artifacts" in proc.stderr
    assert not out_dir.exists()


@pytest.mark.spark
@pytest.mark.slow
def test_curate_robots_and_canonical_stage(tmp_path):
    """The publisher-metadata stage: noindex docs are excluded; a doc whose
    rel=canonical names ANOTHER present url defers to it; self-canonical
    and dangling-canonical docs survive; a MUTUAL canonical pair keeps both
    (never drop both sides of a cycle); relative hrefs resolve against the
    page url before comparison."""
    import random as _random

    def page(seed: int, head: str = "") -> bytes:
        # per-doc DISTINCT body (same vocab, different word sequence) so the
        # near-dup stage does not collapse the fixture docs themselves
        rng = _random.Random(seed)
        words = ("the of and to market growth report annual revenue system "
                 "analysis data model energy policy research climate software "
                 "industry product service development technology").split()
        body = " ".join(rng.choice(words) for _ in range(120)) + "."
        return (f'<html><head><title>t</title>{head}</head><body><main>'
                f"<p>{body}</p></main></body></html>").encode()

    rows = {
        "url": ["https://ex.com/a", "https://ex.com/b",
                "https://ex.com/c", "https://ex.com/d",
                "https://ex.com/e", "https://ex.com/f",
                "https://ex.com/g", "https://ex.com/h"],
        "html": [
            page(1, '<link rel="canonical" href="https://ex.com/a">'),
            page(2, '<link rel="canonical" href="https://ex.com/a">'),
            page(3, '<meta name="robots" content="noindex">'),
            page(4),
            page(5, '<link rel="canonical" href="https://ex.com/zz">'),
            # mutual pair: must NOT drop both
            page(6, '<link rel="canonical" href="https://ex.com/g">'),
            page(7, '<link rel="canonical" href="https://ex.com/f">'),
            # relative href: resolves to /a -> defers to a
            page(8, '<link rel="canonical" href="/a">'),
        ],
    }
    import datetime as dt
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    in_dir = tmp_path / "pages"
    in_dir.mkdir()
    pq.write_table(pa.Table.from_pydict({
        "url": rows["url"],
        "warc_ts": [dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)]
        * len(rows["url"]),
        "html": rows["html"], "text": [None] * len(rows["url"]),
        "lang": ["en"] * len(rows["url"]),
    }, schema=schema), str(in_dir / "part-0.parquet"))

    out_dir = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", str(in_dir), "--output", out_dir,
         "--cores", "4", "--min-quality", "20"],
        capture_output=True, text=True, timeout=500, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["after_robots"] == 7        # C (noindex) dropped
    # B defers to A; H's relative '/a' resolves and defers to A; E's target
    # is absent (kept); F<->G are a mutual pair (BOTH kept)
    assert report["after_canonical"] == 5

    import duckdb
    urls = {u for (u,) in duckdb.connect().execute(
        f"select url from read_parquet('{out_dir}/data/*.parquet')").fetchall()}
    assert "https://ex.com/a" in urls and "https://ex.com/e" in urls
    assert "https://ex.com/f" in urls and "https://ex.com/g" in urls
    assert "https://ex.com/b" not in urls and "https://ex.com/c" not in urls
    assert "https://ex.com/h" not in urls

@pytest.mark.slow
def test_curate_sf01_scale_stage_counts(tmp_path):
    """Round-4 verdict #7: the 7-stage pipeline end-to-end on the REAL
    20k-page sf0.1 corpus (not planted fixtures), asserting the report's
    stage counts are deterministic and monotone. Besides the invariants
    (monotone funnel, nonzero attrition at the stages the corpus is known
    to exercise), the exact counts are pinned per CORPUS_VERSION; a
    version with no pins fails until they are re-derived from its run."""
    from docvision_spark.corpus import ensure_corpus

    pages_dir = ensure_corpus(os.path.join(REPO, "data", "pages_sf0.1"), 20000)
    out_dir = str(tmp_path / "curated")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", pages_dir, "--output", out_dir, "--cores", "8"],
        capture_output=True, text=True, timeout=1800, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(os.path.join(out_dir, "report.json")) as f:
        rep = json.load(f)
    # monotone funnel
    assert rep["input_pages"] == 20000
    assert (rep["input_pages"] >= rep["after_url_dedup"]
            >= rep["extracted"] - rep["extract_errors"] >= rep["after_robots"]
            >= rep["after_canonical"] >= rep["quality_pass"]
            >= rep["after_exact_dedup"] >= rep["after_near_dedup"] > 0)
    # attrition classes the raw sf0.1 corpus actually exercises: typed
    # extraction errors, robots-noindex, quality, boilerplate templates.
    # (Raw-corpus urls are unique and pages content-distinct, so the three
    # dedup stages pass through 1:1 here — their drop behavior is covered
    # by the planted-fixture e2e tests above.)
    assert rep["extract_errors"] > 0
    assert rep["after_robots"] < rep["extracted"] - rep["extract_errors"]
    assert rep["quality_pass"] < rep["after_canonical"]
    assert rep["boiler_lines_stripped"] > 0
    assert rep["after_url_dedup"] == rep["input_pages"]
    assert rep["after_exact_dedup"] == rep["quality_pass"]
    assert rep["after_near_dedup"] == rep["after_exact_dedup"]
    from docvision_spark.corpus import CORPUS_VERSION
    # v10 == v9 text content (K-variant rasters); v11-v14 == v10 text
    # content (the scanned slice's /DCTDecode, /JBIG2Decode, /JPXDecode
    # and flate-transport variants change raster bytes only); v15 swaps
    # ~2% of html pages for syndication XML (feeds carry no noindex /
    # promo template, so robots drops shrink and boilerplate line counts
    # shift): extract_errors 47 / robots 19435 -> 19444 / quality
    # 19408 -> 19417 / boiler 4454 -> 4345. v16 and v17 keep v15's text
    # content (v17 adds /Perms to AES-256 PDFs). v8 -> v9: extract_errors
    # 71 -> 47 (the 24 scanned-slice docs whose CCITT rasters now decode
    # extract their text instead of erroring; only the 1% JBIG2 slice
    # remains).
    v15 = {"extract_errors": 47, "after_robots": 19444,
           "quality_pass": 19417, "boiler_lines_stripped": 4345}
    pins = {15: v15, 16: v15, 17: v15}
    # exact deterministic counts (seeded corpus + seeded kernel -> the
    # whole report is reproducible bit-for-bit)
    got = {k: rep[k] for k in v15}
    assert CORPUS_VERSION in pins, (
        f"no exact pins for corpus v{CORPUS_VERSION}: re-derive them from "
        f"this run's report and add them to `pins` (this run: {got})")
    assert got == pins[CORPUS_VERSION]
    # curated output is readable and consistent with the report
    import duckdb
    n = duckdb.sql(
        f"select count(*) from read_parquet('{out_dir}/data/*.parquet')"
    ).fetchone()[0]
    assert n == rep["after_near_dedup"]


@pytest.mark.spark
@pytest.mark.slow
def test_curate_history_recrawl_mode(tmp_path):
    """Re-crawl mode: curate a history corpus (publishing content_md5 +
    minhash artifacts), then curate an increment with --history pointing at
    it. Exact copies of history drop at the content_md5 anti-join (in the
    same step as in-batch exact dups), near-dups at the artifact
    band-probe; novel docs survive."""
    import random

    rng = random.Random(20260817)
    vocab = [f"w{i:03d}" for i in range(400)]

    def page_html(n_words: int = 50) -> bytes:
        body = " ".join(rng.choice(vocab) for _ in range(n_words))
        return (f"<html><body><main><p>{body}</p></main></body></html>"
                ).encode()

    schema = pa.schema([("url", pa.string()), ("html", pa.binary()),
                        ("lang", pa.string())])

    def write_pages(d, items):
        d.mkdir()
        rows = {"url": [u for u, _ in items],
                "html": [h for _, h in items],
                "lang": ["en"] * len(items)}
        pq.write_table(pa.Table.from_pydict(rows, schema=schema),
                       str(d / "part-0.parquet"))

    def curate(in_dir, out_dir, *extra):
        env = dict(os.environ, PYTHONPATH=REPO)
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
             "--input", str(in_dir), "--output", str(out_dir),
             "--cores", "8", "--min-quality", "0", *extra],
            capture_output=True, text=True, timeout=500, env=env)
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # distinct hosts so the host-frequency boilerplate stage is a no-op
    hist_items = [(f"http://h{i}.test/page", page_html()) for i in range(20)]
    write_pages(tmp_path / "hist_pages", hist_items)
    r1 = curate(tmp_path / "hist_pages", tmp_path / "out_hist")
    assert r1["after_near_dedup"] == 20
    assert os.path.isdir(tmp_path / "out_hist" / "artifacts" / "bands")

    # increment: 1 exact copy of h0, 1 near-dup of h1 (one word swapped),
    # 4 novel pages, 1 within-increment exact dup of the first novel page
    near = hist_items[1][1].replace(b" ", b" uniq ", 1)
    novel = [(f"http://n{i}.test/page", page_html()) for i in range(4)]
    inc_items = ([("http://rec0.test/page", hist_items[0][1]),
                  ("http://rec1.test/page", near)]
                 + novel
                 + [("http://n0dup.test/page", novel[0][1])])
    write_pages(tmp_path / "inc_pages", inc_items)
    r2 = curate(tmp_path / "inc_pages", tmp_path / "out_inc",
                "--history", str(tmp_path / "out_hist"))

    # one exact step: the in-batch dup collapses and the h0 copy drops
    assert r2["after_exact_dedup"] == 5
    assert "after_history_exact" not in r2
    assert r2["after_near_dedup"] == 5           # no in-batch near-dups
    assert r2["after_history_neardup"] == 4      # h1 near-dup drops

    import duckdb
    urls = {u for (u,) in duckdb.connect().execute(
        f"select url from read_parquet("
        f"'{tmp_path}/out_inc/data/*.parquet')").fetchall()}
    assert urls == {u for u, _ in novel}

    # both runs persist artifacts for exactly the urls they wrote to data/
    def ids(sub, col):
        return {u for (u,) in duckdb.connect().execute(
            f"select distinct {col} from read_parquet("
            f"'{tmp_path}/{sub}/*.parquet')").fetchall()}

    for out in ("out_hist", "out_inc"):
        data = ids(f"{out}/data", "url")
        assert ids(f"{out}/artifacts/shingles", "id") == data
        assert ids(f"{out}/artifacts/bands", "id") == data


@pytest.mark.spark
@pytest.mark.slow
def test_curate_robots_txt_gate(tmp_path):
    """--robots gates urls through per-host robots.txt BEFORE extraction:
    disallowed paths drop (wildcard + Allow-override semantics), hosts
    absent from the robots table pass, and the report records the stage."""
    import datetime as dt

    def page(host: str, path: str, seed: int) -> tuple[str, bytes]:
        import random as _r
        rng = _r.Random(seed)
        words = ("market growth report annual revenue system analysis "
                 "data model energy policy research climate software").split()
        body = " ".join(rng.choice(words) for _ in range(120)) + "."
        return (f"https://{host}{path}",
                f"<html><body><main><p>{body}</p></main></body></html>"
                .encode())

    pages = [
        page("a.ex.com", "/keep/1", 1),
        page("a.ex.com", "/private/1", 2),     # disallowed
        page("a.ex.com", "/private/ok/1", 3),  # Allow override wins
        page("a.ex.com", "/doc.pdfx", 4),      # $ anchor: NOT matched
        page("a.ex.com", "/doc.pdf", 5),       # /*.pdf$ -> disallowed
        page("b.ex.com", "/private/1", 6),     # no robots row -> allowed
    ]
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    in_dir = tmp_path / "pages"
    in_dir.mkdir()
    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(pa.Table.from_pydict({
        "url": [u for u, _ in pages],
        "warc_ts": [ts] * len(pages),
        "html": [h for _, h in pages],
        "text": [None] * len(pages), "lang": ["en"] * len(pages),
    }, schema=schema), str(in_dir / "part-0.parquet"))

    robots_txt = ("User-agent: docvision-bot\n"
                  "Disallow: /private/\n"
                  "Allow: /private/ok/\n"
                  "Disallow: /*.pdf$\n")
    rob_dir = tmp_path / "robots"
    rob_dir.mkdir()
    pq.write_table(pa.Table.from_pydict(
        {"host": ["a.ex.com"], "robots_txt": [robots_txt]},
        schema=pa.schema([("host", pa.string()),
                          ("robots_txt", pa.string())])),
        str(rob_dir / "part-0.parquet"))

    out_dir = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", str(in_dir), "--output", out_dir,
         "--robots", str(rob_dir), "--cores", "4", "--min-quality", "20"],
        capture_output=True, text=True, timeout=500, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["after_robots_txt"] == 4   # dropped /private/1, /doc.pdf

    import duckdb
    urls = {u for (u,) in duckdb.connect().execute(
        f"select url from read_parquet('{out_dir}/data/*.parquet')"
    ).fetchall()}
    assert "https://a.ex.com/private/1" not in urls
    assert "https://a.ex.com/doc.pdf" not in urls
    assert "https://a.ex.com/private/ok/1" in urls
    assert "https://a.ex.com/doc.pdfx" in urls
    assert "https://b.ex.com/private/1" in urls


@pytest.mark.spark
@pytest.mark.slow
def test_curate_lm_quality_gate(tmp_path):
    """--lm-max-millibits drops out-of-distribution docs: a corpus of
    similar fluent pages plus one gibberish page — the LM (trained on the
    corpus itself) scores the gibberish far above the fluent mass."""
    import datetime as dt
    import random as _r

    words = ("market growth report annual revenue system analysis data "
             "model energy policy research climate software industry "
             "product service development technology council").split()

    def page(seed: int, vocab) -> bytes:
        rng = _r.Random(seed)
        body = " ".join(rng.choice(vocab) for _ in range(150)) + "."
        return (f"<html><body><main><p>{body}</p></main></body></html>"
                ).encode()

    gib_vocab = [f"zx{i}qv" for i in range(400)]  # singleton-ish tokens
    rows_url, rows_html = [], []
    for i in range(30):
        rows_url.append(f"https://a.ex.com/doc/{i}")
        rows_html.append(page(i, words))
    rows_url.append("https://a.ex.com/gibberish")
    rows_html.append(page(999, gib_vocab))

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    in_dir = tmp_path / "pages"
    in_dir.mkdir()
    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(pa.Table.from_pydict({
        "url": rows_url, "warc_ts": [ts] * len(rows_url),
        "html": rows_html, "text": [None] * len(rows_url),
        "lang": ["en"] * len(rows_url)}, schema=schema),
        str(in_dir / "part-0.parquet"))

    out_dir = str(tmp_path / "curated")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--input", str(in_dir), "--output", out_dir,
         "--cores", "4", "--min-quality", "0", "--jaccard", "0.95",
         "--lm-max-millibits", "5800"],
        capture_output=True, text=True, timeout=500, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["after_lm_quality"] == report["quality_pass"] - 1

    import duckdb
    urls = {u for (u,) in duckdb.connect().execute(
        f"select url from read_parquet('{out_dir}/data/*.parquet')"
    ).fetchall()}
    assert "https://a.ex.com/gibberish" not in urls
    assert "https://a.ex.com/doc/0" in urls
