"""Seeded input tables for the benchmark workloads.

Every table is a pure function of the seed. Pages come from
`docvision_spark.corpus.make_page` over seed-derived urls, so they carry the
corpus page mix (10% PDF, 2% feeds, a hot host with 30% of urls, held exact
per seed; long-tailed sizes). The program only ever sees the written parquet
tables.

Each builder returns a `shares` dict of measured counts (page kinds, hot-host
urls, planted classes) that the run reports next to its metrics.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
import random
import re
import shutil
from binascii import crc32
from datetime import datetime, timedelta
from multiprocessing import resource_tracker

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generated byte changes: cached inputs are rebuilt
INPUTS_VERSION = 3

# the corpus page mix, held exact in every seeded table
PDF_SHARE = 0.10
FEED_SHARE = 0.02
HOT_HOST_SHARE = 0.30
# PDFs encrypted with AES-256 (V5/R6): 6% encrypted x 15% of those. Their
# hardened key derivation costs ~0.5 s of one core each, ~200 plain pages'
# worth, so their count alone would swing a seed's extract time by 10%+
AES256_SHARE = 0.06 * 0.15

EXTRACT_DOCS = 1200      # extract workload table
SAMPLE_DOCS = 120        # in-process kernel sample: the first urls of the extract table
CURATE_BASE = 420        # curate workload: distinct pages before the plants
# curate plants, as shares of the HTML base pages
CURATE_VARIANT_SHARE = 0.04   # url variants: tracking param + fragment
CURATE_EXACT_SHARE = 0.08     # byte copies under a new url
CURATE_NEAR_SHARE = 0.04      # copies with one paragraph added
# recrawl increment (traced extract run): shares of RECRAWL_DOCS
RECRAWL_DOCS = 300
RECRAWL_COMMITTED_SHARE = 0.3   # urls already in the published table
RECRAWL_COPY_SHARE = 0.2        # new urls carrying published payload bytes

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
N_BUCKETS = 16

_NEAR_PARAGRAPH = (
    b"<p>One additional sentence of content appended here to make this page "
    b"a near duplicate of the original page rather than an exact byte copy "
    b"of it.</p></article>")


def page_kind(url: str) -> str:
    """The payload kind `corpus.make_page` draws for `url`: pdf_aes256, pdf,
    feed or html (replays the generator's draws up to the encryption kind)."""
    from docvision_spark.corpus import url_seed

    rng = random.Random(url_seed(url))
    if rng.random() < 0.10:
        # make_pdf: page count, four layout and font flags, then encryption
        rng.randint(1, 3)
        for _ in range(4):
            rng.random()
        enc_r, enc_mode_r = rng.random(), rng.random()
        return "pdf_aes256" if enc_r < 0.06 and 0.70 <= enc_mode_r < 0.85 else "pdf"
    return "feed" if url_seed("feed:" + url) % 100 < 2 else "html"


def seeded_urls(seed: int, n: int, tag: str) -> list[str]:
    """n unique urls for (seed, tag) in the corpus mix, as exact counts.

    Candidates are drawn from the seed and kept while their (kind, hot host)
    cell has room: every seed gets 10% PDFs (the AES-256 ones among them
    rounded to a whole count), 2% feeds and 30% hot-host urls of each kind,
    so seeds differ in page content, not in how much of each kind of work
    they carry."""
    from docvision_spark.corpus import HOSTS

    n_pdf = round(n * PDF_SHARE)
    kinds = {"pdf_aes256": round(n_pdf * AES256_SHARE)}
    kinds.update(pdf=n_pdf - kinds["pdf_aes256"], feed=round(n * FEED_SHARE))
    kinds["html"] = n - sum(kinds.values())
    room = {}
    for kind, k in kinds.items():
        room[(kind, True)] = round(k * HOT_HOST_SHARE)
        room[(kind, False)] = k - room[(kind, True)]
    urls = []
    i = 0
    while len(urls) < n:
        h = hashlib.sha3_256(f"{tag}-{seed}-{i}".encode()).digest()
        hot = h[0] / 255.0 < HOT_HOST_SHARE
        host = HOSTS[0] if hot else HOSTS[1 + h[1] % (len(HOSTS) - 1)]
        url = f"https://{host}/p/{h[2:8].hex()}/{tag}{seed}-{i}"
        cell = (page_kind(url), hot)
        if room[cell] > 0:
            room[cell] -= 1
            urls.append(url)
        i += 1
    return urls


def _page_row(url: str) -> dict:
    from docvision_spark.corpus import make_page

    r = make_page(url)
    return {"url": r.url, "warc_ts": r.warc_ts, "html": r.html,
            "text": r.text, "lang": r.lang}


def make_rows(urls: list[str], procs: int) -> list[dict]:
    """make_page over urls, on `procs` spawned workers when it pays."""
    if procs <= 1 or len(urls) < 200:
        return [_page_row(u) for u in urls]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        rows = pool.map(_page_row, urls, chunksize=32)
    finally:
        pool.close()
        pool.join()
        # the spawned pool started multiprocessing's resource tracker, which
        # otherwise outlives this process: free the pool's semaphores, then
        # close the tracker's pipe and wait for it
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()
    return rows


def write_pages(rows: list[dict], out_dir: str) -> None:
    """The corpus layout: url-hash bucket dirs, rows sorted by url, ~8 row
    groups per file so scans split without a payload shuffle."""
    by_bucket: dict[int, list[dict]] = {}
    for r in rows:
        by_bucket.setdefault(crc32(r["url"].encode()) % N_BUCKETS, []).append(r)
    for bucket, recs in sorted(by_bucket.items()):
        recs.sort(key=lambda r: r["url"])
        tbl = pa.Table.from_pylist(recs, schema=PAGES_SCHEMA)
        d = os.path.join(out_dir, f"bucket={bucket}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"),
                       row_group_size=max(64, -(-len(recs) // 8)))


def page_shares(rows: list[dict]) -> dict:
    from docvision_spark.corpus import HOSTS

    n_pdf = sum(r["html"][:5] == b"%PDF-" for r in rows)
    n_feed = sum(_is_feed(r["html"]) for r in rows)
    sizes = sorted(len(r["html"]) for r in rows)
    return {"docs": len(rows), "pdf": n_pdf, "feed": n_feed,
            "pdf_aes256": sum(b"/V 5 /R 6" in r["html"] for r in rows),
            "html": len(rows) - n_pdf - n_feed,
            "hot_host": sum(f"//{HOSTS[0]}/" in r["url"] for r in rows),
            "bytes": sum(sizes), "bytes_p50": sizes[len(sizes) // 2],
            "bytes_max": sizes[-1]}


def _is_feed(payload: bytes) -> bool:
    # corpus feeds (RSS 2.0 / RSS 1.0 / Atom) open with an XML declaration,
    # its HTML pages with a doctype
    return payload.startswith(b"<?xml")


class Inputs:
    """Builds (or reuses) the seeded tables under `root`."""

    def __init__(self, root: str, seed: int, procs: int):
        self.root = root
        self.seed = seed
        self.procs = procs

    def _cached(self, name: str, build) -> tuple[str, dict]:
        path = os.path.join(self.root, f"{name}-s{self.seed}")
        stamp = os.path.join(path, "_inputs.json")
        if os.path.exists(stamp):
            with open(stamp) as f:
                meta = json.load(f)
            if meta.get("version") == INPUTS_VERSION:
                return path, meta["shares"]
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        shares = build(path)
        with open(stamp, "w") as f:
            json.dump({"version": INPUTS_VERSION, "shares": shares}, f)
        return path, shares

    # -- extract ---------------------------------------------------------
    def extract_urls(self) -> list[str]:
        return seeded_urls(self.seed, EXTRACT_DOCS, "x")

    def extract_table(self) -> tuple[str, dict]:
        def build(path):
            rows = make_rows(self.extract_urls(), self.procs)
            write_pages(rows, os.path.join(path, "pages"))
            return page_shares(rows)
        path, shares = self._cached("extract", build)
        return os.path.join(path, "pages"), shares

    def sample_rows(self) -> list[dict]:
        """The first SAMPLE_DOCS pages of the extract table, in url order of
        generation (the in-process kernel sample)."""
        return make_rows(self.extract_urls()[:SAMPLE_DOCS], 1)

    def sample_table(self) -> str:
        def build(path):
            rows = self.sample_rows()
            write_pages(rows, os.path.join(path, "pages"))
            return page_shares(rows)
        path, _ = self._cached("sample", build)
        return os.path.join(path, "pages")

    # -- recrawl increment (against the extract table, published) ---------
    def recrawl_table(self) -> tuple[str, dict]:
        """(a) urls already in the extract table, (b) new urls carrying the
        payload bytes of extract-table pages, (c) fresh pages."""
        def build(path):
            rng = random.Random(f"recrawl-{self.seed}")
            base = self.extract_urls()
            n_a = int(RECRAWL_DOCS * RECRAWL_COMMITTED_SHARE)
            n_b = int(RECRAWL_DOCS * RECRAWL_COPY_SHARE)
            n_c = RECRAWL_DOCS - n_a - n_b
            picked = rng.sample(base, n_a + 4 * n_b)
            committed = picked[:n_a]
            copies = []
            for u, r in zip(picked[n_a:], make_rows(picked[n_a:], self.procs)):
                # only html pages with text count as content copies: error
                # rows and empty extractions carry no content identity
                if len(copies) < n_b and r["html"][:5] != b"%PDF-" \
                        and not _is_feed(r["html"]):
                    copies.append(dict(r, url=u.replace("/p/", "/mirror/", 1)))
            fresh = seeded_urls(self.seed, n_c, "r")
            rows = make_rows(committed + fresh, self.procs) + copies
            write_pages(rows, os.path.join(path, "pages"))
            shares = page_shares(rows)
            shares.update(committed=len(committed), copies=len(copies),
                          fresh=len(fresh))
            return shares
        path, shares = self._cached("recrawl", build)
        return os.path.join(path, "pages"), shares

    # -- curate ------------------------------------------------------------
    def curate_table(self) -> tuple[str, dict]:
        def build(path):
            rows = make_rows(seeded_urls(self.seed, CURATE_BASE, "c"), self.procs)
            rng = random.Random(f"curate-{self.seed}")
            html = [r for r in rows if r["html"][:5] != b"%PDF-"
                    and not _is_feed(r["html"]) and b"</article>" in r["html"]]
            rng.shuffle(html)
            n_var = round(len(html) * CURATE_VARIANT_SHARE)
            n_exact = round(len(html) * CURATE_EXACT_SHARE)
            n_near = round(len(html) * CURATE_NEAR_SHARE)
            planted: dict[str, list[str]] = {"variant": [], "exact": [], "near": []}
            extra = []
            for i, r in enumerate(html[:max(n_var, n_exact, n_near)]):
                # head metadata off the planted originals: the robots and
                # canonical stages must not drop a plant before the dedup
                # stage it is planted for (extracted text is unchanged)
                r["html"] = _sanitize(r["html"])
                if i < n_var:
                    extra.append(dict(r, url=r["url"] + "?utm_source=feed#top"))
                    planted["variant"].append(extra[-1]["url"])
                if i < n_exact:
                    extra.append(dict(r, url=r["url"] + "?dup=1"))
                    planted["exact"].append(extra[-1]["url"])
                if i < n_near:
                    near = r["html"].replace(b"</article>", _NEAR_PARAGRAPH, 1)
                    extra.append(dict(r, url=r["url"] + "?near=1", html=near))
                    planted["near"].append(extra[-1]["url"])
            all_rows = rows + extra
            write_pages(all_rows, os.path.join(path, "pages"))
            with open(os.path.join(path, "planted.json"), "w") as f:
                json.dump(planted, f)
            shares = page_shares(all_rows)
            shares.update({f"planted_{k}": len(v) for k, v in planted.items()})
            return shares
        path, shares = self._cached("curate", build)
        with open(os.path.join(path, "planted.json")) as f:
            planted = json.load(f)
        return os.path.join(path, "pages"), shares, planted

    # -- queries -----------------------------------------------------------
    def query_tables(self) -> tuple[str, dict]:
        path, shares = self._cached("tables", lambda p: write_sf_tables(p, self.seed))
        return path, shares


def _sanitize(html: bytes) -> bytes:
    html = re.sub(rb'<link rel="canonical"[^>]*>\n?', b"", html)
    return re.sub(rb'<meta name="robots"[^>]*>\n?', b"", html)


# ---------------------------------------------------------------------------
# relational + documents + embeddings tables for the headline queries: the
# schemas of the repository's sf test tables at roughly sf0.001 size
# ---------------------------------------------------------------------------

_DOC_WORDS = ("the a data spark table row column query join filter group sort "
              "merge hash scan window batch stream vector value key line part "
              "order customer small big fast slow agg").split()
_ZH_CHARS = "数据表查询连接过滤分组排序合并哈希扫描窗口批处理流向量值键"


def write_sf_tables(path: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    epoch = datetime(1995, 1, 1)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    n_nat, n_cust, n_supp, n_part, n_ord, n_li = 25, 150, 10, 200, 1500, 6000
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(n_nat), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(n_nat)],
                   "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, n_nat, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = ["cold", "small", "large", "shiny", "blue", "red"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[i % 6]} widget" for i in rng.integers(0, 6, n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 50, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    days = rng.integers(0, 2000, n_ord)
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": pa.array([epoch + timedelta(days=int(d)) for d in days],
                                pa.timestamp("us")),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = rng.integers(0, 2300, n_li)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array([epoch + timedelta(days=int(d)) for d in ship],
                               pa.timestamp("us"))})

    n_ev, n_users = 1000, 15
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    etypes = ["click", "error", "purchase", "signup", "view"]
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(microseconds=int(t))
                        for t in ev_ts], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})

    # documents: word-salad texts with planted exact and near copies
    n_docs = 600
    langs = ["de", "en", "en", "es", "fr", "zh"]
    texts, dlangs, n_exact, n_near = [], [], 0, 0
    for i in range(n_docs):
        lang = langs[int(rng.integers(0, len(langs)))]
        if i >= 40 and rng.random() < 0.06:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            n_exact += 1
        elif i >= 40 and rng.random() < 0.06:
            j = int(rng.integers(0, i))
            w = texts[j].split(" ")
            w[int(rng.integers(0, len(w)))] = "changed"
            texts.append(" ".join(w))
            n_near += 1
        else:
            words = [_DOC_WORDS[k] for k in rng.integers(0, len(_DOC_WORDS),
                                                         int(rng.integers(8, 90)))]
            if lang == "zh":
                words += ["".join(_ZH_CHARS[k] for k in rng.integers(0, len(_ZH_CHARS), 6))
                          for _ in range(len(words) // 2)]
            texts.append(" ".join(words))
        dlangs.append(lang)
    put("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts, "lang": dlangs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_vec, dim = 500, 64
    emb = rng.normal(0, 0.1, (n_vec, dim)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return {"documents": n_docs, "doc_exact_copies": n_exact,
            "doc_near_copies": n_near, "lineitem": n_li, "orders": n_ord,
            "events": n_ev, "embeddings": n_vec}
