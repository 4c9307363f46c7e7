"""Functional correctness of dedup / similarity / multimodal operators on
constructed inputs with KNOWN duplicates and neighbors (the sf testdata has
none, so the oracle runs only prove the plans execute)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to find some food for the long winter")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                                    # exact dup of 1
        (3, BASE.replace("quick", "fast")),           # near dup of 1
        (4, "completely different text about spark distributed query engines "
            "processing petabytes of web data with arrow vectorized kernels"),
        (5, ""),                                      # empty
        (6, BASE.replace("dog", "cat").replace("forest", "jungle")),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.spark
def test_exact_dedup(docs):
    from docvision_spark.functions.dedup import exact_dedup, exact_dup_groups

    kept = exact_dedup(docs).collect()
    by_fp = {r["fp"]: r for r in kept}
    assert len(kept) == 5  # 1&2 collapse
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["doc_id"] == 1 and groups[0]["n_copies"] == 2
    assert by_fp  # fingerprints non-null


def _keyed(spark, rows):
    return spark.createDataFrame(rows, "id long, k string")


@pytest.mark.spark
def test_keep_first_null_keys_pass_and_spread(spark):
    """Every null-key row survives, and they do not pile onto one task:
    each becomes its own row-derived key, spread over the exchange."""
    from docvision_spark.functions.dedup import keep_first

    rows = [(i, None) for i in range(64)] + [(100, "a"), (101, "a")]
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = (keep_first(_keyed(spark, rows), F.col("k"), [F.col("id")])
               .withColumn("p", F.spark_partition_id()).collect())
    finally:
        spark.conf.set(key, old)
    nulls = [r for r in got if r["k"] is None]
    assert sorted(r["id"] for r in nulls) == list(range(64))
    assert len({r["p"] for r in nulls}) > 1
    assert [r["id"] for r in got if r["k"] == "a"] == [100]


@pytest.mark.spark
def test_keep_first_survivor_is_partitioning_invariant(spark):
    from docvision_spark.functions.dedup import keep_first

    rows = [(i, f"k{i % 7}") for i in range(50, 0, -1)] + [(0, None)]
    df = _keyed(spark, rows)
    for n in (1, 3, 8):
        got = sorted(tuple(r) for r in keep_first(
            df.repartition(n), F.col("k"), [F.col("id").desc()]).collect())
        assert got == [(0, None)] + [(44 + j, f"k{(44 + j) % 7}")
                                     for j in range(7)], n


@pytest.mark.spark
def test_keep_first_published_keys_drop(spark):
    """A published key drops its rows; a null-key row survives the
    anti-join, even against a published null."""
    from docvision_spark.functions.dedup import keep_first

    df = _keyed(spark, [(1, "a"), (2, "a"), (3, "b"), (4, None)])
    published = spark.createDataFrame([("a",), (None,)], "fp string")
    got = keep_first(df, F.col("k"), [F.col("id")], published=published)
    assert sorted(r["id"] for r in got.collect()) == [3, 4]


@pytest.mark.spark
def test_keep_first_full_ties_keep_one(spark):
    from docvision_spark.functions.dedup import keep_first

    df = _keyed(spark, [(7, "a")] * 5 + [(8, "b")])
    for n in (1, 3):
        got = keep_first(df.repartition(n), F.col("k"),
                         [F.col("id")]).collect()
        assert sorted(tuple(r) for r in got) == [(7, "a"), (8, "b")]


@pytest.mark.spark
def test_minhash_finds_near_dups(docs):
    from docvision_spark.functions.dedup import (minhash_artifacts,
                                                 minhash_lsh_pairs)

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(*minhash_artifacts(docs),
                                        jaccard_threshold=0.7).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.7
    assert not any({a, b} & {4} for a, b in pairs)  # distinct doc never pairs


@pytest.mark.spark
def test_banded_hamming_multiprobe_parity(spark):
    """banded_hamming_pairs must return the EXACT brute-force O(n^2) pair
    set for every max_hamming, whatever layout it works out: exact band
    keys (0 and 3: 4x16-bit, radius 0), radius-1 probes over 4x16-bit
    bands (6: what m02 runs), 8x8-bit (8) and 16x4-bit (16) bands at
    radius 1. Signatures are crafted to exercise: equal sigs, 1-bit per
    band, all-6-bits-in-one-band, 2+2+1+1 spread, just-over-threshold,
    and 1 bit in every 8-bit and every 4-bit band (found only by
    radius-1 probes). A max_hamming outside 0..63 is refused."""
    from itertools import combinations

    from docvision_spark.functions.dedup import banded_hamming_pairs

    sigs = [
        (1, 0x0123456789ABCDEF), (2, 0x0123456789ABCDEF),      # equal
        (3, 0x0123456789ABCDEE),                               # 1 bit off
        (4, 0x0123456789AB12EF),                               # 6 bits in one band
        (5, 0x1123456799ABCDEC),                               # spread 2+2+1+1-ish
        (6, -0x7FEDCBA987654321),                              # far away, negative
        (7, None),                                             # null sig
        (8, 0x0123456789ABCDEF ^ 0x0001000100010001),          # 1 bit per 16-bit band
        (9, 0x0123456789ABCDEF ^ 0x0003000300010001),          # 2+2+1+1 over 16-bit bands
        (10, 0x0123456789ABCDEF ^ 0x0003000300030001),         # 7 bits: just over
        (11, 0x0123456789ABCDEF ^ 0x0101010101010101),         # 1 bit per 8-bit band
        (12, 0x0123456789ABCDEF ^ 0x1111111111111111),         # 1 bit per 4-bit band
    ]
    df = spark.createDataFrame(sigs, "media_id long, dhash long")
    vals = {i: s for i, s in sigs if s is not None}
    dist = {(a, b): bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
            for a, b in combinations(sorted(vals), 2)}
    for max_hamming in (0, 3, 6, 8, 16):
        brute = {(a, b, h) for (a, b), h in dist.items() if h <= max_hamming}
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               banded_hamming_pairs(df, "media_id", "dhash", max_hamming)
               .collect()}
        assert got == brute, max_hamming
    for bad in (-1, 64):
        with pytest.raises(ValueError):
            banded_hamming_pairs(df, "media_id", "dhash", bad)


@pytest.mark.spark
def test_simhash_finds_near_dups(docs):
    from docvision_spark.functions.dedup import simhash_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert not any({a, b} & {4} for a, b in pairs)


@pytest.mark.spark
def test_ngram_jaccard_pairs(docs):
    from docvision_spark.functions.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert not any({a, b} & {4} for a, b in pairs)


def _simhash_vote(hashes: list[int] | None) -> int | None:
    """Reference SimHash: bit k is set when strictly more than half of the
    token hashes have bit k set; returned as a signed 64-bit long."""
    if hashes is None:
        return None
    sig = 0
    for k in range(64):
        if sum((h >> k) & 1 for h in hashes) * 2 > len(hashes):
            sig |= 1 << k
    return sig - (1 << 64) if sig >> 63 else sig


@pytest.mark.spark
def test_expression_signature_variants(spark, docs):
    """simhash_signatures_np (JVM tokens/hashes, batch bit-count in numpy)
    must equal a pure-Python majority vote over the same JVM token hashes
    on every doc, including NULL-text and empty/blank-text rows, and an
    even token count (a bit set in exactly half of the hashes stays 0)."""
    from docvision_spark.functions.dedup import simhash_signatures_np
    from docvision_spark.functions.text import normalized

    edge = docs.unionByName(spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "  "), (9004, "two words")],
        "doc_id long, text string"), allowMissingColumns=True)
    toks = F.split(F.trim(normalized(F.col("text"))), " ")
    hashes = edge.select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("h"))
    want = {r["doc_id"]: _simhash_vote(r["h"]) for r in hashes.collect()}
    got = {r["id"]: r["sh"] for r in simhash_signatures_np(edge).collect()}
    assert got == want
    assert got[9001] is None
    assert got[1] == got[2]                        # exact dups: equal simhash


@pytest.mark.spark
def test_minhash_signature_variant_parity(spark, docs):
    """minhash_signatures_expr (the zero-shuffle production path for
    d01/d06/curate) must equal, on every doc, the per-hash-function min of
    xxhash64(j, shingle) computed by explode + groupBy — including short
    and empty texts, where the shingle fallback path (n < k -> single
    whole-text shingle) is exercised. Shingles are minhash_artifacts'
    word 3-gram hashes."""
    from docvision_spark.functions.dedup import (
        minhash_signatures_expr, word_shingle_hashes)

    extra = docs.unionByName(spark.createDataFrame(
        [(7, "one"), (8, "two words")], "doc_id long, text string"))
    sh = extra.select("doc_id", word_shingle_hashes(F.col("text"), 3).alias("sh"))
    mins = (sh.select("doc_id", F.explode("sh").alias("s"))
              .groupBy("doc_id")
              .agg(*[F.min(F.xxhash64(F.lit(j), F.col("s"))).alias(f"m{j}")
                     for j in range(16)]))
    want = {r["doc_id"]: [r[f"m{j}"] for j in range(16)]
            for r in mins.collect()}
    got = {r["id"]: r["mh"] for r in
           minhash_signatures_expr(sh, "doc_id", "sh", 16).collect()}
    assert got == want
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 8}
    assert got[1] == got[2]                        # exact dups: equal minhash
    agree_13 = sum(a == b for a, b in zip(got[1], got[3]))
    assert agree_13 >= 8                           # near dup: most mins agree


@pytest.mark.spark
def test_connected_components_long_chain(spark):
    """A 10^4-node path graph (worst-case diameter) must converge well
    inside max_iter via pointer doubling — plain one-hop propagation would
    need 10^4 rounds and raise (round-2 verdict item 7)."""
    from docvision_spark.functions.dedup import connected_components

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = connected_components(pairs, max_iter=20)
    assert out.count() == n
    assert out.select("cluster_id").distinct().collect()[0]["cluster_id"] == 0
    assert out.filter("cluster_id <> 0").count() == 0


ZH = ("机器学习模型需要大规模高质量的训练数据集来提升泛化能力"
      "数据清洗与去重是语料构建流程中的关键步骤之一")


@pytest.mark.spark
def test_cjk_tokenization(spark):
    """One CJK ideograph = one token: token counts, quality and chunking
    stop degenerating on unsegmented zh (round-2 verdict item 6)."""
    from docvision_spark.functions.text import (
        explode_chunks, tokens, with_quality, with_token_stats)

    df = spark.createDataFrame([(1, ZH), (2, "plain english words here")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           with_token_stats(df).select("doc_id", "n_tokens").collect()}
    assert got[1]["n_tokens"] == len(ZH)  # every ideograph its own token
    assert got[2]["n_tokens"] == 4
    q = {r["doc_id"]: r["n_tokens"] for r in with_quality(df).collect()}
    assert q[1] > 10
    chunks = explode_chunks(df, chunk_size=10).filter("doc_id = 1").count()
    assert chunks == -(-len(ZH) // 10)
    # mixed script: latin words stay words, ideographs split
    mixed = spark.createDataFrame([(3, "spark 处理数据 pipeline")],
                                  "doc_id long, text string")
    toks = mixed.select(tokens(F.col("text")).alias("t")).collect()[0]["t"]
    assert toks == ["spark", "处", "理", "数", "据", "pipeline"]


def test_stopword_lists_are_disjoint():
    """with_quality counts stopword hits with one filter over the union of
    the per-language lists; that equals the per-language sum its SQL twin
    computes only while no word is listed by two languages."""
    from docvision_spark.functions.text import LANG_STOPWORDS

    words = [w for ws in LANG_STOPWORDS.values() for w in ws]
    assert len(words) == len(set(words)) == 50


@pytest.mark.spark
def test_cjk_minhash_near_dup(spark):
    """Planted zh near-dups are found by the minhash path (char-granular
    shingles via the CJK-aware normalized form)."""
    from docvision_spark.functions.dedup import (minhash_artifacts,
                                                 minhash_lsh_pairs)

    rows = [(1, ZH), (2, ZH[:-2] + "要点"),  # near dup: 2-char tail edit
            (3, "完全不同的另一段文字内容讨论天气与旅行计划安排事项")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(*minhash_artifacts(df),
                               jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert not any({a, b} & {3} for a, b in pairs)


@pytest.mark.spark
def test_url_dedup_deterministic_survivor(spark):
    """Re-crawls of the SAME url with different content must keep a DEFINED
    row (newest warc_ts, then atomic-column order) — not whatever row the
    partitioning happened to feed dropDuplicates first."""
    import datetime as dt

    from docvision_spark.functions.urls import url_dedup

    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("http://a.com/x", ts, "old body"),
        ("http://a.com/x", ts + dt.timedelta(days=3), "new body"),
        ("http://a.com/x", ts + dt.timedelta(days=3), "aaa tie"),  # ts tie
        ("http://b.com/y", None, "only"),
        # canonical variants of c.com/z: the lowest url wins, and its own
        # newest re-crawl is the survivor
        ("http://c.com/z?utm_source=s", ts + dt.timedelta(days=9), "variant"),
        ("http://c.com/z", ts, "z old"),
        ("http://c.com/z", ts + dt.timedelta(days=1), "z new"),
        ("HTTP://C.com/z/#top", None, "lowest"),
        # null urls cannot be deduped: both pass, equal timestamps and all
        (None, ts, "null one"),
        (None, ts, "null two"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    for n_parts in (1, 4):
        out = url_dedup(df.repartition(n_parts))
        assert out.columns == ["canonical_url", "url", "warc_ts", "text"]
        got = out.collect()
        kept = {r["url"]: r["text"] for r in got if r["url"] is not None}
        assert kept == {"http://a.com/x": "aaa tie",  # newest ts, then text
                        "http://b.com/y": "only",
                        "HTTP://C.com/z/#top": "lowest"}
        nulls = [r for r in got if r["url"] is None]
        assert sorted(r["text"] for r in nulls) == ["null one", "null two"]
        assert all(r["canonical_url"] is None for r in nulls)

    # the lowest url's own survivor policy still applies among its re-crawls
    no_upper = df.filter(~F.col("url").startswith("HTTP") | F.col("url").isNull())
    got = {r["url"]: r["text"] for r in url_dedup(no_upper).collect()}
    assert got["http://c.com/z"] == "z new"
    assert "http://c.com/z?utm_source=s" not in got


@pytest.mark.spark
def test_structured_output_typed_columns(spark):
    """T4: a user DDL schema over the first markdown pipe table yields
    typed columns (Invoice/LineItem shape, reference README.md:127-156);
    non-numeric cells under a numeric field become NULL, not task errors;
    second tables and docs without tables are ignored."""
    from docvision_spark.functions.structured import with_structured

    md1 = ("# Invoice\n\n"
           "| Item   | Qty | Price |\n"
           "| ------ | --- | ----- |\n"
           "| widget | 2   | 9.50  |\n"
           "| gadget | x   | 3.25  |\n\n"
           "ignored\n\n"
           "| Other |\n| --- |\n| second table |\n")
    md2 = "no tables here"
    df = spark.createDataFrame([("u1", md1), ("u2", md2)], "url string, markdown string")
    out = with_structured(df, "c1 string, c2 int, c3 double")
    rows = {(r["url"], r["row_no"]): (r["c1"], r["c2"], r["c3"])
            for r in out.collect()}
    assert rows == {
        ("u1", 0): ("widget", 2, 9.50),
        ("u1", 1): ("gadget", None, 3.25),   # 'x' fails the INT cast -> NULL
    }
    assert dict(out.dtypes)["c2"] == "int" and dict(out.dtypes)["c3"] == "double"


def test_lang_id_zh_cjk_ratio(spark):
    """zh is detected by CJK codepoint ratio (stopwords can't work for an
    unsegmented script); latin-script langs still go through stopword argmax;
    a stray CJK char in latin text does not flip the prediction."""
    from docvision_spark.functions.text import with_lang_id

    rows = [
        (1, "数据 处理 系统 的 分析 报告 和 模型"),          # pure zh
        (2, "the report of the market and the data"),       # en
        (3, "der bericht und die daten von dem markt"),     # de
        (4, "the quarterly report of the market includes 中 data"),  # 1 CJK char
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"]
           for r in with_lang_id(df).select("doc_id", "lang_pred").collect()}
    assert out[1] == "zh"
    assert out[2] == "en"
    assert out[3] == "de"
    assert out[4] == "en"


def _winnow(text: str, k: int = 8, w: int = 16) -> list[int]:
    """Winnowing fingerprint list — the scalar reference (pure Python ints,
    mod 2^64, rightmost min per window) that fingerprint.winnow_np must
    match, as signed int64 views of the uint64 hashes."""
    from docvision_spark.functions.fingerprint import _B, _MASK, _hash_str

    def signed(h: int) -> int:
        return h - (1 << 64) if h >= (1 << 63) else h

    s = " ".join(text.lower().split())
    n = len(s)
    if n < k:
        return [signed(_hash_str(s))] if s else []
    hs: list[int] = []
    h = 0
    for i in range(k):
        h = (h * _B + ord(s[i])) & _MASK
    hs.append(h)
    bk = pow(_B, k - 1, 1 << 64)
    for i in range(k, n):
        h = ((h - ord(s[i - k]) * bk) * _B + ord(s[i])) & _MASK
        hs.append(h)
    out: list[int] = []
    last_idx = -1
    for start in range(0, max(1, len(hs) - w + 1)):
        window = hs[start:start + w]
        m = min(window)
        idx = start + len(window) - 1 - window[::-1].index(m)
        if idx != last_idx:
            out.append(signed(m))
            last_idx = idx
    return out


def test_winnow_fingerprint_overlap(spark, docs):
    from docvision_spark.functions.fingerprint import (winnow_fingerprints,
                                                       winnow_np)

    out = {r["doc_id"]: r for r in winnow_fingerprints(docs).collect()}
    assert out[5]["fingerprints"] == []
    f1, f2, f4 = (set(out[i]["fingerprints"]) for i in (1, 2, 4))
    assert f1 == f2
    assert len(f1 & f4) / max(1, len(f1 | f4)) < 0.05
    # distributed == scalar reference, and the vectorized kernel matches
    # it hash for hash: short text (n < k), a window wider than the
    # grams, runs of equal hashes (rightmost-min ties), non-ASCII
    assert set(_winnow(BASE)) == f1
    for t in (BASE, "", "short", "abcdefghijkl", "a" * 40, "ab" * 30,
              "Grüße aus Köln — 東京 " * 3):
        assert winnow_np(t).tolist() == _winnow(t), t


@pytest.mark.spark
def test_similarity_lsh_recall_vs_bruteforce(spark, tmp_path):
    """On clustered data (where ANN is meaningful) the hyperplane-LSH index
    probe at a small radius must recover most true neighbors. The sf
    testdata embeddings are near-uniform random (top-1 cosine ≈ 0.33) — no
    ANN method can beat probe-fraction there, so we construct 3
    well-separated clusters."""
    import random

    from docvision_spark.functions.similarity import (
        brute_force_topk, lsh_index_topk, lsh_index_write)

    rng = random.Random(42)
    dim, per_cluster = 64, 60
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(3)]
    rows = []
    vid = 0
    for c in cents:
        for _ in range(per_cluster):
            rows.append((vid, [x + rng.gauss(0, 0.15) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [x + rng.gauss(0, 0.15) for x in cents[0]]

    path = str(tmp_path / "lsh_index")
    lsh_index_write(emb, path)
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    ann = [r["vec_id"] for r in lsh_index_topk(spark, path, q, k=10).collect()]
    recall = len(set(exact) & set(ann)) / 10
    assert recall >= 0.7, f"LSH recall {recall} too low vs brute force"
    assert all(v < per_cluster for v in exact), "true neighbors are cluster 0"


@pytest.mark.spark
def test_lsh_index_partition_pruned_probe(spark, tmp_path):
    """The write-time signature table makes the ANN probe a partition-pruned
    scan (visible in the plan), and the probe returns exactly the oracle's
    answer: every vector whose full hyperplane signature is within
    Hamming 2 of the query's, ranked by brute-force cosine. The clusters
    are loose enough that the ball holds a vector whose signature prefix
    (its partition) is 2 bits from the query's."""
    import math
    import random

    from docvision_spark.functions.similarity import (
        hyperplane_signature, lsh_index_topk, lsh_index_write)
    from tests.test_plans import plan_of

    rng = random.Random(11)
    dim = 16
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [x + rng.uniform(-0.6, 0.6) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    path = str(tmp_path / "lsh_index")
    lsh_index_write(emb, path)
    q = rows[0][1]
    via_index = lsh_index_topk(spark, path, q, k=len(rows), exclude_id=0)

    plan = plan_of(via_index)
    assert "PartitionFilters" in plan and "sig_prefix" in plan, plan

    # oracle: the signatures are the production expression's (what the
    # index stores); the Hamming ball and the ranking are recomputed here
    sig = {r["vec_id"]: r["s"] for r in emb.select(
        "vec_id", hyperplane_signature(F.col("embedding"), 12, dim)
        .alias("s")).collect()}

    def cos(a, b):
        return (sum(x * y for x, y in zip(a, b))
                / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b)))

    ball = [(cos(v, q), i) for i, v in rows
            if i != 0 and bin(sig[i] ^ sig[0]).count("1") <= 2]
    assert any(bin((sig[i] ^ sig[0]) & 63).count("1") == 2 for _, i in ball)
    want = [(i, s) for s, i in sorted(ball, key=lambda t: (-t[0], t[1]))]
    got = [(r["vec_id"], r["score"]) for r in via_index.collect()]
    assert [i for i, _ in got] == [i for i, _ in want] and len(got) > 0
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want))


def test_ivf_recall_on_clusters(spark):
    """IVF with nprobe=2 of 8 centroids recovers the true neighbors on
    clustered data (same fixture rationale as the LSH test)."""
    import random

    from docvision_spark.functions.similarity import (
        brute_force_topk, ivf_build, ivf_topk)

    rng = random.Random(7)
    dim, per_cluster = 32, 50
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    rows = []
    vid = 0
    for c in cents:
        for _ in range(per_cluster):
            rows.append((vid, [x + rng.gauss(0, 0.1) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [x + rng.gauss(0, 0.1) for x in cents[1]]

    assigned, centroids = ivf_build(emb, n_centroids=8, iters=2)
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    ann = [r["vec_id"] for r in ivf_topk(assigned, centroids, q, k=10, nprobe=2).collect()]
    recall = len(set(exact) & set(ann)) / 10
    assert recall >= 0.8, f"IVF recall {recall}"
    # determinism: rebuilding yields identical assignments
    assigned2, centroids2 = ivf_build(emb, n_centroids=8, iters=2)
    assert centroids == centroids2
    a1 = {r["id"]: r["cid"] for r in assigned.select("id", "cid").collect()}
    a2 = {r["id"]: r["cid"] for r in assigned2.select("id", "cid").collect()}
    assert a1 == a2


@pytest.mark.spark
def test_embedding_dup_lsh_vs_exact(spark):
    """LSH-bucketed embedding dedup recovers the high-cosine pairs that the
    exact O(n^2) pass finds (clustered fixture: near-dups at cos >= 0.9)."""
    import random

    from docvision_spark.functions.similarity import (
        dot, embedding_dup_pairs_lsh, with_unit_vectors)

    rng = random.Random(11)
    dim = 32
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(40)]
    rows = []
    vid = 0
    truth = set()
    for v in base:
        rows.append((vid, v))
        orig = vid
        vid += 1
        if rng.random() < 0.4:  # plant a near-dup (tiny perturbation)
            rows.append((vid, [x + rng.gauss(0, 0.02) for x in v]))
            truth.add((orig, vid))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {(r["id_a"], r["id_b"])
           for r in embedding_dup_pairs_lsh(emb, threshold=0.9).collect()}
    # exact truth via brute force
    u = with_unit_vectors(emb).select("vec_id", "u")
    a, b = u.alias("a"), u.alias("b")
    exact = {(r["id_a"], r["id_b"]) for r in
             a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
              .select(F.col("a.vec_id").alias("id_a"),
                      F.col("b.vec_id").alias("id_b"),
                      dot(F.col("a.u"), F.col("b.u")).alias("c"))
              .filter(F.col("c") >= 0.9).collect()}
    assert truth <= exact
    recall = len(got & exact) / max(1, len(exact))
    assert recall >= 0.9, f"LSH dedup recall {recall}"
    assert got <= exact  # verification step admits no false positives


def _first_stage_subtrees(plan: str, node: str) -> list[str]:
    """Subtrees below each `node` line of a physical-plan tree string that
    hold no further Exchange: the map stages feeding that exchange."""
    lines = plan.splitlines()
    depth = [ln.find("+- ") for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if node in ln:
            sub = []
            for j in range(i + 1, len(lines)):
                if depth[j] <= depth[i]:
                    break
                sub.append(lines[j])
            if not any("Exchange" in x for x in sub):
                out.append("\n".join(sub))
    return out


@pytest.mark.spark
def test_hot_bucket_keeps_smallest_ids_without_gathering(spark):
    """A hot (band, bkey) bucket is capped to its max_bucket smallest ids
    in every band-bucket operator: 160 identical docs (and vectors) give
    exactly the pairs among the 64 smallest ids. The MinHash plan caps the
    bucket map-side (a Partial WindowGroupLimit under the bucket exchange)
    instead of collecting each whole bucket into one array, and reads
    bands that minhash_artifacts signed once."""
    import random

    from docvision_spark.functions.dedup import (
        MINHASH_MAX_BUCKET, incremental_minhash_pairs, minhash_artifacts,
        minhash_lsh_pairs)
    from docvision_spark.functions.similarity import embedding_dup_pairs_lsh

    rng = random.Random(5)
    hot = rng.sample(range(10_000), 160)      # unordered, non-contiguous
    rows = [(i, BASE) for i in hot] + [
        (20_000 + i, f"distinct document {i} about topic {i * 7} and more")
        for i in range(20)]
    rng.shuffle(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    low = sorted(hot)[:MINHASH_MAX_BUCKET]
    want = {(a, b) for a in low for b in low if a < b}

    shingled, banded = minhash_artifacts(docs)
    # banded is materialized: its readers never re-run the signing aggregate
    assert "aggregate(" not in \
        banded._jdf.queryExecution().executedPlan().toString()
    pairs = minhash_lsh_pairs(shingled, banded)
    # the initial plan: once run, AQE prints its stages around it
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == want

    hist = spark.createDataFrame([(i + 100_000, BASE) for i in hot],
                                 "doc_id long, text string")
    inc = incremental_minhash_pairs(*minhash_artifacts(docs),
                                    *minhash_artifacts(hist))
    assert {(r["new_id"], r["hist_id"]) for r in inc.collect()} == \
        {(a, b + 100_000) for a in low for b in low}

    vec = [rng.gauss(0, 1) for _ in range(16)]
    emb = spark.createDataFrame([(i, vec) for i in hot],
                                "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"])
           for r in embedding_dup_pairs_lsh(
               emb.repartition(4), max_bucket=MINHASH_MAX_BUCKET).collect()}
    assert got == want

    assert "collect_list" not in plan, plan
    stages = _first_stage_subtrees(plan, "Exchange hashpartitioning(band")
    assert stages, plan
    assert all("WindowGroupLimit" in st and "Partial" in st for st in stages), plan


@pytest.mark.spark
def test_cosine_score_matches_duckdb(spark):
    """Float parity spot-check backing the rank-only s01 oracle."""
    import duckdb

    from docvision_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    got = {r["vec_id"]: r["score"] for r in
           brute_force_topk(emb, q, k=5, exclude_id=0).collect()}
    con = duckdb.connect()
    want = dict(con.execute("""
        with q as (select embedding::double[] e
                   from read_parquet('/root/testdata/sf0.001/embeddings.parquet')
                   where vec_id = 0)
        select vec_id, list_cosine_similarity(embedding::double[], (select e from q))
        from read_parquet('/root/testdata/sf0.001/embeddings.parquet')
        where vec_id <> 0 order by 2 desc, vec_id limit 5
    """).fetchall())
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


@pytest.mark.spark
def test_multimodal_plumbing(spark):
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, make_fake_media,
        make_synthetic_image)

    rows = [
        (1, "image", make_fake_media(1, "image", 640, 480, 1)),
        (2, "video", make_fake_media(2, "video", 1280, 720, 250)),
        (3, "audio", make_fake_media(3, "audio", 0, 0, 44100)),
        (4, "image", b"\x89PNG\r\n not really decodable here"),
        (5, "image", make_synthetic_image(5, 40, 24)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert out[1]["width"] == 640 and out[1]["height"] == 480
    assert out[2]["n_frames"] == 250 and out[2]["duration_s"] == 10.0
    assert out[4]["error"] and "ImageDecodeError" in out[4]["error"]
    assert out[5]["format"] == "png" and out[5]["width"] == 40
    assert out[5]["dhash"] is not None and out[5]["error"] is None
    assert out[1]["feature_hash"] and out[1]["error"] is None


@pytest.mark.spark
def test_multimodal_webp_lossless_vs_lossy(spark):
    """BOTH WebP families pixel-decode to full feature rows now (VP8L
    lossless, VP8 lossy intra keyframe); the two encodings of the same
    source image land within near-dup hamming distance of each other. A
    junk VP8 bitstream (the old header-walk stub) still decodes
    deterministically — an arithmetic decoder accepts any bit string —
    so stub rows get (garbage but stable) features, never a crash."""
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, make_synthetic_image)
    from docvision_spark.kernel.image_codec import encode_webp_stub

    rows = [
        (1, "image", make_synthetic_image(1, 72, 48, fmt="webp")),
        (2, "image", make_synthetic_image(1, 72, 48, fmt="webp-lossy")),
        (3, "image", encode_webp_stub(3, width=72, height=48, lossless=False)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert out[1]["format"] == "vp8-lossless" and out[1]["error"] is None
    assert out[1]["dhash"] is not None and out[1]["ahash"] is not None
    assert out[1]["mean_luma"] is not None
    assert out[2]["format"] == "vp8-lossy" and out[2]["width"] == 72
    assert out[2]["dhash"] is not None and out[2]["error"] is None
    assert abs(out[2]["mean_luma"] - out[1]["mean_luma"]) < 8
    ham = bin(out[1]["dhash"] ^ out[2]["dhash"]).count("1")
    assert ham <= 8, ham
    assert out[3]["format"] == "vp8-lossy" and out[3]["width"] == 72
    assert out[3]["error"] is None and out[3]["dhash"] is not None


@pytest.mark.spark
def test_canonical_url_and_dedup(spark):
    """RFC-3986-subset canonicalization: scheme/host case, default ports,
    fragments, tracking params, duplicate/trailing slashes — variants of the
    same resource collapse; url_dedup keeps the lowest original url."""
    from docvision_spark.functions.urls import canonical_url, url_dedup

    cases = [
        ("HTTP://Example.COM:80/a/b/?utm_source=x&q=1#frag", "http://example.com/a/b?q=1"),
        ("https://example.com:443/", "https://example.com/"),
        ("http://example.com/a//b///c/", "http://example.com/a/b/c"),
        ("http://example.com/path?q=1&utm_source=a&r=2", "http://example.com/path?q=1&r=2"),
        ("http://example.com/path?utm_source=a", "http://example.com/path"),
        ("https://Sub.Example.com/UPPER/Case?Q=V", "https://sub.example.com/UPPER/Case?Q=V"),
        ("http://example.com/a/?ref=home", "http://example.com/a"),
        # adjacent tracked-param runs (the GA 5-param form) strip in one pass
        ("http://e.com/?utm_a=1&utm_b=2&utm_c=3&utm_d=4&x=1", "http://e.com/?x=1"),
        # separated tracked params all strip
        ("http://e.com/?utm_a=1&x=1&utm_b=2&y=1&utm_c=3&z=1", "http://e.com/?x=1&y=1&z=1"),
        # path rules must never touch the query (embedded url survives)
        ("http://a.com/r?u=http://b.com//x", "http://a.com/r?u=http://b.com//x"),
        ("http://a.com/r?u=http://b.com/x/", "http://a.com/r?u=http://b.com/x/"),
        # unparseable url passes through fragment-stripped, never mangled
        ("not a url at all#frag", "not a url at all"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]

    variants = spark.createDataFrame(
        [("http://a.com/x",), ("HTTP://A.com/x/#top",), ("http://a.com/x?utm_source=s",),
         ("http://b.com/y",), ("http://b.com/y",)], "url string")  # + exact re-crawl
    kept = url_dedup(variants).collect()
    # exactly ONE row per canonical form: the exact re-crawl of b.com/y must
    # also collapse (a bare group-min join would keep both copies)
    assert len(kept) == 2
    # keep-lowest-url is deterministic: 'HTTP://...' < 'http://...' in ASCII
    assert {r["url"] for r in kept} == {"HTTP://A.com/x/#top", "http://b.com/y"}


@pytest.mark.spark
def test_winnow_overlap_pairs(spark, docs):
    from docvision_spark.functions.fingerprint import winnow_overlap_pairs

    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_overlap_pairs(docs, min_shared=3).collect()}
    assert (1, 2) in pairs                       # exact dups share everything
    assert (1, 3) in pairs                       # one-word edit: heavy overlap
    assert not any({a, b} & {4} for a, b in pairs)  # unrelated never pairs


@pytest.mark.spark
def test_connected_components_transitive(spark):
    """a~b, b~c, plus an isolated pair: clusters must close transitively
    under min-label, including a long chain (propagation > 1 hop)."""
    from docvision_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13), (13, 14)],
        "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7,
                   10: 10, 11: 10, 12: 10, 13: 10, 14: 10}


def test_q12_approx_within_tolerance(spark):
    """The production approx_percentile variant of q12 must stay within 1%
    (relative, floor 1 token) of the exact oracle variant per lang/percentile
    on the test corpus — the convention that licenses swapping it in at
    100 TB where exact percentile would buffer every value per group."""
    from docvision_spark.queries import q12_token_quantiles, q12_token_quantiles_approx
    sf = "/root/testdata/sf0.001"
    exact = {r["lang"]: r for r in q12_token_quantiles(spark, sf).collect()}
    approx = {r["lang"]: r for r in q12_token_quantiles_approx(spark, sf).collect()}
    assert set(exact) == set(approx) and exact
    for lang, e in exact.items():
        a = approx[lang]
        assert a["n_docs"] == e["n_docs"]
        for p in ("p50", "p90", "p99"):
            tol = max(1.0, 0.01 * float(e[p]))
            assert abs(float(a[p]) - float(e[p])) <= tol, (lang, p, e[p], a[p])


def test_url_dedup_hashed_tiebreakers(spark):
    """Re-crawls differing ONLY in a binary or array column must still get
    a deterministic survivor (hashed tiebreaker), and the html payload must
    never be a raw sort key."""
    import datetime as dt

    from docvision_spark.functions.urls import url_dedup

    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("http://a.com/x", ts, bytearray(b"\xff" * 8), ["b"]),
        ("http://a.com/x", ts, bytearray(b"\x00" * 8), ["a", "c"]),
        ("http://a.com/x", ts, bytearray(b"\x00" * 8), ["zz"]),  # array-only diff
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, tags array<string>")
    picks = set()
    for n_parts in (1, 3, 5):
        got = url_dedup(df.repartition(n_parts)).collect()
        assert len(got) == 1
        picks.add((bytes(got[0]["html"]), tuple(got[0]["tags"])))
    assert len(picks) == 1, f"survivor not deterministic: {picks}"


def test_mp3_side_info_gain():
    """MP3 side-info global_gain parse (fixed-layout bits, no Huffman):
    planted per-granule gains are recovered exactly; non-MP3 returns None."""
    import numpy as np

    from docvision_spark.kernel.av_codec import (
        encode_mp3_stub, mp3_mean_global_gain)

    p = encode_mp3_stub(11, n_frames=6)
    rng = np.random.default_rng(11 & 0xFFFFFFFF)
    exp = []
    flen = 1152 // 8 * 128 * 1000 // 44100
    for _ in range(6):
        exp += [int(rng.integers(80, 220)), int(rng.integers(80, 220))]
        rng.integers(0, 256, size=flen - 4 - 17, dtype=np.uint8)
    assert mp3_mean_global_gain(p) == round(sum(exp) / len(exp), 3)
    assert mp3_mean_global_gain(b"RIFF????WAVEfmt ") is None


@pytest.mark.spark
def test_media_features_int64_hash_precision_partition_invariant(spark):
    """Regression: pandas coerces a mixed int/None column to float64,
    truncating int64 hashes past 2^53 — and batch composition depends on
    partitioning, so dhash silently varied by cores. Features must be
    bit-identical across partitionings and carry full 64-bit hashes."""
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, make_fake_media,
        make_synthetic_image)

    # one batch that MUST mix image rows (int dhash) with audio (None)
    rows = [(i, "image", make_synthetic_image(i, 48, 32)) for i in range(6)]
    rows += [(100 + i, "audio", make_fake_media(100 + i, "audio", 0, 0, 8000))
             for i in range(3)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    ref = None
    for n_parts in (1, 4):
        got = {r["media_id"]: (r["ahash"], r["dhash"]) for r in
               extract_media_features(df.repartition(n_parts)).collect()
               if r["dhash"] is not None}
        assert len(got) == 6
        # full 64-bit precision: at least one hash must have nonzero low
        # byte (float64 truncation zeroes the low ~11 bits of 2^63-scale
        # values, a property the synthetic hashes are overwhelmingly
        # unlikely to share across all 12 values)
        assert any((h & 0xFF) for pair in got.values() for h in pair)
        if ref is None:
            ref = got
        assert got == ref, "features must not depend on partitioning"


@pytest.mark.spark
def test_multimodal_scanned_pdf_features(spark):
    """Scanned-PDF media rows (CCITT G4 or JPEG /DCTDecode raster in a
    PDF shell) decode to real dims/luma/hashes with format pdf-g4 /
    pdf-jpeg; a noisy re-scan twin stays within dhash hamming distance of
    its base so scanned rows join the m02 near-dup pool."""
    from docvision_spark.corpus import (make_scanned_pdf,
                                        make_scanned_pdf_jbig2,
                                        make_scanned_pdf_jpeg,
                                        make_scanned_pdf_jpx)
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features)

    rows = [
        (1, "image", make_scanned_pdf(29)),
        (2, "image", make_scanned_pdf(29, noise=6)),   # re-scan twin
        (3, "image", make_scanned_pdf(30)),
        (4, "image", b"%PDF-1.4\nno images here\n%%EOF"),
        (5, "image", make_scanned_pdf_jpeg(29)),
        (6, "image", make_scanned_pdf_jpeg(29, noise=6)),  # jpeg twin
        (7, "image", make_scanned_pdf_jbig2(29)),
        (8, "image", make_scanned_pdf_jpx(29)),
        (9, "image", make_scanned_pdf_jpx(29, noise=6)),   # jpx twin
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert out[1]["format"] == "pdf-g4" and out[1]["error"] is None
    assert out[1]["width"] == 200 and out[1]["height"] == 260
    assert out[1]["mean_luma"] is not None and out[1]["dhash"] is not None
    ham = bin(out[1]["dhash"] ^ out[2]["dhash"]).count("1")
    assert ham <= 6, ham
    assert bin(out[1]["dhash"] ^ out[3]["dhash"]).count("1") > 6
    assert out[4]["error"] and "no decodable raster" in out[4]["error"]
    assert out[5]["format"] == "pdf-jpeg" and out[5]["error"] is None
    assert out[5]["width"] == 200 and out[5]["height"] == 260
    assert out[5]["dhash"] is not None
    ham_j = bin(out[5]["dhash"] ^ out[6]["dhash"]).count("1")
    assert ham_j <= 6, ham_j
    # JBIG2 raster of the same source bitmap is bit-identical to the G4
    # decode -> identical features
    assert out[7]["format"] == "pdf-jbig2" and out[7]["error"] is None
    assert out[7]["dhash"] == out[1]["dhash"]
    assert out[7]["mean_luma"] == out[1]["mean_luma"]
    # JPEG 2000 raster decodes losslessly; its noisy re-scan twin stays
    # within dhash range like the other raster families
    assert out[8]["format"] == "pdf-jpx" and out[8]["error"] is None
    assert out[8]["width"] == 200 and out[8]["height"] == 260
    assert abs(out[8]["mean_luma"] - out[5]["mean_luma"]) < 4.0
    ham_x = bin(out[8]["dhash"] ^ out[9]["dhash"]).count("1")
    assert ham_x <= 6, ham_x


@pytest.mark.spark
def test_media_features_ico_svg_apng(spark):
    """Crawl-reality formats: ICO favicons pixel-decode (PNG or DIB inner),
    APNG stills report their acTL frame count, and vector SVG yields
    declared dims + element count + indexable text with luma/hashes
    honestly NULL (no rasterizer by design)."""
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, make_synthetic_image,
        make_synthetic_svg)

    rows = [
        (1, "image", make_synthetic_image(6, 64, 48, fmt="ico")),   # png inner
        (2, "image", make_synthetic_image(7, 64, 48, fmt="ico")),   # bmp inner
        (3, "image", make_synthetic_image(8, 40, 32, fmt="apng")),
        (4, "image", make_synthetic_svg(9)),
        (5, "image", b'<svg width="10em"><text>vec words</text></svg>'),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_media_features(df).collect()}
    for mid in (1, 2):
        r = out[mid]
        assert r["format"] == "ico" and r["error"] is None
        assert (r["width"], r["height"]) == (64, 48)  # largest entry wins
        assert r["dhash"] is not None and r["mean_luma"] is not None
    r = out[3]
    assert r["format"] == "png" and r["n_frames"] == 2 + 8 % 4
    assert r["dhash"] is not None
    r = out[4]
    assert r["format"] == "svg" and r["error"] is None
    assert r["width"] is not None and r["height"] is not None
    assert r["n_elements"] >= 4 and r["media_text"]
    assert r["dhash"] is None and r["mean_luma"] is None
    r = out[5]
    assert r["format"] == "svg" and r["width"] is None
    assert r["media_text"] == "vec words"


@pytest.mark.spark
def test_doc_pack_bins_partition_invariant(spark):
    """Sequence packing is a pure function of the global id order: the
    distributed prefix sum must produce identical bins under different
    partition counts, bins carry exactly `budget` starting-offset tokens,
    and empty docs ride along in the bin where they start."""
    from docvision_spark.functions.text import doc_pack_bins

    rows = [(i, ("tok " * (1 + (i * 7) % 50)).strip()) for i in range(200)]
    rows[13] = (13, "")
    rows[77] = (77, "   ")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = None
    for parts in (1, 3, 16):
        got = {r["doc_id"]: (r["n_tokens"], r["bin"])
               for r in doc_pack_bins(df, budget=64,
                                      partitions=parts).collect()}
        if base is None:
            base = got
        assert got == base, f"partitions={parts} changed the packing"
    # reference: python cumsum in id order
    cum = 0
    for i in range(200):
        n = len(rows[i][1].split())
        assert base[i] == (n, cum // 64), i
        cum += n
    assert len(base) == 200


@pytest.mark.spark
def test_bigram_lm_quality_scoring(spark):
    """CCNet-style LM scoring: training counts are deterministic under
    re-partitioning, integer millibit totals match a python reference,
    fluent (in-distribution) docs score fewer millibits/token than junk,
    and unseen contexts fall back to add-one smoothing."""
    import math

    from docvision_spark.functions.text import lm_score, train_bigram_lm

    docs = [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)]
    docs += [(100, "the quick brown fox"), (101, "xq zzv qqa unseen junk")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    lm = train_bigram_lm(df, top_k=1000)
    lm2 = train_bigram_lm(df.repartition(7), top_k=1000)
    assert lm == lm2, "training is partition-dependent"
    got = {r["doc_id"]: r for r in lm_score(df, lm).collect()}
    assert got[100]["mb_per_token"] < got[101]["mb_per_token"]
    # python reference for doc 100
    bg, cx, v = lm["bigrams"], lm["context"], lm["vocab"]
    seq = ["<s>", "the", "quick", "brown", "fox", "</s>"]
    want = sum(round(-1000 * math.log2((bg.get((a, b), 0) + 1)
                                       / (cx.get(a, 0) + v)))
               for a, b in zip(seq, seq[1:]))
    assert got[100]["total_millibits"] == want
    assert got[100]["n_tokens"] == 4
    # scoring is partition-invariant (int sums, per-doc sequential)
    got2 = {r["doc_id"]: r["total_millibits"]
            for r in lm_score(df.repartition(5), lm).collect()}
    assert got2 == {k: r["total_millibits"] for k, r in got.items()}


@pytest.mark.spark
def test_doc_pack_bins_carries_offset_across_arrow_batches(spark):
    """The per-partition cumulative sum must carry across Arrow batch
    boundaries: with maxRecordsPerBatch=16 a 300-doc partition spans ~19
    batches, and any batch-reset bug shifts every later bin."""
    from docvision_spark.functions.text import doc_pack_bins

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "16")
    try:
        rows = [(i, ("w " * (1 + i % 9)).strip()) for i in range(300)]
        got = {r["doc_id"]: r["bin"]
               for r in doc_pack_bins(
                   spark.createDataFrame(rows, "doc_id long, text string"),
                   budget=32, partitions=2).collect()}
    finally:
        spark.conf.set(key, old)
    cum = 0
    for i in range(300):
        n = 1 + i % 9
        assert got[i] == cum // 32, i
        cum += n
