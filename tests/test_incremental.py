"""Incremental dedup: new-crawl-increment vs published-corpus artifacts.

Planted-case semantics for incremental_exact_dedup (fingerprint anti-join,
NULL routing, within-batch policy) and incremental_minhash_pairs
(cross-corpus near-dup probe: recall on a planted cross-corpus twin, no
history-internal pairs, artifact-persistence parity)."""

from __future__ import annotations

import pytest

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest to hide from every hunter while "
        "the moon rises slowly over the quiet valley and small streams "
        "wind between mossy stones carrying cold clear water toward the "
        "distant river where herons wait patiently for careless fish")
# one-token edit in ~55 words: 3 of ~53 word-3-gram shingles change,
# jaccard ≈ 50/56 ≈ 0.89 > 0.8
NEAR = BASE.replace("dark", "murky")
DISTINCT = ("completely unrelated content about spark shuffle partitions "
            "broadcast joins and adaptive query execution at scale today")


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.spark
def test_incremental_exact_survivors(spark):
    from docvision_spark.functions.dedup import (
        fingerprint_table, incremental_exact_dedup)

    hist = _df(spark, [(1, "alpha beta gamma"), (2, "delta epsilon")])
    new = _df(spark, [
        (10, "alpha beta gamma"),   # dup of history doc 1 -> dropped
        (11, "zeta eta theta"),     # within-batch dup pair: 11 wins
        (12, "zeta eta theta"),     #   ... 12 dropped
        (13, "iota kappa"),         # unique -> kept
        (14, None),                 # NULL text -> passes through
    ])
    kept = incremental_exact_dedup(new, fingerprint_table(hist))
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13, 14]


@pytest.mark.spark
def test_incremental_exact_normalization(spark):
    """Fingerprints use the normalized-text policy: whitespace/case
    variants of a published doc are increments' dups, same as exact_dedup."""
    from docvision_spark.functions.dedup import (
        fingerprint_table, incremental_exact_dedup)

    hist = _df(spark, [(1, "Alpha   Beta\tGamma")])
    new = _df(spark, [(10, "alpha beta gamma"), (11, "alpha beta gamma!")])
    kept = incremental_exact_dedup(new, fingerprint_table(hist))
    assert sorted(r["doc_id"] for r in kept.collect()) == [11]


def _pairs(new, hist, **kw):
    """incremental_minhash_pairs over both sides' minhash_artifacts."""
    from docvision_spark.functions.dedup import (
        incremental_minhash_pairs, minhash_artifacts)

    return incremental_minhash_pairs(*minhash_artifacts(new),
                                     *minhash_artifacts(hist), **kw)


@pytest.mark.spark
def test_incremental_minhash_cross_corpus_twin(spark):
    hist = _df(spark, [(1, BASE), (2, DISTINCT)])
    new = _df(spark, [(10, NEAR), (11, DISTINCT + " extended with much "
                                       "more genuinely novel text content "
                                       "talking about entirely different "
                                       "things like cooking pasta dinners")])
    pairs = _pairs(new, hist, jaccard_threshold=0.8)
    got = {(r["new_id"], r["hist_id"]) for r in pairs.collect()}
    assert (10, 1) in got, "planted cross-corpus near-dup must be found"
    assert all(n != 11 for n, _ in got), "novel doc must not pair"


@pytest.mark.spark
def test_incremental_minhash_no_history_internal_pairs(spark):
    """The probe joins increment bands x history bands only: a near-dup
    pair INSIDE the published corpus is already known and must not be
    rediscovered on every increment run."""
    hist = _df(spark, [(1, BASE), (2, NEAR)])       # internal near-dups
    new = _df(spark, [(10, DISTINCT)])
    assert _pairs(new, hist).count() == 0


@pytest.mark.spark
def test_incremental_minhash_from_persisted_artifacts(spark, tmp_path):
    """Production path: the published corpus contributes only its persisted
    (id, sh) + (id, band, bkey) parquet artifacts — pair set is identical
    to the in-memory artifacts path."""
    from docvision_spark.functions.dedup import (
        incremental_minhash_pairs, minhash_artifacts)

    hist = _df(spark, [(1, BASE), (2, DISTINCT)])
    new = _df(spark, [(10, NEAR)])

    sh, bands = minhash_artifacts(hist)
    sh.write.parquet(str(tmp_path / "sh"))
    bands.write.parquet(str(tmp_path / "bands"))

    from_disk = incremental_minhash_pairs(
        *minhash_artifacts(new),
        spark.read.parquet(str(tmp_path / "sh")),
        spark.read.parquet(str(tmp_path / "bands")))
    direct = _pairs(new, hist)
    assert ({tuple(r) for r in from_disk.collect()}
            == {tuple(r) for r in direct.collect()} != set())


@pytest.mark.spark
def test_incremental_plans_stay_jvm_side(spark):
    """No Python eval in either incremental operator's plan, and the
    near-dup probe is a key join, not a cartesian product."""
    from docvision_spark.functions.dedup import (
        fingerprint_table, incremental_exact_dedup)

    hist = _df(spark, [(1, BASE)])
    new = _df(spark, [(10, NEAR)])
    for df in (incremental_exact_dedup(new, fingerprint_table(hist)),
               _pairs(new, hist)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.fixture(scope="module")
def published(spark, pages_dir, tmp_path_factory):
    """The unit pages corpus extracted into a published table."""
    from docvision_spark.pipeline.extract_job import run_extract_job

    pub_dir = str(tmp_path_factory.mktemp("published"))
    s1 = run_extract_job(spark, pages_dir, pub_dir, partitions=4)
    assert s1["docs"] == 300
    return pub_dir


def _copies(spark, pages_dir, pub_dir, n=None):
    """Pages whose published extraction is clean and non-empty, under new
    urls, html bytes kept (re-crawled content); the first `n` of them."""
    from pyspark.sql import functions as F

    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages

    pub = snapshots.read_table(spark, pub_dir)
    clean = pub.filter(F.col("error").isNull() & (F.length("text") > 0)) \
               .select("url")
    if n is not None:
        clean = clean.limit(n)
    return (read_pages(spark, pages_dir)
            .join(F.broadcast(clean), "url", "left_semi")
            .withColumn("url", F.concat(F.lit("http://recrawl.test/"),
                                        F.col("url"))))


@pytest.mark.spark
def test_recrawl_extract_dedup_against_published(spark, pages_dir, published,
                                                 tmp_path):
    """Re-crawl e2e at the job boundary: extract an increment of (a)
    re-crawled pages — same html bytes under new urls — and (b) novel
    pages (one planted within-increment dup, one url crawled twice with
    the same bytes) with dedup_against pointing at the published table.
    Only novel content commits, once; the id anti-join catches the
    re-crawls without reading either side's text. The job pins nothing:
    no RDD blocks are held after it that were not held before (a lost
    checkpoint block would fail the job; an unpersisted cache only holds
    memory)."""
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import run_extract_job

    def held():
        return {i.id() for i in spark.sparkContext._jsc.sc()
                                     .getRDDStorageInfo()}

    recrawled = _copies(spark, pages_dir, published, 40)
    # 4 novel pages + 1 exact within-increment dup of the first novel page
    # + the second novel page crawled again under its own url
    novel_rows = []
    for i in range(4):
        html = (f"<html><body><p>entirely novel increment page {i} with "
                f"its own unrepeated content body</p></body></html>"
                ).encode()
        novel_rows.append((f"http://novel.test/{i}", html, "en"))
    novel_rows.append(("http://novel.test/dup-of-0", novel_rows[0][1], "en"))
    novel_rows.append(novel_rows[1])
    novel = spark.createDataFrame(
        novel_rows, "url string, html binary, lang string")

    inc_dir = str(tmp_path / "inc_pages")
    recrawled.select(*novel.columns).unionByName(novel) \
        .write.parquet(inc_dir)

    out_dir = str(tmp_path / "recrawl_out")
    before = held()
    s2 = run_extract_job(spark, inc_dir, out_dir, partitions=4,
                         dedup_against=published)
    assert held() <= before
    assert s2["docs"] == 4, s2
    # 40 re-crawls + 1 in-batch dup + 1 repeat of a url
    assert s2["dedup_dropped"] == 42, s2
    got = [r["url"] for r in
           snapshots.read_table(spark, out_dir).select("url").collect()]
    assert sorted(got) == [f"http://novel.test/{i}" for i in range(4)]


@pytest.mark.spark
def test_recrawl_extract_all_copies_commits_nothing(spark, pages_dir,
                                                    published, tmp_path):
    """An increment that only copies the published corpus commits no
    snapshot, and every one of its docs counts as dropped."""
    from docvision_spark.pipeline.extract_job import run_extract_job

    inc_dir = str(tmp_path / "inc_pages")
    _copies(spark, pages_dir, published).write.parquet(inc_dir)
    n = spark.read.parquet(inc_dir).count()
    s = run_extract_job(spark, inc_dir, str(tmp_path / "out"), partitions=4,
                        dedup_against=published)
    assert (s["docs"], s["snapshot_id"], s["dedup_dropped"]) == (0, None, n)
