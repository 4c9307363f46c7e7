"""Distributed pipeline tests: e2e job, parallelism invariance, resume,
lineage (SURVEY.md §5.2.3-5).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


@pytest.mark.spark
def test_extract_job_end_to_end(spark, pages_dir, tmp_path):
    from docvision_spark.pipeline.extract_job import run_extract_job
    from docvision_spark.pipeline import snapshots

    out_dir = str(tmp_path / "out")
    summary = run_extract_job(spark, pages_dir, out_dir, partitions=8)
    assert summary["docs"] == 300
    assert summary["failures"] == 0

    table = snapshots.read_table(spark, out_dir)
    assert table.count() == 300
    # schema essentials
    for c in ("url", "id", "text", "markdown", "spans", "page_count",
              "processing_mode", "error", "bucket"):
        assert c in table.columns
    # every ok row has non-empty extraction and valid span offsets
    bad_spans = table.filter(
        (F.col("error").isNull())
        & F.exists("spans", lambda s: (s["start"] < 0) | (s["end"] > F.length("text")))
    ).count()
    assert bad_spans == 0
    # pdf docs present (~10%)
    n_pdf = table.filter(F.col("processing_mode") == "pdf").count()
    assert 10 <= n_pdf <= 80

    # metrics/lineage rows were written with the north-rule fields
    metrics = spark.read.parquet(os.path.join(out_dir, "metrics"))
    assert metrics.count() >= 1
    for c in ("snapshot_id", "partition_id", "input_split", "doc_count",
              "bytes_in", "bytes_out", "n_failures", "failure_samples",
              "extractor_version", "wall_time_s", "committed_at"):
        assert c in metrics.columns
    agg = metrics.agg(F.sum("doc_count").alias("d")).collect()[0]
    assert agg["d"] == 300


@pytest.mark.spark
def test_parallelism_invariance(spark, pages_dir):
    """Same input at 2 vs 8 partitions -> identical id per url (the
    determinism half of the two-cluster-size scaling rule)."""
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    pages = read_pages(spark, pages_dir)
    a = {r["url"]: r["id"] for r in
         extract_pages(pages, partitions=2).select("url", "id").collect()}
    b = {r["url"]: r["id"] for r in
         extract_pages(pages, partitions=8).select("url", "id").collect()}
    assert a == b


@pytest.mark.spark
def test_resume_no_duplicates(spark, pages_dir, tmp_path):
    """Kill-and-rerun semantics: first run commits half the input; second run
    must process only the remainder — no duplicate urls, full coverage."""
    from docvision_spark.corpus import gen_urls
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages, run_extract_job

    out_dir = str(tmp_path / "out_resume")
    half = set(gen_urls(300)[:150])
    pages = read_pages(spark, pages_dir)

    # simulate a partial first run: restrict input to half the urls
    half_df = spark.createDataFrame([(u,) for u in half], "url string")
    half_path = str(tmp_path / "half_pages")
    pages.join(F.broadcast(half_df), "url", "left_semi").write.parquet(half_path)
    s1 = run_extract_job(spark, half_path, out_dir, partitions=4)
    assert s1["docs"] == 150

    # resumed full run: anti-join must skip the committed 150
    s2 = run_extract_job(spark, pages_dir, out_dir, partitions=4)
    assert s2["docs"] == 150, "resume must process only the uncommitted half"

    table = snapshots.read_table(spark, out_dir)
    assert table.count() == 300
    assert table.select("url").distinct().count() == 300

    # third run: nothing left to do
    s3 = run_extract_job(spark, pages_dir, out_dir, partitions=4)
    assert s3["docs"] == 0

    # time-travel (Iceberg VERSION AS OF analogue): the snapshot log keeps
    # both commits; reading as-of the first shows only its 150 rows
    log = snapshots.snapshot_log(out_dir)
    assert [s["sequence"] for s in log] == [0, 1]
    assert log[1]["parent_id"] == log[0]["snapshot_id"]
    # lineage rows of each snapshot count only that snapshot's docs
    metrics = spark.read.parquet(os.path.join(out_dir, "metrics"))
    per_snap = {r["snapshot_id"]: r["d"] for r in
                metrics.groupBy("snapshot_id")
                       .agg(F.sum("doc_count").alias("d")).collect()}
    assert [per_snap[s["snapshot_id"]] for s in log] == [150, 150]
    t0 = snapshots.read_table(spark, out_dir, as_of=log[0]["snapshot_id"])
    assert t0.count() == 150
    assert {r["url"] for r in t0.select("url").collect()} == half
    assert snapshots.read_table(spark, out_dir, as_of=1).count() == 300
    with pytest.raises(KeyError):
        snapshots.read_table(spark, out_dir, as_of="does-not-exist")


@pytest.mark.spark
def test_crashed_staging_invisible(spark, pages_dir, tmp_path):
    """A staging dir from a crashed run must not pollute the committed view."""
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import run_extract_job

    out_dir = str(tmp_path / "out_crash")
    run_extract_job(spark, pages_dir, out_dir, partitions=4)
    # fake a crashed writer: stray staging dir with garbage parquet
    stray = snapshots.new_staging(out_dir)
    spark.range(5).withColumn("url", F.lit("x")).write.parquet(
        os.path.join(stray, "bucket=0"), mode="overwrite")
    table = snapshots.read_table(spark, out_dir)
    assert table.count() == 300  # staging rows invisible


def test_torn_history_file_tolerated(tmp_path):
    """A torn/garbage JSON in snapshots/ (crash debris) must not poison
    snapshot_log; the published current snapshot still heals back in."""
    import json

    from docvision_spark.pipeline import snapshots

    out_dir = str(tmp_path / "out_torn")
    log_dir = os.path.join(out_dir, "snapshots")
    os.makedirs(log_dir)
    good = {"snapshot_id": "abc", "parent_id": None, "sequence": 0,
            "committed_at": 0.0, "row_count_delta": 1, "files": ["f.parquet"]}
    with open(os.path.join(log_dir, "000000-abc.json"), "w") as f:
        json.dump(good, f)
    with open(os.path.join(log_dir, "000001-torn.json"), "w") as f:
        f.write('{"snapshot_id": "torn", "seq')  # mid-write crash
    cur = dict(good, snapshot_id="def", parent_id="abc", sequence=1)
    with open(os.path.join(out_dir, snapshots.MANIFEST), "w") as f:
        json.dump(cur, f)
    log = snapshots.snapshot_log(out_dir)
    assert [s["snapshot_id"] for s in log] == ["abc", "def"]
    # and the healed write replaced the torn file atomically
    assert json.load(open(os.path.join(log_dir, "000001-def.json")))[
        "snapshot_id"] == "def"


@pytest.mark.spark
def test_compact_preserves_table_and_time_travel(spark, pages_dir, tmp_path):
    """Compaction (rewrite_data_files analogue): two append snapshots of
    many small files -> one replace snapshot with fewer files; rows, url
    set, and schema are bit-identical; the pre-compaction snapshot still
    time-travels; resume still sees everything committed."""
    from docvision_spark.corpus import gen_urls
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages, run_extract_job

    out_dir = str(tmp_path / "out_compact")
    half = set(gen_urls(300)[:150])
    pages = read_pages(spark, pages_dir)
    half_df = spark.createDataFrame([(u,) for u in half], "url string")
    half_path = str(tmp_path / "half_pages_c")
    pages.join(F.broadcast(half_df), "url", "left_semi").write.parquet(half_path)
    run_extract_job(spark, half_path, out_dir, partitions=4)
    run_extract_job(spark, pages_dir, out_dir, partitions=4)

    before = snapshots.read_manifest(out_dir)
    pre_rows = {r["url"]: r["id"] for r in
                snapshots.read_table(spark, out_dir).select("url", "id").collect()}
    assert len(before["files"]) > 4  # two commits x multiple buckets

    rep = snapshots.compact(spark, out_dir, target_mb=256)
    assert rep["compacted_partitions"] > 0
    assert rep["files_after"] < rep["files_before"]

    after = snapshots.read_manifest(out_dir)
    assert after["operation"] == "replace" and after["row_count_delta"] == 0
    post = {r["url"]: r["id"] for r in
            snapshots.read_table(spark, out_dir).select("url", "id").collect()}
    assert post == pre_rows, "compaction must be row-for-row identical"

    # time travel to the pre-compaction snapshot still reads the old files
    tt = snapshots.read_table(spark, out_dir, as_of=before["snapshot_id"])
    assert tt.count() == 300

    # resume after compaction: nothing to do (committed urls unchanged)
    s = run_extract_job(spark, pages_dir, out_dir, partitions=4)
    assert s["docs"] == 0

    # idempotent: a second compact finds nothing worth rewriting beyond
    # per-partition singletons
    rep2 = snapshots.compact(spark, out_dir, target_mb=256)
    assert rep2["compacted_partitions"] == 0


@pytest.mark.spark
def test_expire_snapshots_gc(spark, pages_dir, tmp_path):
    """expire_snapshots: retired snapshots' exclusive files are deleted,
    the current snapshot still reads, expired ids no longer time-travel."""
    import os

    from docvision_spark.corpus import gen_urls
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages, run_extract_job

    out_dir = str(tmp_path / "out_expire")
    half = set(gen_urls(300)[:150])
    pages = read_pages(spark, pages_dir)
    half_df = spark.createDataFrame([(u,) for u in half], "url string")
    half_path = str(tmp_path / "half_pages_e")
    pages.join(F.broadcast(half_df), "url", "left_semi").write.parquet(half_path)
    run_extract_job(spark, half_path, out_dir, partitions=4)
    run_extract_job(spark, pages_dir, out_dir, partitions=4)
    snapshots.compact(spark, out_dir, target_mb=256)
    old_id = snapshots.snapshot_log(out_dir)[0]["snapshot_id"]

    rep = snapshots.expire_snapshots(out_dir, keep_last=1)
    assert rep["expired"] == 2 and rep["deleted_files"] > 0
    # current read intact
    assert snapshots.read_table(spark, out_dir).count() == 300
    # expired snapshot is gone from history -> KeyError, like Iceberg
    import pytest as _pytest
    with _pytest.raises(KeyError):
        snapshots.read_table(spark, out_dir, as_of=old_id)
    # no orphan parquet files left outside the manifest
    data_dir = os.path.join(out_dir, "data")
    on_disk = {os.path.relpath(os.path.join(dp, f), data_dir)
               for dp, _d, fs in os.walk(data_dir) for f in fs
               if f.endswith(".parquet")}
    assert on_disk == set(snapshots.read_manifest(out_dir)["files"])


@pytest.mark.spark
def test_concurrent_append_and_compact_lose_neither(spark, pages_dir, tmp_path):
    """Commit concurrency: an append and a compact() racing on the same
    table must BOTH land (the manifest read-modify-write is serialized by
    the commit lock). Without the lock, whichever publishes second
    rebuilds its manifest from a stale parent and silently drops the
    other's files."""
    import threading

    from docvision_spark.corpus import gen_urls
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages, run_extract_job

    out_dir = str(tmp_path / "out_race")
    urls = gen_urls(300)
    pages = read_pages(spark, pages_dir)

    def subset(us, name):
        df = spark.createDataFrame([(u,) for u in us], "url string")
        p = str(tmp_path / name)
        pages.join(F.broadcast(df), "url", "left_semi").write.parquet(p)
        return p

    p1 = subset(urls[:100], "race_p1")
    p2 = subset(urls[100:200], "race_p2")
    p3 = subset(urls[200:], "race_p3")
    run_extract_job(spark, p1, out_dir, partitions=4)
    run_extract_job(spark, p2, out_dir, partitions=4)
    n_before = snapshots.read_table(spark, out_dir).count()

    errs = []

    def run(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - surfaced via errs
            errs.append(e)

    t_append = threading.Thread(target=run, args=(
        lambda: run_extract_job(spark, p3, out_dir, partitions=4),))
    t_compact = threading.Thread(target=run, args=(
        lambda: snapshots.compact(spark, out_dir, target_mb=256,
                                  max_concurrency=4),))
    t_append.start(); t_compact.start()
    t_append.join(); t_compact.join()
    assert not errs, errs

    # both commits survived: all 300 urls present, two new snapshots
    table = snapshots.read_table(spark, out_dir)
    assert table.count() == n_before + 100
    assert {r["url"] for r in table.select("url").collect()} == set(urls)
    log = snapshots.snapshot_log(out_dir)
    seqs = [s["sequence"] for s in log]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs)) == 4
    assert any(s.get("operation") == "replace" for s in log[2:])
    # lock released
    assert not os.path.exists(os.path.join(out_dir, snapshots.COMMIT_LOCK))


@pytest.mark.spark
def test_compact_rewrites_without_embedded_partition_column(
        spark, pages_dir, tmp_path):
    """Rewritten files must NOT physically embed the inferred bucket
    partition column (append-path files don't carry it; mixed per-file
    schemas are fragile across engines)."""
    from docvision_spark.corpus import gen_urls
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages, run_extract_job

    out_dir = str(tmp_path / "out_schema")
    half = set(gen_urls(300)[:150])
    pages = read_pages(spark, pages_dir)
    half_df = spark.createDataFrame([(u,) for u in half], "url string")
    half_path = str(tmp_path / "half_pages_s")
    pages.join(F.broadcast(half_df), "url", "left_semi").write.parquet(half_path)
    run_extract_job(spark, half_path, out_dir, partitions=4)
    run_extract_job(spark, pages_dir, out_dir, partitions=4)
    rep = snapshots.compact(spark, out_dir, target_mb=256)
    assert rep["compacted_partitions"] > 0

    m = snapshots.read_manifest(out_dir)
    data_dir = os.path.join(out_dir, "data")
    rewritten = [f for f in m["files"]
                 if f.startswith(os.path.join("bucket=0", m["snapshot_id"]))]
    assert rewritten, m["files"]
    # read ONE rewritten file directly (no basePath): physical schema only
    phys = spark.read.parquet(os.path.join(data_dir, rewritten[0]))
    assert "bucket" not in phys.columns
    # and the table read still reconstructs bucket from the directory
    assert "bucket" in snapshots.read_table(spark, out_dir).columns


def _run_script(script: str, *args: str, cwd) -> dict:
    """Run `script` in a fresh interpreter with the repo importable; return
    the JSON object on its last stdout line."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script, *args], capture_output=True,
        text=True, timeout=300, cwd=str(cwd),
        env=dict(os.environ, PYTHONPATH=repo))
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


ZIP_GUARD_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

from docvision_spark.pipeline.shipping import _guard_zip_invalidation

zpath = os.path.join(sys.argv[1], "mods.zip")


def write_zip(mods):
    with zipfile.ZipFile(zpath + ".tmp", "w") as zf:
        for m in mods:
            zf.writestr(m + ".py", f"NAME = {m!r}\n")
    os.replace(zpath + ".tmp", zpath)


write_zip(["mod_a"])
sys.path.insert(0, zpath)
import mod_a
_guard_zip_invalidation()

reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda path: (reads.append(path), real(path))[1]
importlib.invalidate_caches()
unchanged = reads.count(zpath)
write_zip(["mod_a", "mod_b"])
importlib.invalidate_caches()
import mod_b
print(json.dumps({"unchanged_reads": unchanged, "mod_b": mod_b.NAME}))
"""


def test_zip_guard_rereads_only_changed_archives(tmp_path):
    """The worker's zipimport guard skips the directory re-read of an
    unchanged archive and still re-reads one replaced on disk. Its own
    process: the guard is process-global."""
    got = _run_script(ZIP_GUARD_SCRIPT, str(tmp_path), cwd=tmp_path)
    assert got["mod_b"] == "mod_b"
    if sys.version_info < (3, 13):
        assert got["unchanged_reads"] == 0


WORKER_PREP_SCRIPT = r"""
import gc, json, zipimport

from docvision_spark.functions.dedup import simhash_signatures_np
from docvision_spark.pipeline.session import get_spark
from docvision_spark.pipeline.shipping import prepare_worker

spark = get_spark(app_name="worker-prep", cores=2, shuffle_partitions=2)
docs = spark.createDataFrame(
    [(i, f"doc {i} words {i % 7}") for i in range(200)],
    "doc_id long, text string").repartition(8)
# a closure stage whose body never imports the package
assert simhash_signatures_np(docs).count() == 200


def probe(it):
    import gc, importlib, os, zipimport

    import pandas as pd

    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda p: (reads.append(p), real(p))[1]
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in it:
        pass
    yield pd.DataFrame({"pid": [os.getpid()],
                        "frozen": [gc.get_freeze_count()],
                        "reads": [len(reads)]})


rows = spark.range(0, 64, 1, 8).mapInPandas(
    probe, "pid long, frozen long, reads long").collect()
prepare_worker()  # the driver has no TaskContext: a no-op
inv = zipimport.zipimporter.invalidate_caches
print(json.dumps({
    "workers": [r.asDict() for r in rows],
    "driver_invalidate": f"{inv.__module__}.{inv.__qualname__}",
    "driver_frozen": gc.get_freeze_count()}))
spark.stop()
"""


@pytest.mark.spark
def test_python_workers_prepared_once(tmp_path):
    """Every executor Python worker that ran one of the package's stages
    has its import-time heap frozen and re-reads no unchanged import zip
    when pyspark invalidates import caches before a task; the driver
    process is untouched. Own session, so the workers start fresh."""
    got = _run_script(WORKER_PREP_SCRIPT, cwd=tmp_path)
    assert len(got["workers"]) == 8
    for w in got["workers"]:
        assert w["frozen"] > 0, got["workers"]
        if sys.version_info < (3, 13):
            assert w["reads"] == 0, got["workers"]
    assert got["driver_invalidate"] == "zipimport.zipimporter.invalidate_caches"
    assert got["driver_frozen"] == 0
