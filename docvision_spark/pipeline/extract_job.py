"""The extraction job: the Spark re-architecture of the reference's
parse_pdf/parse_image loop (core/parser.py:225-329) as a single map-only
distributed stage.

Physical plan (SURVEY.md §4.3):

    scan pages (parquet, pruned: url, html, lang [, bucket])
      -> left_anti join committed urls            [resume]
      -> withColumn host/salt, repartition        [skew: hot host ~30%]
      -> sortWithinPartitions(octet_length desc)  [size-aware packing]
      -> mapInPandas(extract_batches)             [the only Python stage]
      -> dedup.keep_first on id vs published ids  [re-crawl: one exchange]
      -> write output parquet (bucketed)
      -> metrics + failure samples from the written output (column-pruned),
         collected once as Arrow and written from the driver

No per-row Python dispatch: the kernel runs over Arrow record batches via
mapInPandas (Iterator variant, one call per partition, in Python workers
that are reused across tasks and prepared once per process by
shipping.prepare_worker), and the batch iterator is re-chunked by
cumulative payload bytes so a partition of 200 KB docs and a partition of
2 KB docs both hand the kernel ~equal-byte units (the analogue of the
reference's bounded concurrency + size caps, core/parser.py:289,
processing/image.py:351-366).

Every fact of a row is a typed column (OUTPUT_SCHEMA); the JSONL sink,
writers.write_jsonl, rebuilds the reference's metadata dict from them.
"""

from __future__ import annotations

import time
from binascii import crc32
from typing import Iterator

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from docvision_spark import EXTRACTOR_VERSION
from docvision_spark.pipeline.shipping import map_in_pandas

SPAN_TYPE = ArrayType(StructType([
    StructField("block_id", IntegerType()),
    StructField("kind", StringType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
]))

# one element per non-empty page — the reference's List[ParseResult]
# (core/parser.py:308-322) as a nested column; per-page rows come from
# page_rows() below (posexplode-style), never from re-running the kernel
PAGE_TYPE = ArrayType(StructType([
    StructField("page_no", IntegerType()),
    StructField("text", StringType()),
    StructField("markdown", StringType()),
]))

# the reference's ParseResult {id, content, metadata} (core/types.py:46-52)
# as typed columns: content is text/markdown, metadata's file_name is url,
# total_pages is page_count and parsing_mode is processing_mode
OUTPUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("id", StringType()),
    StructField("text", StringType()),
    StructField("markdown", StringType()),
    StructField("spans", SPAN_TYPE),
    StructField("pages", PAGE_TYPE),
    StructField("page_count", IntegerType()),
    StructField("lang", StringType()),
    StructField("processing_mode", StringType()),
    StructField("charset", StringType()),
    StructField("truncated", BooleanType()),
    # head metadata (HTML): the publisher's own dup signal + index policy
    StructField("canonical_url", StringType()),
    StructField("robots", StringType()),
    # out-links: raw deduped hrefs (web-graph edges; resolved JVM-side)
    StructField("links", ArrayType(StringType())),
    StructField("extractor_version", StringType()),
    StructField("processing_time", DoubleType()),
    StructField("bytes_in", LongType()),
    StructField("partition_id", IntegerType()),
    StructField("error", StringType()),
])

# Target payload bytes per kernel invocation unit (Arrow batch re-chunk).
TARGET_BATCH_BYTES = 8 * 1024 * 1024
# Salt fan-out for skewed hosts: the hot host (~30% of rows in the fixture)
# spreads over N_SALT distinct shuffle keys. 32 keeps the hot host's share
# per partition at ~1% even when partitions ≈ keys.
N_SALT = 32
N_BUCKETS = 16


def _extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body. Imports inside so the function ships cleanly to
    executors via --py-files; kernel module state (compiled regexes, entity
    table) is the executor-side singleton (reference analogue: lazy OCR
    engine singleton, core/parser.py:125-138)."""
    from pyspark import TaskContext

    from docvision_spark.kernel.extract import extract

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1

    def flush(rows: list[dict]) -> pd.DataFrame:
        return pd.DataFrame(rows, columns=[f.name for f in OUTPUT_SCHEMA.fields])

    rows: list[dict] = []
    acc_bytes = 0
    for pdf in it:
        urls = pdf["url"].to_numpy()
        htmls = pdf["html"].to_numpy()
        langs = pdf["lang"].to_numpy()
        for i in range(len(pdf)):
            payload = htmls[i]
            nbytes = len(payload) if payload is not None else 0
            t0 = time.perf_counter()
            r = extract(urls[i], payload)
            dt = time.perf_counter() - t0
            rows.append({
                "url": urls[i],
                "id": r.id,
                "text": r.text,
                "markdown": r.markdown,
                "spans": [
                    {"block_id": b, "kind": k, "start": s, "end": e}
                    for (b, k, s, e) in r.spans
                ],
                "pages": [
                    {"page_no": pno, "text": pt, "markdown": pm}
                    for (pno, pt, pm) in r.pages
                ],
                "page_count": r.page_count,
                "lang": langs[i],
                "processing_mode": r.processing_mode,
                "charset": r.charset,
                "truncated": r.truncated,
                "canonical_url": r.canonical_url,
                "robots": r.robots,
                "links": r.links,
                "extractor_version": EXTRACTOR_VERSION,
                "processing_time": dt,
                "bytes_in": nbytes,
                "partition_id": pid,
                "error": r.error,
            })
            acc_bytes += nbytes
            if acc_bytes >= TARGET_BATCH_BYTES:
                yield flush(rows)
                rows, acc_bytes = [], 0
    if rows:
        yield flush(rows)


def read_pages(spark: SparkSession, pages_path: str) -> DataFrame:
    """Scan with explicit column pruning — never materialize `text` (the
    naive pre-extraction column) or any column the kernel doesn't need."""
    return spark.read.parquet(pages_path).select("url", "html", "lang")


def extract_pages(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """Logical plan for the kernel stage over a (url, html, lang) frame."""
    # Map-only fast path (guide §2.4/§8): when the SCAN already yields
    # enough splits (row-grouped corpus + small maxPartitionBytes), the
    # payload column never needs to cross an exchange at all — scan and
    # kernel fuse into one pipelined stage with no barrier, and input
    # splits are byte-balanced by construction so the host-skew salt is
    # moot (skew exists only when partitioning BY host). The salted
    # repartition remains the fallback for under-split inputs (single
    # giant files, post-limit plans) where an exchange is the only way to
    # reach the cluster's parallelism. An explicit `partitions` is
    # honoured: the scan is kept only if it already has that many splits.
    target = (pages.sparkSession.sparkContext.defaultParallelism
              if partitions is None else partitions)
    if pages.rdd.getNumPartitions() < target:
        pages = salted_spread(pages, partitions)
    # packing: descending size within partition -> the byte-budget
    # re-chunker in _extract_batches sees big docs first and emits
    # near-constant-byte units; also avoids a giant doc landing at the
    # tail of an otherwise-finished partition
    prepared = pages.sortWithinPartitions(F.octet_length("html").desc())
    return map_in_pandas(prepared, _extract_batches, OUTPUT_SCHEMA)


def salted_spread(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition pages by (host, crc32(url) mod N_SALT). A hot host
    spreads across N_SALT partitions while every other host keeps its
    locality (north rule: salted repartition of skewed hosts; AQE cannot
    rebalance a map-only python stage by value). `partitions` defaults to
    2x total cores: enough slack to level stragglers (giant docs, hot-host
    salt keys) while each task still amortizes its worker handoff over
    many Arrow batches."""
    if partitions is None:
        partitions = 2 * pages.sparkSession.sparkContext.defaultParallelism
    return (
        pages
        .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withColumn("salt", F.pmod(F.crc32(F.col("url")), F.lit(N_SALT)))
        .repartition(partitions, F.col("host"), F.col("salt"))
        .drop("host", "salt")
    )


def page_rows(
    out: DataFrame,
    start_page: int | None = None,
    end_page: int | None = None,
) -> DataFrame:
    """S4: one row per page + 1-indexed inclusive page-range filter —
    reference parity for the per-page ParseResult list and the
    start_page/end_page slice (core/parser.py:280-288, 308-322).

    Explodes the nested pages column of extraction output; the kernel never
    re-runs. The range predicate lands after a generator, but the pages
    array itself is column-pruned at the scan when `out` is read back from
    parquet."""
    rows = (
        out.filter(F.col("error").isNull())
           .select("url", "page_count", F.explode("pages").alias("p"))
           .select("url", "page_count", "p.page_no", "p.text", "p.markdown")
    )
    if start_page is not None:
        rows = rows.filter(F.col("page_no") >= F.lit(int(start_page)))
    if end_page is not None:
        rows = rows.filter(F.col("page_no") <= F.lit(int(end_page)))
    return rows


def run_extract_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    partitions: int | None = None,
    resume: bool = True,
    dedup_against: str | None = None,
) -> dict:
    """Full job with snapshot commit + lineage (build plan M2+M3).

    dedup_against: path of a PUBLISHED extract table — re-crawl mode. The
    increment's extracted docs are content-deduped against that table's
    persisted sha3-256 `id` column (and within the increment, min-url per
    id) before the snapshot commit: one dedup.keep_first pass over the
    kernel output, whose anti-join reads two id columns and no text on
    either side. Error rows and empty extractions pass through — they
    carry no content identity. The summary then includes `dedup_dropped`:
    the kernel's rows, observed while the write runs, minus the committed
    docs.

    Returns a summary dict {snapshot_id, docs, failures, wall_s}.
    """
    import os

    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.lineage import (partition_metrics,
                                                  write_metrics)

    t0 = time.perf_counter()
    pages = read_pages(spark, pages_path)

    committed = snapshots.read_table(spark, out_dir)
    if resume and committed is not None:
        # resume: anti-join against already-committed urls (Iceberg-snapshot
        # emulation; the committed scan is column-pruned to `url` only). At
        # 10^12 scale this is a shuffle join on url; AQE downgrades it to a
        # broadcast join automatically when the committed set is small.
        pages = pages.join(committed.select("url"), "url", "left_anti")

    out = extract_pages(pages, partitions)
    if dedup_against is not None:
        from docvision_spark.functions.dedup import keep_first

        # the kernel rows, counted while the write runs over them
        kernel = Observation("kernel")
        extracted = out.observe(kernel, F.count(F.lit(1)).alias("rows"))
        eligible = F.col("error").isNull() & (F.length("text") > 0)
        published = (snapshots.read_table(spark, dedup_against)
                     .filter(eligible).select("id"))
        out = keep_first(extracted, F.when(eligible, F.col("id")),
                         [F.col("url").asc_nulls_last()], published=published)
    out = out.withColumn("bucket", F.pmod(F.crc32(F.col("url")), F.lit(N_BUCKETS)))

    data_dir = os.path.join(out_dir, "data")
    staging = snapshots.new_staging(out_dir)
    (out.write.mode("append")
        .partitionBy("bucket")
        .parquet(staging))

    def summarize(snap, n_docs: int, n_fail: int) -> dict:
        summary = {"snapshot_id": snap, "docs": n_docs, "failures": n_fail,
                   "wall_s": time.perf_counter() - t0}
        if dedup_against is not None:
            # filled by the write, unless AQE pruned the kernel stage from
            # its plan (an empty input): only then is it counted on its own
            try:
                rows = kernel.get["rows"]
            except Py4JJavaError:
                rows = extracted.count()
            summary["dedup_dropped"] = rows - n_docs
        return summary

    if not snapshots._collect_files(staging):
        # resumed run with nothing left to do: no new snapshot
        import shutil
        shutil.rmtree(staging, ignore_errors=True)
        return summarize(None, 0, 0)

    # one aggregate over this snapshot's staged rows gives the summary
    # counts and the lineage rows (one per task partition), collected once
    # as Arrow: commit moves the staged files, so the metrics table is
    # written from them, in one file (Python rows would make that write
    # run a Python worker: +0.6 s per job, measured on 4 vCPUs).
    parts = partition_metrics(spark.read.parquet(staging)).toArrow()
    n_docs = sum(parts["doc_count"].to_pylist())
    n_fail = sum(parts["n_failures"].to_pylist())
    snap = snapshots.commit(out_dir, staging, data_dir, n_docs)
    summary = summarize(snap, n_docs, n_fail)
    write_metrics(spark.createDataFrame(parts).coalesce(1), out_dir, snap,
                  pages_path, summary["wall_s"])
    return summary
