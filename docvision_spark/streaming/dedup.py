"""Streaming exact dedup: drop re-crawled duplicate pages as they arrive.

The streaming twin of functions/dedup.exact_dedup (t05): the dedup key is
the md5 of the whitespace-normalized text — identical content under a
different url (mirror) or a re-crawl of the same url both collapse to one
surviving row.

Scale shape: dropDuplicatesWithinWatermark keeps ONE state entry per
fingerprint and evicts it once the event-time watermark passes, so state is
bounded by (dedup horizon x arrival rate), not by total corpus size — the
only viable shape at 10^12 docs of continuous ingestion. A plain
dropDuplicates on a stream would accrete unbounded state.

Reference has no streaming; this extends the crawl-ingest surface
(streaming/ingest.py) the same way t05 extends the batch surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from docvision_spark.functions.text import fingerprint_md5


def dedup_pages_stream(pages: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Content-fingerprint dedup over a watermarked pages stream.

    Emits the first-arriving row per fingerprint; later rows with the same
    fingerprint are dropped while the state entry lives (until the
    watermark passes its event time). Output keeps the full page row plus
    the fingerprint column.

    NULL-text rows bypass dedup entirely: dropDuplicates treats NULL as a
    joinable key, so routing them through the stateful operator would
    silently collapse every null-text page onto the first one — data loss
    disguised as dedup. They flow through unchanged (fp NULL) for the
    downstream extraction stage to classify as error rows.
    """
    marked = (pages.withWatermark("warc_ts", watermark)
                   .withColumn("fp", fingerprint_md5(F.col("text"))))
    deduped = marked.filter(F.col("fp").isNotNull()) \
                    .dropDuplicatesWithinWatermark(["fp"])
    return deduped.unionByName(marked.filter(F.col("fp").isNull()))


def dedup_against_corpus_stream(pages: DataFrame, history_fps: DataFrame,
                                watermark: str = "1 day") -> DataFrame:
    """Re-crawl mode on a live feed: the streaming twin of
    functions/dedup.incremental_exact_dedup (i01) / `jobs/extract.py
    --dedup-against`.

    Two drop stages compose:
      1. within-stream dups via the watermark-bounded state of
         dedup_pages_stream (first arrival per fingerprint wins), then
      2. already-published content via a STREAM-STATIC left-anti join on
         the fingerprint against the published corpus's persisted fp
         column — the natural Spark shape for "is this in the corpus
         already": no state grows for history (the static side is not
         stateful), and the history table is touched fp-column-only.

    `history_fps` must be a STATIC DataFrame with an `fp` column (e.g.
    the published table's content_md5/sha3 id read column-pruned). The
    static side is re-scanned per micro-batch, so at corpus scale point
    it at a compacted, fp-bucketed artifact — then each micro-batch's
    anti-join is a pruned scan + hash join, never a full-corpus shuffle.
    NULL-fp rows pass through both stages unchanged (same rationale as
    dedup_pages_stream): a null key matches nothing, so the left-anti join
    keeps them without a split."""
    return (dedup_pages_stream(pages, watermark)
            .join(history_fps.select("fp"), "fp", "left_anti"))


def start_incremental_dedup_query(
    spark: SparkSession, pages_dir: str, history_fps: DataFrame,
    out_dir: str, checkpoint_dir: str, watermark: str = "1 day",
    available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once re-crawl-deduplicated feed: parquet sink + checkpoint."""
    from docvision_spark.streaming.ingest import (
        read_pages_stream, start_parquet_sink)

    out = dedup_against_corpus_stream(
        read_pages_stream(spark, pages_dir), history_fps, watermark)
    return start_parquet_sink(out, out_dir, checkpoint_dir, available_now)


def start_dedup_query(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str,
    watermark: str = "1 day", available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once deduplicated feed: parquet sink + checkpoint."""
    from docvision_spark.streaming.ingest import (
        read_pages_stream, start_parquet_sink)

    out = dedup_pages_stream(read_pages_stream(spark, pages_dir), watermark)
    return start_parquet_sink(out, out_dir, checkpoint_dir, available_now)
