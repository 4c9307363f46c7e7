"""Streaming extraction: the batch kernel, unchanged, over readStream.

The reference has no streaming at all — its closest concept is the bounded
asyncio fan-out consuming pages as they complete (core/parser.py:288-314).
Here the same deterministic kernel runs continuously over an arriving
parquet feed (stand-in for a Kafka/WARC drop topic):

  readStream(pages) -> salt repartition -> mapInPandas(kernel)
      -> writeStream parquet (exactly-once via checkpoint)
  readStream(pages) -> withWatermark(warc_ts) -> windowed host counts
      -> crawl-rate metrics sink

Late data: warc_ts is the event time; the watermark bounds state for the
windowed aggregation. Extraction itself is stateless, so no watermark is
needed on that branch. sortWithinPartitions (the batch packing step) is not
available on streams — each micro-batch is already size-bounded by
maxFilesPerTrigger, which plays the same role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from docvision_spark.pipeline.extract_job import (OUTPUT_SCHEMA, _extract_batches,
                                                  salted_spread)
from docvision_spark.pipeline.shipping import map_in_pandas

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def read_pages_stream(spark: SparkSession, pages_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def extract_stream(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """Stateless streaming extraction — same kernel, same output schema."""
    prepared = salted_spread(pages.select("url", "html", "lang"), partitions)
    return map_in_pandas(prepared, _extract_batches, OUTPUT_SCHEMA)


def start_extract_query(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once streaming sink: parquet + checkpoint (the streaming twin
    of the batch snapshot commit)."""
    out = extract_stream(read_pages_stream(spark, pages_dir))
    return start_parquet_sink(out, out_dir, checkpoint_dir, available_now)


def start_parquet_sink(df: DataFrame, out_dir: str, checkpoint_dir: str,
                       available_now: bool) -> StreamingQuery:
    """Start an append-mode parquet sink with a checkpoint (exactly-once);
    available_now drains what has arrived and stops."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def crawl_rate(pages: DataFrame, window: str = "1 day",
               watermark: str = "2 days") -> DataFrame:
    """Watermarked windowed aggregation: docs + bytes per host per window.
    The state-bounding pattern for 10^12-doc continuous ingestion."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"))
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.octet_length("html")).alias("bytes_in"))
        .select(F.col("w.start").alias("window_start"), "host",
                "n_docs", "bytes_in")
    )


def start_crawl_rate_query(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    agg = crawl_rate(read_pages_stream(spark, pages_dir))
    return start_parquet_sink(agg, out_dir, checkpoint_dir, available_now)
