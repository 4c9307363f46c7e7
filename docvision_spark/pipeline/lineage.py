"""Per-partition lineage + metrics table (north-rule fields, FIXTURES.md §4).

Replaces the reference's tqdm progress + silent per-page error swallow
(core/parser.py:308-320) with durable rows: one per task partition, plus up
to 5 failure samples each. Computed from the snapshot's *staged* parquet
only, with a column-pruned scan (partition_id, url, bytes_in, error, text
length) — the html payload is never re-read, and rows of earlier snapshots
are never relabelled with this one's id.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docvision_spark import EXTRACTOR_VERSION


def partition_metrics(staged: DataFrame) -> DataFrame:
    """One row per task partition of ONE snapshot's staged rows: doc and
    failure counts, bytes in/out and up to 5 failure samples. Its sums are
    the job summary's docs/failures and its rows the snapshot's lineage
    rows."""
    return (
        staged.select("partition_id", "url", "bytes_in", "error",
                      F.length("text").alias("bytes_out"))
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failures"),
            F.slice(
                F.collect_list(
                    F.when(F.col("error").isNotNull(),
                           F.struct(F.col("url"), F.col("error")))
                ), 1, 5,
            ).alias("failure_samples"),
        )
    )


def write_metrics(
    per_part: DataFrame,
    out_dir: str,
    snapshot_id: str,
    input_split: str,
    wall_s: float,
) -> None:
    """Append a snapshot's partition_metrics rows to the lineage table."""
    (per_part
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .withColumn("input_split", F.lit(input_split))
        .withColumn("extractor_version", F.lit(EXTRACTOR_VERSION))
        .withColumn("wall_time_s", F.lit(float(wall_s)))
        .withColumn("committed_at", F.from_unixtime(F.lit(time.time())).cast("timestamp"))
        .write.mode("append").parquet(os.path.join(out_dir, "metrics")))
