"""Evidence for the compaction operator's value: scan wall on a
fragmented snapshot table before vs after compact() (round-4 verdict
directive — the operator's value should be evidenced, not asserted).

Protocol: the bench corpus is committed in K incremental slices (the
daily-incremental pattern that fragments real tables — each commit lands
tasks x buckets small files), a representative pruned scan is timed
best-of-N on the fragmented table, then compact() rewrites each bucket
partition into ~target-size files in one atomic replace snapshot and the
SAME scan is re-timed. Writes BENCH/compaction.json.

At sandbox scale the per-file open/footer overhead is milliseconds, so
the wall delta is modest; the number that transfers to 10^12-doc scale
is the file-count ratio (per-scan task-setup cost is linear in it).

Usage: python scripts/compaction_bench.py [n_docs] [--slices K]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def timed_scan(spark, table_dir: str, n: int = 3) -> list[float]:
    from pyspark.sql import functions as F

    from docvision_spark.pipeline import snapshots

    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        df = snapshots.read_table(spark, table_dir)
        df.groupBy("lang").agg(
            F.count("*"), F.sum("page_count"),
            F.countDistinct("processing_mode")).collect()
        walls.append(round(time.perf_counter() - t0, 3))
    return walls


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    slices = 8
    if "--slices" in sys.argv:
        slices = int(sys.argv[sys.argv.index("--slices") + 1])

    from pyspark.sql import functions as F

    from docvision_spark.corpus import ensure_corpus
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import read_pages, run_extract_job
    from docvision_spark.pipeline.session import default_cores, get_spark

    cores = default_cores()
    spark = get_spark(app_name="compaction-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    pages_dir = ensure_corpus(
        os.path.join(REPO, "data", f"pages_bench_{n_docs}"), n_docs)
    table_dir = os.path.join(REPO, "data", "compaction_bench_table")
    shutil.rmtree(table_dir, ignore_errors=True)

    # K incremental commits: slice by url hash so each run_extract_job call
    # appends ~n_docs/K docs (the resume anti-join keeps them disjoint)
    pages = read_pages(spark, pages_dir)
    for k in range(slices):
        sl = str(os.path.join(REPO, "data", f"_cb_slice_{k}"))
        shutil.rmtree(sl, ignore_errors=True)
        pages.filter(F.pmod(F.crc32("url"), F.lit(slices)) == k) \
             .write.parquet(sl)
        run_extract_job(spark, sl, table_dir, partitions=cores)
        shutil.rmtree(sl, ignore_errors=True)

    m = snapshots.read_manifest(table_dir)
    files_before = len(m["files"])
    timed_scan(spark, table_dir, n=1)  # warm python workers / scan JIT
    before = timed_scan(spark, table_dir)

    t0 = time.perf_counter()
    rep = snapshots.compact(spark, table_dir, target_mb=64)
    compact_wall = round(time.perf_counter() - t0, 3)
    after = timed_scan(spark, table_dir)

    result = {
        "n_docs": n_docs, "slices": slices, "cores": cores,
        "files_before": files_before, "files_after": rep["files_after"],
        "compacted_partitions": rep["compacted_partitions"],
        "compact_wall_s": compact_wall,
        "scan_walls_before_s": before, "scan_walls_after_s": after,
        "scan_best_before_s": min(before), "scan_best_after_s": min(after),
        "speedup": round(min(before) / min(after), 2),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "compaction.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    shutil.rmtree(table_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
