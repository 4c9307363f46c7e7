"""Round-6 optimization measurement harness (guide §1).

NOT the driver bench — bench.py stays frozen. This isolates each headline
query with the noop sink (guide §1.4), times the same `.count()` action the
driver bench uses, and can dump `.explain("formatted")` plans to
plans/r06/<query>_<tag>.txt.

Usage:
  python bench_extra.py [--queries q01,d02,...|all] [--plans TAG]
      [--attempts N] [--noop] [--extract]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

from bench import HEADLINE  # noqa: E402


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="all")
    ap.add_argument("--plans", default=None,
                    help="dump explain() to plans/r06/<q>_<TAG>.txt")
    ap.add_argument("--attempts", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="also time a noop-sink write per query")
    ap.add_argument("--extract", action="store_true",
                    help="time the extraction stage (noop-equivalent count)")
    args = ap.parse_args()

    from docvision_spark.pipeline.session import get_spark
    from docvision_spark.queries import queries

    spark = get_spark(app_name="docvision-bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    names = HEADLINE if args.queries == "all" else [
        n for n in queries() if any(n.startswith(p)
                                    for p in args.queries.split(","))]
    reg = queries()
    out: dict[str, dict] = {}

    if args.extract:
        from pyspark.sql import functions as F

        from docvision_spark.corpus import ensure_corpus
        from docvision_spark.pipeline.extract_job import (extract_pages,
                                                          read_pages)
        pages_dir = ensure_corpus(
            os.path.join(REPO, "data", "pages_bench_48000"), 48000)
        pages = read_pages(spark, pages_dir)
        sc.setJobDescription("extract: warmup")
        extract_pages(pages.limit(256), partitions=CPUS).count()
        walls = []
        for i in range(args.attempts):
            sc.setJobDescription(f"extract attempt {i}")
            t0 = time.perf_counter()
            o = extract_pages(pages)
            o.groupBy(F.isnull("error").alias("ok")).count().collect()
            walls.append(round(time.perf_counter() - t0, 3))
        out["extract"] = {"count_walls": walls}
        if args.plans:
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            with open(os.path.join(REPO, "plans", "r06",
                                   f"extract_{args.plans}.txt"), "w") as fh:
                fh.write(plan_text(extract_pages(pages)))

    for name in names:
        fn = reg[name]
        rec: dict = {}
        # warm the tier caches (twin/xcache/mcache) outside the timing
        sc.setJobDescription(f"{name}: cache warm")
        df = fn(spark, SF_DIR)
        df.count()
        walls = []
        for i in range(args.attempts):
            sc.setJobDescription(f"{name}: count attempt {i}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            walls.append(round(time.perf_counter() - t0, 3))
        rec["count_walls"] = walls
        if args.noop:
            nwalls = []
            for i in range(args.attempts):
                sc.setJobDescription(f"{name}: noop attempt {i}")
                t0 = time.perf_counter()
                (fn(spark, SF_DIR).write.format("noop")
                 .mode("overwrite").save())
                nwalls.append(round(time.perf_counter() - t0, 3))
            rec["noop_walls"] = nwalls
        if args.plans:
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            with open(os.path.join(REPO, "plans", "r06",
                                   f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(plan_text(fn(spark, SF_DIR)))
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)

    print("FINAL " + json.dumps({"sf": SF_DIR, "cpus": CPUS,
                                 "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
