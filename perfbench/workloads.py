"""The benchmark workloads: inputs, setup, one timed pass, output checks.

Each workload calls the program only through its public entry points:
`run_extract_job` (jobs/extract.py), `main()` of jobs/curate.py and the
`queries()` registry. A pass is what `run.py` times; `check` runs after it,
outside the timed region, and returns (attempted, failed) operations.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import random
import shutil
import sys

from perfbench import inputs
from perfbench.probes import Tracer, error_class, kernel_results

# the headline queries of the repository's bench harness
HEADLINE = [
    "q01_pricing_summary", "q02_top_customers", "q04_running_value",
    "q05_sessionize", "q06_event_type_daily", "q08_brand_volume",
    "t01_token_stats", "t02_quality", "t03_langid", "t05_exact_dedup",
    "i01_incremental_exact",
    "d01_minhash_pairs", "d02_simhash_pairs", "d04_winnow_fingerprints",
    "s01_topk_cosine", "s02_knn_sample",
    "m02_image_dups", "t08_bpe_tokens", "c01_chunks",
]
# queries whose first call materializes a cache (determinism twins, media
# features); set-up builds them, so no timed pass pays for a build
CACHE_BUILDERS = ["d01_minhash_pairs", "d02_simhash_pairs",
                  "d04_winnow_fingerprints", "m02_image_dups"]
CURATE_FUNNEL = ["input_pages", "after_url_dedup", "extracted", "after_robots",
                 "after_canonical", "quality_pass", "after_exact_dedup",
                 "after_near_dedup"]
CURATE_REPORT_KEYS = CURATE_FUNNEL + ["extract_errors", "boiler_lines_stripped"]


def read_table_rows(table_dir: str, columns: list[str]) -> dict[str, list]:
    """Rows of an extract table's current snapshot, read without Spark."""
    import pyarrow.parquet as pq

    cols: dict[str, list] = {c: [] for c in columns}
    for path in table_files(table_dir):
        t = pq.read_table(path, columns=columns)
        for c in columns:
            cols[c] += t.column(c).to_pylist()
    return cols


def table_files(table_dir: str) -> list[str]:
    from docvision_spark.pipeline import snapshots

    m = snapshots.read_manifest(table_dir) or {}
    return [os.path.join(table_dir, "data", rel) for rel in m.get("files", [])]


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int, cores: int,
                 tracer: Tracer):
        self.root = root
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.inputs = inputs.Inputs(os.path.join(work, "inputs"), seed,
                                    procs=cores)
        self.shares: dict = {}
        self.pass_docs = 1

    def prepare(self) -> None:
        """Generate the inputs (untimed, not part of set-up)."""

    def warm(self, spark) -> None:
        """Python-worker warm-up after a session start."""

    def before_pass(self, i: int) -> None:
        """Untimed preparation of pass i."""

    def run_pass(self, spark, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> tuple[int, int]:
        raise NotImplementedError

    def after_pass(self, spark, i: int) -> None:
        """Untimed clean-up of pass i."""


def out_dir(work: str, name: str) -> str:
    return os.path.join(work, "run", name)


class Extract(Workload):
    """`run_extract_job` into an empty table."""

    name = "extract"

    def prepare(self) -> None:
        self.pages, self.shares = self.inputs.extract_table()
        self.pass_docs = self.shares["docs"]
        self.urls = set(self.inputs.extract_urls())
        self.expected = kernel_results(self.inputs.sample_rows())
        self.warm_pages = self.inputs.sample_table()

    def warm(self, spark) -> None:
        """The whole job twice, untimed, over the workload's own table:
        Python workers and the JVM code of scan, kernel, write, commit and
        lineage are warm, and the first run's JIT compilation has settled,
        before the first timed pass."""
        for _ in range(2):
            warm_job(spark, self.pages, out_dir(self.work, "extract-warm"))

    def before_pass(self, i: int) -> None:
        shutil.rmtree(out_dir(self.work, f"extract-{i}"), ignore_errors=True)

    def run_pass(self, spark, i: int) -> dict:
        from docvision_spark.pipeline.extract_job import run_extract_job

        return run_extract_job(spark, self.pages, out_dir(self.work, f"extract-{i}"),
                               resume=True)

    def check(self, i: int, summary: dict) -> tuple[int, int]:
        """One row per input url, typed errors only, and the in-process
        kernel's ids/errors on the sample."""
        table = out_dir(self.work, f"extract-{i}")
        rows = read_table_rows(table, ["url", "id", "error"])
        files = table_files(table)
        summary["write.files"] = len(files)
        summary["write.output_mb"] = sum(os.path.getsize(f) for f in files) / 2**20
        return len(self.urls), check_extract_rows(rows, self.urls, self.expected)

    def after_pass(self, spark, i: int) -> None:
        # the latest output stays: the traced run publishes it for recrawl
        if i > 0:
            shutil.rmtree(out_dir(self.work, f"extract-{i - 1}"), ignore_errors=True)


def warm_job(spark, pages: str, target: str) -> None:
    """`run_extract_job` into a scratch table that is removed again."""
    from docvision_spark.pipeline.extract_job import run_extract_job

    shutil.rmtree(target, ignore_errors=True)
    run_extract_job(spark, pages, target, resume=True)
    shutil.rmtree(target, ignore_errors=True)


def check_extract_rows(rows: dict[str, list], urls: set[str],
                       expected: dict[str, tuple]) -> int:
    """Failed docs: duplicate, foreign or missing rows, untyped errors, and
    sample docs whose (id, error) differ from the in-process kernel."""
    got: dict[str, tuple] = {}
    failed = 0
    for u, id_, err in zip(rows["url"], rows["id"], rows["error"]):
        if u in got or u not in urls:
            failed += 1
            continue
        got[u] = (id_, err)
        if error_class(err) == "untyped":
            failed += 1
    failed += len(urls - got.keys())
    failed += sum(got[u] != v for u, v in expected.items() if u in got)
    return failed


class Curate(Workload):
    """`main()` of jobs/curate.py over a table with planted duplicates."""

    name = "curate"

    def prepare(self) -> None:
        self.pages, self.shares, self.planted = self.inputs.curate_table()
        self.pass_docs = self.shares["docs"]
        spec = importlib.util.spec_from_file_location(
            "perfbench_curate_job", os.path.join(self.root, "jobs", "curate.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        self.first_report = os.path.join(
            self.work, "inputs", f"curate-s{self.seed}", "first_report.json")

    def warm(self, spark) -> None:
        """Python workers only: the kernel over the small sample table. The
        JVM stays cold for the curate operators, as in every
        `spark-submit jobs/curate.py`, so the timed pass is the session's
        first curate job."""
        from docvision_spark.pipeline.extract_job import extract_pages, read_pages

        pages = read_pages(spark, self.inputs.sample_table())
        extract_pages(pages).write.format("noop").mode("overwrite").save()

    def before_pass(self, i: int) -> None:
        shutil.rmtree(out_dir(self.work, f"curate-{i}"), ignore_errors=True)

    def run_pass(self, spark, i: int) -> dict:
        out = out_dir(self.work, f"curate-{i}")
        self._main(self.pages, out)
        with open(os.path.join(out, "report.json")) as f:
            return json.load(f)

    def _main(self, pages: str, out: str) -> None:
        from pyspark.sql import SparkSession

        argv = ["curate.py", "--input", pages, "--output", out,
                "--cores", str(self.cores)]
        # main() stops its session when done; keep it, so the pass runs on
        # the set-up session as the extract passes do
        stop, saved_argv = SparkSession.stop, sys.argv
        SparkSession.stop = lambda self: None
        sys.argv = argv
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                self.job.main()
        finally:
            SparkSession.stop, sys.argv = stop, saved_argv

    def check(self, i: int, report: dict) -> tuple[int, int]:
        """A monotone funnel, every planted drop, no duplicate url or content
        in the output, and the same report for every run of one seed."""
        import pyarrow.parquet as pq

        n = self.pass_docs
        funnel = [report[k] for k in CURATE_FUNNEL]
        if (report["input_pages"] != n or funnel != sorted(funnel, reverse=True)
                or report["extracted"] != report["after_url_dedup"]
                or report["after_url_dedup"] != n - len(self.planted["variant"])
                or report != self._first_report(report)):
            return n, n
        out = pq.read_table(os.path.join(out_dir(self.work, f"curate-{i}"), "data"),
                            columns=["url", "content_md5"])
        urls = out.column("url").to_pylist()
        md5s = out.column("content_md5").to_pylist()
        copies = set(self.planted["exact"]) | set(self.planted["near"])
        failed = (len(urls) - len(set(urls))) + (len(md5s) - len(set(md5s)))
        failed += sum(u in copies for u in urls)
        failed += abs(len(urls) - report["after_near_dedup"])
        return n, failed

    def _first_report(self, report: dict) -> dict:
        """The report of this seed's first pass in this checkout."""
        if not os.path.exists(self.first_report):
            with open(self.first_report, "w") as f:
                json.dump(report, f, sort_keys=True)
        with open(self.first_report) as f:
            return json.load(f)

    def after_pass(self, spark, i: int) -> None:
        spark.catalog.clearCache()
        shutil.rmtree(out_dir(self.work, f"curate-{i}"), ignore_errors=True)


class Queries(Workload):
    """The headline queries over seeded relational, documents and embeddings
    tables; the seed also sets the query order. Traced curate runs make one
    pass of it for the query layer."""

    name = "queries"

    def prepare(self) -> None:
        from docvision_spark.queries import queries

        self.sf, self.shares = self.inputs.query_tables()
        self.reg = queries()
        self.order = list(HEADLINE)
        random.Random(self.seed).shuffle(self.order)
        self.pass_docs = len(HEADLINE)
        self.times: dict[str, list[float]] = {n: [] for n in HEADLINE}

    def build(self, spark) -> None:
        """The one-time cache builds, before and outside the timed pass."""
        # drop the program's cache markers so every run builds anew
        data = os.path.join(self.root, "data")
        markers = [os.path.join(data, "twin", f"_{n}.json") for n in CACHE_BUILDERS]
        markers.append(os.path.join(data, "xcache", "_media.json"))
        for marker in markers:
            with contextlib.suppress(FileNotFoundError):
                os.remove(marker)
        for name in CACHE_BUILDERS:
            self.reg[name](spark, self.sf)

    def run_pass(self, spark, i: int) -> dict:
        results = {}
        for name in self.order:
            with self.tracer.span(name) as sp:
                results[name] = self.reg[name](spark, self.sf).toPandas()
            self.times[name].append(sp["seconds"])
        return results

    def check(self, i: int, results: dict) -> tuple[int, int]:
        """Each result equals its DuckDB oracle over the same tables."""
        import duckdb

        from docvision_spark.queries import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("set threads to 2")
            for f in os.listdir(self.sf):
                if f.endswith(".parquet"):
                    con.execute(f"create view {f[:-8]} as select * from "
                                f"read_parquet('{os.path.join(self.sf, f)}')")
            failed = sum(not frames_equal(df, con.execute(sql[name]).df())
                         for name, df in results.items())
        finally:
            con.close()
        return len(results), failed


def frames_equal(sdf, odf) -> bool:
    """Row-order-free equality; floats to 1e-9 absolute."""
    import numpy as np

    cols = sorted(sdf.columns)
    if cols != sorted(odf.columns) or len(sdf) != len(odf):
        return False
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    o = odf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        sv, ov = s[c], o[c]
        if sv.dtype.kind in "fc" or ov.dtype.kind in "fc":
            ok = np.allclose(sv.astype(float).fillna(-1e18),
                             ov.astype(float).fillna(-1e18), rtol=0, atol=1e-9)
        else:
            ok = (sv.astype(str).values == ov.astype(str).values).all()
        if not ok:
            return False
    return True


WORKLOADS = {w.name: w for w in (Extract, Curate)}
