"""Per-layer metrics of a traced run.

`traced_extras` runs the layer probes a traced run adds after its timed
passes; `per_layer` turns the spans, the event log and the probes into the
PER_LAYER metrics of `run.py`.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

from perfbench.eventlog import EventLog
from perfbench.probes import TYPED_ERRORS, kernel_pass
from perfbench.workloads import (CURATE_REPORT_KEYS, HEADLINE, Queries, out_dir,
                                 warm_job)

END_TO_END = [("docs_per_s", "docs/s"), ("suite_s", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]
PER_LAYER = (
    [("session.start_s", "s"), ("session.warm_s", "s"),
     ("kernel.docs_per_s_core", "docs/s"), ("kernel.doc_ms_p50", "ms"),
     ("kernel.doc_ms_p99", "ms")]
    + [(f"kernel.{p}_s", "s") for p in
       ("charset", "dom", "feed", "emit", "pdf", "sha3", "other")]
    + [(f"kernel.docs.{m}", "count") for m in ("html", "pdf", "feed")]
    + [(f"kernel.errors.{e}", "count") for e in TYPED_ERRORS + ("untyped",)]
    + [("scan.noop_s", "s"), ("extract.noop_s", "s"), ("assemble.rows_s", "s"),
       ("assemble.arrow_s", "s"), ("extract.exchanges", "count"),
       ("extract.tasks", "count"), ("extract.task_s_p50", "s"),
       ("extract.task_s_max", "s"), ("extract.python_start_s", "s"),
       ("extract.python_init_s", "s"), ("extract.python_exec_s", "s"),
       ("extract.python_sent_mb", "MB"), ("extract.python_recv_mb", "MB"),
       ("extract.docs_per_s_1core", "docs/s"), ("scaling_eff", "ratio"),
       ("write.output_mb", "MB"), ("write.files", "count"),
       ("commit.post_write_jobs", "count"), ("commit.post_write_s", "s"),
       ("recrawl.resume_dropped", "count"), ("recrawl.dedup_dropped", "count"),
       ("recrawl.kernel_docs", "count"), ("recrawl.kernel_useful_frac", "ratio"),
       ("curate.jobs", "count"), ("curate.stages", "count"),
       ("curate.recomputed_stages", "count"), ("curate.recomputed_s", "s"),
       ("curate.extract_s", "s"), ("curate.kernel_useful_frac", "ratio")]
    + [(f"curate.funnel.{k}", "count") for k in CURATE_REPORT_KEYS]
    + [("query.build_s", "s")] + [(f"query.{q}_s", "s") for q in HEADLINE]
    + [("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.core_util", "ratio"), ("spark.cpu_frac", "ratio"),
       ("spark.gc_s", "s"), ("spark.shuffle_read_mb", "MB"),
       ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
       ("mem.jvm_peak_mb", "MB"), ("mem.python_peak_mb", "MB"),
       ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"),
       ("trace.overhead_frac", "ratio"), ("fail_frac", "ratio")]
)


PASS_RE = r"^pass\d+(/|$)"


def traced_extras(run) -> None:
    """Kernel pass, noop scans, the recrawl increment and the 1-core pass."""
    wl, sp, layer = run.wl, run.tracer.span, run.layer
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    with sp("kernel_pass"):
        layer.update(kernel_pass(wl.inputs.sample_rows()))
    with sp("scan.noop") as s:
        read_pages(run.spark, wl.pages).write.format("noop").mode("overwrite").save()
    layer["scan.noop_s"] = s["seconds"]
    with sp("extract.noop") as s:
        (extract_pages(read_pages(run.spark, wl.pages))
         .write.format("noop").mode("overwrite").save())
    layer["extract.noop_s"] = s["seconds"]
    if wl.name == "extract":
        recrawl(run)
        one_core(run)
    if wl.name == "curate":
        headline_queries(run)


def recrawl(run) -> None:
    """`run_extract_job(resume=True, dedup_against=...)` of a seeded
    increment into a copy of the last pass's published table."""
    from docvision_spark.pipeline.extract_job import run_extract_job

    wl = run.wl
    pages, shares = wl.inputs.recrawl_table()
    published = out_dir(run.work, f"extract-{len(run.passes) - 1}")
    target = out_dir(run.work, "recrawl")
    shutil.rmtree(target, ignore_errors=True)
    shutil.copytree(published, target)
    with run.tracer.span("recrawl"):
        summary = run_extract_job(run.spark, pages, target, resume=True,
                                  dedup_against=published)
    run.recrawl = {"summary": summary, "shares": shares}
    # the kernel ran on every increment doc the resume anti-join kept; each
    # of them is committed or dropped as a copy
    kept = summary["docs"] + summary["dedup_dropped"]
    ok = (summary["docs"] == shares["fresh"]
          and summary["dedup_dropped"] == shares["copies"]
          and shares["docs"] - kept == shares["committed"])
    run.attempted += shares["docs"]
    run.failed += 0 if ok else shares["docs"]


def headline_queries(run) -> None:
    """One pass of the headline queries on the curate session: the query
    layer and the `functions` operators outside the curate funnel."""
    q = Queries(run.wl.root, run.work, run.args.seed, run.cores, run.tracer)
    q.prepare()
    with run.tracer.span("queries.build") as b:
        q.build(run.spark)
    run.layer["query.build_s"] = b["seconds"]
    with run.tracer.span("queries.pass"):
        results = q.run_pass(run.spark, 0)
    a, f = q.check(0, results)
    run.attempted += a
    run.failed += f
    run.queries = q


def one_core(run) -> None:
    """The extract pass once more on a local[1] session, for scaling_eff."""
    from docvision_spark.pipeline.extract_job import run_extract_job

    wl = run.wl
    run.stop()
    with run.tracer.span("one_core"):
        with run.tracer.span("session.start"):
            spark = run.start(1)
        with run.tracer.span("session.warm"):
            warm_job(spark, wl.warm_pages, out_dir(run.work, "extract-warm"))
        target = out_dir(run.work, "one-core")
        shutil.rmtree(target, ignore_errors=True)
        with run.tracer.span("pass") as s:
            run_extract_job(spark, wl.pages, target, resume=True)
    shutil.rmtree(target, ignore_errors=True)
    dps4 = statistics.median(wl.pass_docs / p["seconds"] for p in run.passes)
    run.layer["extract.docs_per_s_1core"] = wl.pass_docs / s["seconds"]
    run.layer["scaling_eff"] = dps4 / (run.cores * run.layer["extract.docs_per_s_1core"])


def _per_pass(values: list[float], n: int) -> float:
    return sum(values) / n if n else 0.0


def per_layer(run, e2e: dict) -> dict:
    m = dict.fromkeys((k for k, _ in PER_LAYER), 0.0)
    m.update(run.layer)
    n = len(run.passes)
    pass_s = [p["seconds"] for p in run.passes]
    med = statistics.median
    for key in ("start_s", "warm_s"):
        m[f"session.{key}"] = run.setup_times[key]

    log = EventLog(run.evdir)
    passes = log.select(PASS_RE)
    tot = passes.totals()
    m.update({"spark.jobs": tot["jobs"] / n, "spark.stages": tot["stages"] / n,
              "spark.core_util": tot["run_s"] / (run.cores * sum(pass_s)),
              "spark.cpu_frac": tot["cpu_frac"], "spark.gc_s": tot["gc_s"] / n,
              "spark.shuffle_read_mb": tot["shuffle_read_mb"] / n,
              "spark.shuffle_write_mb": tot["shuffle_write_mb"] / n,
              "spark.spill_mb": tot["spill_mb"] / n})

    mip = [s for s in passes.stages if s["python_map"]]
    task_ms = sorted(t for s in mip for t in s["task_ms"])
    if mip:
        m.update({
            "extract.exchanges": passes.exchanges_below_python_map(),
            "extract.tasks": _per_pass([s["n_tasks"] for s in mip], n),
            "extract.task_s_p50": med(task_ms) / 1e3,
            "extract.task_s_max": task_ms[-1] / 1e3,
            "extract.python_start_s": _per_pass([s["python_start_ms"] / 1e3 for s in mip], n),
            "extract.python_init_s": _per_pass([s["python_init_ms"] / 1e3 for s in mip], n),
            "extract.python_exec_s": _per_pass([s["python_exec_ms"] / 1e3 for s in mip], n),
            "extract.python_sent_mb": _per_pass([s["python_sent_bytes"] / 2**20 for s in mip], n),
            "extract.python_recv_mb": _per_pass([s["python_recv_bytes"] / 2**20 for s in mip], n),
        })

    if run.wl.name == "extract":
        m["write.output_mb"] = med(p["write.output_mb"] for p in run.passes)
        m["write.files"] = med(p["write.files"] for p in run.passes)
        post_jobs, post_s = [], []
        for i, p in enumerate(run.passes):
            sel = log.select(rf"^pass{i}(/|$)")
            writes = [j for j in sel.jobs if any(
                s["python_map"] for s in sel.stages if s["job_id"] == j["job_id"]
                and s["app"] == j["app"])]
            if not writes:
                continue
            w_end = max(j["end_ms"] for j in writes)
            post_jobs.append(sum(j["submit_ms"] >= w_end for j in sel.jobs))
            post_s.append(p["end"] - w_end / 1e3)
        m["commit.post_write_jobs"] = med(post_jobs) if post_jobs else 0
        m["commit.post_write_s"] = med(post_s) if post_s else 0
        rc = log.select(r"^recrawl(/|$)")
        kernel_docs = sum(s["python_rows_out"] for s in rc.stages if s["python_map"])
        summary, shares = run.recrawl["summary"], run.recrawl["shares"]
        m.update({"recrawl.resume_dropped": shares["docs"] - kernel_docs,
                  "recrawl.dedup_dropped": summary["dedup_dropped"],
                  "recrawl.kernel_docs": kernel_docs,
                  "recrawl.kernel_useful_frac":
                      summary["docs"] / kernel_docs if kernel_docs else 0.0})

    if run.wl.name == "curate":
        jobs, stages, rec_n, rec_s, ext_s = [], [], [], [], []
        for i in range(n):
            sel = log.select(rf"^pass{i}(/|$)")
            jobs.append(len(sel.jobs))
            stages.append(len(sel.stages))
            again = sel.recomputed()
            rec_n.append(len(again))
            rec_s.append(sum((s["complete_ms"] - s["submit_ms"]) / 1e3 for s in again))
            ext_s.append(sum((s["complete_ms"] - s["submit_ms"]) / 1e3
                             for s in sel.stages if s["python_map"]))
        with open(run.wl.first_report) as f:
            report = json.load(f)
        m.update({"curate.jobs": med(jobs), "curate.stages": med(stages),
                  "curate.recomputed_stages": med(rec_n),
                  "curate.recomputed_s": med(rec_s), "curate.extract_s": med(ext_s),
                  "curate.kernel_useful_frac":
                      report["after_near_dedup"] / report["extracted"]})
        for k in CURATE_REPORT_KEYS:
            m[f"curate.funnel.{k}"] = report[k]
        for q, ts in run.queries.times.items():
            m[f"query.{q}_s"] = med(ts)

    m["mem.jvm_peak_mb"] = run.rss_mb["jvm"]
    m["mem.python_peak_mb"] = run.rss_mb["python"]
    m["trace.pass_s"] = e2e["suite_s"]
    latest = os.path.join(run.work, "results", f"{run.wl.name}-untraced-latest.json")
    if os.path.exists(latest):
        with open(latest) as f:
            untraced = json.load(f)["metrics"]["suite_s"]["value"]
        m["trace.untraced_pass_s"] = untraced
        m["trace.overhead_frac"] = e2e["suite_s"] / untraced - 1
    m["fail_frac"] = run.failed / run.attempted if run.attempted else 0.0
    return m
