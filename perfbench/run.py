"""Benchmark of the docvision_spark entry points.

    python3 perfbench/run.py --workload extract|curate \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The run generates its inputs from
the seed under `.bench_work/` (untimed), then sets up a `local[nproc]`
session: JVM and session start plus untimed warm-up runs of the workload's
job (Python workers, JVM compilation), what every job submission pays once.
It then repeats timed passes of the workload until S seconds of passes are
measured. Every pass is reported; its outputs are checked after it, outside
the timed region.

With `--trace 0` the metrics are the end-to-end ones:
  docs_per_s   input pages / pass wall, median over passes
  suite_s      wall time of one pass (one extract job, one curate job), median
  setup_s      JVM + session start and the warm-up runs
  peak_rss_mb  peak resident memory of the process tree (JVM RSS plus the
               proportional set size of the driver and Python workers)
               during the timed passes; the JVM heap is committed in full
               at start
With `--trace 1` the same workload runs with Spark's event log on and spans
around every call into the program, and the metrics are the per-layer ones
(layers.PER_LAYER; 0 where the layer does not run in the workload).

The last stdout line is the result JSON; the same object, with per-pass
values and input shares, goes to `.bench_work/results/`. Failed operations
(docs, or queries) are `failed` out of `attempted`. On every way out,
SIGTERM included, the run stops the session and waits for each process it
started (the JVM, its Python workers, the input generator's helpers).

Environment: SPARK_DRIVER_MEM (default 2g) sizes the driver JVM.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# stop starting passes once a run has used this much wall time
RUN_WALL_LIMIT_S = 140
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, work: str):
        from perfbench.probes import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, self.trace)
        self.wl = WORKLOADS[args.workload](ROOT, work, args.seed, self.cores,
                                           self.tracer)
        self.evdir = os.path.join(work, "eventlog", self.run_id)
        self.spark = None
        self.setup_times: dict[str, float] = {}
        self.passes: list[dict] = []
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}
        self.recrawl: dict | None = None   # traced extract runs
        self.queries = None                # traced curate runs
        self.rss_mb: dict[str, float] = {}  # peaks over the timed passes

    # -- session -------------------------------------------------------------
    def conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        # the heap is committed and touched at start: JVM memory then does
        # not depend on when G1 chooses to grow the heap
        heap = os.environ["SPARK_DRIVER_MEM"]
        conf = {
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{heap} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.evdir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.evdir,
                         "spark.eventLog.compress": "false"})
        return conf

    def start(self, cores: int):
        from docvision_spark.pipeline.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               cores=cores, extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, cores: int) -> dict:
        sp = self.tracer.span
        with sp("setup") as total:
            with sp("session.start") as s_start:
                spark = self.start(cores)
            with sp("session.warm") as s_warm:
                self.wl.warm(spark)
        return {"start_s": s_start["seconds"], "warm_s": s_warm["seconds"],
                "setup_s": total["seconds"]}

    def shutdown(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- passes --------------------------------------------------------------
    def run_passes(self, t_run0: float) -> None:
        measured = 0.0
        i = 0
        while True:
            self.wl.before_pass(i)
            result = None
            with self.tracer.span(f"pass{i}") as sp:
                try:
                    result = self.wl.run_pass(self.spark, i)
                except Exception:  # noqa: BLE001 — a failed pass fails its docs
                    traceback.print_exc()
            rec = {"seconds": sp["seconds"], "end": sp["end"]}
            if result is None:
                a, f = self.wl.pass_docs, self.wl.pass_docs
            else:
                a, f = self.wl.check(i, result)
                rec.update(result)
            rec.update(attempted=a, failed=f)
            self.attempted += a
            self.failed += f
            self.passes.append(rec)
            self.wl.after_pass(self.spark, i)
            i += 1
            measured += sp["seconds"]
            elapsed = time.perf_counter() - t_run0
            if measured >= self.args.seconds or elapsed + sp["seconds"] > RUN_WALL_LIMIT_S:
                break

    # -- metrics -------------------------------------------------------------
    def end_to_end(self) -> dict:
        pass_s = [p["seconds"] for p in self.passes]
        return {
            "docs_per_s": median([self.wl.pass_docs / s for s in pass_s]),
            "suite_s": median(pass_s),
            "setup_s": self.setup_times["setup_s"],
            "peak_rss_mb": self.rss_mb["total"],
        }


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def adopt_orphans() -> None:
    """Become the subreaper of every process the run starts: one whose parent
    ends first (a Python worker daemon of the JVM) is re-parented to this
    process, not to init, so `reap_children` still finds it."""
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # comm may contain spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(name))
    return pids


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until no child is left: first for them to end on their own (the
    worker daemon exits once the JVM has), then on SIGTERM, then SIGKILL."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = child_pids()
            if not pids:
                return
            if time.monotonic() > deadline:
                break
            for pid in pids if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
    print(f"perfbench: children still running: {child_pids()}", file=sys.stderr)


def prepare_env(work: str) -> None:
    for d in ("tmp", "spark-local", "results", "run"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # Python workers import the program from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "docvision_spark", "__init__.py")):
        print(f"perfbench: no docvision_spark package under {ROOT}; run from "
              "a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work")
    prepare_env(work)

    from perfbench import layers
    from perfbench.probes import RssSampler

    run = Run(args, work)
    t0 = time.perf_counter()
    with RssSampler() as rss:
        try:
            run.wl.prepare()
            prepare_s = time.perf_counter() - t0
            run.setup_times = run.setup(run.cores)
            # peak memory of the workload itself: the timed passes, not the
            # input generator
            rss.reset()
            run.run_passes(time.perf_counter())
            rss.sample()
            run.rss_mb = {"total": rss.peak_total / 2**20, "jvm": rss.peak_jvm / 2**20,
                          "python": rss.peak_python / 2**20}
            if run.trace:
                layers.traced_extras(run)
        finally:
            run.shutdown()
    metrics = run.end_to_end()
    if run.trace:
        metrics = layers.per_layer(run, metrics)
        run.tracer.dump(os.path.join(work, "results", f"{run.run_id}-spans.jsonl"))
    names = layers.PER_LAYER if run.trace else layers.END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": unit}
                    for k, unit in names},
    }
    detail = dict(result, workload=args.workload, seed=args.seed,
                  trace=args.trace, cores=run.cores, inputs=run.wl.shares,
                  prepare_s=prepare_s, setup=run.setup_times, passes=run.passes,
                  rss_mb=run.rss_mb,
                  wall_s=time.perf_counter() - t0)
    out = os.path.join(work, "results", f"{run.run_id}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if not run.trace:
        latest = os.path.join(work, "results", f"{args.workload}-untraced-latest.json")
        shutil.copyfile(out, latest)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    adopt_orphans()
    # a terminated run unwinds: the session stops and every child is waited for
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        rc = main()
    finally:
        reap_children()
    sys.exit(rc)
