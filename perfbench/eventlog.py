"""Stdlib reader for Spark event logs: one row per job and per stage.

Reads uncompressed logs (`spark.eventLog.compress=false`; Spark 4 defaults
to zstd), both single files and Spark 4's rolling `eventlog_v2_*`
directories. A directory may hold the logs of several applications; stage
and job ids restart per application, so every row carries its `app`.

Stage rows hold executorRunTime, executorCpuTime, jvmGCTime, shuffle
read/write bytes, spill and task durations, plus the Python metrics of any
Python map node (MapInPandas, MapInArrow) whose metrics the stage updated.
Jobs are attributed to the caller through `spark.job.description` (set with
`setJobDescription`).
"""

from __future__ import annotations

import json
import os
import re

_SQL = "org.apache.spark.sql.execution.ui."
_PLAN_EVENTS = (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate")
# the kernel boundary: a Python map over Arrow batches
_PY_MAP_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow")
# Python map node SQL metric names -> stage row keys
_PY_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_exec_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
    "number of output rows": "python_rows_out",
}
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}


def log_files(path: str) -> list[str]:
    """Event-log files under `path` (a file, a log dir, or a dir of them),
    rolling parts in index order."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(full) if p.startswith("events_")]
            if any(p.endswith((".zstd", ".lz4", ".snappy", ".lzf")) for p in parts):
                raise ValueError(f"{full}: compressed event log; set "
                                 "spark.eventLog.compress=false")
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(full, p) for p in parts]
        elif os.path.isfile(full) and not name.startswith("."):
            out.append(full)
    return out


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _python_maps(info: dict) -> list[tuple[int, set[int]]]:
    """(exchanges below, metric accumulator ids) per Python map node."""
    out = []
    for node in _plan_nodes(info):
        if node.get("nodeName") in _PY_MAP_NODES:
            below = sum(n.get("nodeName") == "Exchange"
                        for n in _plan_nodes(node))
            out.append((below, {m["accumulatorId"] for m in node.get("metrics", [])}))
    return out


class EventLog:
    """Parsed jobs, stages and SQL executions of one or more applications."""

    def __init__(self, path: str):
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.sql: dict[tuple[str, int], dict] = {}
        events: list[tuple[str, dict]] = []
        app = ""
        for fname in log_files(path):
            with open(fname) as f:
                for line in f:
                    ev = json.loads(line)
                    if ev["Event"] == "SparkListenerApplicationStart":
                        app = ev.get("App ID", fname)
                    events.append((app, ev))
        # AQE may post the plan that holds a stage's Python node only after
        # the stage completes: collect every plan's node metrics first
        mip_ids: dict[str, set[int]] = {}
        for app, ev in events:
            if ev["Event"] in _PLAN_EVENTS:
                rec = self.sql.setdefault((app, ev["executionId"]), {
                    "description": ev.get("description"),
                    "exchanges_below_map": None})
                nodes = _python_maps(ev["sparkPlanInfo"])
                if nodes and rec["exchanges_below_map"] is None:
                    rec["exchanges_below_map"] = max(n for n, _ in nodes)
                for _, ids in nodes:
                    mip_ids.setdefault(app, set()).update(ids)
        jobs: dict[tuple[str, int], dict] = {}
        stage_job: dict[tuple[str, int], int] = {}
        tasks: dict[tuple[str, int], list[int]] = {}
        for app, ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                job = {"app": app, "job_id": ev["Job ID"],
                       "description": props.get("spark.job.description"),
                       "sql_id": int(sql_id) if sql_id is not None else None,
                       "stage_ids": ev["Stage IDs"],
                       "submit_ms": ev["Submission Time"],
                       "end_ms": None, "ok": None}
                jobs[(app, ev["Job ID"])] = job
                self.jobs.append(job)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault((app, sid), ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                job = jobs[(app, ev["Job ID"])]
                job["end_ms"] = ev["Completion Time"]
                job["ok"] = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                tasks.setdefault((app, ev["Stage ID"]), []).append(
                    info["Finish Time"] - info["Launch Time"])
            elif kind == "SparkListenerStageCompleted":
                self.stages.append(self._stage(
                    app, ev["Stage Info"], stage_job, jobs, tasks,
                    mip_ids.get(app, set())))

    @staticmethod
    def _stage(app, si, stage_job, jobs, tasks, mip_ids) -> dict:
        job = jobs.get((app, stage_job.get((app, si["Stage ID"]))), {})
        row = {"app": app, "stage_id": si["Stage ID"],
               "attempt": si.get("Stage Attempt ID", 0),
               "job_id": job.get("job_id"), "description": job.get("description"),
               "sql_id": job.get("sql_id"),
               "n_tasks": si["Number of Tasks"],
               "submit_ms": si.get("Submission Time"),
               "complete_ms": si.get("Completion Time"),
               "failed": "Failure Reason" in si,
               # the operator signature: RDD scope names + task count
               "scopes": tuple(sorted(json.loads(r["Scope"])["name"]
                                      for r in si.get("RDD Info", [])
                                      if r.get("Scope"))),
               "task_ms": sorted(tasks.get((app, si["Stage ID"]), [])),
               "python_map": False}
        for key in set(_STAGE_METRICS.values()) | set(_PY_METRICS.values()):
            row[key] = 0
        for acc in si.get("Accumulables", []):
            name = acc.get("Name")
            if name in _STAGE_METRICS:
                row[_STAGE_METRICS[name]] += int(acc["Value"])
            elif acc.get("ID") in mip_ids and name in _PY_METRICS:
                row["python_map"] = True
                row[_PY_METRICS[name]] += int(acc["Value"])
        return row

    def select(self, description: str | re.Pattern) -> "Selection":
        """Jobs and stages whose job description matches (a regex)."""
        pat = re.compile(description) if isinstance(description, str) else description
        keep = {(j["app"], j["job_id"]) for j in self.jobs
                if j["description"] and pat.search(j["description"])}
        return Selection(
            [j for j in self.jobs if (j["app"], j["job_id"]) in keep],
            [s for s in self.stages if (s["app"], s["job_id"]) in keep],
            self.sql)


class Selection:
    def __init__(self, jobs: list[dict], stages: list[dict], sql: dict):
        self.jobs = jobs
        self.stages = stages
        self.sql = sql

    def totals(self) -> dict:
        """Sums over the selected stages (times in seconds, sizes in MB)."""
        s = self.stages
        run_ms = sum(x["run_ms"] for x in s)
        return {
            "jobs": len(self.jobs),
            "stages": len(s),
            "run_s": run_ms / 1e3,
            "cpu_frac": (sum(x["cpu_ns"] for x in s) / 1e6 / run_ms) if run_ms else 0.0,
            "gc_s": sum(x["gc_ms"] for x in s) / 1e3,
            "shuffle_read_mb": sum(x["shuffle_read_bytes"] for x in s) / 2**20,
            "shuffle_write_mb": sum(x["shuffle_write_bytes"] for x in s) / 2**20,
            "spill_mb": sum(x["spill_bytes"] for x in s) / 2**20,
        }

    def recomputed(self) -> list[dict]:
        """Completed stages whose operator signature repeats an earlier
        completed stage of the same application."""
        seen: set = set()
        out = []
        for st in sorted(self.stages, key=lambda x: (x["app"], x["submit_ms"] or 0)):
            sig = (st["app"], st["scopes"], st["n_tasks"])
            if sig in seen:
                out.append(st)
            seen.add(sig)
        return out

    def exchanges_below_python_map(self) -> int:
        keys = {(j["app"], j["sql_id"]) for j in self.jobs if j["sql_id"] is not None}
        vals = [self.sql[k]["exchanges_below_map"] for k in keys
                if k in self.sql and self.sql[k]["exchanges_below_map"] is not None]
        return max(vals) if vals else 0
