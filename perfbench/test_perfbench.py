"""Tests of the benchmark's own parts: the event-log parser on a small
recorded log, the seeded page mix, and BENCHMARK.json against the metric
names the run emits.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from perfbench.eventlog import EventLog, log_files

HERE = os.path.dirname(os.path.abspath(__file__))
# one run_extract_job over 60 corpus pages at local[4] (map-only path),
# every job described "pass:extract"; fields the parser does not read removed
LOG = os.path.join(HERE, "testdata", "eventlog_extract_job.jsonl")


def test_jobs_and_stages():
    log = EventLog(LOG)
    assert len(log.jobs) == 10
    assert all(j["ok"] and j["description"] == "pass:extract" for j in log.jobs)
    assert len(log.stages) == 10   # AQE: the final aggregates run as own jobs
    assert [s["n_tasks"] for s in log.stages[:4]] == [1, 16, 1, 16]


def test_python_map_stage_metrics():
    log = EventLog(LOG)
    (kernel,) = [s for s in log.stages if s["python_map"]]
    assert kernel["stage_id"] == 1 and kernel["n_tasks"] == 16
    assert kernel["python_rows_out"] == 60
    assert kernel["python_sent_bytes"] == 557504
    assert kernel["python_recv_bytes"] == 1834104
    assert kernel["python_exec_ms"] == 15318
    assert (kernel["python_start_ms"], kernel["python_init_ms"]) == (5934, 11255)
    assert kernel["run_ms"] == 19745 and kernel["gc_ms"] == 756
    assert kernel["output_bytes"] == 814265
    assert len(kernel["task_ms"]) == 16
    assert "MapInPandas" in kernel["scopes"]


def test_selection_totals_and_plan_shape():
    sel = EventLog(LOG).select(r"^pass:extract$")
    tot = sel.totals()
    assert tot["jobs"] == 10 and tot["stages"] == 10
    assert tot["shuffle_write_mb"] == pytest.approx((944 + 896 + 1587) / 2**20)
    assert tot["shuffle_read_mb"] == pytest.approx((944 + 896 + 1587) / 2**20)
    assert 0 < tot["cpu_frac"] < 1
    # scan and kernel fused: no exchange under the Python map node
    assert sel.exchanges_below_python_map() == 0
    assert EventLog(LOG).select("^other$").totals()["jobs"] == 0


def test_recomputed_stages_repeat_a_signature():
    sel = EventLog(LOG).select(r"^pass:extract$")
    again = sel.recomputed()
    sigs = [(s["scopes"], s["n_tasks"]) for s in sel.stages]
    assert again and all(sigs.count((s["scopes"], s["n_tasks"])) > 1 for s in again)


def test_rolling_layout_and_compressed_parts(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(LOG).read().splitlines(keepends=True)
    half = len(lines) // 2
    (app / "events_2_local-1").write_text("".join(lines[half:]))
    (app / "events_1_local-1").write_text("".join(lines[:half]))
    (app / "appstatus_local-1").write_text("")
    assert [os.path.basename(f) for f in log_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1"]
    whole, rolled = EventLog(LOG), EventLog(str(tmp_path))
    assert rolled.stages == whole.stages and rolled.jobs == whole.jobs
    shutil.copy(LOG, app / "events_3_local-1.zstd")
    with pytest.raises(ValueError, match="compress"):
        log_files(str(tmp_path))


def test_seeded_urls_hold_the_page_mix_exactly():
    from docvision_spark.corpus import HOSTS, make_page
    from perfbench.inputs import page_kind, seeded_urls

    urls = seeded_urls(7, 1200, "t")
    assert len(set(urls)) == 1200 and seeded_urls(7, 1200, "t") == urls
    kinds = [page_kind(u) for u in urls]
    assert {k: kinds.count(k) for k in set(kinds)} == {
        "pdf_aes256": 1, "pdf": 119, "feed": 24, "html": 1056}
    hot = [k for u, k in zip(urls, kinds) if f"//{HOSTS[0]}/" in u]
    assert (hot.count("pdf"), hot.count("feed"), hot.count("html")) == (36, 7, 317)
    # page_kind predicts what the corpus generator makes of the url
    for u, k in list(zip(urls, kinds))[:60] + [(u, k) for u, k in zip(urls, kinds)
                                                if k == "pdf_aes256"]:
        html = make_page(u).html
        assert k == ("pdf_aes256" if b"/V 5 /R 6" in html else
                     "pdf" if html[:5] == b"%PDF-" else
                     "feed" if html.startswith(b"<?xml") else "html")


def test_benchmark_json_names_what_the_run_emits():
    from perfbench.layers import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
