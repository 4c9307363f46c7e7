"""Measurement helpers: spans, process-tree memory and the in-process kernel pass.

All of them observe the program from outside: spans wrap the benchmark's
own calls into the program, memory is read from /proc, and the kernel pass
calls the kernel's public functions directly.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    Every span times its body. Only an enabled tracer records the span and
    labels the Spark jobs the body starts (`setJobDescription`), so the
    event log attributes each job to the innermost span around it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans) + len(self._stack), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "start": time.time()}
        label = "/".join([s["name"] for s in self._stack] + [name])
        self._label(label)
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._label("/".join(s["name"] for s in self._stack) or None)
            if self.enabled:
                self.spans.append(rec)

    def _label(self, label: str | None) -> None:
        if not self.enabled:
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobDescription(label)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM, the Python worker daemon and its workers), sampled from /proc.

    A Python process counts its proportional set size, so pages a forked
    worker still shares with its daemon count once, not once per worker.
    The JVM, a single process, counts its RSS: `smaps_rollup` walks every
    page of its multi-GB heap under the JVM's mmap lock, which would cost
    the measured job tens of ms per sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_total = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def reset(self) -> None:
        """Forget the peaks so far (the input generator's own processes)."""
        self.peak_total = self.peak_jvm = self.peak_python = 0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    # comm may contain spaces: ppid follows the last ')'
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        jvm = py = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                if comm == "java":
                    with open(f"/proc/{pid}/statm") as f:
                        jvm += int(f.read().split()[1]) * _PAGE
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    py += next(int(line.split()[1]) for line in f
                               if line.startswith("Pss:")) * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                continue
        self.peak_total = max(self.peak_total, jvm + py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)


# ---------------------------------------------------------------------------
# in-process kernel + row-assembly pass
# ---------------------------------------------------------------------------

TYPED_ERRORS = ("pdf_encrypted", "pdf_unsupported_font", "pdf_unsupported_filter",
                "pdf_no_pages", "mojibake", "empty_payload")


def error_class(err: str | None) -> str | None:
    if err is None:
        return None
    return err if err in TYPED_ERRORS else "untyped"


def kernel_results(rows: list[dict]) -> dict[str, tuple[str, str | None]]:
    """url -> (id, error) from the kernel, run in this process."""
    from docvision_spark.kernel.extract import extract

    return {r["url"]: (res.id, res.error)
            for r in rows for res in [extract(r["url"], r["html"])]}


def kernel_pass(rows: list[dict]) -> dict:
    """Per-phase kernel times and row-assembly costs over `rows`.

    Phases are timed by calling each kernel function on its own, in the
    order `kernel.extract` calls them; `extract` is then timed whole, and
    `other_s` is what it spends outside the timed phases."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from docvision_spark.kernel import pdf_text
    from docvision_spark.kernel.charset import decode_html
    from docvision_spark.kernel.dom import segment_with_meta
    from docvision_spark.kernel.extract import extract, sha3_id
    from docvision_spark.kernel.feed import feed_blocks, looks_like_feed
    from docvision_spark.kernel.markdown import emit
    from docvision_spark.pipeline.extract_job import OUTPUT_SCHEMA, _extract_batches

    ph = dict.fromkeys(("charset", "dom", "feed", "emit", "pdf", "sha3"), 0.0)
    pc = time.perf_counter
    for r in rows:
        payload = r["html"]
        if payload[:5] == b"%PDF-":
            t = pc()
            try:
                pdf_text.parse_pdf(payload)
            except Exception:  # noqa: BLE001 — `extract` turns it into an error row
                pass
            ph["pdf"] += pc() - t
            continue
        if not payload:
            continue
        try:
            t = pc()
            decoded, _ = decode_html(payload)
            t1 = pc()
            is_feed = looks_like_feed(decoded)
            t2 = pc()
            blocks = feed_blocks(decoded) if is_feed else segment_with_meta(decoded)[0]
            t3 = pc()
            text, _, _ = emit(blocks)
            t4 = pc()
            sha3_id(text)
            t5 = pc()
            ph["charset"] += t1 - t
            ph["feed"] += (t2 - t1) + ((t3 - t2) if is_feed else 0.0)
            ph["dom"] += 0.0 if is_feed else t3 - t2
            ph["emit"] += t4 - t3
            ph["sha3"] += t5 - t4
        except Exception:  # noqa: BLE001 — `extract` turns it into an error row
            continue

    doc_s, modes, errors = [], {"html": 0, "pdf": 0, "feed": 0}, {}
    for r in rows:
        t = pc()
        res = extract(r["url"], r["html"])
        doc_s.append(pc() - t)
        modes[res.processing_mode] = modes.get(res.processing_mode, 0) + 1
        cls = error_class(res.error)
        if cls:
            errors[cls] = errors.get(cls, 0) + 1
    kernel_s = sum(doc_s)

    frames = [pd.DataFrame({k: [r[k] for r in rows[i:i + 32]]
                            for k in ("url", "html", "lang")})
              for i in range(0, len(rows), 32)]
    t = pc()
    out = list(_extract_batches(iter(frames)))
    batches_s = pc() - t
    schema = to_arrow_schema(OUTPUT_SCHEMA)
    t = pc()
    for df in out:
        pa.RecordBatch.from_pandas(df, schema=schema, preserve_index=False)
    arrow_s = pc() - t

    qs = statistics.quantiles([d * 1e3 for d in doc_s], n=100)
    m = {f"kernel.{k}_s": v for k, v in ph.items()}
    m.update({
        "kernel.other_s": max(kernel_s - sum(ph.values()), 0.0),
        "kernel.docs_per_s_core": len(rows) / kernel_s,
        "kernel.doc_ms_p50": statistics.median(doc_s) * 1e3,
        "kernel.doc_ms_p99": qs[98],
        "assemble.rows_s": max(batches_s - kernel_s, 0.0),
        "assemble.arrow_s": arrow_s,
    })
    m.update({f"kernel.docs.{k}": v for k, v in modes.items() if k})
    for cls in TYPED_ERRORS + ("untyped",):
        m[f"kernel.errors.{cls}"] = errors.get(cls, 0)
    return m
